"""Rule pre-flight: analysis-check every rule of a run against the input
schema BEFORE launching any job.

At 10^12 turns a typo'd column name in a CheckRule, a malformed SQL
expression in a compliance MetricRule, or an assignment naming a column
the table doesn't carry surfaces as an AnalysisException minutes-to-hours
into a cluster run — after the scan, the shuffle, and the money. Every
one of those errors is knowable at plan time: Catalyst's analyzer resolves
the full expression tree against the schema without reading a byte.
``preflight_rules`` compiles every rule family against a ZERO-ROW frame
with the input's exact schema and forces analysis (``.schema`` — plan
resolution only, no job), collecting every failure instead of stopping at
the first, so one driver-side call returns the complete fix list.

The reference has no counterpart (its pandas rules fail at apply time —
``/root/reference/utils/validation.py``); this is engine scope: the
"compile the rule catalog" half of the north-star contract, surfaced as a
user-callable gate. Scale shape: no job, no scan — the whole check is
driver + analyzer, O(rules × schema) and independent of table size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ndap_data_validator_spark.rules.model import ColumnAssignment

try:
    from pyspark.logger import PySparkLogger
except ImportError:  # PySpark < 4.0 logs no query context
    PySparkLogger = None

__all__ = ["PreflightError", "preflight_rules"]


@dataclass(frozen=True)
class PreflightError:
    """One rule that cannot run against the given schema."""

    family: str  # 'assignment' | 'check' | 'metric' | 'sequence'
    rule: str  # the assignment's column / the rule's name
    error: str  # first line of the analyzer's message

    def __str__(self) -> str:  # pragma: no cover - repr sugar
        return f"[{self.family}] {self.rule}: {self.error}"


def _first_line(exc: Exception) -> str:
    return str(exc).strip().splitlines()[0]


_QUERY_CONTEXT_LOGGERS = ("SQLQueryContextLogger", "DataFrameQueryContextLogger")


def _analyze(frame_fn) -> str | None:
    """Force plan analysis (schema resolution); no job runs. Returns the
    analyzer's first error line, or None when the plan resolves.

    PySpark logs each captured analysis error that carries a query
    context at ERROR level, Java stack included, as it builds the
    exception. The error is returned as data here, so those loggers are
    disabled for the probe: a handled error must not read as a failure in
    the job log. The flag is process-wide; ``run_validation`` calls this
    before any sink-writer thread starts."""
    loggers = [
        PySparkLogger.getLogger(n)
        for n in (_QUERY_CONTEXT_LOGGERS if PySparkLogger else ())
    ]
    was_disabled = [lg.disabled for lg in loggers]
    for lg in loggers:
        lg.disabled = True
    try:
        frame_fn().schema
        return None
    except Exception as e:  # AnalysisException, ParseException, ValueError
        return _first_line(e)
    finally:
        for lg, d in zip(loggers, was_disabled):
            lg.disabled = d


def preflight_rules(
    spark: SparkSession,
    schema_source: DataFrame | str,
    assignments: list[ColumnAssignment] | None = None,
    check_rules: list | None = None,
    metric_rules: list | None = None,
    sequence_rule=None,
    catalog=None,
    schema_name: str | None = None,
) -> list[PreflightError]:
    """Compile every given rule family against ``schema_source``'s schema
    on a zero-row frame and return ALL analysis failures (empty list =
    everything resolves; the run will not die on a rule-compilation
    error). ``schema_source`` is the input DataFrame (only its schema is
    used) or a DDL string like ``"conv_id string, turn_idx int"``.

    Raise-style callers: ``errs = preflight_rules(...); if errs: raise
    ValueError("\\n".join(map(str, errs)))`` — kept out of this function
    so schedulers can render the full list their own way.
    """
    if isinstance(schema_source, DataFrame):
        empty = spark.createDataFrame([], schema_source.schema)
    else:
        empty = spark.createDataFrame([], schema_source)
    errors: list[PreflightError] = []

    if assignments:
        from ndap_data_validator_spark.operators.validate import (
            ValidationEngine,
        )

        engine = ValidationEngine(catalog=catalog, schema_name=schema_name)
        for a in assignments:
            # the engine's reference-parity contract iterates df.columns
            # (validate.py::_slots) — an assignment naming an ABSENT column
            # is silently ignored there, i.e. its rule never runs. That
            # silence is exactly what a pre-flight must surface.
            if a.column not in empty.columns:
                errors.append(
                    PreflightError(
                        "assignment",
                        a.column,
                        f"column {a.column!r} not in the input schema — "
                        "the assignment would be silently ignored",
                    )
                )
                continue
            # flag_rows compiles the column's full coercion + rule
            # predicate stack; an un-coercible dtype surfaces here,
            # attributed to its assignment
            err = _analyze(lambda a=a: engine.flag_rows(empty, [a]))
            if err is not None:
                errors.append(PreflightError("assignment", a.column, err))

    for cr in check_rules or []:
        from ndap_data_validator_spark.operators.checks import (
            check_violation_sql,
        )

        err = _analyze(lambda cr=cr: empty.selectExpr(check_violation_sql(cr)))
        if err is not None:
            errors.append(PreflightError("check", cr.name, err))

    for mr in metric_rules or []:
        from ndap_data_validator_spark.operators.expectations import (
            metric_expectations,
        )

        err = _analyze(
            lambda mr=mr: metric_expectations(
                empty, [mr], now="2020-01-01T00:00:00"
            )
        )
        if err is not None:
            errors.append(PreflightError("metric", mr.name, err))

    if sequence_rule is not None:
        from ndap_data_validator_spark.operators.convchecks import (
            check_sequence_rule,
        )

        err = _analyze(lambda: check_sequence_rule(empty, sequence_rule))
        if err is not None:
            errors.append(
                PreflightError(
                    "sequence", getattr(sequence_rule, "name", "sequence"), err
                )
            )

    return errors
