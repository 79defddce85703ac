"""Dataset-level metric expectations: Deequ/Great-Expectations-style
assertions on AGGREGATE properties of a partition — "row count between X
and Y", "mean(amount) in [a, b]", "≥99.9% of rows satisfy this predicate",
"null fraction ≤ 0.1%" — the verdict layer per-row rules can't express
(a partition where every row passes its row rules can still be silently
half-empty, or have a drifted mean).

The reference has no counterpart (its rules are per-column row rules,
``/root/reference/utils/validation.py:200-357``); this is engine scope,
north-star: the standard production gate BEFORE a 10^12-turn corpus ships
is exactly these dataset assertions.

Scale shape — identical to the validation shared scan
(operators/validate.py): every rule compiles to an aggregate SQL
expression evaluated in ONE ``groupBy(partition).agg(...)`` — map-side
partial aggregation, one metadata-sized exchange, report assembly as
expressions over the aggregate row (array-of-structs + explode, stays
distributed). No per-row Python, no second pass, no driver collect.

Metric vocabulary (``MetricRule.metric``):

  * ``row_count`` — partition row count (no column)
  * ``null_fraction`` — fraction of NULL values in ``column``
  * ``mean`` / ``stddev`` / ``min`` / ``max`` / ``sum`` — numeric moments
    of ``column`` (cast to double)
  * ``distinct`` — distinct-value count of ``column`` (approximate by
    default — a single-pass HLL; ``approx_distinct=False`` uses exact
    COUNT(DISTINCT), which adds Spark's Expand for multi-distinct plans —
    the oracle-verifiable configuration)
  * ``distinct_ratio`` — ``distinct / row_count`` (the Deequ "uniqueness
    proxy"; 1.0 ⇒ the column is a candidate key)
  * ``compliance`` — fraction of rows whose SQL boolean ``expression`` is
    TRUE (NULL counts as not compliant — Deequ's Compliance constraint);
    subsumes arbitrary cross-column predicates
  * ``quantile`` — approximate ``q``-quantile of ``column``
    (percentile_approx at ``quantile_accuracy``)
  * ``freshness`` — seconds of lag between an explicit reference instant
    (the ``now=`` argument of :func:`metric_expectations` — an ISO-8601
    UTC string, REQUIRED when any freshness rule is present; the clock is
    never read implicitly, so runs replay deterministically) and
    ``max(column)``; ``max_bound`` is the allowed staleness in seconds —
    the standard "did yesterday's crawl actually land?" gate. Negative
    values (data from the future) fail a ``min_bound=0`` rule.

A rule passes when its metric value is non-NULL and inside the closed
``[min_bound, max_bound]`` interval (either bound optional, at least one
required). ``severity="warn"`` rules report their verdict but never fail
the partition in ``expectations_summary`` — same contract as
``ColumnAssignment.severity``.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.sqltext import (
    sql_double,
    sql_name,
    sql_str,
)

__all__ = [
    "MetricRule",
    "metric_expectations",
    "expectations_summary",
    "suite_to_json",
    "suite_from_json",
]

GLOBAL_PARTITION = "<all>"

_COLUMN_METRICS = {
    "null_fraction",
    "mean",
    "stddev",
    "min",
    "max",
    "sum",
    "distinct",
    "distinct_ratio",
    "quantile",
    "freshness",
}
_METRICS = _COLUMN_METRICS | {"row_count", "compliance"}


@dataclass(frozen=True)
class MetricRule:
    """One dataset assertion. ``name`` is the report key (unique per run);
    see the module docstring for the metric vocabulary."""

    name: str
    metric: str
    column: str | None = None
    expression: str | None = None  # compliance only: SQL boolean over any columns
    q: float | None = None  # quantile only
    min_bound: float | None = None
    max_bound: float | None = None
    severity: str = "error"

    def __post_init__(self) -> None:
        if not self.name:
            raise ValueError("MetricRule needs a name")
        if self.metric not in _METRICS:
            raise ValueError(
                f"unknown metric {self.metric!r}; one of {sorted(_METRICS)}"
            )
        if self.metric in _COLUMN_METRICS and not self.column:
            raise ValueError(f"metric {self.metric!r} needs a column")
        if self.metric == "compliance" and not self.expression:
            raise ValueError("compliance needs a SQL boolean expression")
        if self.metric == "quantile" and not (
            self.q is not None and 0.0 <= self.q <= 1.0
        ):
            raise ValueError("quantile needs q in [0, 1]")
        if self.min_bound is None and self.max_bound is None:
            raise ValueError(f"rule {self.name!r} has no bounds — nothing to assert")
        if (
            self.min_bound is not None
            and self.max_bound is not None
            and self.min_bound > self.max_bound
        ):
            raise ValueError(f"rule {self.name!r}: min_bound > max_bound")
        if self.severity not in ("error", "warn"):
            raise ValueError(
                f"severity must be 'error' or 'warn', got {self.severity!r}"
            )


def suite_to_json(rules: list[MetricRule]) -> str:
    """Deterministic JSON for an expectation suite, so a suggested suite
    (``rules.inference.suggest_metric_rules`` over a healthy baseline) can
    be persisted alongside the checkpoint store and replayed on every
    later batch. Keys are sorted and rule order preserved — the same suite
    always serializes to the same bytes, so the file is digest-stable."""
    return json.dumps([asdict(r) for r in rules], indent=2, sort_keys=True)


def suite_from_json(text: str) -> list[MetricRule]:
    """Inverse of :func:`suite_to_json`. Every entry re-enters
    ``MetricRule.__post_init__`` validation, so a hand-edited or corrupted
    suite fails fast here instead of mid-run."""
    data = json.loads(text)
    if not isinstance(data, list):
        raise ValueError("expectation suite JSON must be a list of rules")
    return [MetricRule(**d) for d in data]


def _now_epoch(now: str) -> float:
    """Parse the explicit reference instant (ISO-8601, naive = UTC) to
    epoch seconds. Driver-side once per suite — the value enters the plan
    as a literal, so freshness stays a pure aggregate expression."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(now)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _value_expr(
    rule: MetricRule,
    approx_distinct: bool,
    quantile_accuracy: int,
    now: str | None = None,
) -> str:
    """The aggregate SQL expression producing this rule's metric value
    (double)."""
    m = rule.metric
    if m == "freshness":
        if now is None:
            raise ValueError(
                f"rule {rule.name!r} is a freshness rule: pass now=... "
                "(ISO-8601 UTC) to metric_expectations — the clock is "
                "never read implicitly"
            )
        # timestamp → double keeps sub-second precision (ntz casts via
        # timestamp under the engine's pinned UTC session zone), matching
        # DuckDB's epoch() for the oracle.
        return (
            f"{sql_double(_now_epoch(now))} - "
            f"max(CAST(CAST({sql_name(rule.column)} AS TIMESTAMP) AS DOUBLE))"
        )
    if m == "row_count":
        return "CAST(count(1) AS DOUBLE)"
    if m == "compliance":
        # NULL (unknown) is NOT compliant — bool_expr may be NULL on null
        # inputs; Deequ counts those rows against the fraction. The newline
        # ends a trailing ``--`` comment in the rule text.
        return f"avg(CAST(coalesce(({rule.expression}\n), false) AS DOUBLE))"
    col = sql_name(rule.column)
    simple = {
        "null_fraction": f"avg(CAST({col} IS NULL AS DOUBLE))",
        "mean": f"avg(CAST({col} AS DOUBLE))",
        "stddev": f"stddev_samp(CAST({col} AS DOUBLE))",
        "min": f"min(CAST({col} AS DOUBLE))",
        "max": f"max(CAST({col} AS DOUBLE))",
        "sum": f"sum(CAST({col} AS DOUBLE))",
    }
    if m in simple:
        return simple[m]
    distinct = (
        f"approx_count_distinct({col})" if approx_distinct
        else f"count(DISTINCT {col})"
    )
    if m == "distinct":
        return f"CAST({distinct} AS DOUBLE)"
    if m == "distinct_ratio":
        return f"CAST({distinct} AS DOUBLE) / CAST(count(1) AS DOUBLE)"
    if m == "quantile":
        return (
            f"percentile_approx(CAST({col} AS DOUBLE), {sql_double(rule.q)}, "
            f"{int(quantile_accuracy)})"
        )
    raise AssertionError(m)  # unreachable: __post_init__ validated


def metric_expectations(
    df: DataFrame,
    rules: list[MetricRule],
    partition_by: str | Column | None = None,
    approx_distinct: bool = True,
    quantile_accuracy: int = 10_000,
    now: str | None = None,
) -> DataFrame:
    """Evaluate every rule in ONE shared aggregate. Returns the long-form
    report ``(partition_id, rule, metric, column, value, min_bound,
    max_bound, passed, severity)`` — one row per (partition, rule), value
    rounded nowhere (callers round for display).

    The aggregate (:func:`_metric_aggs`) and the report rows assembled
    from its output row (:func:`_metric_rows`) are the pair
    ``plans.pipeline.run_validation`` folds into the validator's own
    per-partition aggregate, so both paths share one definition."""
    aggs = _metric_aggs(rules, approx_distinct, quantile_accuracy, now)
    part_expr = (
        F.lit(GLOBAL_PARTITION)
        if partition_by is None
        else (F.col(partition_by) if isinstance(partition_by, str) else partition_by)
    ).cast("string").alias("partition_id")
    return df.groupBy(part_expr).agg(*[F.expr(a) for a in aggs]).selectExpr(
        "partition_id", f"inline({_metric_rows(rules)})"
    )


def _metric_aggs(
    rules: list[MetricRule],
    approx_distinct: bool = True,
    quantile_accuracy: int = 10_000,
    now: str | None = None,
) -> list[str]:
    """Every rule's metric as one aggregate SQL expression, aliased
    ``__m{i}``."""
    if not rules:
        raise ValueError("no rules given")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    return [
        f"{_value_expr(r, approx_distinct, quantile_accuracy, now)} AS __m{i}"
        for i, r in enumerate(rules)
    ]


def _bound(x: float | None) -> str:
    return "CAST(NULL AS DOUBLE)" if x is None else f"CAST({sql_double(x)} AS DOUBLE)"


def _passed(r: MetricRule, v: str) -> str:
    # NaN must FAIL regardless of bound direction: Spark orders NaN above
    # every double, so without this guard a NaN metric (e.g. avg over a
    # NaN-poisoned column) passes any min_bound-only rule while failing
    # the same rule written as a max_bound.
    ok = [f"{v} IS NOT NULL", f"NOT isnan({v})"]
    if r.min_bound is not None:
        ok.append(f"{v} >= {sql_double(r.min_bound)}")
    if r.max_bound is not None:
        ok.append(f"{v} <= {sql_double(r.max_bound)}")
    return " AND ".join(ok)


def _metric_rows(rules: list[MetricRule]) -> str:
    """SQL for the report rows of ONE aggregate row carrying the
    :func:`_metric_aggs` values: an array of (rule, metric, column, value,
    min_bound, max_bound, passed, severity) structs in rule order."""
    rows = ", ".join(
        f"named_struct('rule', {sql_str(r.name)}, 'metric', {sql_str(r.metric)}, "
        "'column', "
        + ("CAST(NULL AS STRING)" if r.column is None else sql_str(r.column))
        + f", 'value', __m{i}, 'min_bound', {_bound(r.min_bound)}, "
        f"'max_bound', {_bound(r.max_bound)}, 'passed', {_passed(r, f'__m{i}')}, "
        f"'severity', {sql_str(r.severity)})"
        for i, r in enumerate(rules)
    )
    return f"array({rows})"


def _rule_lists(rows: str) -> tuple[str, str]:
    """SQL (failed_rules, warned_rules) of an array of report-row structs:
    sorted names of the failing error- and warn-severity rules."""

    def names(severity: str) -> str:
        return (
            f"array_sort(transform(filter({rows}, "
            f"e -> NOT e.passed AND e.severity = {sql_str(severity)}), "
            "e -> e.rule))"
        )

    return names("error"), names("warn")


def expectations_summary(report: DataFrame) -> DataFrame:
    """Per-partition verdict over a ``metric_expectations`` report:
    ``(partition_id, failed_rules, failed_count, warned_rules, passed)``.
    Warn-severity rules land in ``warned_rules`` and never fail the
    partition — same contract as the column-rule verdict."""
    failed, warned = _rule_lists("rows")
    return (
        report.groupBy("partition_id")
        .agg(F.expr("collect_list(struct(rule, passed, severity)) AS rows"))
        .selectExpr(
            "partition_id", f"{failed} AS failed_rules", f"{warned} AS warned_rules"
        )
        .selectExpr(
            "partition_id",
            "failed_rules",
            "size(failed_rules) AS failed_count",
            "warned_rules",
            "size(failed_rules) = 0 AS passed",
        )
    )
