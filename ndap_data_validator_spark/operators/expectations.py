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
(operators/validate.py): every rule compiles to aggregate Column
expressions evaluated in ONE ``groupBy(partition).agg(...)`` — map-side
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
) -> Column:
    """The aggregate expression producing this rule's metric value
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
        return F.lit(_now_epoch(now)) - F.max(
            F.col(rule.column).cast("timestamp").cast("double")
        )
    if m == "row_count":
        return F.count(F.lit(1)).cast("double")
    if m == "compliance":
        # NULL (unknown) is NOT compliant — bool_expr may be NULL on null
        # inputs; Deequ counts those rows against the fraction.
        return F.avg(
            F.coalesce(F.expr(rule.expression), F.lit(False)).cast("double")
        )
    col = F.col(rule.column)
    if m == "null_fraction":
        return F.avg(col.isNull().cast("double"))
    if m == "mean":
        return F.avg(col.cast("double"))
    if m == "stddev":
        return F.stddev_samp(col.cast("double"))
    if m == "min":
        return F.min(col.cast("double"))
    if m == "max":
        return F.max(col.cast("double"))
    if m == "sum":
        return F.sum(col.cast("double"))
    if m == "distinct":
        d = (
            F.approx_count_distinct(col)
            if approx_distinct
            else F.count_distinct(col)
        )
        return d.cast("double")
    if m == "distinct_ratio":
        d = (
            F.approx_count_distinct(col)
            if approx_distinct
            else F.count_distinct(col)
        )
        return d.cast("double") / F.count(F.lit(1)).cast("double")
    if m == "quantile":
        return F.percentile_approx(
            col.cast("double"), F.lit(float(rule.q)), F.lit(quantile_accuracy)
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
    return df.groupBy(part_expr).agg(*aggs).select(
        "partition_id", F.inline(_metric_rows(rules))
    )


def _metric_aggs(
    rules: list[MetricRule],
    approx_distinct: bool = True,
    quantile_accuracy: int = 10_000,
    now: str | None = None,
) -> list[Column]:
    """Every rule's metric as one aggregate, aliased ``__m{i}``."""
    if not rules:
        raise ValueError("no rules given")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    return [
        _value_expr(r, approx_distinct, quantile_accuracy, now).alias(f"__m{i}")
        for i, r in enumerate(rules)
    ]


def _passed(r: MetricRule, v: Column) -> Column:
    # NaN must FAIL regardless of bound direction: Spark orders NaN above
    # every double, so without this guard a NaN metric (e.g. avg over a
    # NaN-poisoned column) passes any min_bound-only rule while failing
    # the same rule written as a max_bound.
    ok = v.isNotNull() & ~F.isnan(v)
    if r.min_bound is not None:
        ok = ok & (v >= F.lit(float(r.min_bound)))
    if r.max_bound is not None:
        ok = ok & (v <= F.lit(float(r.max_bound)))
    return ok


def _metric_rows(rules: list[MetricRule]) -> Column:
    """The report rows of ONE aggregate row carrying the
    :func:`_metric_aggs` values: an array of (rule, metric, column, value,
    min_bound, max_bound, passed, severity) structs in rule order."""
    return F.array(
        *[
            F.struct(
                F.lit(r.name).alias("rule"),
                F.lit(r.metric).alias("metric"),
                F.lit(r.column).cast("string").alias("column"),
                F.col(f"__m{i}").alias("value"),
                F.lit(r.min_bound).cast("double").alias("min_bound"),
                F.lit(r.max_bound).cast("double").alias("max_bound"),
                _passed(r, F.col(f"__m{i}")).alias("passed"),
                F.lit(r.severity).alias("severity"),
            )
            for i, r in enumerate(rules)
        ]
    )


def _rule_lists(rows: Column) -> tuple[Column, Column]:
    """(failed_rules, warned_rules) of an array of report-row structs:
    sorted names of the failing error- and warn-severity rules."""

    def names(severity: str) -> Column:
        return F.array_sort(
            F.transform(
                F.filter(
                    rows, lambda e: ~e["passed"] & (e["severity"] == severity)
                ),
                lambda e: e["rule"],
            )
        )

    return names("error"), names("warn")


def expectations_summary(report: DataFrame) -> DataFrame:
    """Per-partition verdict over a ``metric_expectations`` report:
    ``(partition_id, failed_rules, failed_count, warned_rules, passed)``.
    Warn-severity rules land in ``warned_rules`` and never fail the
    partition — same contract as the column-rule verdict."""
    failed, warned = _rule_lists(F.col("rows"))
    return (
        report.groupBy("partition_id")
        .agg(F.collect_list(F.struct("rule", "passed", "severity")).alias("rows"))
        .select("partition_id", failed.alias("failed_rules"), warned.alias("warned_rules"))
        .select(
            "partition_id",
            "failed_rules",
            F.size("failed_rules").alias("failed_count"),
            "warned_rules",
            (F.size("failed_rules") == 0).alias("passed"),
        )
    )
