"""Generic row-level CHECK constraints (cross-column boolean rules).

The per-column rules (null / numeric / range / regex / domain,
`rules.model.ColumnAssignment`) cannot express relationships BETWEEN
columns — the standard-SQL `CHECK (expr)` class: "a tool turn must name a
tool", "value is non-negative unless the row is a reversal", "end >=
start". `rules.model.CheckRule` carries one such expression; this module
compiles a list of them into ONE projection, built as SQL text that
Catalyst parses once (the rule expressions are SQL already).

Semantics are standard SQL CHECK: a row VIOLATES a rule only when the
expression evaluates to FALSE — NULL (unknown) passes, exactly as a SQL
CHECK constraint admits NULL. That makes the rules composable with the
engine's null rules (notNull decides nullability; CHECK decides
relationships) and lets DuckDB replay them verbatim with `IS FALSE` /
`IS NOT FALSE`.

Scale shape (100 TB): both entry points are scan-level — every rule
expression evaluates inside the same whole-stage-codegen projection.
``check_violations`` adds NO shuffle (filter + explode on the scan);
``check_summary`` is ONE map-side-combined aggregate. The reference has no
counterpart (its rules are per-column; utils/validation.py) — this is
north-star engine scope, symmetric with SequenceRule.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.sqltext import sql_name, sql_str
from ndap_data_validator_spark.rules.model import CheckRule

__all__ = ["check_violation_sql", "check_violations", "check_summary"]


def check_violation_sql(rule: CheckRule) -> str:
    """The single source of CHECK-violation truth, as SQL: TRUE exactly
    when the rule's expression is definitively FALSE (NULL = unknown =
    passes). Shared by the violations report, the summary, and row routing
    (``ValidationEngine.flag_rows``) so the three can never disagree on
    which rows violate. The newline ends a trailing ``--`` comment in the
    rule text before the enclosing expression continues."""
    return f"(({rule.expression}\n) <=> false)"


def check_violations(
    df: DataFrame,
    rules: Sequence[CheckRule],
    key_cols: Iterable[str] = (),
    carry_cols: Iterable[str] = (),
) -> DataFrame:
    """One row per (row, violated rule): ``(*carry_cols, *key_cols, check)``
    where ``check`` is the rule name. Mirrors
    ``convchecks.sequence_checks``'s output contract so both violation
    families union into one report; unlike sequence checks this needs NO
    window — the whole evaluation is a single scan-level projection
    (array_compact + explode), zero shuffles."""
    if not rules:
        raise ValueError("no check rules given")
    hits = ", ".join(
        f"CASE WHEN {check_violation_sql(r)} THEN {sql_str(r.name)} END"
        for r in rules
    )
    cols = [sql_name(c) for c in (*carry_cols, *key_cols)]
    return (
        df.selectExpr(*cols, f"array_compact(array({hits})) AS __checks")
        .where("size(__checks) > 0")
        .selectExpr(*cols, "explode(__checks) AS `check`")
    )


def check_summary(df: DataFrame, rules: Sequence[CheckRule]) -> DataFrame:
    """Per-rule rollup in ONE aggregate over one scan:
    ``(check, n_violations, n_passed, passed)`` — the pass/fail verdict row
    the report assembler consumes. ``n_passed`` counts rows where the
    expression is TRUE or NULL (SQL CHECK admits unknown)."""
    if not rules:
        raise ValueError("no check rules given")
    aggs = ["count(1) AS __n"] + [
        f"sum(CAST({check_violation_sql(r)} AS BIGINT)) AS __v{i}"
        for i, r in enumerate(rules)
    ]
    structs = ", ".join(
        f"named_struct('check', {sql_str(r.name)}, 'n_violations', __v{i}, "
        f"'n_passed', __n - __v{i}, 'passed', __v{i} = 0)"
        for i, r in enumerate(rules)
    )
    return (
        df.agg(*[F.expr(a) for a in aggs])
        .selectExpr(f"explode(array({structs})) AS s")
        .selectExpr("s.check", "s.n_violations", "s.n_passed", "s.passed")
    )
