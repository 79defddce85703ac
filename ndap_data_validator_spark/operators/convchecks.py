"""Conversation-level sequence checks over (key, order) windows.

The north_rule's input is a multi-turn transcript table ``(conv_id,
turn_idx, role, text, tool, ts)``; beyond per-row rules (nulls, regex,
ranges — ``operators/validate.py``) and composite-key uniqueness
(``operators/uniqueness.py``), a transcript validator needs ORDER-aware
checks that only make sense relative to the previous turn of the same
conversation:

* ``order_gap``      — turn_idx is not previous + step (missing/skipped turns)
* ``ts_regression``  — event time moves backwards as the turn index advances
* ``role_repeat``    — the same speaker twice in a row (no alternation)
* ``long_gap``       — more than ``max_gap_sec`` of silence between turns

The reference has no sequence checks (its scope is per-column tabular
validation, ``/root/reference/utils/validation.py``); this is a north-star
operator for the transcripts payload.

Scale shape: ONE window over ``(key, order)`` — a single hash shuffle on the
conversation key, the same partitioning the uniqueness window and the
stable-ordering contract already use, so at 10^12 turns this rides the
existing conversation-partitioned exchange instead of adding one. All four
checks are computed in the SAME projection from two ``lag`` values and
unpivoted with array+filter+explode (no per-check pass, no Python), built
as one SQL expression that Catalyst parses once. Skewed
conversations (one conv holding ~20% of rows) are bounded by the window
being per-conversation: a hot key lands in one task, which is why the
check column set is O(1) work per row; for pathological single-conv skew
the caller can pre-split on a salted sub-key as PLANS.md §skew documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.sqltext import sql_name, sql_str


def sequence_checks(
    df: DataFrame,
    key_col: str,
    order_col: str,
    ts_col: str | None = None,
    role_col: str | None = None,
    expected_step: int | None = None,
    max_gap_sec: float | None = None,
    allowed_transitions: frozenset[tuple[str, str]] | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-key sequence-violation rows: ``(*carry_cols, key, order, check)``.

    ``carry_cols`` are passed through unchanged (e.g. the pipeline's
    ``partition_id``) — they ride the same projection, costing nothing.

    One row per violated check per turn; a turn with several violations
    emits several rows (the explode is over the per-row check array).
    The first turn of a key never violates (every check compares against
    ``lag``, which is NULL there — NULL comparisons are no-ops, matching
    SQL semantics so the DuckDB oracle replays bit-for-bit). NULL keys are
    kept as their own partition, consistent with ``duplicate_keys``:
    a null conv_id is still a key value. A NULL order value sorts first
    (Spark's ASC default is NULLS FIRST), so that row opens its key's
    window and the next turn is compared against it. DuckDB's ASC default
    is NULLS LAST: an oracle that replays this window must write
    ``NULLS FIRST``.

    Checks are enabled by passing their inputs: ``expected_step`` turns on
    ``order_gap``; ``ts_col`` turns on ``ts_regression``; ``role_col`` turns
    on ``role_repeat``; ``ts_col``+``max_gap_sec`` turns on ``long_gap``;
    ``role_col``+``allowed_transitions`` turns on ``bad_transition`` — the
    role-transition FSM rule (e.g. "a tool turn must follow an assistant
    turn", "signup can only open a conversation"): a turn violates when the
    previous turn exists and ``(prev_role, role)`` is not in the whitelist.
    The membership test compiles to a disjunction of literal-pair
    conjunctions (no separator-collision assumption on role values, stays
    inside whole-stage codegen); a NULL role on either side makes the
    membership UNKNOWN, which passes — same NULL-is-not-a-violation
    contract as every other check here and as SQL row-value ``IN``.
    """
    key, order = sql_name(key_col), sql_name(order_col)
    w = f"OVER (PARTITION BY {key} ORDER BY {order} ASC)"
    checks: list[tuple[str, str]] = []  # (SQL predicate, check name)
    if expected_step is not None:
        checks.append(
            (f"{order} != lag({order}) {w} + {int(expected_step)}", "order_gap")
        )
    if ts_col is not None:
        ts = sql_name(ts_col)
        prev_ts = f"lag({ts}) {w}"
        checks.append((f"{ts} < {prev_ts}", "ts_regression"))
        if max_gap_sec is not None:
            # pure timestamp+interval comparison: valid for TIMESTAMP and
            # TIMESTAMP_NTZ alike (neither casts to double in Spark 4),
            # timezone-free, and replayed verbatim by the SQL oracle
            gap = f"make_interval(0, 0, 0, 0, 0, 0, {float(max_gap_sec)})"
            checks.append((f"{ts} > {prev_ts} + {gap}", "long_gap"))
    if role_col is not None:
        role = sql_name(role_col)
        prev_role = f"lag({role}) {w}"
        checks.append((f"{role} = {prev_role}", "role_repeat"))
        if allowed_transitions is not None:
            member = " OR ".join(
                ["false"]
                + [
                    f"({prev_role} = {sql_str(a)} AND {role} = {sql_str(b)})"
                    for a, b in sorted(allowed_transitions)
                ]
            )
            checks.append(
                (f"{prev_role} IS NOT NULL AND NOT ({member})", "bad_transition")
            )
    elif allowed_transitions is not None:
        raise ValueError("allowed_transitions requires role_col")
    if not checks:
        raise ValueError("no sequence checks enabled")

    hits = ", ".join(f"CASE WHEN {p} THEN {sql_str(name)} END" for p, name in checks)
    cols = [sql_name(c) for c in (*carry_cols, key_col, order_col)]
    return (
        df.selectExpr(*cols, f"array_compact(array({hits})) AS __checks")
        .where("size(__checks) > 0")
        .selectExpr(*cols, "explode(__checks) AS `check`")
    )


def check_sequence_rule(
    df: DataFrame, rule, carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Catalog entry point: run a ``rules.model.SequenceRule`` (the
    data-plane form the catalog stores, symmetric with UniquenessRule /
    ReferentialRule) through ``sequence_checks``."""
    return sequence_checks(
        df,
        key_col=rule.key_column,
        order_col=rule.order_column,
        ts_col=rule.ts_column,
        role_col=rule.role_column,
        expected_step=rule.expected_step,
        max_gap_sec=rule.max_gap_sec,
        allowed_transitions=rule.allowed_transitions,
        carry_cols=carry_cols,
    )


def sequence_report(
    df: DataFrame,
    key_col: str,
    order_col: str,
    **kwargs,
) -> DataFrame:
    """Per-check violation totals — the summary row a per-partition report
    embeds: ``(check, n_violations, n_keys)``. Same single window shuffle,
    then a tiny aggregate over the violation rows."""
    v = sequence_checks(df, key_col, order_col, **kwargs)
    return v.groupBy("check").agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.count_distinct(F.col(key_col)).alias("n_keys"),
    )
