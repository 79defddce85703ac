"""Sequence (conversation-order) checks: order gaps, ts regressions,
role alternation, long silences — the transcript-shaped window rules."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ndap_data_validator_spark.operators.convchecks import (
    sequence_checks,
    sequence_report,
)


def _ts(m):
    return dt.datetime(2024, 1, 1, 12, m, 0)


def _conv(spark):
    rows = [
        # conv A: turn 2 skipped (order_gap at 3), ts regression at turn 4,
        # assistant speaks twice in a row at turn 4
        ("A", 0, "user", _ts(0)),
        ("A", 1, "assistant", _ts(1)),
        ("A", 3, "user", _ts(2)),
        ("A", 4, "assistant", _ts(1)),
        ("A", 5, "assistant", _ts(3)),
        # conv B: clean except a 2-hour silence between turns 1 and 2
        ("B", 0, "user", _ts(0)),
        ("B", 1, "assistant", _ts(1)),
        ("B", 2, "user", dt.datetime(2024, 1, 1, 14, 2, 0)),
        # conv C: single turn — lag is NULL, no violations possible
        ("C", 0, "user", _ts(0)),
        # null conv_id is still a key (two rows, repeated role)
        (None, 0, "user", _ts(0)),
        (None, 1, "user", _ts(1)),
        # NULL turn_idx sorts first (ASC is NULLS FIRST), so it opens conv D
        # and turn 0 repeats its role; under NULLS LAST the NULL row would
        # come last and regress in ts instead
        ("D", None, "user", _ts(5)),
        ("D", 0, "user", _ts(6)),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp"
    )


def test_all_checks(spark):
    got = sequence_checks(
        _conv(spark),
        key_col="conv_id",
        order_col="turn_idx",
        ts_col="ts",
        role_col="role",
        expected_step=1,
        max_gap_sec=3600,
    )
    rows = {(r.conv_id, r.turn_idx, r.check) for r in got.collect()}
    assert rows == {
        ("A", 3, "order_gap"),
        ("A", 4, "ts_regression"),
        ("A", 5, "role_repeat"),
        ("B", 2, "long_gap"),
        (None, 1, "role_repeat"),
        ("D", 0, "role_repeat"),
    }


def test_checks_opt_in(spark):
    # only role_repeat enabled: gaps/regressions must NOT be reported
    got = sequence_checks(
        _conv(spark), key_col="conv_id", order_col="turn_idx", role_col="role"
    )
    assert {r.check for r in got.collect()} == {"role_repeat"}


def test_report_rollup(spark):
    rep = {
        r.check: (r.n_violations, r.n_keys)
        for r in sequence_report(
            _conv(spark),
            key_col="conv_id",
            order_col="turn_idx",
            ts_col="ts",
            role_col="role",
            expected_step=1,
            max_gap_sec=3600,
        ).collect()
    }
    # n_keys counts DISTINCT conversations per check; the null conv_id key
    # is excluded by count_distinct (SQL semantics) but its row is counted
    assert rep["role_repeat"] == (3, 2)
    assert rep["order_gap"] == (1, 1)
    assert rep["ts_regression"] == (1, 1)
    assert rep["long_gap"] == (1, 1)


def test_sequence_rule_catalog_form(spark):
    from ndap_data_validator_spark.operators.convchecks import check_sequence_rule
    from ndap_data_validator_spark.rules.model import SequenceRule

    rule = SequenceRule(
        key_column="conv_id",
        order_column="turn_idx",
        ts_column="ts",
        role_column="role",
        expected_step=1,
        max_gap_sec=3600,
    )
    got = {(r.conv_id, r.turn_idx, r.check) for r in
           check_sequence_rule(_conv(spark), rule).collect()}
    assert ("A", 3, "order_gap") in got and ("B", 2, "long_gap") in got


def test_on_generated_transcripts(spark):
    """The deterministic transcripts generator cycles roles user→assistant→
    tool per turn and injects invalid roles / duplicate turns; sequence
    checks must run over it at any size without error and flag the injected
    duplicate turns as order gaps (dup turn ⇒ next delta ≠ 1)."""
    from ndap_data_validator_spark.sources.datagen import transcripts

    t = transcripts(spark, n_rows=4000, n_convs=40, seed=42)
    got = sequence_checks(
        t,
        key_col="conv_id",
        order_col="turn_idx",
        ts_col="ts",
        role_col="role",
        expected_step=1,
    )
    by_check = {
        r.check: r.n
        for r in got.groupBy("check").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # injected duplicate (conv, turn) pairs break contiguity; injected
    # 'sys?' roles land next to each other rarely but order gaps must exist
    assert by_check.get("order_gap", 0) > 0
    # every violation row carries a real check label
    assert set(by_check) <= {"order_gap", "ts_regression", "role_repeat"}


def test_bad_transition_fsm(spark):
    """Role-transition whitelist: a 'tool' turn must follow 'assistant';
    NULL roles make membership UNKNOWN, which passes (SQL row-value IN
    semantics); the first turn of a key never violates."""
    allowed = frozenset(
        [
            ("user", "assistant"),
            ("assistant", "user"),
            ("assistant", "tool"),
            ("tool", "assistant"),
        ]
    )
    rows = [
        ("A", 0, "user"),
        ("A", 1, "assistant"),
        ("A", 2, "tool"),       # assistant→tool: allowed
        ("A", 3, "assistant"),
        ("B", 0, "user"),
        ("B", 1, "tool"),       # user→tool: NOT allowed
        ("B", 2, "assistant"),
        ("C", 0, "tool"),       # first turn: lag NULL, never violates
        ("C", 1, None),         # tool→NULL: UNKNOWN membership, passes
        ("C", 2, "user"),       # NULL→user: UNKNOWN membership, passes
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    got = {
        (r.conv_id, r.turn_idx, r.check)
        for r in sequence_checks(
            df,
            key_col="conv_id",
            order_col="turn_idx",
            role_col="role",
            allowed_transitions=allowed,
        ).collect()
    }
    assert got == {("B", 1, "bad_transition")}


def test_bad_transition_requires_role_col(spark):
    import pytest

    with pytest.raises(ValueError, match="role_col"):
        sequence_checks(
            _conv(spark),
            key_col="conv_id",
            order_col="turn_idx",
            allowed_transitions=frozenset([("user", "assistant")]),
        )
