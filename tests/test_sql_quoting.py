"""Identifiers and literals in the SQL text the rule families compile to:
column names with a space, a hyphen, a backtick and a dot, and regex,
domain and CHECK text with quotes and backslashes, must reach Catalyst
verbatim. Expected counts, reasons and rows are written out by hand (the
pandas oracle does not cover regex, domain or range rules)."""

from __future__ import annotations

import json

from ndap_data_validator_spark.operators.expectations import (
    MetricRule,
    metric_expectations,
)
from ndap_data_validator_spark.operators.validate import (
    REASON_NOT_IN_DOMAIN,
    REASON_OUT_OF_RANGE,
    REASON_REGEX_MISMATCH,
    ValidationEngine,
)
from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
from ndap_data_validator_spark.plans.pipeline import run_validation
from ndap_data_validator_spark.rules.model import (
    REASON_NO_NULLS,
    CheckRule,
    ColumnAssignment,
)

SCHEMA = "rid int, `my col` string, `a-b` int, `we``ird` string, `fy.v` string"
ROWS = [
    (1, "it's1", 1, "o'k", "2021"),
    (2, "its1", 2, "back\\slash", "2021"),  # regex: no quote
    (3, "it's\\d", 7, "ok", "2021"),  # regex: a literal backslash-d
    (4, None, -1, None, "2021"),
    (5, "it's5", 3, "back\\\\slash", "2021"),  # domain: two backslashes
    (6, "it's2", None, "o'k", "2021"),
]
ASSIGNS = [
    ColumnAssignment("my col", "Location", regex=r"^it's\d$"),
    ColumnAssignment("a-b", "Measures", "integer", min_value=0, max_value=5),
    ColumnAssignment("we`ird", "Others", allowed_values=("o'k", "back\\slash")),
    ColumnAssignment("fy.v", "Time"),
]
CHECK = CheckRule("small_ab", "`a-b` < 4")


def _frame(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_validate_quotes_names_and_literals(spark):
    res = ValidationEngine().validate(_frame(spark), ASSIGNS, order_by=["rid"])
    try:
        report = {
            r["column"]: (r["nulls"], r["conversion_errors"], r["passed"], list(r["reasons"]))
            for r in res.per_column_report.collect()
        }
        violations = sorted(
            (r["rid"], r["column"], r["reason"], r["value"])
            for r in res.violations.collect()
        )
    finally:
        res.release()
    assert report == {
        "rid": (0, 0, True, []),
        "my col": (1, 0, False, [REASON_NO_NULLS, REASON_REGEX_MISMATCH]),
        "a-b": (1, 0, False, [REASON_OUT_OF_RANGE]),
        "we`ird": (1, 0, False, [REASON_NOT_IN_DOMAIN]),
        "fy.v": (0, 0, True, []),
    }
    assert violations == [
        (2, "my col", REASON_REGEX_MISMATCH, "its1"),
        (3, "a-b", REASON_OUT_OF_RANGE, "7"),
        (3, "my col", REASON_REGEX_MISMATCH, "it's\\d"),
        (3, "we`ird", REASON_NOT_IN_DOMAIN, "ok"),
        (4, "a-b", REASON_OUT_OF_RANGE, "-1"),
        (4, "my col", REASON_NO_NULLS, None),
        (5, "we`ird", REASON_NOT_IN_DOMAIN, "back\\\\slash"),
    ]


def test_flag_rows_quotes_names_and_literals(spark):
    flagged = ValidationEngine().flag_rows(_frame(spark), ASSIGNS, check_rules=[CHECK])
    assert flagged.columns[:5] == ["rid", "my col", "a-b", "we`ird", "fy.v"]
    got = {r["rid"]: (list(r["row_reasons"]), r["row_passed"]) for r in flagged.collect()}
    assert got == {
        1: ([], True),
        2: ([f"my col: {REASON_REGEX_MISMATCH}"], False),
        3: (
            [
                f"my col: {REASON_REGEX_MISMATCH}",
                f"a-b: {REASON_OUT_OF_RANGE}",
                f"we`ird: {REASON_NOT_IN_DOMAIN}",
                "check: small_ab",
            ],
            False,
        ),
        4: ([f"my col: {REASON_NO_NULLS}", f"a-b: {REASON_OUT_OF_RANGE}"], False),
        5: ([f"we`ird: {REASON_NOT_IN_DOMAIN}"], False),
        6: ([], True),
    }


METRICS = [
    # mean over 1, 2, 7, -1, 3 (the NULL skipped) = 2.4
    MetricRule("ab_mean", "mean", column="a-b", max_bound=2.5),
    # an already-quoted name resolves as F.col would: 1 NULL in 6 rows
    MetricRule("weird_nulls", "null_fraction", column="`we``ird`", max_bound=0.1),
]


def test_metric_rules_over_awkward_columns(spark):
    got = {
        r["rule"]: (round(r["value"], 6), r["passed"])
        for r in metric_expectations(_frame(spark), METRICS).collect()
    }
    assert got == {"ab_mean": (2.4, True), "weird_nulls": (round(1 / 6, 6), False)}


def test_run_validation_over_awkward_columns(spark, tmp_path):
    out = run_validation(
        spark,
        _frame(spark),
        ASSIGNS,
        "`fy.v`",
        checkpoint_path=str(tmp_path / "ckpt"),
        order_by=["rid"],
        report_path=str(tmp_path / "rep"),
        check_rules=[CHECK],
        metric_rules=METRICS,
    )
    assert out.processed_partitions == ["2021"] and not out.passed_all
    checks = spark.read.parquet(str(tmp_path / "rep" / "check_violations")).collect()
    assert [(r["rid"], r["check"]) for r in checks] == [(3, "small_ab")]
    exp = {
        r["rule"]: r["passed"]
        for r in spark.read.parquet(str(tmp_path / "rep" / "metric_expectations")).collect()
    }
    assert exp == {"ab_mean": True, "weird_nulls": False}
    (rec,) = CheckpointStore(spark, str(tmp_path / "ckpt")).run_log(out.run_id).collect()
    metrics = json.loads(rec["metrics_json"])
    assert metrics["failed_columns"] == ["my col", "a-b", "we`ird"]
    assert metrics["expectation_failed_rules"] == ["weird_nulls"]
    assert metrics["columns"]["we`ird"] == {
        "nulls": 1, "conversion_errors": 0, "passed": False
    }
