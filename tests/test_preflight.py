"""Rule pre-flight: every rule family analysis-checked against the input
schema driver-side, all failures collected, no job launched."""

from __future__ import annotations

from ndap_data_validator_spark.operators.expectations import MetricRule
from ndap_data_validator_spark.rules.model import (
    CheckRule,
    ColumnAssignment,
    SequenceRule,
)
from ndap_data_validator_spark.rules.preflight import preflight_rules

_SCHEMA = "conv_id string, turn_idx int, role string, text string, m string"


def test_preflight_clean_rules_pass(spark):
    errs = preflight_rules(
        spark,
        _SCHEMA,
        assignments=[
            ColumnAssignment("conv_id", "Location"),
            ColumnAssignment("m", "Measures", "integer"),
        ],
        check_rules=[CheckRule("cap", "TRY_CAST(m AS INT) < 100")],
        metric_rules=[
            MetricRule("rows", "row_count", min_bound=1),
            MetricRule(
                "cap_holds",
                "compliance",
                expression="(TRY_CAST(m AS INT) < 100) IS NOT FALSE",
                min_bound=1.0,
            ),
        ],
        sequence_rule=SequenceRule("conv_id", "turn_idx", expected_step=1),
    )
    assert errs == []


def test_preflight_collects_every_failure(spark):
    errs = preflight_rules(
        spark,
        _SCHEMA,
        assignments=[
            ColumnAssignment("conv_id", "Location"),
            ColumnAssignment("no_such_col", "Measures", "integer"),
        ],
        check_rules=[
            CheckRule("typo_col", "typo_column > 0"),
            CheckRule("bad_sql", "SELEKT WHERE FROM"),
            CheckRule("fine", "turn_idx >= 0"),
        ],
        metric_rules=[
            MetricRule("ghost_mean", "mean", column="ghost", min_bound=0),
        ],
    )
    keys = {(e.family, e.rule) for e in errs}
    assert keys == {
        ("assignment", "no_such_col"),
        ("check", "typo_col"),
        ("check", "bad_sql"),
        ("metric", "ghost_mean"),
    }
    # every error carries a one-line analyzer message
    assert all(e.error for e in errs)


def test_preflight_does_not_log_the_errors_it_reports(spark, capfd):
    """A typo'd rule comes back as data, and PySpark's query-context
    logger writes no ERROR record of the handled error to stderr."""
    import logging
    import sys

    from pyspark.logger import PySparkLogger

    # PySpark's own handler keeps the stderr of the moment it was created,
    # which under pytest can be an earlier test's capture: route the
    # logger to this test's stderr as well.
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    handler = logging.StreamHandler(sys.stderr)
    logger.addHandler(handler)
    capfd.readouterr()
    try:
        errs = preflight_rules(
            spark, _SCHEMA, check_rules=[CheckRule("typo", "turn_idxx > 0")]
        )
    finally:
        logger.removeHandler(handler)
    err = capfd.readouterr().err
    assert "SQLQueryContextLogger" not in err
    assert [(e.family, e.rule) for e in errs] == [("check", "typo")]
    assert errs[0].error.startswith("[UNRESOLVED_COLUMN.WITH_SUGGESTION]")
    assert "`turn_idxx`" in errs[0].error


def test_preflight_accepts_dataframe_schema_source(spark):
    df = spark.createDataFrame([("c1", 0)], "conv_id string, turn_idx int")
    errs = preflight_rules(
        spark,
        df,
        check_rules=[CheckRule("gone", "missing_col IS NOT NULL")],
    )
    assert [e.family for e in errs] == ["check"]


def test_preflight_freshness_rule_compiles_without_metric_now(spark):
    """freshness rules need now= at EVALUATION time; preflight supplies a
    dummy instant so compilation is still checkable up front."""
    errs = preflight_rules(
        spark,
        "ts timestamp",
        metric_rules=[
            MetricRule("fresh", "freshness", column="ts", max_bound=3600)
        ],
    )
    assert errs == []


def test_run_validation_preflight_gate(spark, tmp_path):
    """run_validation(preflight=True) refuses a bad catalog with the full
    fix list before any job; a clean catalog runs normally. Default
    (False) keeps the engine's reference-parity silent-ignore contract."""
    import pandas as pd
    import pytest

    from ndap_data_validator_spark.plans.pipeline import run_validation

    pdf = pd.DataFrame(
        {"part": ["p"] * 3, "t": ["2021"] * 3, "m": ["1", "2", "3"]}
    )
    sdf = spark.createDataFrame(pdf)
    good = [
        ColumnAssignment("part", "Others"),
        ColumnAssignment("t", "Time"),
        ColumnAssignment("m", "Measures", "integer"),
    ]
    with pytest.raises(ValueError, match=r"(?s)pre-flight.*ghost") as ei:
        run_validation(
            spark,
            sdf,
            good + [ColumnAssignment("ghost", "Location")],
            partition_by="part",
            checkpoint_path=str(tmp_path / "ckpt"),
            check_rules=[CheckRule("typo", "nope > 0")],
            preflight=True,
        )
    # the COMPLETE list: both defects named in one error
    assert "typo" in str(ei.value)
    out = run_validation(
        spark,
        sdf,
        good,
        partition_by="part",
        checkpoint_path=str(tmp_path / "ckpt2"),
        preflight=True,
    )
    assert out.passed_all
