"""Broadcast-domain rule + the duplicate-key census: the domain rule must
equal the referential anti-join, and ``duplicate_keys_hashed`` (the exact
census under its former scale-path name) must equal ``duplicate_keys``."""

from __future__ import annotations

from pyspark.sql import functions as F

from ndap_data_validator_spark.operators.uniqueness import (
    duplicate_keys,
    duplicate_keys_hashed,
)
from ndap_data_validator_spark.operators.validate import (
    REASON_NOT_IN_DOMAIN,
    ValidationEngine,
)
from ndap_data_validator_spark.rules.model import ColumnAssignment
from ndap_data_validator_spark.sources.datagen import transcripts


def test_domain_rule_counts_and_violations(spark):
    df = spark.createDataFrame(
        [("tool-001",), ("tool-999",), (None,), ("tool-002",), ("junk",)],
        "tool string",
    )
    res = ValidationEngine().validate(
        df, [ColumnAssignment("tool", "Others", allowed_values=("tool-001", "tool-002"))]
    )
    rep = res.per_column_report.first()
    assert not rep["passed"]
    assert list(rep["reasons"]) == [REASON_NOT_IN_DOMAIN]
    viol = {r["value"] for r in res.violations.collect()}
    assert viol == {"tool-999", "junk"}  # NULL is not a domain violation


def test_domain_rule_matches_anti_join(spark):
    # the in-scan domain rule and the referential anti-join agree
    from ndap_data_validator_spark.operators.referential import ri_violations
    from ndap_data_validator_spark.sources.datagen import tool_catalog

    df = transcripts(spark, 5_000, 200, seed=42)
    cat = tool_catalog(spark)
    tool_ids = tuple(r["tool_id"] for r in cat.collect())
    res = ValidationEngine().validate(
        df.select("tool"),
        [ColumnAssignment("tool", "Others", allowed_values=tool_ids)],
    )
    in_scan = res.violations.count()
    anti = ri_violations(df, "tool", cat, "tool_id").count()
    assert in_scan == anti > 0


def test_hashed_duplicate_keys_exact_equivalence(spark):
    df = transcripts(spark, 8_000, 150, seed=42)
    plain = duplicate_keys(df, ["conv_id", "turn_idx"])
    hashed = duplicate_keys_hashed(df, ["conv_id", "turn_idx"])
    assert plain.exceptAll(hashed).count() == 0
    assert hashed.exceptAll(plain).count() == 0
    assert plain.count() > 0


def test_hashed_duplicate_keys_null_keys(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), (None, 2), (None, 2), ("b", 3)],
        "k string, t int",
    )
    got = {
        (r["k"], r["t"]): r["dup_count"]
        for r in duplicate_keys_hashed(df, ["k", "t"]).collect()
    }
    assert got == {("a", 1): 2, (None, 2): 2}


def test_hashed_census_starts_no_job_before_an_action(spark):
    """The census is one lazy aggregate: building it starts no Spark job;
    the action that reads it does."""
    df = transcripts(spark, 2_000, 20, seed=3)
    sc = spark.sparkContext
    group = "census-laziness"
    sc.setJobGroup(group, "duplicate_keys_hashed laziness")
    try:
        census = duplicate_keys_hashed(df, ["conv_id", "turn_idx"])
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        census.count()
        after = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert before == 0
    assert after > 0
