"""Drift as a rule family of the checkpointed run: snapshot JSON
persistence, the pure-Catalyst per-partition drift report vs the
interactive :func:`drift_check` path, and the publish/watermark/digest
contract through ``run_validation``."""

from __future__ import annotations

import json
import math

import pandas as pd
import pytest

from ndap_data_validator_spark.operators.drift import (
    DriftRule,
    drift_check,
    drift_report_partitioned,
    snapshot,
    snapshot_from_json,
    snapshot_to_json,
)


def _pdf() -> pd.DataFrame:
    """Three partitions: p0 mirrors the baseline distribution, p1 is
    shifted hard (drifts), p2 has the drift column entirely NULL."""
    rows = []
    for i in range(300):
        rows.append(
            {
                "part": "p0",
                "conv_id": f"a-{i:04d}",
                "fy": "2021",
                "amount": float(i % 50),
                "latency": float((i * 7) % 100),
            }
        )
    for i in range(300):
        rows.append(
            {
                "part": "p1",
                "conv_id": f"b-{i:04d}",
                "fy": "2021",
                "amount": 200.0 + (i % 10),  # all overflow vs baseline grid
                "latency": float((i * 7) % 100),
            }
        )
    for i in range(100):
        # latency covers one full (i*7)%100 cycle = the baseline
        # distribution exactly, so p2's only verdict row is in-distribution
        rows.append(
            {
                "part": "p2",
                "conv_id": f"c-{i:04d}",
                "fy": "2021",
                "amount": None,
                "latency": float((i * 7) % 100),
            }
        )
    return pd.DataFrame(rows)


def _baseline(spark) -> dict[str, dict]:
    base = pd.DataFrame(
        {
            "amount": [float(i % 50) for i in range(500)],
            "latency": [float((i * 7) % 100) for i in range(500)],
        }
    )
    return snapshot(spark.createDataFrame(base), ["amount", "latency"], n_bins=16)


def test_snapshot_json_roundtrip(spark):
    snap = _baseline(spark)
    text = snapshot_to_json(snap)
    assert snapshot_from_json(text) == snap
    # deterministic bytes: same snapshot → same JSON (digest-stable file)
    assert snapshot_to_json(snapshot_from_json(text)) == text


def test_snapshot_json_rejects_malformed():
    with pytest.raises(ValueError):
        snapshot_from_json("[1, 2]")
    with pytest.raises(ValueError):
        snapshot_from_json('{"x": {"lo": 0.0, "hi": 1.0}}')  # missing keys
    with pytest.raises(ValueError):
        snapshot_from_json(
            '{"x": {"lo": 2.0, "hi": 1.0, "n_bins": 4, "counts": {}}}'
        )  # bad grid


def test_partitioned_report_matches_interactive_path(spark):
    """Per partition, the Catalyst report must equal drift_check() run on
    that partition's slice alone — same KS/PSI/JS/W1 to float tolerance."""
    snap = _baseline(spark)
    sdf = spark.createDataFrame(_pdf())
    rep = drift_report_partitioned(sdf, "part", snap).collect()
    got = {(r["partition_id"], r["column"]): r for r in rep}

    # p2's amount is all-NULL → no row (mirrors compare()'s zero-total skip)
    assert ("p2", "amount") not in got
    assert ("p2", "latency") in got

    for part in ("p0", "p1", "p2"):
        expected = drift_check(sdf.where(f"part = '{part}'"), snap)
        for er in expected:
            if er.current_total == 0:
                continue
            r = got[(part, er.column)]
            assert math.isclose(r["ks"], er.ks, abs_tol=1e-9), (part, er.column)
            assert math.isclose(r["psi"], er.psi, abs_tol=1e-9)
            assert math.isclose(r["js"], er.js, abs_tol=1e-9)
            assert math.isclose(r["w1"], er.w1, abs_tol=1e-9)
            assert r["baseline_total"] == er.baseline_total
            assert r["current_total"] == er.current_total
            assert r["drifted"] == er.drifted()
    assert got[("p0", "amount")]["drifted"] is False
    assert got[("p1", "amount")]["drifted"] is True


def test_partitioned_report_plan_shape(spark):
    """No CartesianProduct / Python-RDD scan anywhere in the plan: the
    baseline enters as literals and the fold is a projection of the one
    per-partition aggregate, so the plan has no join at all."""
    snap = _baseline(spark)
    rep = drift_report_partitioned(spark.createDataFrame(_pdf()), "part", snap)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "ExistingRDD" not in plan.replace("LogicalRDD", "")


def test_one_fold_per_baseline_column(spark):
    """Each usable baseline column's KS/PSI/JS/W1 fold appears once,
    whatever reads ks, psi or drifted: in the report rows' SQL (an
    empty-histogram column adds none) and in drift_windowed's optimized
    projection (no optimizer rule copies it back per output column). Each
    fold sums its histogram once, in the fold's start value."""
    import pyspark.sql.functions as F

    from ndap_data_validator_spark.operators.drift import (
        _drift_rows,
        drift_windowed,
    )

    snap = _baseline(spark)
    snap["empty"] = {"lo": 0.0, "hi": 1.0, "n_bins": 16, "counts": {}}
    sql = _drift_rows(snap, 0.1, 0.2)
    assert sql.count("'cq', 0D") == 2
    assert sql.count("aggregate(") == 4  # per column: the fold, its total
    assert sql.count("named_struct('n', aggregate(") == 2

    df = spark.createDataFrame(_pdf()).withColumn(
        "ts", F.lit("2026-01-01 00:00:00").cast("timestamp")
    )
    win = drift_windowed(df, "ts", "amount", snap)
    plan = win._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 2
    assert plan.count("named_struct(n, aggregate(") == 1


def test_run_validation_drift_integration(spark, tmp_path):
    """DriftRule through the checkpointed pipeline: report written, the
    drifted partition is withheld from publish, metrics_json carries the
    drifted column names, and the digest changes with the baseline."""
    from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
    from ndap_data_validator_spark.plans.pipeline import run_validation
    from ndap_data_validator_spark.rules.model import ColumnAssignment

    snap = _baseline(spark)
    sdf = spark.createDataFrame(_pdf())
    assigns = [
        ColumnAssignment("conv_id", "Location"),
        ColumnAssignment("fy", "Time"),
        ColumnAssignment("latency", "Measures", "float"),
    ]
    rule = DriftRule(snap)

    out = run_validation(
        spark, sdf, assigns, partition_by="part",
        checkpoint_path=str(tmp_path / "ckpt"),
        order_by=["conv_id"],
        report_path=str(tmp_path / "rep"),
        publish_path=str(tmp_path / "pub"),
        drift_rule=rule,
    )
    assert out.passed_all is False  # p1 drifted
    assert out.drift is not None

    rep = spark.read.parquet(str(tmp_path / "rep" / "drift_report"))
    drifted = {
        (r["partition_id"], r["column"])
        for r in rep.where("drifted").collect()
    }
    assert drifted == {("p1", "amount")}

    pub = spark.read.parquet(str(tmp_path / "pub"))
    pubs = {r["partition_id"] for r in pub.select("partition_id").collect()}
    # p2 publishes: its only drift row (latency) is in-distribution and the
    # all-NULL amount carries no verdict at all
    assert pubs == {"p0", "p2"}

    log = CheckpointStore(spark, str(tmp_path / "ckpt")).run_log(out.run_id)
    metrics = {
        r["partition_id"]: json.loads(r["metrics_json"]) for r in log.collect()
    }
    assert metrics["p1"]["drifted_columns"] == ["amount"]
    assert metrics["p1"]["passed"] is False
    assert metrics["p0"]["drifted_columns"] == []
    assert metrics["p0"]["passed"] is True
    assert metrics["p2"]["passed"] is True

    # digest: the baseline is part of the run identity — re-baselining or
    # moving a threshold re-keys the run; no drift rule = legacy digest
    out2 = run_validation(
        spark, sdf, assigns, partition_by="part",
        checkpoint_path=str(tmp_path / "ckpt2"),
        drift_rule=DriftRule(snap, ks_threshold=0.5),
    )
    out_none = run_validation(
        spark, sdf, assigns, partition_by="part",
        checkpoint_path=str(tmp_path / "ckpt3"),
    )
    assert len({out.rule_digest, out2.rule_digest, out_none.rule_digest}) == 3


def test_run_validation_drift_warn_severity(spark, tmp_path):
    """severity='warn': the report and metrics_json still carry the drift,
    but nothing is gated — the drifted partition publishes and passes."""
    from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
    from ndap_data_validator_spark.plans.pipeline import run_validation
    from ndap_data_validator_spark.rules.model import ColumnAssignment

    snap = _baseline(spark)
    sdf = spark.createDataFrame(_pdf())
    out = run_validation(
        spark, sdf, [
            ColumnAssignment("conv_id", "Location"),
            ColumnAssignment("fy", "Time"),
            ColumnAssignment("latency", "Measures", "float"),
        ],
        partition_by="part",
        checkpoint_path=str(tmp_path / "ckpt"),
        publish_path=str(tmp_path / "pub"),
        drift_rule=DriftRule(snap, severity="warn"),
    )
    assert out.passed_all is True
    pub = spark.read.parquet(str(tmp_path / "pub"))
    pubs = {r["partition_id"] for r in pub.select("partition_id").collect()}
    assert pubs == {"p0", "p1", "p2"}
    log = CheckpointStore(spark, str(tmp_path / "ckpt")).run_log(out.run_id)
    metrics = {
        r["partition_id"]: json.loads(r["metrics_json"]) for r in log.collect()
    }
    assert metrics["p1"]["drifted_columns"] == ["amount"]
    assert metrics["p1"]["passed"] is True


def test_drift_freezes_delta_watermark(spark, tmp_path):
    """An error-severity drifted partition must keep the delta watermark
    where it was, so the next delta run re-picks the same rows."""
    from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
    from ndap_data_validator_spark.plans.pipeline import run_validation
    from ndap_data_validator_spark.rules.model import ColumnAssignment

    snap = _baseline(spark)
    pdf = _pdf()
    pdf["wm"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf)
    assigns = [
        ColumnAssignment("conv_id", "Location"),
        ColumnAssignment("fy", "Time"),
        ColumnAssignment("latency", "Measures", "float"),
    ]
    ck = str(tmp_path / "ckpt")

    run_validation(
        spark, sdf, assigns, partition_by="part", checkpoint_path=ck,
        load_mode="delta", watermark_col="wm",
        drift_rule=DriftRule(snap),  # p1 drifts → frozen
    )
    assert CheckpointStore(spark, ck).last_watermark("wm") is None

    run_validation(
        spark, sdf, assigns, partition_by="part", checkpoint_path=ck,
        load_mode="delta", watermark_col="wm",
        drift_rule=DriftRule(snap, severity="warn"),  # warn → advances
    )
    assert CheckpointStore(spark, ck).last_watermark("wm") == str(len(pdf) - 1)


def test_partitioned_report_weighted_equals_raw(spark):
    """weight= (pre-aggregated input) must reproduce the raw-row report
    exactly: same partitions, same KS/PSI/JS/W1 bit-for-bit, same totals —
    and the group_cols= form of two_sample_value_counts is a valid feed."""
    import pyspark.sql.functions as F

    from ndap_data_validator_spark.operators.drift import (
        two_sample_value_counts,
    )

    snap = _baseline(spark)
    sdf = spark.createDataFrame(_pdf())
    raw = {
        (r["partition_id"], r["column"]): r
        for r in drift_report_partitioned(sdf, "part", snap).collect()
    }

    # pre-aggregate per (part, value) with a two-sample split nobody uses
    # (side_a constant True) just to exercise the group_cols path; the
    # current-side weight is the total per-value count
    counts = two_sample_value_counts(
        sdf.withColumnRenamed("amount", "v_amount"),
        "v_amount",
        F.lit(True),
        group_cols=["part"],
    )
    weighted = {
        (r["partition_id"], r["column"]): r
        for r in drift_report_partitioned(
            counts.withColumnRenamed("v", "amount"),
            "part",
            {"amount": snap["amount"]},
            weight="a_cnt",
        ).collect()
    }
    raw_amount = {k: v for k, v in raw.items() if k[1] == "amount"}
    assert set(weighted) == set(raw_amount)
    for k, w in weighted.items():
        r = raw_amount[k]
        assert w["ks"] == r["ks"] and w["psi"] == r["psi"], k
        assert w["js"] == r["js"] and w["w1"] == r["w1"], k
        assert w["current_total"] == r["current_total"]
        assert w["drifted"] == r["drifted"]

    # zero-weight partitions are skipped like the all-NULL case
    zero = counts.withColumn(
        "a_cnt", F.when(F.col("part") == "p0", 0).otherwise(F.col("a_cnt"))
    )
    rows = drift_report_partitioned(
        zero.withColumnRenamed("v", "amount"),
        "part",
        {"amount": snap["amount"]},
        weight="a_cnt",
    ).collect()
    assert {r["partition_id"] for r in rows} == {"p1"}  # p2 all-NULL, p0 zeroed


def test_snapshot_single_pass_equals_per_column_histograms(spark):
    """The one-agg snapshot must reproduce the per-column histogram()
    aggregates exactly (zero bins absent, NULLs excluded, same grids)."""
    from ndap_data_validator_spark.operators.drift import histogram

    sdf = spark.createDataFrame(_pdf())
    snap = snapshot(sdf, ["amount", "latency"], n_bins=16)
    for c in ("amount", "latency"):
        s = snap[c]
        rows = histogram(sdf, c, s["lo"], s["hi"], 16).collect()
        assert s["counts"] == {
            int(r["bin_id"]): int(r["bin_count"]) for r in rows
        }
    # all-NULL column: degenerate grid, empty histogram
    import pyspark.sql.functions as F

    allnull = sdf.withColumn("amount", F.lit(None).cast("double"))
    s = snapshot(allnull, ["amount"], n_bins=16)["amount"]
    assert s["counts"] == {} and s["hi"] > s["lo"]


def test_drift_rule_rejects_all_empty_baseline(spark):
    """snapshot() over an all-NULL frame yields counts={} for every
    column — drift_report_partitioned would silently skip them all, so
    DriftRule must refuse at construction, before the rule enters a run
    digest."""
    base = spark.createDataFrame(
        pd.DataFrame({"amount": [None, None, None]}), "amount double"
    )
    snap = snapshot(base, ["amount"], n_bins=8)
    with pytest.raises(ValueError, match="no usable columns"):
        DriftRule(snap)
    # one usable column among empties is fine — partial baselines are the
    # normal case for sparse columns
    mixed = dict(snap)
    mixed.update(_baseline(spark))
    DriftRule(mixed)


def test_run_validation_releases_summary_caches(spark, tmp_path):
    """The validator's shared per-partition aggregate, which also carries
    the expectation and drift verdicts, is persisted for the multi-action
    fold; run_validation must unpersist it before returning, or a
    long-lived driver looping one run per batch accumulates dead per-run
    caches in executor storage memory."""
    from ndap_data_validator_spark.operators.expectations import MetricRule
    from ndap_data_validator_spark.plans.pipeline import run_validation
    from ndap_data_validator_spark.rules.model import ColumnAssignment

    # Assert on the CacheManager, not getPersistentRDDs: the RDD registry
    # also carries localCheckpoint RDDs from OTHER tests in the shared
    # session, and the ContextCleaner may evict one mid-test (a
    # before/after count race that flaked the full suite); the
    # CacheManager holds exactly the persisted-DataFrame class this test
    # guards. clearCache first: CacheManager dedups identical logical
    # plans, so a leak could otherwise hide behind an earlier test's
    # identical cached frame (the run reuses that entry instead of
    # registering its own).
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty()
    run_validation(
        spark,
        spark.createDataFrame(_pdf()),
        [
            ColumnAssignment("conv_id", "Location"),
            ColumnAssignment("fy", "Time"),
            ColumnAssignment("latency", "Measures", "float"),
        ],
        partition_by="part",
        checkpoint_path=str(tmp_path / "ckpt"),
        metric_rules=[MetricRule("rows", "row_count", min_bound=1)],
        drift_rule=DriftRule(_baseline(spark), severity="warn"),
    )
    assert cache_manager.isEmpty()


def _assert_same_drift(got, want):
    """Drift report rows equal: exact on totals and verdicts, 1e-9 on the
    statistics."""
    got = {(r["partition_id"], r["column"]): r for r in got}
    want = {(r["partition_id"], r["column"]): r for r in want}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        for f in ("baseline_total", "current_total", "drifted"):
            assert g[f] == w[f], (k, f)
        for f in ("ks", "psi", "js", "w1"):
            assert math.isclose(g[f], w[f], abs_tol=1e-9), (k, f)


def _assert_same_expectations(got, want):
    got = {(r["partition_id"], r["rule"]): r for r in got}
    want = {(r["partition_id"], r["rule"]): r for r in want}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        for f in ("metric", "column", "min_bound", "max_bound", "passed", "severity"):
            assert g[f] == w[f], (k, f)
        if w["metric"] == "row_count" or w["value"] is None:
            assert g["value"] == w["value"], k
        else:
            assert math.isclose(g["value"], w["value"], abs_tol=1e-9), k


@pytest.mark.parametrize("scenario", ["clean", "resumed", "delta_frozen"])
def test_fused_sinks_equal_standalone_operators(spark, tmp_path, scenario):
    """run_validation folds the metric expectations and the drift
    histograms into the validator's one per-partition aggregate; the
    reports it writes must equal the standalone operators on the same
    slice. The fixture carries an all-NULL drift column (p2: no amount
    row) and NULL partition keys (the <null> partition); the scenarios add
    a resume over an already-done partition and a delta batch whose
    error-severity expectation fails, which must keep the watermark."""
    import pyspark.sql.functions as F

    from ndap_data_validator_spark.operators.expectations import (
        MetricRule,
        metric_expectations,
    )
    from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
    from ndap_data_validator_spark.plans.pipeline import (
        partition_key,
        run_validation,
    )
    from ndap_data_validator_spark.rules.model import ColumnAssignment

    snap = _baseline(spark)
    pdf = _pdf()
    nulls = pdf[pdf["part"] == "p0"].head(60).copy()
    nulls["part"] = None
    nulls["conv_id"] = "n-" + nulls["conv_id"]
    pdf = pd.concat([pdf, nulls], ignore_index=True)
    pdf["wm"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf)
    key = partition_key("part")
    rules = [
        MetricRule("rows", "row_count", min_bound=1),
        # p1's amounts sit at 200-209: this error rule fails p1 only
        MetricRule("amount_mean", "mean", column="amount", max_bound=100),
        MetricRule("latency_sd", "stddev", column="latency", max_bound=1, severity="warn"),
    ]
    drift_rule = DriftRule(snap, severity="warn")
    ck, rep = str(tmp_path / "ckpt"), str(tmp_path / "rep")
    kw = dict(
        assignments=[
            ColumnAssignment("conv_id", "Location"),
            ColumnAssignment("fy", "Time"),
            ColumnAssignment("latency", "Measures", "float"),
        ],
        partition_by="part",
        checkpoint_path=ck,
        order_by=["conv_id"],
        report_path=rep,
        metric_rules=rules,
        drift_rule=drift_rule,
    )

    if scenario == "resumed":
        run_validation(spark, sdf.where(key == "p0"), run_id="RUN-R", **kw)
        out = run_validation(spark, sdf, run_id="RUN-R", **kw)
        assert out.skipped_partitions == ["p0"]
        assert out.processed_partitions == ["<null>", "p1", "p2"]
        # the outcome's frames cover the resumed slice only
        rest = sdf.where(key != "p0")
        _assert_same_drift(
            out.drift.collect(),
            drift_report_partitioned(rest, key, snap).collect(),
        )
        _assert_same_expectations(
            out.expectations.collect(),
            metric_expectations(rest, rules, partition_by=key).collect(),
        )
    elif scenario == "delta_frozen":
        out = run_validation(
            spark, sdf, load_mode="delta", watermark_col="wm", **kw
        )
        assert out.passed_all is False
        assert CheckpointStore(spark, ck).last_watermark("wm") is None
    else:
        out = run_validation(spark, sdf, **kw)
        assert out.passed_all is False

    def sink(name):
        return spark.read.parquet(f"{rep}/{name}").drop("delta_batch").collect()

    drift_want = drift_report_partitioned(sdf, key, snap).collect()
    assert ("p2", "amount") not in {
        (r["partition_id"], r["column"]) for r in drift_want
    }
    assert ("<null>", "amount") in {
        (r["partition_id"], r["column"]) for r in drift_want
    }
    _assert_same_drift(sink("drift_report"), drift_want)
    exp_want = metric_expectations(sdf, rules, partition_by=key).collect()
    assert {r["partition_id"] for r in exp_want if not r["passed"]} >= {"p1"}
    _assert_same_expectations(sink("metric_expectations"), exp_want)

    if scenario == "clean":
        # weight= over a pre-aggregated slice reproduces the same report
        pre = sdf.groupBy(
            key.alias("k"), "amount", "latency"
        ).agg(F.count(F.lit(1)).alias("n"))
        _assert_same_drift(
            drift_report_partitioned(pre, "k", snap, weight="n").collect(),
            drift_want,
        )
