"""Quantiles in the stats block; distributed exact KS; bucketed co-located
join (shuffle-free sort-merge) — the scale craft checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from ndap_data_validator_spark.operators import drift
from ndap_data_validator_spark.operators.stats import column_stats
from ndap_data_validator_spark.sources.datagen import transcripts


def test_stats_quantiles(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    row = column_stats(df, ["x"]).first()
    assert abs(row["p50"] - 50.0) <= 1.0
    assert abs(row["p95"] - 95.0) <= 1.0
    srow = column_stats(
        spark.createDataFrame([("a",)], "s string"), ["s"]
    ).first()
    assert srow["p50"] is None


def _ks(a, b, column):
    """Exact KS between two frames on the shared-scan path: the frames
    tagged by side in one frame → two_sample_value_counts →
    ks_exact_from_counts."""
    both = a.select(column, F.lit(True).alias("is_a")).unionByName(
        b.select(column, F.lit(False).alias("is_a"))
    )
    return drift.ks_exact_from_counts(
        drift.two_sample_value_counts(both, column, F.col("is_a"))
    ).first()


def test_ks_exact_agrees_with_binned_direction(spark):
    base = transcripts(spark, 4_000, 100, seed=41, inject_violations=False)
    same = transcripts(spark, 4_000, 100, seed=42, inject_violations=False)
    shifted = transcripts(
        spark, 4_000, 100, seed=42, inject_violations=False,
        turn_shift=300, shift_fraction=0.3,
    )
    ks_same = _ks(base, same, "turn_idx")["ks"]
    ks_shift = _ks(base, shifted, "turn_idx")["ks"]
    assert 0.0 <= ks_same < 0.05
    assert ks_shift > ks_same + 0.05


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    # co-located join craft: two tables bucketed on the join key sort-merge
    # join WITHOUT an Exchange on either side (warehouse dir is set once in
    # the session fixture — it's a static conf)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = transcripts(spark, 10_000, 100, seed=42).where(F.col("conv_id").isNotNull())
        (
            df.write.bucketBy(8, "conv_id").sortBy("conv_id")
            .mode("overwrite").saveAsTable("t_a")
        )
        (
            df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
            .write.bucketBy(8, "conv_id").sortBy("conv_id")
            .mode("overwrite").saveAsTable("t_b")
        )
        joined = spark.table("t_a").join(spark.table("t_b"), "conv_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing co-locates both sides
        assert joined.count() == df.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        spark.sql("DROP TABLE IF EXISTS t_a")
        spark.sql("DROP TABLE IF EXISTS t_b")


def test_ks_exact_from_counts_matches_numpy(spark):
    """The distributed per-value-counts KS must equal a NumPy two-sample KS
    over the collected values on the same inputs."""
    import numpy as np

    df = spark.range(5000).select(
        (F.col("id") % 97).cast("double").alias("v"),
        (F.col("id") % 2).alias("side"),
    ).withColumn(
        "v", F.when(F.col("side") == 0, F.col("v") * 1.5 + 3).otherwise(F.col("v"))
    )
    x = np.sort([r["v"] for r in df.where(F.col("side") == 0).collect()])
    y = np.sort([r["v"] for r in df.where(F.col("side") == 1).collect()])
    grid = np.concatenate([x, y])
    single = float(np.max(np.abs(
        np.searchsorted(x, grid, side="right") / len(x)
        - np.searchsorted(y, grid, side="right") / len(y)
    )))
    counts = drift.two_sample_value_counts(df, "v", F.col("side") == 0)
    dist = drift.ks_exact_from_counts(counts, num_range_partitions=7).first()
    assert abs(dist["ks"] - single) < 1e-12
    assert dist["n_a"] == 2500 and dist["n_b"] == 2500


def test_ks_exact_from_counts_edge_cases(spark):
    empty = spark.range(0).select(F.col("id").cast("double").alias("v"))
    some = spark.range(10).select(F.col("id").cast("double").alias("v"))
    r = _ks(empty, empty, "v")
    assert (r["ks"], r["n_a"], r["n_b"]) == (0.0, 0, 0)
    # one side empty, in both orders: ks undefined, sizes reported
    r1 = _ks(some, empty, "v")
    assert (r1["ks"], r1["n_a"], r1["n_b"]) == (None, 10, 0)
    r1 = _ks(empty, some, "v")
    assert (r1["ks"], r1["n_a"], r1["n_b"]) == (None, 0, 10)
    # identical samples → KS 0
    r2 = _ks(some, some, "v")
    assert r2["ks"] == 0.0
    # constant column (lo == hi guard)
    const = spark.range(10).select(F.lit(5.0).alias("v"))
    shifted = spark.range(10).select(F.lit(7.0).alias("v"))
    r3 = _ks(const, shifted, "v")
    assert r3["ks"] == 1.0
    # NULL values and NULL side rows belong to neither sample
    df = spark.createDataFrame(
        [(1.0, True), (2.0, True), (None, True), (1.0, False), (None, False),
         (9.0, None)],
        "v double, is_a boolean",
    )
    r4 = drift.ks_exact_from_counts(
        drift.two_sample_value_counts(df, "v", F.col("is_a"))
    ).first()
    assert (r4["ks"], r4["n_a"], r4["n_b"]) == (0.5, 2, 1)


def test_approx_percentile_within_tolerance_of_exact(spark):
    """The scale path (approx_percentile) must track the exact interpolated
    percentile within its accuracy bound on a realistic distribution."""
    from pyspark.sql import functions as F

    df = spark.range(50_000).select(
        (F.pmod(F.xxhash64("id"), F.lit(100000)) / 100.0).alias("v")
    )
    row = df.agg(
        F.expr("percentile(v, 0.95)").alias("exact"),
        F.expr("approx_percentile(v, 0.95, 10000)").alias("approx"),
        F.expr("percentile(v, 0.5)").alias("exact50"),
        F.expr("approx_percentile(v, 0.5, 10000)").alias("approx50"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.01
    assert abs(row["approx50"] - row["exact50"]) / row["exact50"] < 0.01


def test_exact_percentiles_distributed_matches_percentile(spark):
    """Distributed CDF order-statistic selection ≡ Spark's single-buffer
    percentile() (linear interpolation), including heavy duplicates and both
    odd/even counts."""
    from ndap_data_validator_spark.operators.stats import (
        exact_percentiles_distributed,
    )

    for n in (101, 100, 7):
        df = spark.range(n).select(
            ((F.col("id") * 37) % 11).cast("double").alias("x")  # duplicates
        )
        ps = (0.5, 0.95, 0.99, 0.25)
        got = exact_percentiles_distributed(df, "x", ps=ps).first()
        ref = df.agg(
            F.expr("percentile(x, array(0.5, 0.95, 0.99, 0.25))").alias("q")
        ).first()["q"]
        for name, expect in zip(("p50", "p95", "p99", "p25"), ref):
            assert abs(got[name] - expect) < 1e-9, (n, name, got[name], expect)


def test_exact_percentiles_distributed_empty_and_constant(spark):
    from ndap_data_validator_spark.operators.stats import (
        exact_percentiles_distributed,
    )

    empty = spark.range(5).select(F.lit(None).cast("double").alias("x"))
    row = exact_percentiles_distributed(empty, "x", ps=(0.5,)).first()
    assert row["p50"] is None

    const = spark.range(9).select(F.lit(3.5).alias("x"))
    row = exact_percentiles_distributed(const, "x", ps=(0.5, 0.99)).first()
    assert row["p50"] == 3.5 and row["p99"] == 3.5


def test_categorical_drift_hand_computed(spark):
    """a-side: x×3, y×1; b-side: x×1, y×2, z×1 — PSI/chi2 checked against
    the closed forms computed by hand (smoothing 0.5)."""
    import math

    from ndap_data_validator_spark.operators.drift import categorical_drift

    rows = [("x", True)] * 3 + [("y", True)] + [("x", False)] + \
        [("y", False)] * 2 + [("z", False)]
    df = spark.createDataFrame(rows, "cat string, is_a boolean")
    got = categorical_drift(df, "cat", F.col("is_a"), smoothing=0.5).first()

    A, B, K, s = 4.0, 4.0, 3.0, 0.5
    counts = {"x": (3, 1), "y": (1, 2), "z": (0, 1)}
    psi = chi2 = 0.0
    for a, b in counts.values():
        pa = (a + s) / (A + K * s)
        pb = (b + s) / (B + K * s)
        psi += (pb - pa) * math.log(pb / pa)
        ea = (a + b) * A / (A + B)
        eb = (a + b) * B / (A + B)
        chi2 += (a - ea) ** 2 / ea + (b - eb) ** 2 / eb
    assert abs(got["psi_cat"] - psi) < 1e-12
    assert abs(got["chi2_cat"] - chi2) < 1e-12
    assert got["n_categories"] == 3


def test_categorical_drift_identical_sides_is_zero(spark):
    from ndap_data_validator_spark.operators.drift import categorical_drift

    rows = [(c, s) for c in ("x", "y", "z") for s in (True, False)] * 5
    df = spark.createDataFrame(rows, "cat string, is_a boolean")
    got = categorical_drift(df, "cat", F.col("is_a")).first()
    assert abs(got["psi_cat"]) < 1e-12
    assert abs(got["chi2_cat"]) < 1e-12


def test_categorical_drift_null_category_and_side_excluded(spark):
    import math

    from ndap_data_validator_spark.operators.drift import categorical_drift

    rows = [("x", True), ("x", False), (None, True), ("y", None)]
    df = spark.createDataFrame(rows, "cat string, is_a boolean")
    got = categorical_drift(df, "cat", F.col("is_a")).first()
    # only the two 'x' rows survive: one per side, zero drift, one category
    assert got["n_categories"] == 1
    assert abs(got["chi2_cat"]) < 1e-12
    # the only a-side row has a NULL category: one side empty, so chi2 is
    # undefined (NULL) while the smoothed PSI stays finite
    rows = [("x", False), ("x", False), ("y", False), (None, True), ("x", None)]
    df = spark.createDataFrame(rows, "cat string, is_a boolean")
    got = categorical_drift(df, "cat", F.col("is_a"), smoothing=0.5).first()
    psi = sum(
        (pb - 0.5) * math.log(pb / 0.5) for pb in (2.5 / 4.0, 1.5 / 4.0)
    )
    assert got["n_categories"] == 2
    assert got["chi2_cat"] is None
    assert abs(got["psi_cat"] - psi) < 1e-12


def _np_js_w1(p_counts, q_counts, lo, hi, n_bins):
    """Independent numpy oracle for JS divergence (nats) and binned W1
    with under/overflow mass clamped to the grid edges."""
    import numpy as np

    p = np.array([p_counts.get(i, 0) for i in range(n_bins + 2)], dtype=float)
    q = np.array([q_counts.get(i, 0) for i in range(n_bins + 2)], dtype=float)
    p /= p.sum()
    q /= q.sum()
    m = (p + q) / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        kl_pm = np.where(p > 0, p * np.log(p / m), 0.0).sum()
        kl_qm = np.where(q > 0, q * np.log(q / m), 0.0).sum()
    js = 0.5 * kl_pm + 0.5 * kl_qm
    w = (hi - lo) / n_bins
    pos = np.concatenate(
        ([lo], lo + w * (np.arange(1, n_bins + 1) - 0.5), [hi])
    )
    cdf_gap = np.abs(np.cumsum(p - q))[:-1]
    w1 = float((cdf_gap * np.diff(pos)).sum())
    return float(js), w1


def test_compare_js_w1_match_numpy_oracle():
    base = {
        "x": {"lo": 0.0, "hi": 10.0, "n_bins": 5,
              "counts": {0: 3, 1: 10, 2: 20, 3: 15, 5: 7, 6: 2}},
    }
    cur = {
        "x": {"lo": 0.0, "hi": 10.0, "n_bins": 5,
              "counts": {1: 4, 2: 9, 3: 22, 4: 11, 5: 14}},
    }
    (r,) = drift.compare(base, cur)
    js, w1 = _np_js_w1(
        base["x"]["counts"], cur["x"]["counts"], 0.0, 10.0, 5
    )
    assert abs(r.js - js) < 1e-12
    assert abs(r.w1 - w1) < 1e-12
    # bounds: JS ≤ ln 2; W1 ≤ grid span
    import math

    assert 0.0 < r.js <= math.log(2.0) + 1e-12
    assert 0.0 < r.w1 <= 10.0


def test_compare_js_w1_identical_and_disjoint():
    import math

    same = {"x": {"lo": 0.0, "hi": 8.0, "n_bins": 4,
                  "counts": {1: 5, 2: 5, 3: 5, 4: 5}}}
    (r0,) = drift.compare(same, same)
    assert r0.js == 0.0 and r0.w1 == 0.0 and r0.ks == 0.0
    # fully disjoint support → JS hits its ln 2 maximum
    a = {"x": {"lo": 0.0, "hi": 8.0, "n_bins": 4, "counts": {1: 10, 2: 10}}}
    b = {"x": {"lo": 0.0, "hi": 8.0, "n_bins": 4, "counts": {3: 10, 4: 10}}}
    (r1,) = drift.compare(a, b)
    assert abs(r1.js - math.log(2.0)) < 1e-12
    # unit-shifted point masses two bins apart: W1 = bin distance = 4.0
    pa = {"x": {"lo": 0.0, "hi": 8.0, "n_bins": 4, "counts": {1: 10}}}
    pb = {"x": {"lo": 0.0, "hi": 8.0, "n_bins": 4, "counts": {3: 10}}}
    (r2,) = drift.compare(pa, pb)
    assert abs(r2.w1 - 4.0) < 1e-12


def test_drift_check_carries_js_w1_through_spark(spark):
    """End-to-end: snapshot → drift_check surfaces the new metrics, and a
    mean shift moves both JS and W1 while same-seed data stays near zero."""
    base_df = transcripts(spark, 3_000, 64, seed=41, inject_violations=False)
    same_df = transcripts(spark, 3_000, 64, seed=43, inject_violations=False)
    snap = drift.snapshot(base_df, ["turn_idx"], n_bins=16)
    (r_same,) = drift.drift_check(same_df, snap)
    shifted_df = same_df.withColumn(
        "turn_idx", (F.col("turn_idx") + F.lit(20)).cast("int")
    )
    (r_shift,) = drift.drift_check(shifted_df, snap)
    assert r_shift.js > r_same.js
    assert r_shift.w1 > r_same.w1 + 1.0
    assert r_same.w1 < 5.0
