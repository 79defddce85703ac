"""User-style end-to-end job driving the engine via its public API only."""

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ndap_data_validator_spark.operators.validate import ValidationEngine
from ndap_data_validator_spark.operators.uniqueness import (
    duplicate_keys,
    duplicate_keys_hashed,
)
from ndap_data_validator_spark.operators.referential import ri_violation_counts
from ndap_data_validator_spark.operators import drift as drift_mod
from ndap_data_validator_spark.plans.pipeline import (
    run_validation,
    salt_repartition,
    new_run_id,
)
from ndap_data_validator_spark.rules.model import ColumnAssignment
from ndap_data_validator_spark.sources.datagen import transcripts

spark = (
    SparkSession.builder.appName("verify-job")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

df = transcripts(spark, 50_000, 500, seed=42)
assigns = [
    ColumnAssignment("conv_id", "Location"),
    ColumnAssignment("turn_idx", "Measures", "integer", min_value=0),
    ColumnAssignment("role", "Others", regex=r"^(user|assistant|tool)$"),
]

res = ValidationEngine().validate(df, assigns, partition_by=F.substring("conv_id", 1, 9))
rep = {r["column"]: r for r in res.per_column_report.where(F.col("partition_id").isNotNull()).collect()[:50]}
print("per-column sample:", {k: (v["nulls"], v["conversion_errors"], v["passed"]) for k, v in list(rep.items())[:6]})

dups = duplicate_keys(df, ["conv_id", "turn_idx"]).count()
dups_h = duplicate_keys_hashed(df, ["conv_id", "turn_idx"]).count()
print("duplicate keys:", dups, "hashed-path:", dups_h)
assert dups == dups_h, "duplicate_keys_hashed must equal the exact census"

dups_salted = duplicate_keys(
    salt_repartition(df, "conv_id", num_partitions=8), ["conv_id", "turn_idx"]
).count()
assert dups_salted == dups, "salted plan must be result-identical"

tools = spark.createDataFrame([(f"tool-{k:03d}",) for k in range(50)], "tool_id string")
ri = ri_violation_counts(df.where(F.col("tool").isNotNull()), "tool", tools, "tool_id")
print("RI violating tool ids:", ri.count())

# checkpointed run with report writing on a VANILLA session (no dynamic
# overwrite session conf) — exercises the writer-local overwrite mode fix
import tempfile, os
base = tempfile.mkdtemp(prefix="verify_run_")
run_id = new_run_id()
out1 = run_validation(
    spark, df, assigns, F.substring("conv_id", 1, 9),
    checkpoint_path=os.path.join(base, "ckpt"), run_id=run_id,
    report_path=os.path.join(base, "report"),
)
n_parts = len(out1.processed_partitions)
rows1 = spark.read.parquet(os.path.join(base, "report/per_column")).count()
# resume: everything done → second run must NOT wipe existing report rows
out2 = run_validation(
    spark, df, assigns, F.substring("conv_id", 1, 9),
    checkpoint_path=os.path.join(base, "ckpt"), run_id=run_id,
    report_path=os.path.join(base, "report"),
)
rows2 = spark.read.parquet(os.path.join(base, "report/per_column")).count()
print("report rows after run/resume:", rows1, rows2, "partitions:", n_parts)
assert rows1 == rows2 and rows1 > 0, "resume must not wipe done partitions' reports"
assert out2.skipped_partitions == out1.processed_partitions

# drift: baseline vs shifted-by-multiple-bin-widths current
snap = drift_mod.snapshot(df.where(F.col("turn_idx").isNotNull()), ["turn_idx"], n_bins=32)
shifted = df.withColumn("turn_idx", F.col("turn_idx") + F.lit(2000))
(dr,) = drift_mod.drift_check(shifted, snap)
print("drift ks/psi:", round(dr.ks, 4), round(dr.psi, 4))
assert dr.drifted(), "a multi-bin-width shift must trip drift"

# distributed exact KS vs the binned check on the same split
from ndap_data_validator_spark.operators.drift import (
    ks_exact_from_counts,
    two_sample_value_counts,
)
ksd = ks_exact_from_counts(
    two_sample_value_counts(df, "turn_idx", F.col("turn_idx") % 2 == 0)
).first()
print("distributed exact KS:", round(ksd["ks"], 4), ksd["n_a"], ksd["n_b"])
assert 0.0 <= ksd["ks"] <= 1.0 and ksd["n_a"] > 0

# delta load mode: append rows, delta run validates only the new ones, and
# the folded report equals a full re-run's
d1 = spark.createDataFrame([(f"p{i%3}", i, float(i)) for i in range(300)],
                           "part string, seq long, m double")
d2 = spark.createDataFrame([(f"q{i%2}", i, float(i)) for i in range(300, 500)],
                           "part string, seq long, m double")
massigns = [ColumnAssignment("part", "Location"), ColumnAssignment("m", "Measures", "float")]
dbase = tempfile.mkdtemp(prefix="verify_delta_")
run_validation(spark, d1, massigns, "part", checkpoint_path=f"{dbase}/c",
               report_path=f"{dbase}/r", load_mode="delta", watermark_col="seq")
o2 = run_validation(spark, d1.unionByName(d2), massigns, "part",
                    checkpoint_path=f"{dbase}/c", report_path=f"{dbase}/r",
                    load_mode="delta", watermark_col="seq")
assert sorted(o2.processed_partitions) == ["q0", "q1"], o2.processed_partitions
run_validation(spark, d1.unionByName(d2), massigns, "part",
               checkpoint_path=f"{dbase}/c2", report_path=f"{dbase}/r2",
               load_mode="full_reload")
# delta-mode report dirs carry a delta_batch partition key (r03: batches
# accumulate; retries overwrite only their own batch) — drop it to fold
ra = spark.read.parquet(f"{dbase}/r/per_column").drop("delta_batch")
rb = spark.read.parquet(f"{dbase}/r2/per_column")
assert ra.exceptAll(rb).count() == 0 and rb.exceptAll(ra).count() == 0
print("delta-vs-full report rows:", ra.count())

# r03: second delta batch into an EXISTING partition must not clobber the
# prior batch's published rows; failed batches keep the watermark
d3 = spark.createDataFrame([(f"q{i%2}", i, float(i)) for i in range(500, 560)],
                           "part string, seq long, m double")
o3 = run_validation(spark, d1.unionByName(d2).unionByName(d3), massigns, "part",
                    checkpoint_path=f"{dbase}/c", report_path=f"{dbase}/r",
                    load_mode="delta", watermark_col="seq")
assert sorted(o3.processed_partitions) == ["q0", "q1"], o3.processed_partitions
rc = spark.read.parquet(f"{dbase}/r/per_column")
assert rc.select("delta_batch").distinct().count() == 3
print("delta batches accumulated:", 3)

# csv: source scheme
from ndap_data_validator_spark.sources.tables import load_table
cbase = tempfile.mkdtemp(prefix="verify_csv_")
d1.coalesce(1).write.mode("overwrite").option("header", "true").csv(f"{cbase}/t.csv")
cback = load_table(spark, f"csv:{cbase}", "t", schema="part string, seq long, m double")
assert cback.count() == 300
print("csv roundtrip rows:", cback.count())

# S10 schema evolution: mergeSchema read + aligned structure_change run
from ndap_data_validator_spark.sources.evolution import (
    align_to_schema, evolved_read, schema_diff)
ebase = tempfile.mkdtemp(prefix="verify_evo_")
spark.createDataFrame([("p0", 1)], "part string, m int").write.mode("overwrite").parquet(f"{ebase}/t")
spark.createDataFrame([("p1", 2, "x")], "part string, m int, tag string").write.mode("append").parquet(f"{ebase}/t")
evo = evolved_read(spark, f"{ebase}/t")
diff = schema_diff(spark.createDataFrame([], "part string, m int").schema, evo.schema)
assert diff.added == ["tag"] and diff.is_structure_change
aligned = align_to_schema(evo, evo.schema)
oevo = run_validation(spark, aligned, [ColumnAssignment("part", "Location")],
                      "part", checkpoint_path=f"{ebase}/c", load_mode="structure_change")
print("structure_change partitions:", sorted(oevo.processed_partitions))
assert sorted(oevo.processed_partitions) == ["p0", "p1"]

# jsonl: source scheme
jbase = tempfile.mkdtemp(prefix="verify_jsonl_")
d1.coalesce(1).write.mode("overwrite").json(f"{jbase}/t.jsonl")
jback = load_table(spark, f"jsonl:{jbase}", "t", schema="part string, seq long, m double")
assert jback.count() == 300
print("jsonl roundtrip rows:", jback.count())

# distributed exact percentiles
from ndap_data_validator_spark.operators.stats import (
    exact_percentiles_distributed,
)

pct = exact_percentiles_distributed(df, "turn_idx", ps=(0.5, 0.95)).first()
exact = df.agg(F.expr("percentile(turn_idx, array(0.5, 0.95))")).first()[0]
assert abs(pct["p50"] - exact[0]) < 1e-9 and abs(pct["p95"] - exact[1]) < 1e-9
print("distributed exact percentiles == percentile():", pct["p50"], pct["p95"])

# checkpoint compaction
from ndap_data_validator_spark.plans.checkpoint import CheckpointStore as _CS
cstore = _CS(spark, f"{dbase}/c")
fb = cstore.file_count()
kept = cstore.compact()
assert cstore.file_count() == 1 and kept > 0
print("checkpoint compaction:", fb, "files ->", cstore.file_count())

# cross-run metrics anomalies over a planted checkpoint history: 4 stable
# runs then a row-count jump in partition p1 must flag, p2 must not
from ndap_data_validator_spark.plans.anomaly import metrics_anomalies

astore = _CS(spark, f"{dbase}/anom")
for _run, _p1 in [("r1", 98), ("r2", 100), ("r3", 102), ("r4", 100)]:
    astore.mark_done_bulk(_run, "d", {"p1": {"rows": _p1},
                                      "p2": {"rows": 50}})
astore.mark_done_bulk("cur", "d", {"p1": {"rows": 200}, "p2": {"rows": 50}})
anom = {r["partition_id"]: r
        for r in metrics_anomalies(astore, "cur", ["$.rows"]).collect()}
assert anom["p1"]["anomalous"] and abs(anom["p1"]["z"]) > 3
assert not anom["p2"]["anomalous"]
print(f"metrics anomalies: p1 z={anom['p1']['z']} flagged, p2 stable")

import tempfile as _tf

from ndap_data_validator_spark.streaming.stateful import dedup_stream

with _tf.TemporaryDirectory() as _sd:
    src = f"{_sd}/src"
    dup_rows = df.where(F.col("conv_id").isNotNull() & F.col("ts").isNotNull()) \
        .select("conv_id", "turn_idx", "ts").limit(500)
    dup_rows.coalesce(1).write.mode("append").parquet(src)
    dup_rows.coalesce(1).write.mode("append").parquet(src)  # every key twice
    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        dedup_stream(stream).writeStream.format("memory").queryName("vdedup")
        .outputMode("append").option("checkpointLocation", f"{_sd}/ck")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    n_in = dup_rows.count()
    n_out = spark.sql("SELECT COUNT(*) FROM vdedup").first()[0]
    n_keys = spark.sql(
        "SELECT COUNT(*) FROM (SELECT DISTINCT conv_id, turn_idx FROM vdedup)"
    ).first()[0]
    assert n_out == n_keys <= n_in, (n_in, n_out, n_keys)
    print("stream dedup:", 2 * n_in, "arrivals ->", n_out, "unique emissions")

from ndap_data_validator_spark.operators.convchecks import (
    sequence_checks,
    sequence_report,
)

# sequence checks on the generated transcripts: the generator injects
# duplicate (conv, turn) pairs, which break turn contiguity — order gaps
# MUST be found; the report rollup must agree with the row-level count
seq = sequence_checks(
    df, key_col="conv_id", order_col="turn_idx",
    ts_col="ts", role_col="role", expected_step=1,
)
seq_counts = {r["check"]: r["n"] for r in
              seq.groupBy("check").agg(F.count(F.lit(1)).alias("n")).collect()}
assert seq_counts.get("order_gap", 0) > 0, seq_counts
rep_counts = {r["check"]: r["n_violations"] for r in sequence_report(
    df, key_col="conv_id", order_col="turn_idx",
    ts_col="ts", role_col="role", expected_step=1,
).collect()}
assert rep_counts == seq_counts, (rep_counts, seq_counts)
print(f"sequence checks: {seq_counts}")

# role-transition FSM: the generator cycles user→assistant→tool, so that
# 3-cycle is the whitelist; injected bad roles ('sys?', ''), duplicate
# turns (self-transitions), and contiguity holes (e.g. user→tool) all
# land outside it — bad_transition MUST fire, and MUST exceed the
# role_repeat count (repeats are a strict subset of FSM breaks here)
fsm = frozenset([("user", "assistant"), ("assistant", "tool"), ("tool", "user")])
fsm_counts = {r["check"]: r["n"] for r in sequence_checks(
    df, key_col="conv_id", order_col="turn_idx", role_col="role",
    allowed_transitions=fsm,
).groupBy("check").agg(F.count(F.lit(1)).alias("n")).collect()}
assert fsm_counts.get("bad_transition", 0) > 0, fsm_counts
assert fsm_counts["bad_transition"] >= fsm_counts.get("role_repeat", 0)
print(f"role-transition FSM: {fsm_counts}")

# data-driven rule bootstrap: ONE aggregate pass profiles the transcript
# table and drafts constraints; the generated roles are low-cardinality so
# the role column must pick up a domain rule, turn_idx the observed range
from ndap_data_validator_spark.rules.inference import profile_and_suggest

sugg, prof = profile_and_suggest(df.select("conv_id", "turn_idx", "role", "ts"))
s_by = {a.column: a for a in sugg}
assert s_by["role"].allowed_values is not None and len(s_by["role"].allowed_values) <= 20
assert s_by["turn_idx"].min_value is not None and s_by["turn_idx"].max_value >= 100
assert s_by["ts"].role == "Time"
p_by = {x["column"]: x for x in prof}
assert 0 < p_by["conv_id"]["null_frac"] < 0.05  # injected null conv ids
print(f"rule bootstrap: role domain {list(s_by['role'].allowed_values)}, "
      f"turn_idx range [{s_by['turn_idx'].min_value}, {s_by['turn_idx'].max_value}], "
      f"conv_id null_frac {p_by['conv_id']['null_frac']:.4f}")

# violation-row cap: the report-sink guard for runs where one broken rule
# floods the sink — first K per (partition, column, reason) by the stable
# key; aggregate counts must be unaffected
cap_eng = ValidationEngine()
cap_assigns = [
    ColumnAssignment("conv_id", "Location"),
    ColumnAssignment("role", "Others", regex=r"^(user|assistant|tool)$"),
    ColumnAssignment("turn_idx", "Measures", "integer", min_value=0),
]
cap_res = cap_eng.validate(
    df, cap_assigns, partition_by=F.substring("conv_id", 6, 1),
    order_by=["conv_id", "turn_idx"], max_violations_per_rule=5,
)
cap_sizes = cap_res.violations.groupBy("partition_id", "column", "reason").agg(
    F.count(F.lit(1)).alias("n")
)
assert cap_sizes.where(F.col("n") > 5).count() == 0
full_res = cap_eng.validate(
    df, cap_assigns, partition_by=F.substring("conv_id", 6, 1),
    order_by=["conv_id", "turn_idx"],
)
n_cap, n_full = cap_res.violations.count(), full_res.violations.count()
assert n_cap < n_full, (n_cap, n_full)
assert cap_res.per_column_report.exceptAll(full_res.per_column_report).count() == 0
print(f"violation cap: {n_full} rows -> {n_cap} (first 5 per partition+rule), counts exact")

from ndap_data_validator_spark.operators.drift import categorical_drift

# categorical drift: role distribution between the two halves of the
# transcripts (even vs odd conv hash) must be ~identical → tiny PSI; the
# role column against a turn-skewed split must show drift
half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
flat = categorical_drift(df, "role", half).first()
skew = categorical_drift(df, "role", F.col("turn_idx") % 3 == 0).first()
assert abs(flat["psi_cat"]) < 0.01, flat
assert skew["psi_cat"] > flat["psi_cat"], (skew, flat)
print(f"categorical drift: flat psi {flat['psi_cat']:.5f} "
      f"skewed psi {skew['psi_cat']:.5f} over {flat['n_categories']} roles")

from ndap_data_validator_spark.operators.checks import (
    check_summary,
    check_violations,
)
from ndap_data_validator_spark.rules.model import CheckRule

# row-level CHECK constraints on the generated transcripts: summary counts
# must agree with the violation rows; turn_nonneg must CATCH the
# generator's injected negative turn_idx rows, and a satisfied
# relationship must pass
chk_rules = [
    CheckRule("turn_nonneg", "turn_idx >= 0"),
    CheckRule("turn_bounded", "turn_idx IS NULL OR abs(turn_idx) < 100000"),
]
chk_sum = {r["check"]: r for r in check_summary(df, chk_rules).collect()}
chk_vio = {
    r["check"]: r["count"]
    for r in check_violations(df, chk_rules, key_cols=("conv_id", "turn_idx"))
    .groupBy("check")
    .count()
    .collect()
}
for _name, _row in chk_sum.items():
    assert _row["n_violations"] == chk_vio.get(_name, 0), (_name, _row)
    assert _row["n_violations"] + _row["n_passed"] == df.count()
assert not chk_sum["turn_nonneg"]["passed"]  # injected negative turns
assert chk_sum["turn_nonneg"]["n_violations"] > 0
assert chk_sum["turn_bounded"]["passed"]
print(f"check rules: {chk_sum['turn_nonneg']['n_violations']} injected "
      f"negative turns caught, turn_bounded passed")

from ndap_data_validator_spark.operators.jsonschema import (
    json_schema_report,
    json_schema_summary,
)

# JSON payload conformance: synthesize tool-call arguments from the
# transcript's tool column with planted defects — malformed every 9th
# turn, missing required field every 9th+1, wrong-typed every 9th+2
_jm = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(9))
jdf = df.where(F.col("tool").isNotNull()).select(
    "conv_id",
    "turn_idx",
    F.when(_jm == 0, F.lit('{"name": oops'))
    .when(_jm == 1, F.lit('{"retries": 2}'))
    .when(_jm == 2, F.concat(F.lit('{"name":"'), F.col("tool"),
                             F.lit('","retries":"x"}')))
    .otherwise(F.concat(F.lit('{"name":"'), F.col("tool"),
                        F.lit('","retries":1}')))
    .alias("payload"),
)
jsum = json_schema_summary(
    jdf, "payload", "name string, retries int", required=("name", "retries")
).first()
assert jsum["n_malformed"] > 0 and jsum["n_missing_required"] > 0
assert jsum["n_type_errors"] > 0 and jsum["n_ok"] > 0
assert (jsum["n_ok"] + jsum["n_malformed"] + jsum["n_missing_required"]
        + jsum["n_type_errors"] >= jsum["n_rows"])  # malformed⇒missing too
jrep = json_schema_report(
    jdf, "payload", "name string, retries int",
    required=("name", "retries"), id_cols=("conv_id", "turn_idx"),
)
assert jrep.where(F.col("json_ok")).count() == jsum["n_ok"]
print(f"json payloads: {jsum['n_rows']} checked — {jsum['n_malformed']} "
      f"malformed, {jsum['n_missing_required']} missing-required, "
      f"{jsum['n_type_errors']} type errors, {jsum['n_ok']} ok")

from ndap_data_validator_spark.operators.skew import key_skew_report

# key-skew diagnostic on the generated transcripts: the generator's hot
# conversation (conv-000000, ~10k turns) must surface as the rank-1 heavy
# hitter with a skew factor well above uniform — exactly the case where a
# production run would reach for salt_repartition
skew_rows = key_skew_report(df, "conv_id", top_n=5).collect()
assert skew_rows[0]["key"] == "conv-000000", skew_rows[0]
assert skew_rows[0]["rank"] == 1
assert skew_rows[0]["skew_factor"] > 10, skew_rows[0]["skew_factor"]
assert abs(sum(r["share"] for r in skew_rows)) < 1.0
print(f"key skew: top={skew_rows[0]['key']} n={skew_rows[0]['n_rows']} "
      f"share={skew_rows[0]['share']} factor={skew_rows[0]['skew_factor']}")

from ndap_data_validator_spark.operators.expectations import (
    MetricRule,
    expectations_summary,
    metric_expectations,
)

# dataset-level expectations on the generated transcripts: row count and
# role compliance hold; a deliberately strict warn-severity bound on
# distinct_ratio (conv_id repeats per turn, so ratio << 1) must surface in
# warned_rules without failing the partition; and a failing error rule
# must flip the verdict
exp_rules = [
    MetricRule("rows", "row_count", min_bound=10_000, max_bound=10_000_000),
    MetricRule("roles", "compliance",
               expression="role IN ('user','assistant','tool','system')",
               min_bound=0.99),
    MetricRule("conv_ratio", "distinct_ratio", column="conv_id",
               min_bound=0.9, severity="warn"),
]
exp_rep = metric_expectations(df, exp_rules)
exp_sum = expectations_summary(exp_rep).collect()[0]
assert exp_sum["passed"] is True, exp_sum
assert exp_sum["warned_rules"] == ["conv_ratio"], exp_sum
strict = exp_rules + [MetricRule("impossible", "row_count", max_bound=1)]
strict_sum = expectations_summary(metric_expectations(df, strict)).collect()[0]
assert strict_sum["passed"] is False and "impossible" in strict_sum["failed_rules"]
vals = {r["rule"]: r["value"] for r in exp_rep.collect()}
print(f"metric expectations: rows={vals['rows']:.0f} "
      f"role_compliance={vals['roles']:.4f} conv_ratio={vals['conv_ratio']:.5f} "
      f"(warned, partition still passes); strict rule flips verdict")

# ...and through the checkpointed pipeline: per-partition row-count bounds
# (the hot conv-000000 partition dwarfs the rest, so a max_bound sized for
# ordinary partitions must flip exactly the hot one's verdict and withhold
# it from publish)
exp_base = tempfile.mkdtemp(prefix="verify_exp_")
part_expr = F.substring("conv_id", 1, 9)
part_sizes = sorted(
    r["count"] for r in df.groupBy(part_expr.alias("p")).count().collect()
)
assert len(part_sizes) > 1 and part_sizes[-1] > part_sizes[-2], part_sizes
# cap strictly between the two largest partitions: exactly the hot
# partition (conv-000000's ~10k-turn conversation lives there) fails
cap = (part_sizes[-2] + part_sizes[-1]) // 2
# assignments that satisfy every column rule (all mandatory roles present,
# rules on clean columns) so the publish gate is decided by the
# expectations alone
df_exp = df.withColumn("fy", F.lit("2021"))
assigns_exp = [
    ColumnAssignment("fy", "Time"),
    ColumnAssignment("turn_idx", "Measures", "integer", min_value=0),
]
exp_out = run_validation(
    spark, df_exp, assigns_exp, part_expr,
    checkpoint_path=os.path.join(exp_base, "ckpt"),
    report_path=os.path.join(exp_base, "report"),
    publish_path=os.path.join(exp_base, "pub"),
    metric_rules=[MetricRule("part_size", "row_count", min_bound=1,
                             max_bound=cap)],
)
exp_gate = spark.read.parquet(os.path.join(exp_base, "report/metric_expectations"))
n_over = exp_gate.where("NOT passed").count()
pub_parts = {r["partition_id"] for r in spark.read.parquet(
    os.path.join(exp_base, "pub")).select("partition_id").distinct().collect()}
over_parts = {r["partition_id"] for r in exp_gate.where("NOT passed")
              .select("partition_id").collect()}
assert n_over >= 1, "the hot partition must exceed the sized cap"
assert pub_parts.isdisjoint(over_parts), "failed expectations must not publish"
assert exp_out.passed_all is False
print(f"pipeline expectations: {n_over} partition(s) over cap={cap}, "
      f"withheld from publish ({len(pub_parts)} published)")

# constraint suggestion: a healthy baseline's suggested suite must pass on
# the baseline itself (exact distinct so the HLL-derived key rule can't
# flake) and trip on a corrupted batch
from ndap_data_validator_spark.rules.inference import (
    profile_columns,
    suggest_metric_rules,
)

base_cols = ["conv_id", "turn_idx", "role", "text"]
suite = suggest_metric_rules(profile_columns(df.select(*base_cols)))
self_rep = metric_expectations(
    df.select(*base_cols), suite, approx_distinct=False
)
self_failed = [r["rule"] for r in self_rep.collect() if not r["passed"]]
assert self_failed == [], self_failed
corrupt = df.select(*base_cols).limit(1000).withColumn(
    "turn_idx", F.col("turn_idx") + F.lit(1_000_000)
)
bad = {
    r["rule"]
    for r in metric_expectations(
        corrupt, suite, approx_distinct=False
    ).collect()
    if not r["passed"]
}
assert "rows__row_count" in bad and "turn_idx__max" in bad, bad
print(f"suggested suite: {len(suite)} rules, baseline clean; corrupted "
      f"batch trips {sorted(bad)}")

# drift as a checkpointed rule family: baseline the clean turn_idx
# distribution, then run a batch where ONE partition's turn_idx is shifted
# by many bin widths (range ~0..10000, 32 bins -> width ~312; shift 5000).
# Exactly that partition must drift, be withheld from publish, and the
# snapshot must survive a JSON round-trip with an identical digest.
from ndap_data_validator_spark.operators.drift import (
    DriftRule,
    snapshot,
    snapshot_from_json,
    snapshot_to_json,
)

drift_base = tempfile.mkdtemp(prefix="verify_drift_")
# the drift column must be IDENTICALLY distributed across partitions in
# the clean state (turn_idx is not: the hot conversation's 0..10k tail
# lives in one partition, so every OTHER partition would legitimately
# drift vs a global turn_idx baseline). A hash-derived uniform metric
# gives each ~10k-row partition the same distribution to binned-KS noise
# ~1.36/sqrt(n) ≈ 0.014 << the 0.1 threshold.
# drop the injected null-conv_id rows: they form a ~250-row '<null>'
# partition whose KS sampling noise (~1.36/sqrt(250) ≈ 0.086 + binning)
# straddles the 0.1 threshold — this drive asserts the clean/drifted
# split, not small-sample behavior
df_m = df_exp.where(F.col("conv_id").isNotNull()).withColumn(
    "metric",
    F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(1000)).cast("double"),
)
snap = snapshot(df_m, ["metric"])
snap_json = snapshot_to_json(snap)
assert snapshot_to_json(snapshot_from_json(snap_json)) == snap_json
hot_part = F.substring("conv_id", 1, 9) == F.lit("conv-0000")
df_drift = df_m.withColumn(
    "metric",
    F.when(hot_part, F.col("metric") + F.lit(5000)).otherwise(
        F.col("metric")
    ),
)
# assignments every partition SATISFIES (the exp drive's turn_idx
# min_value=0 rule fails almost every partition on the injected negative
# turns, and the null-conv_id partition that used to pass was filtered
# above) — the publish gate must be decided by the drift rule alone
assigns_drift = [
    ColumnAssignment("fy", "Time"),
    ColumnAssignment("metric", "Measures", "float", min_value=0),
]
drift_out = run_validation(
    spark, df_drift, assigns_drift, part_expr,
    checkpoint_path=os.path.join(drift_base, "ckpt"),
    report_path=os.path.join(drift_base, "report"),
    publish_path=os.path.join(drift_base, "pub"),
    drift_rule=DriftRule(snapshot_from_json(snap_json)),
)
drift_gate = spark.read.parquet(os.path.join(drift_base, "report/drift_report"))
drifted_parts = {
    r["partition_id"] for r in drift_gate.where("drifted").collect()
}
assert drifted_parts == {"conv-0000"}, drifted_parts
pub_parts2 = {r["partition_id"] for r in spark.read.parquet(
    os.path.join(drift_base, "pub")).select("partition_id").distinct().collect()}
assert "conv-0000" not in pub_parts2 and len(pub_parts2) > 0
assert drift_out.passed_all is False
ks_hot = drift_gate.where("drifted").select("ks").first()["ks"]
print(f"pipeline drift rule: conv-0000 drifted (ks={ks_hot:.3f}), withheld "
      f"from publish ({len(pub_parts2)} published); snapshot JSON "
      f"round-trip stable")


# ---- r05 late: reconciliation, freshness, completeness --------------------
from ndap_data_validator_spark.operators.completeness import (
    partition_completeness,
)
from ndap_data_validator_spark.operators.expectations import (
    MetricRule,
    metric_expectations,
)
from ndap_data_validator_spark.operators.reconcile import reconcile_summary

# reconcile: transcripts vs a perturbed re-ingest of themselves — drop one
# conversation, damage one text cell; the diff must localize exactly
# NULL join keys never match (SQL), and the != filter below would drop
# the injected null-conv rows from one side only — exclude them upfront
base_r = (
    df.where(F.col("conv_id").isNotNull())
    .dropDuplicates(["conv_id", "turn_idx"])
    .select("conv_id", "turn_idx", "role", "text")
)
perturbed_r = base_r.where(F.col("conv_id") != "conv-000007").withColumn(
    "text",
    F.when(
        (F.col("conv_id") == "conv-000011") & (F.col("turn_idx") == 3),
        F.lit("CORRUPTED"),
    ).otherwise(F.col("text")),
)
rec = {
    (r["metric"], r["column"]): r["value"]
    for r in reconcile_summary(
        base_r, perturbed_r, ["conv_id", "turn_idx"]
    ).collect()
}
n_dropped = base_r.where(F.col("conv_id") == "conv-000007").count()
assert rec[("missing_right", None)] == n_dropped, rec
assert rec[("missing_left", None)] == 0
assert rec[("rows_differing", None)] == 1
assert rec[("column_mismatch", "text")] == 1
assert rec[("column_mismatch", "role")] == 0
assert rec[("rows_equal", None)] == rec[("rows_left", None)] - n_dropped - 1
print(
    f"reconcile: dropped conv ({n_dropped} rows) + 1 damaged cell "
    "localized exactly; per-row text equality holds everywhere else"
)

# freshness: lag vs an explicit now; stale bound must flip the verdict
fr = metric_expectations(
    df.where(F.col("ts").isNotNull()),
    [
        MetricRule("fresh_loose", "freshness", column="ts", max_bound=1e10),
        MetricRule("fresh_tight", "freshness", column="ts", max_bound=1.0),
    ],
    now="2030-01-01T00:00:00",
).collect()
fr_by = {r["rule"]: r for r in fr}
assert fr_by["fresh_loose"]["passed"] is True
assert fr_by["fresh_tight"]["passed"] is False
assert fr_by["fresh_loose"]["value"] == fr_by["fresh_tight"]["value"] > 0
print(f"freshness: lag {fr_by['fresh_loose']['value']:.0f}s vs pinned now; "
      "tight bound flips verdict")

# completeness: expected-partition census over the conv-id prefix key
obs_keys = [r["p"] for r in df.select(
    F.substring("conv_id", 1, 9).alias("p")).where(
    F.col("conv_id").isNotNull()).distinct().collect()]
expected = sorted(obs_keys) + ["conv-9999"]
comp = {
    r["key"]: r["status"]
    for r in partition_completeness(
        df.where(F.col("conv_id").isNotNull()).withColumn(
            "p", F.substring("conv_id", 1, 9)
        ),
        "p",
        expected,
        min_rows=10,
    ).collect()
}
assert comp["conv-9999"] == "missing"
assert all(v == "ok" for k, v in comp.items() if k != "conv-9999"), comp
print(f"completeness: {len(obs_keys)} expected partitions ok, planted "
      "conv-9999 reported missing")

# ...and through the checkpointed run: the ghost partition fails the RUN
# verdict (nothing to withhold — the rows never arrived) and the census
# report lands next to the other report sinks
comp_base = tempfile.mkdtemp(prefix="verify_comp_")
comp_out = run_validation(
    spark,
    df.where(F.col("conv_id").isNotNull()).withColumn("fy", F.lit("2024")),
    [
        ColumnAssignment("fy", "Time"),
        ColumnAssignment("turn_idx", "Measures", "integer"),
    ],
    part_expr,
    checkpoint_path=os.path.join(comp_base, "ckpt"),
    report_path=os.path.join(comp_base, "report"),
    expected_partitions=obs_keys + ["conv-9999"],
)
assert comp_out.passed_all is False
census_rows = spark.read.parquet(
    os.path.join(comp_base, "report/completeness")
).select(F.col("partition_id").cast("string"), "status").collect()
census = {r["partition_id"]: r["status"] for r in census_rows}
assert census["conv-9999"] == "missing"
assert sum(1 for v in census.values() if v == "ok") == len(obs_keys)
print("pipeline completeness: ghost partition fails the run verdict; "
      f"census report written ({len(census)} keys)")

# ---- r05 late: row-granular quarantine publish policy ----------------------
# transcripts carry planted NULL conv_ids, so under the default policy the
# affected partitions are withheld wholesale; under row_policy='quarantine'
# only the offending rows divert (with reasons) and the rest publish.
q_base = tempfile.mkdtemp(prefix="verify_quar_")
q_df = df.withColumn("fy", F.lit("2024")).withColumn(
    "pkey", F.coalesce(F.substring("conv_id", 1, 9), F.lit("conv-null"))
)
q_assigns = [
    ColumnAssignment("conv_id", "Location"),
    ColumnAssignment("fy", "Time"),
    ColumnAssignment("turn_idx", "Measures", "integer"),
]
q_out = run_validation(
    spark,
    q_df,
    q_assigns,
    "pkey",
    checkpoint_path=os.path.join(q_base, "ckpt"),
    publish_path=os.path.join(q_base, "pub"),
    row_policy="quarantine",
)
assert q_out.passed_all is False  # verdicts are policy-independent
q_pub = spark.read.parquet(os.path.join(q_base, "pub"))
q_quar = spark.read.parquet(os.path.join(q_base, "pub_quarantine"))
n_null = q_df.where(F.col("conv_id").isNull()).count()
assert q_quar.count() == n_null, (q_quar.count(), n_null)
assert q_pub.count() + q_quar.count() == q_df.count()
reasons = {
    tuple(r["row_reasons"])
    for r in q_quar.select("row_reasons").distinct().collect()
}
assert all("conv_id: No Nulls allowed" in rs for rs in reasons)
assert "row_reasons" not in q_pub.columns and "row_passed" not in q_pub.columns
print(f"quarantine policy: {q_quar.count()} null-conv rows diverted with "
      f"reasons, {q_pub.count()} clean rows published (conservation holds)")

# ---- r05 late: driver-side rule pre-flight ---------------------------------
from ndap_data_validator_spark.operators.expectations import MetricRule as _MR
from ndap_data_validator_spark.rules.model import CheckRule as _CR
from ndap_data_validator_spark.rules.preflight import preflight_rules

pf_clean = preflight_rules(
    spark,
    df,
    assignments=[ColumnAssignment("conv_id", "Location")],
    check_rules=[_CR("turn_nonneg", "turn_idx >= 0")],
    metric_rules=[_MR("rows", "row_count", min_bound=1)],
)
assert pf_clean == [], pf_clean
pf_bad = preflight_rules(
    spark,
    df,
    assignments=[ColumnAssignment("conv_idd", "Location")],  # typo
    check_rules=[_CR("typo", "turn_idxx >= 0")],
)
assert {(e.family, e.rule) for e in pf_bad} == {
    ("assignment", "conv_idd"),
    ("check", "typo"),
}, pf_bad
print("preflight: clean catalog resolves; typo'd assignment + check "
      "reported driver-side, no job launched")

print("JOB OK")
spark.stop()
