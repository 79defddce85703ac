"""Pass-count guard for ``run_validation``: every dataset-granular rule
family shares the validator's one per-partition aggregate, so a call with
column, CHECK, sequence, metric and drift rules plus report and publish
sinks reads its input five times — the shared aggregate, the column
violations, the CHECK violations, the sequence window and the publish
write. A rule family that brings its own scan fails this test, and so does
a sink write whose jobs leave the caller's job group (sinks are written on
worker threads).

The same call is also held to a Py4J command budget (Py4J's memory
commands left out, tests/conftest.py): rule families compile to SQL text,
so the call sent 826 commands when this budget was set, where building
every expression through the Column API sent 8,068. The bound leaves under
2x headroom over 826; a rule family that goes back to operator-by-operator
Column building fails it."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from ndap_data_validator_spark.operators.drift import DriftRule, snapshot
from ndap_data_validator_spark.operators.expectations import MetricRule
from ndap_data_validator_spark.plans.pipeline import run_validation
from ndap_data_validator_spark.rules.model import (
    CheckRule,
    ColumnAssignment,
    SequenceRule,
)
from ndap_data_validator_spark.sources.datagen import transcripts

ASSIGNS = [
    ColumnAssignment("conv_id", "Location", regex=r"^conv-\d{6}$"),
    ColumnAssignment("turn_idx", "Measures", "integer", min_value=0),
    ColumnAssignment("role", "Others", allowed_values=("user", "assistant", "tool")),
    ColumnAssignment("period", "Time"),
]


def _group_jobs(spark, group: str) -> list:
    """The jobs of one job group, read from the driver's status store
    (works with the UI disabled)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    picked = []
    for i in range(jobs.length()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not g.isEmpty() and g.get() == group:
            picked.append(job)
    return picked


def _rows_read(spark, group: str) -> int:
    """inputRecords summed over the executed stages of one job group."""
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for job in _group_jobs(spark, group):
        ids = job.stageIds()
        for k in range(ids.length()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # stage skipped, never attempted
                continue
            if str(st.status()) != "SKIPPED":
                total += int(st.inputRecords())
    return total


def test_run_validation_reads_input_at_most_five_times(
    spark, tmp_path, py4j_commands
):
    src = str(tmp_path / "src")
    transcripts(spark, 4_000, 40, seed=7, inject_violations=False).withColumn(
        "period", F.lit("2024")
    ).write.parquet(src)
    df = spark.read.parquet(src)
    n_rows = df.count()
    baseline = snapshot(df, ["turn_idx"], n_bins=8)

    sc = spark.sparkContext
    threads = threading.active_count()
    sc.setJobGroup("shared-scan-guard", "run_validation pass count")
    try:
        with py4j_commands() as rt:
            out = run_validation(
                spark, df, ASSIGNS, F.substring("conv_id", 1, 10),
                checkpoint_path=str(tmp_path / "ckpt"),
                order_by=["conv_id", "turn_idx"],
                report_path=str(tmp_path / "rep"),
                publish_path=str(tmp_path / "pub"),
                sequence_rule=SequenceRule("conv_id", "turn_idx", ts_column="ts"),
                check_rules=[CheckRule("turn_cap", "turn_idx < 100000")],
                metric_rules=[
                    # fails the partition holding the skewed conversation only,
                    # so the publish write scans and writes the other three
                    MetricRule("rows", "row_count", max_bound=1_000),
                    MetricRule("text_nulls", "null_fraction", column="text", max_bound=0.05),
                ],
                drift_rule=DriftRule(baseline, severity="warn"),
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the sink-writer pool is joined before the call returns
    assert threading.active_count() == threads
    assert len(out.processed_partitions) == 4
    assert len(spark.read.parquet(str(tmp_path / "pub")).select(
        "partition_id").distinct().collect()) == 3

    # Spark also counts each read of the cached per-partition aggregate as
    # input: one record per cached columnar batch, a handful per call. The
    # guard counts whole passes over the input. Sinks are written on
    # worker threads; a write whose jobs escaped the caller's job group
    # would drop out of this count, so it must be exactly five.
    passes, cache_reads = divmod(_rows_read(spark, "shared-scan-guard"), n_rows)
    assert passes == 5, passes
    assert cache_reads < 20, cache_reads
    assert rt.commands <= 1_500, rt.commands


def test_every_sink_labels_its_jobs(spark, tmp_path):
    """Each sink write runs on its own thread under the caller's job group
    and labels its jobs ``run_validation <run_id>: <sink>`` — one label per
    report directory, publish and quarantine."""
    df = transcripts(spark, 1_000, 10, seed=3).withColumn("period", F.lit("2024"))
    part = F.substring("conv_id", 1, 10)
    baseline = snapshot(df, ["turn_idx"], n_bins=8)
    sc = spark.sparkContext
    sc.setJobGroup("sink-labels", "run_validation sink labels")
    try:
        out = run_validation(
            spark, df, ASSIGNS, part,
            checkpoint_path=str(tmp_path / "ckpt"),
            order_by=["conv_id", "turn_idx"],
            report_path=str(tmp_path / "rep"),
            publish_path=str(tmp_path / "pub"),
            sequence_rule=SequenceRule("conv_id", "turn_idx", ts_column="ts"),
            check_rules=[CheckRule("turn_cap", "turn_idx < 100000")],
            metric_rules=[MetricRule("rows", "row_count", min_bound=1)],
            drift_rule=DriftRule(baseline, severity="warn"),
            expected_partitions=["conv-00000"],
            row_policy="quarantine",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sinks = {
        "per_column", "violations", "sequence_violations", "check_violations",
        "metric_expectations", "completeness", "drift_report", "publish",
        "quarantine",
    }
    prefix = f"run_validation {out.run_id}: "
    labels = set()
    for job in _group_jobs(spark, "sink-labels"):
        d = job.description()
        if not d.isEmpty() and d.get().startswith(prefix):
            labels.add(d.get()[len(prefix):])
    assert labels == sinks
