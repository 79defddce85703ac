"""The traced run: per-layer metrics from spans and the Spark status store.

After the untraced loop, a fixed number of traced operations runs, each layer
call in its own span. Counts (jobs, tasks, bytes, violation rows) come from
the same inputs every time, so they repeat exactly for one seed. Times are
medians over the traced operations.

Layers a workload does not run are reported as 0 and named on a ``not on
this workload's path`` line.
"""

from __future__ import annotations

import os
import statistics

from spans import Tracer

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.busy_share": "ratio",
    "spark.gc_share": "ratio",
    "spark.spill_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "sources.scan_s": "s",
    "sources.scan_amp": "ratio",
    "sources.parse_s": "s",
    "rules.compile_s": "s",
    "rules.preflight_s": "s",
    "functions.coerce_s": "s",
    "operators.validate.agg_s": "s",
    "operators.validate.violations_s": "s",
    "operators.validate.violation_rows": "count",
    "operators.validate.shuffle_bytes": "bytes",
    "operators.uniqueness.s": "s",
    "operators.uniqueness.shuffle_bytes": "bytes",
    "operators.convchecks.s": "s",
    "operators.convchecks.shuffle_bytes": "bytes",
    "operators.checks.s": "s",
    "operators.expectations.s": "s",
    "operators.drift.s": "s",
    "plans.pipeline.run_s": "s",
    "plans.pipeline.jobs": "count",
    "plans.pipeline.publish_bytes": "bytes",
    "plans.pipeline.report_bytes": "bytes",
    "plans.checkpoint.completed_s": "s",
    "plans.checkpoint.file_count_s": "s",
    "plans.checkpoint.files": "count",
    "plans.checkpoint.compactions": "count",
    "streaming.batches": "count",
    "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_p50_ms": "ms",
    "streaming.commit_p50_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "session.speedup_1_to_n": "ratio",
    "trace.overhead_s": "s",
}

STREAM_LANDINGS = 3

# the spans that make up the end-to-end operation of each workload
OP_SPANS = {
    "bulk_catalog": ("plans.pipeline.run", "operators.uniqueness"),
    "file_batches": ("plans.pipeline.run",),
}


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def traced(workload: str, wl, run, spark, work: str, n_cores: int,
           traced_ops: int, restart, spans_path: str):
    """Run ``traced_ops`` traced operations (and the workload's extra probe)
    after the untraced loop in ``run``. ``restart(master)`` stops the session
    and starts one at another master. Returns ({metric: (value, unit)},
    the session now in use)."""
    untraced_s = med(r.seconds for r in run.ops if r.ok)
    tracer = Tracer(spark)
    ops = [run.one(tracer) for _ in range(traced_ops)]
    ok_ops = [r for r in ops if r.ok]

    def span_s(name):
        return med(s.seconds for s in tracer.by_name(name))

    def span_c(name, field):
        return med(getattr(s.counters, field) for s in tracer.by_name(name))

    # the end-to-end operation: its spans, grouped per traced operation
    per_op = {}
    for s in tracer.spans:
        if s.name in OP_SPANS[workload] and s.parent is None:
            per_op.setdefault(s.op_id, []).append(s)
    op_jobs, op_tasks, op_busy, op_gc, op_spill, op_shuffle, op_secs = ([] for _ in range(7))
    for spans in per_op.values():
        secs = sum(s.seconds for s in spans)
        run_ms = sum(s.counters.run_ms for s in spans)
        op_secs.append(secs)
        op_jobs.append(sum(s.counters.jobs for s in spans))
        op_tasks.append(sum(s.counters.tasks for s in spans))
        op_busy.append(run_ms / 1000.0 / (secs * n_cores))
        op_gc.append(sum(s.counters.gc_ms for s in spans) / max(run_ms, 1))
        op_spill.append(sum(s.counters.spill_bytes for s in spans))
        op_shuffle.append(sum(s.counters.shuffle_bytes for s in spans))

    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "spark.jobs": med(op_jobs),
        "spark.tasks": med(op_tasks),
        "spark.busy_share": med(op_busy),
        "spark.gc_share": med(op_gc),
        "spark.spill_bytes": med(op_spill),
        "spark.shuffle_bytes": med(op_shuffle),
        "rules.compile_s": span_s("rules.compile"),
        "rules.preflight_s": span_s("rules.preflight"),
        "functions.coerce_s": span_s("functions.coerce"),
        "operators.validate.agg_s": span_s("operators.validate.agg"),
        "operators.validate.violations_s": span_s("operators.validate.violations"),
        "operators.validate.violation_rows": med(r.extra["violation_rows"] for r in ok_ops),
        "operators.validate.shuffle_bytes": span_c("operators.validate.agg", "shuffle_bytes")
        + span_c("operators.validate.violations", "shuffle_bytes"),
        "plans.pipeline.run_s": span_s("plans.pipeline.run"),
        "plans.pipeline.jobs": span_c("plans.pipeline.run", "jobs"),
        "plans.pipeline.publish_bytes": med(r.extra["publish_bytes"] for r in ok_ops),
        "plans.pipeline.report_bytes": med(r.extra["report_bytes"] for r in ok_ops),
        "plans.checkpoint.completed_s": span_s("plans.checkpoint.completed"),
        "plans.checkpoint.file_count_s": span_s("plans.checkpoint.file_count"),
        "plans.checkpoint.files": float(tracer.by_name("plans.checkpoint.file_count")[-1].notes["files"]),
        "plans.checkpoint.compactions": float(wl.compactions),
        "trace.overhead_s": med(op_secs) - untraced_s,
    })
    not_on_path = []
    if workload == "bulk_catalog":
        m.update({
            "sources.scan_s": span_s("sources.scan"),
            # rows the pipeline read per row of the table: its passes over
            # the table. (Spark 4's vectored parquet reads bypass the byte
            # counter, so bytes read cannot be measured here.)
            "sources.scan_amp": span_c("plans.pipeline.run", "input_records") / wl.rows,
            "operators.uniqueness.s": span_s("operators.uniqueness"),
            "operators.uniqueness.shuffle_bytes": span_c("operators.uniqueness", "shuffle_bytes"),
            "operators.convchecks.s": span_s("operators.convchecks"),
            "operators.convchecks.shuffle_bytes": span_c("operators.convchecks", "shuffle_bytes"),
            "operators.checks.s": span_s("operators.checks"),
            "operators.expectations.s": span_s("operators.expectations"),
            "operators.drift.s": span_s("operators.drift"),
        })
        spark = restart("local[1]")
        m["session.speedup_1_to_n"] = speedup(wl, run, spark, untraced_s)
        not_on_path = ["sources.parse_s", "streaming.*"]
    else:
        m["sources.parse_s"] = span_s("sources.parse")
        m.update(stream_probe(wl, run, spark, work))
        not_on_path = ["sources.scan_s", "sources.scan_amp", "operators.uniqueness.*",
                       "operators.convchecks.*", "operators.checks.s",
                       "operators.expectations.s", "operators.drift.s",
                       "session.speedup_1_to_n"]

    for k, unit in PER_LAYER.items():
        print(f"{k:38s} {m[k]:16.6g} {unit}")
    print(f"traced operations {len(ops)}, untraced median {untraced_s:.4g} s, "
          f"traced median {med(op_secs):.4g} s; status-store reads took "
          f"{tracer.bookkeeping_s:.3g} s over {len(tracer.spans)} spans, outside the spans")
    print("not on this workload's path (reported as 0): " + ", ".join(not_on_path))
    tracer.dump(spans_path)
    return {k: (m[k], PER_LAYER[k]) for k in PER_LAYER}, spark


def speedup(wl, run, spark, parallel_s: float) -> float:
    """One bulk operation on a local[1] session against the untraced median
    at local[n], in the same JVM, whose JIT is already warm."""
    wl.rebind(spark)
    return run.one().seconds / parallel_s


def stream_probe(wl, run, spark, work: str) -> dict:
    """Drain the last ``STREAM_LANDINGS`` landings through
    ``streaming.validate_stream`` with availableNow, one landing per
    micro-batch, and read the per-batch trigger timings from the query's
    progress."""
    from pyspark.sql import functions as F
    from workloads import CSV_SCHEMA, FILE_ASSIGNMENTS

    from ndap_data_validator_spark.streaming.validate_stream import validate_stream

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs_before = jsc.statusStore().jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    last_job = max((jobs_before.apply(i).jobId() for i in range(jobs_before.length())), default=-1)

    report = os.path.join(work, "stream-report")
    landings = [f"b{b:04d}.csv" for b in range(max(wl.batch - STREAM_LANDINGS, 0), wl.batch)]
    stream = (spark.readStream.schema(CSV_SCHEMA).option("header", "true")
              .option("maxFilesPerTrigger", wl.files)
              .csv(os.path.join(wl.landing, "{" + ",".join(landings) + "}")))
    query = validate_stream(stream, FILE_ASSIGNMENTS, report,
                            os.path.join(work, "stream-checkpoint"))
    query.awaitTermination()
    progress = [p for p in query.recentProgress if p.numInputRows > 0]

    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    n_jobs = sum(1 for i in range(jobs.length()) if jobs.apply(i).jobId() > last_job)

    rows = spark.read.parquet(os.path.join(report, "summary")).agg(F.sum("rows")).first()[0]
    want_batches = len(landings)
    want_rows = want_batches * wl.files * wl.rows_per_file
    run.attempted += 1
    if rows != want_rows or len(progress) != want_batches:
        run.failed += 1
        print(f"FAILED: stream rows {rows} != {want_rows} or batches "
              f"{len(progress)} != {want_batches}")
    return {
        "streaming.batches": float(len(progress)),
        "streaming.trigger_p50_ms": med(p.durationMs["triggerExecution"] for p in progress),
        "streaming.add_batch_p50_ms": med(p.durationMs.get("addBatch", 0) for p in progress),
        "streaming.commit_p50_ms": med(p.durationMs.get("commitOffsets", 0) for p in progress),
        "streaming.jobs_per_batch": n_jobs / max(len(progress), 1),
    }
