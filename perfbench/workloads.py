"""The benchmark's workloads: one closed-loop caller each.

A workload has a set-up (inputs, stores, warm-up operations that are
discarded), an operation the loop times, a correctness check that runs
outside the timed region after every operation, and a traced variant of the
operation that wraps each layer call in a span.

Only public functions of the package are called: ``sources.tables``,
``rules``, ``operators``, ``plans`` and ``streaming``.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

import gen
from clock import Timer
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ndap_data_validator_spark import ColumnAssignment, ValidationEngine
from ndap_data_validator_spark.operators.checks import check_violations
from ndap_data_validator_spark.operators.convchecks import check_sequence_rule
from ndap_data_validator_spark.operators.drift import (
    DriftRule,
    drift_report_partitioned,
)
from ndap_data_validator_spark.operators.expectations import (
    MetricRule,
    metric_expectations,
)
from ndap_data_validator_spark.operators.uniqueness import duplicate_keys_hashed
from ndap_data_validator_spark.oracle_pandas import oracle_validate
from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
from ndap_data_validator_spark.plans.pipeline import partition_key, run_validation
from ndap_data_validator_spark.rules.model import CheckRule, SequenceRule
from ndap_data_validator_spark.rules.preflight import preflight_rules
from ndap_data_validator_spark.sources.tables import load_table


def dir_bytes(path: str, since_ns: int = 0) -> int:
    """Bytes of the regular files under ``path`` last modified at or after
    ``since_ns`` -- what one operation wrote into a sink."""
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(root, name))
            if st.st_mtime_ns >= since_ns:
                total += st.st_size
    return total


def commit_files(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class OpResult:
    seconds: float  # wall time
    rows: int  # input rows the operation validated
    steal_share: float = 0.0  # see clock.py
    written_bytes: int = 0
    input_bytes: int = 0
    ok: bool = True
    error: str = ""
    extra: dict = field(default_factory=dict)


class Sinks:
    """The checkpoint store and report and publish sinks of a workload, and
    what one operation wrote into them."""

    def __init__(self, work: str) -> None:
        self.ckpt = os.path.join(work, "checkpoint")
        self.report = os.path.join(work, "report")
        self.publish = os.path.join(work, "publish")
        self.compactions = 0

    def account(self, res: OpResult, since_ns: int, commits_before: int) -> None:
        self.compactions += commit_files(self.ckpt) < commits_before
        res.extra["report_bytes"] = dir_bytes(self.report, since_ns)
        res.extra["publish_bytes"] = dir_bytes(self.publish, since_ns)
        res.written_bytes = (res.extra["report_bytes"] + res.extra["publish_bytes"]
                             + dir_bytes(self.ckpt, since_ns))


# ------------------------------------------------------------ bulk_catalog

BULK_ASSIGNMENTS = [
    ColumnAssignment("conv_id", "Location", regex=r"^conv-\d{6}$"),
    ColumnAssignment("turn_idx", "Measures", "integer", min_value=0),
    ColumnAssignment("role", "Others", allowed_values=("user", "assistant", "tool")),
    ColumnAssignment("tool", "Others", regex=r"^tool-0\d\d$"),
    ColumnAssignment("period", "Time"),
]
BULK_SEQUENCE = SequenceRule("conv_id", "turn_idx", ts_column="ts",
                             role_column="role", expected_step=1, max_gap_sec=600.0)
BULK_CHECKS = [
    CheckRule("tool_named", "role <> 'tool' OR tool IS NOT NULL"),
    CheckRule("turn_cap", "turn_idx < 1000000"),
]
BULK_METRICS = [
    MetricRule("rows", "row_count", min_bound=1),
    MetricRule("text_nulls", "null_fraction", column="text", max_bound=0.05),
    MetricRule("turn_mean", "mean", column="turn_idx", min_bound=0),
]
BULK_KEYS = ["conv_id", "turn_idx"]


class BulkCatalog(Sinks):
    """One checkpointed ``run_validation`` over a stored parquet transcripts
    table with every rule family, plus ``duplicate_keys_hashed`` on
    (conv_id, turn_idx)."""

    name = "bulk_catalog"

    def __init__(self, spark, work: str, seed: int, turns: int, files: int) -> None:
        super().__init__(work)
        self.spark, self.work, self.seed = spark, work, seed
        table, self.answers = gen.transcripts(turns, seed)
        self.input_bytes = gen.write_parquet_files(
            table, os.path.join(work, "transcripts.parquet"), files)
        self.rows = table.num_rows
        self.df = load_table(spark, work, "transcripts")
        self.key = F.substring("conv_id", 1, 8)
        self.drift = DriftRule(
            {"turn_idx": gen.histogram_baseline(table["turn_idx"].to_numpy(), 16)},
            severity="warn")

    def _pipeline(self, run_id: str):
        return run_validation(
            self.spark, self.df, BULK_ASSIGNMENTS, self.key,
            checkpoint_path=self.ckpt, run_id=run_id, order_by=BULK_KEYS,
            report_path=self.report, publish_path=self.publish,
            sequence_rule=BULK_SEQUENCE, check_rules=BULK_CHECKS,
            metric_rules=BULK_METRICS, drift_rule=self.drift)

    def _uniqueness(self) -> int:
        return duplicate_keys_hashed(self.df, BULK_KEYS).count()

    def rebind(self, spark) -> None:
        """Point the workload at a new session (same inputs and stores)."""
        self.spark = spark
        self.df = load_table(spark, self.work, "transcripts")

    def op(self, tracer=None) -> OpResult:
        run_id = f"RUN-{uuid.uuid4().hex[:8].upper()}"
        t_ns = time.time_ns()
        files_before = commit_files(self.ckpt)
        if tracer is None:
            timer = Timer()
            out = self._pipeline(run_id)
            dups = self._uniqueness()
            timing = timer.stop()
        else:
            timing, out, dups = self._traced(tracer, run_id)
        res = OpResult(seconds=timing.wall_s, rows=self.rows, steal_share=timing.steal_share,
                       input_bytes=self.input_bytes)
        self.account(res, t_ns, files_before)
        self._check(out, dups, res)
        return res

    def _traced(self, tr, run_id: str):
        spark, df = self.spark, self.df
        with tr.span("sources.scan", run_id):
            noop_write(df)
        with tr.span("rules.compile", run_id):
            result = ValidationEngine().validate(
                df, BULK_ASSIGNMENTS, partition_by=partition_key(self.key),
                order_by=BULK_KEYS)
        with tr.span("rules.preflight", run_id):
            preflight_rules(spark, df, assignments=BULK_ASSIGNMENTS,
                            check_rules=BULK_CHECKS, metric_rules=BULK_METRICS,
                            sequence_rule=BULK_SEQUENCE)
        with tr.span("functions.coerce", run_id):
            noop_write(result.coerced)
        with tr.span("operators.validate.agg", run_id):
            noop_write(result.summary)
        with tr.span("operators.validate.violations", run_id):
            noop_write(result.violations)
        result.release()
        with tr.span("operators.convchecks", run_id):
            noop_write(check_sequence_rule(df, BULK_SEQUENCE))
        with tr.span("operators.checks", run_id):
            noop_write(check_violations(df, BULK_CHECKS, key_cols=BULK_KEYS))
        with tr.span("operators.expectations", run_id):
            noop_write(metric_expectations(df, BULK_METRICS, partition_by=self.key))
        with tr.span("operators.drift", run_id):
            noop_write(drift_report_partitioned(df, self.key, self.drift.baseline))
        store = CheckpointStore(spark, self.ckpt)
        with tr.span("plans.checkpoint.completed", run_id):
            store.completed_partitions(run_id, "")
        with tr.span("plans.checkpoint.file_count", run_id) as s:
            s.notes["files"] = store.file_count()
        timer = Timer()
        with tr.span("plans.pipeline.run", run_id):
            out = self._pipeline(run_id)
        with tr.span("operators.uniqueness", run_id):
            dups = self._uniqueness()
        return timer.stop(), out, dups

    def _check(self, out, dups: int, res: OpResult) -> None:
        a = self.answers
        errors = []
        if dups != a.duplicate_keys:
            errors.append(f"duplicate keys {dups} != {a.duplicate_keys}")
        if len(out.processed_partitions) != a.partitions:
            errors.append(f"partitions {len(out.processed_partitions)} != {a.partitions}")
        nulls = {r["column"]: r["n"] for r in self.spark.read.parquet(
            os.path.join(self.report, "per_column")).groupBy("column")
            .agg(F.sum("nulls").alias("n")).collect()}
        if nulls != a.nulls:
            errors.append(f"nulls {nulls} != {a.nulls}")
        viol = {(r["column"], r["reason"]): r["count"] for r in self.spark.read.parquet(
            os.path.join(self.report, "violations")).groupBy("column", "reason")
            .count().collect()}
        if viol != a.violations:
            errors.append(f"violations {viol} != {a.violations}")
        res.extra["violation_rows"] = sum(viol.values())
        res.ok, res.error = not errors, "; ".join(errors)


# ------------------------------------------------------------ file_batches

CSV_SCHEMA = ", ".join(f"{c} string" for c in gen.CSV_COLUMNS)
FILE_ASSIGNMENTS = [
    ColumnAssignment("state", "Location"),
    ColumnAssignment("fiscal_year", "Time"),
    ColumnAssignment("population", "Measures", "integer"),
    ColumnAssignment("gdp_growth", "Measures", "float"),
    ColumnAssignment("district_code", "Others"),
]
SOURCE_FILE = F.col("_metadata.file_name")


def checkpoint_history(path: str, runs: int, partitions: int) -> None:
    """A checkpoint store with ``runs`` prior completed runs of
    ``partitions`` partitions each, one commit file per run -- the layout
    ``CheckpointStore`` appends."""
    os.makedirs(path, exist_ok=True)
    for r in range(runs):
        n = partitions
        table = pa.table({
            "run_id": pa.array([f"RUN-H{r:07d}"] * n),
            "partition_id": pa.array([f"history-{r:04d}-{p:02d}.csv" for p in range(n)]),
            "rule_digest": pa.array(["history"] * n),
            "status": pa.array(["done"] * n),
            "metrics_json": pa.array(['{"rows":10000,"passed":true}'] * n),
            "committed_at": pa.array([gen.BASE_TS_US + r * 60_000_000] * n,
                                     pa.timestamp("us", tz="UTC")),
        })
        pq.write_table(table, os.path.join(path, f"part-{r:05d}-history.parquet"))


class FileBatches(Sinks):
    """Batches of newly landed CSV files, one ``run_validation`` call each,
    partitioned by source file, all sharing one checkpoint store and the
    report and publish sinks."""

    name = "file_batches"

    def __init__(self, spark, work: str, seed: int, files: int, rows_per_file: int,
                 history_runs: int, compact_max_files: int) -> None:
        super().__init__(work)
        self.spark, self.work, self.seed = spark, work, seed
        self.files, self.rows_per_file = files, rows_per_file
        self.compact_max_files = compact_max_files
        self.landing = os.path.join(work, "landing")
        checkpoint_history(self.ckpt, history_runs, files)
        self.batch = 0

    def _land(self):
        name = f"b{self.batch:04d}"
        batch = gen.csv_batch(self.seed, self.batch, self.files, self.rows_per_file)
        self.batch += 1
        directory = os.path.join(self.landing, name + ".csv")
        size = sum(gen.write_csv(f, directory) for f in batch)
        return name, batch, size

    def _pipeline(self, df, run_id: str):
        return run_validation(
            self.spark, df, FILE_ASSIGNMENTS, SOURCE_FILE,
            checkpoint_path=self.ckpt, run_id=run_id,
            report_path=self.report, publish_path=self.publish,
            compact_max_files=self.compact_max_files)

    def op(self, tracer=None) -> OpResult:
        name, batch, size = self._land()
        run_id = f"RUN-{uuid.uuid4().hex[:8].upper()}"
        t_ns = time.time_ns()
        files_before = commit_files(self.ckpt)
        if tracer is None:
            timer = Timer()
            df = load_table(self.spark, "csv:" + self.landing, name, schema=CSV_SCHEMA)
            out = self._pipeline(df, run_id)
            timing = timer.stop()
        else:
            timing, out = self._traced(tracer, name, run_id)
        res = OpResult(seconds=timing.wall_s, rows=self.files * self.rows_per_file,
                       steal_share=timing.steal_share, input_bytes=size)
        self.account(res, t_ns, files_before)
        self._check(out, batch, res, count_violations=tracer is not None)
        return res

    def _traced(self, tr, name: str, run_id: str):
        spark = self.spark
        with tr.span("sources.parse", run_id):
            noop_write(load_table(spark, "csv:" + self.landing, name, schema=CSV_SCHEMA))
        df = load_table(spark, "csv:" + self.landing, name, schema=CSV_SCHEMA)
        with tr.span("rules.compile", run_id):
            result = ValidationEngine().validate(
                df, FILE_ASSIGNMENTS, partition_by=partition_key(SOURCE_FILE))
        with tr.span("rules.preflight", run_id):
            preflight_rules(spark, df, assignments=FILE_ASSIGNMENTS)
        with tr.span("functions.coerce", run_id):
            noop_write(result.coerced)
        with tr.span("operators.validate.agg", run_id):
            noop_write(result.summary)
        with tr.span("operators.validate.violations", run_id):
            noop_write(result.violations)
        result.release()
        store = CheckpointStore(spark, self.ckpt)
        with tr.span("plans.checkpoint.completed", run_id):
            store.completed_partitions(run_id, "")
        with tr.span("plans.checkpoint.file_count", run_id) as s:
            s.notes["files"] = store.file_count()
        timer = Timer()
        with tr.span("plans.pipeline.run", run_id):
            df = load_table(spark, "csv:" + self.landing, name, schema=CSV_SCHEMA)
            out = self._pipeline(df, run_id)
        return timer.stop(), out

    def _check(self, out, batch, res: OpResult, count_violations: bool) -> None:
        """Per-file verdicts, conversion errors and reasons against the
        pandas oracle of the reference semantics. A file's verdict is read
        from its report (every column passed) and from the publish gate
        (its rows were published)."""
        import pandas as pd

        names = [f.name for f in batch]
        spark = self.spark
        got, verdicts = {}, {}
        for r in (spark.read.parquet(os.path.join(self.report, "per_column"))
                  .where(F.col("partition_id").isin(names)).collect()):
            got[(r["partition_id"], r["column"])] = (r["conversion_errors"], list(r["reasons"]))
            verdicts[r["partition_id"]] = verdicts.get(r["partition_id"], True) and r["passed"]
        published = {f.name for f in batch if os.path.isdir(
            os.path.join(self.publish, f"partition_id={f.name}"))}
        errors = []
        for f in batch:
            want = oracle_validate(pd.DataFrame(f.columns)[gen.CSV_COLUMNS],
                                   FILE_ASSIGNMENTS)
            if verdicts.get(f.name) != want["passed"] or (f.name in published) != want["passed"]:
                errors.append(f"{f.name} ({f.profile}): verdict {verdicts.get(f.name)}, published "
                              f"{f.name in published}, oracle {want['passed']}")
            for col, w in want["per_column"].items():
                g = got.get((f.name, col))
                if g != (w["conversion_errors"], w["reasons"]):
                    errors.append(f"{f.name}/{col}: {g} != "
                                  f"{(w['conversion_errors'], w['reasons'])}")
        if sorted(out.processed_partitions) != sorted(names):
            errors.append(f"processed {out.processed_partitions} != {names}")
        if count_violations:
            res.extra["violation_rows"] = (
                spark.read.parquet(os.path.join(self.report, "violations"))
                .where(F.col("partition_id").isin(names)).count())
        res.ok, res.error = not errors, "; ".join(errors[:3])
