"""Structured Streaming front-end: incremental validation of arriving data.

The reference has NO streaming operators (SURVEY.md §2.10) — its "delta"
load mode is an orchestration flag. This module is therefore an engine
extension, not parity: it lets the same compiled rule catalog run over a
stream (new Iceberg snapshots / arriving files) without a second rule
implementation.

Design: ``foreachBatch``. Each micro-batch is a plain DataFrame, so the
batch engine's single-shared-scan aggregate runs unchanged per batch and the
per-batch report rows land in sinks partitioned by ``batch_id``.
``foreachBatch`` is at-least-once: a crash between a sink write and the
stream's commit log replays that batch on restart, with the same
``batch_id`` and the same input. Each sink write is therefore a dynamic
partition overwrite of its own ``batch_id=N`` directory, so a replay
replaces the batch's rows instead of appending a second copy, and the
sinks read back exactly one row set per batch. Continuous stateful
operators (watermarked windows, applyInPandasWithState) are intentionally
NOT used: validation reports are per-batch aggregates, not cross-batch
sessions, so the stateless foreachBatch shape is both simpler and cheaper
at scale.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ndap_data_validator_spark.operators.validate import ValidationEngine
from ndap_data_validator_spark.rules.model import ColumnAssignment


def validate_stream(
    stream_df: DataFrame,
    assignments: list[ColumnAssignment],
    report_path: str,
    checkpoint_path: str,
    partition_by: str | None = None,
    engine: ValidationEngine | None = None,
    trigger_available_now: bool = True,
    on_batch: Callable[[int, DataFrame], None] | None = None,
) -> StreamingQuery:
    """Start the validation stream; per-batch per-column reports go to
    ``{report_path}/per_column`` and summaries to ``{report_path}/summary``,
    both partitioned by ``batch_id`` (a replayed batch overwrites its own
    partition).

    ``trigger_available_now=True`` processes everything currently available
    then stops — the incremental-batch shape (≙ validating each new Iceberg
    snapshot); pass False for a continuously running query.
    """
    eng = engine or ValidationEngine()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # cache_aggregates=False: each batch's report is written once per
        # sink, and a long-running stream must not accumulate one persisted
        # aggregate frame per micro-batch.
        res = eng.validate(
            batch_df, assignments, partition_by=partition_by,
            cache_aggregates=False,
        )
        for name, frame in (
            ("per_column", res.per_column_report),
            ("summary", res.summary),
        ):
            (
                frame.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(f"{report_path}/{name}")
            )
        if on_batch is not None:
            on_batch(batch_id, batch_df)

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
