"""Key-skew / heavy-hitter diagnostics.

The north-star brief (BASELINE.json) calls for skewed conversations to be
handled "with salted repartitioning and AQE skew-join splitting" — this
operator is the DIAGNOSTIC that feeds those knobs: it reports which keys
are pathologically heavy (the conv_ids that would overwhelm a single
shuffle partition) and how far the key distribution deviates from uniform,
so a pipeline can decide when `plans.pipeline.salt_repartition` is worth
its extra exchange. The reference has no counterpart (its per-file pandas
frames never shuffle; SURVEY §2 maps no skew tooling), so this is engine
scope, not parity debt.

Scale shape (100 TB):
  * per-key counts — ONE shuffle with map-side partial aggregation; the
    frame shrinks to |distinct keys| and is localCheckpoint'ed because two
    downstream consumers (top-N, global stats) would otherwise each re-run
    the corpus shuffle.
  * top-N heavy hitters — `orderBy(...).limit(n)` plans as
    TakeOrderedAndProject: each task keeps an n-row heap, the driver merges
    |tasks|·n rows. Never a global sort.
  * global stats — one tiny agg over the counts frame, broadcast onto the
    top-N rows. The only window is a row_number over ≤ top_n rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["key_skew_report"]


def _key_expr(key_cols: list[str]) -> Column:
    if len(key_cols) == 1:
        return F.col(key_cols[0]).cast("string")
    return F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])


def key_skew_report(
    df: DataFrame,
    key_cols: str | list[str],
    top_n: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``top_n`` heaviest keys plus distribution-level skew stats.

    Returns ≤ ``top_n`` rows of
    ``(key, n_rows, rank, share, n_keys, skew_factor)`` where ``share`` is
    the key's fraction of all rows and ``skew_factor = max_cnt / mean_cnt``
    (1.0 = perfectly uniform; the usual trigger for salting is a factor in
    the tens). ``rank`` breaks count ties by ascending key, so the report
    is deterministic under any partitioning or engine.
    """
    keys = key_cols if isinstance(key_cols, list) else [key_cols]
    counts = (
        df.select(_key_expr(keys).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    # |keys|-sized artifact consumed twice below — materialize ONCE (the
    # corpus-sized shuffle must not re-run per consumer; at 100 TB counts
    # is the thing you'd persist anyway before acting on the report).
    counts = counts.localCheckpoint()

    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("__total"),
        F.max("n_rows").alias("__max"),
    )
    top = counts.orderBy(F.col("n_rows").desc(), F.col("key").asc()).limit(
        top_n
    )
    # row_number over the already-limited frame: the single-partition
    # window sorts ≤ top_n rows, never the key universe
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n_rows",
            "rank",
            F.round(
                F.col("n_rows").cast("double") / F.col("__total"),
                round_digits,
            ).alias("share"),
            "n_keys",
            F.round(
                F.col("__max").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("__total"),
                round_digits,
            ).alias("skew_factor"),
        )
    )
