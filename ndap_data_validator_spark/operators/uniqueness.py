"""Composite-key uniqueness check (north_rule: (conv_id, turn_idx)).

The reference's nearest pattern is the latest-per-key dedup window
(its ``utils/db.py:493-501``, ROW_NUMBER over token). For a
*violation census* a plain ``groupBy(keys).count() > 1`` is strictly cheaper
than a window: the aggregate does map-side partial counting before the
shuffle, whereas a window shuffles every row. Both are provided; the window
variant also returns the offending rows themselves with a stable ordering.

There is one census, :func:`duplicate_keys`, and it is exact. The
``duplicate_keys_hashed`` name remains for callers of the former two-phase
xxhash64 census, which was slower and shuffled more at every size measured
(65k to 4M turns; figures in its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key_columns: list[str]) -> DataFrame:
    """Keys appearing more than once → (key…, dup_count). NULL keys are kept
    (groupBy groups nulls), matching 'a null conv_id is still a key value'."""
    return (
        df.groupBy(*key_columns)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def duplicate_keys_hashed(df: DataFrame, key_columns: list[str]) -> DataFrame:
    """The exact census under its former scale-path name: returns
    :func:`duplicate_keys` (one lazy ``groupBy(keys).count() > 1``; no job
    starts before an action, and NULL key parts stay key values).

    The name used to hold a two-phase census: ``xxhash64(keys)`` counts,
    a collected suspicious-hash set, then an exact re-group of the rows
    whose hash was suspicious. Its premise was that an 8-byte hash shuffles
    less than the raw composite key. It did not hold on ``perfbench``
    transcripts (seed 1, 8 parquet files, ``(conv_id, turn_idx)``,
    ``local[4]`` on 4 vCPUs; census to a count, median of 5 runs after a
    warm-up, range in brackets; last column MB shuffled, exact / two-phase):

    ==========  ======================  ======================  ===========
    turns       exact                   two-phase               shuffle MB
    ==========  ======================  ======================  ===========
    65,536      0.32 s (0.25-0.37), 3   0.74 s (0.62-0.87), 6   0.55 / 0.77
    262,144     0.40 s (0.28-0.86), 3   0.87 s (0.78-1.04), 7   2.19 / 2.99
    1,048,576   0.67 s (0.64-1.01), 3   1.09 s (1.03-1.56), 7   8.65 / 11.9
    4,194,304   1.72 s (1.68-1.74), 3   2.29 s (2.16-2.49), 7   34.3 / 47.5
    ==========  ======================  ======================  ===========

    The count after each time is the census's Spark jobs; one of the
    two-phase census's jobs was a collect inside the call. Both returned
    the same keys at every size."""
    return duplicate_keys(df, key_columns)


def duplicate_rows(
    df: DataFrame, key_columns: list[str], order_by: list[str] | None = None
) -> DataFrame:
    """All rows participating in a duplicated key, each tagged with its
    occurrence number under a stable ordering (for byte-comparable reports).
    Implemented as count + row_number over one window partitioning — a single
    shuffle on the key."""
    w = Window.partitionBy(*key_columns).orderBy(
        *[F.col(c).asc_nulls_last() for c in (order_by or key_columns)]
    )
    return (
        df.withColumn("occurrence", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(Window.partitionBy(*key_columns)))
        .where(F.col("dup_count") > 1)
    )


def latest_per_key(
    df: DataFrame, key_columns: list[str], order_col: str
) -> DataFrame:
    """The reference's ROW_NUMBER()=1 latest-per-key dedup
    (utils/db.py:493-501): keep the newest row per key by ``order_col``."""
    w = Window.partitionBy(*key_columns).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
