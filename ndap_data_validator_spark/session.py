"""SparkSession factory tuned for the validation engine.

Scale stance: AQE on (runtime coalescing + skew-join splitting), Arrow on
(the only Python that ever touches row data is vectorized pandas UDFs),
shuffle partitions sized for local[k] testing but overridable for clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ndap-validator",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) so
    tests and bench runs share one code path; on a real cluster pass
    ``master=None`` with spark-submit providing the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Dynamic partition overwrite → idempotent per-partition report
        # rewrites on resume (plans/checkpoint.py).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # run_validation persists ONE per-partition aggregate and reads it
        # for every report write, collect and checkpoint commit. Without
        # this, AQE may not coalesce a cached plan, so each of those reads
        # runs spark.sql.shuffle.partitions tasks for a handful of rows.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # A run_validation call with every rule family compiles ~160 query
        # classes; the default cache of 100 generated classes made every
        # call compile them all again. Static: it only takes effect here.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def literal_frame(spark: SparkSession, rows: list, schema: str):
    """Tiny driver-side literal frame in ONE slice. Bare
    ``spark.createDataFrame(list, schema)`` parallelizes the rows over
    ``defaultParallelism`` Python-RDD slices — dozens of empty tasks per
    stage, and two such frames joined on a constant key fold into a
    condition-less CartesianProduct of slices (VERDICT r04 #1: a
    1024-task, 13s stage for a 1-row×1-row join). One slice keeps every
    literal-frame stage at one task."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )
