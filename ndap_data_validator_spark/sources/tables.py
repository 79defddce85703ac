"""Table sources.

The engine's production source is an Iceberg table (``spark.read.table``)
per BASELINE.json; this sandbox has no Iceberg catalog jar, so the unit/bench
path reads the driver-generated parquet directories and the loader keeps one
seam (``load_table``) where an Iceberg identifier would be swapped in. The
reference's equivalents: per-file CSV reads from S3
(``/root/reference/main.py:862-936``, ``utils/s3_uploader.py:42-72``) — in
Spark, file listing/reading/pruning is the data source's job (Iceberg
manifests or the parquet file index), never ours.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    schema: str | None = None,
    csv_options: dict[str, str] | None = None,
) -> DataFrame:
    """Read one table. ``sf_dir`` may be a parquet directory (sandbox), an
    Iceberg namespace like ``iceberg:db`` (cluster: resolves to
    ``spark.read.table('db.<name>')``), or a CSV directory like
    ``csv:/path`` (≙ the reference's raw-file input, main.py:120-125 —
    its entire ingestion is CSV from S3).

    CSV/JSONL notes: pass ``schema`` (DDL string) in production — schema
    inference costs an EXTRA full pass over the files, which is
    unacceptable at 100 TB. CSV header on by default; override via
    ``csv_options`` (also applied to the json reader)."""
    if sf_dir.startswith("iceberg:"):
        return spark.read.table(f"{sf_dir.removeprefix('iceberg:')}.{name}")
    if sf_dir.startswith("csv:"):
        base = sf_dir.removeprefix("csv:")
        reader = spark.read.option("header", "true")
        for k, v in (csv_options or {}).items():
            reader = reader.option(k, v)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", "true")
        return reader.csv(os.path.join(base, f"{name}.csv"))
    if sf_dir.startswith("jsonl:") or sf_dir.startswith("json:"):
        base = sf_dir.split(":", 1)[1]
        reader = spark.read
        for k, v in (csv_options or {}).items():
            reader = reader.option(k, v)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(os.path.join(base, f"{name}.jsonl"))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

