"""Focused tests for the r06 optimization-round internals: every rewrite
that changed HOW an operator computes (never WHAT) gets an equivalence
check against the path it replaced."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from ndap_data_validator_spark.session import get_spark

    return get_spark(app_name="r06-opt-tests", master="local[4]")


def test_duplicate_keys_hashed_equals_exact_census(spark):
    """duplicate_keys_hashed ≡ the exact groupBy census on the same rows.
    NULL key parts are key values: a NULL k, a NULL sub and both, each
    duplicated, come back as duplicate keys."""
    from ndap_data_validator_spark.operators.uniqueness import (
        duplicate_keys,
        duplicate_keys_hashed,
    )

    df = spark.range(0, 500).select(
        F.concat(F.lit("k-"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 7).alias("sub"),
    )
    nulls = [(None, 3), ("k-null-sub", None), (None, None)]
    df = df.unionByName(spark.createDataFrame(nulls * 2, "k string, sub long"))

    def rows(frame):
        return sorted((tuple(r) for r in frame.collect()), key=repr)

    exact = rows(duplicate_keys(df, ["k", "sub"]))
    assert {(k, sub, 2) for k, sub in nulls} <= set(exact)
    assert rows(duplicate_keys_hashed(df, ["k", "sub"])) == exact


def test_duplicate_keys_hashed_no_duplicates(spark):
    """All-unique keys → empty result."""
    from ndap_data_validator_spark.operators.uniqueness import (
        duplicate_keys_hashed,
    )

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    assert duplicate_keys_hashed(df, ["k"]).count() == 0
