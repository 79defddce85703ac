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


def test_embedding_neardup_broadcast_equivalent(spark):
    """broadcast_vectors=True is a join-STRATEGY opt-in: identical pairs
    and cosines to the default shuffle-attach path."""
    from ndap_data_validator_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    dim = 8
    base = spark.range(0, 60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.pmod(F.xxhash64(F.col("id") % 10, i), F.lit(100))
                       .cast("double") / 50.0 - 1.0),
        ).alias("embedding"),
    )
    kw = dict(dim=dim, threshold=0.99, n_planes=4, n_tables=2, seed=7)
    a = sorted(
        tuple(r) for r in embedding_near_duplicates(base, **kw).collect()
    )
    b = sorted(
        tuple(r)
        for r in embedding_near_duplicates(
            base, broadcast_vectors=True, **kw
        ).collect()
    )
    assert a == b and len(a) > 0


def test_duplicate_keys_hashed_isin_and_join_paths_agree(spark):
    """The r06 bounded-isin phase 2 ≡ the join fallback ≡ the exact
    groupBy census (max_exact_hashes=0 forces the fallback)."""
    from ndap_data_validator_spark.operators.uniqueness import (
        duplicate_keys,
        duplicate_keys_hashed,
    )

    df = spark.range(0, 500).select(
        F.concat(F.lit("k-"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 7).alias("sub"),
    )
    exact = sorted(tuple(r) for r in duplicate_keys(df, ["k", "sub"]).collect())
    via_isin = sorted(
        tuple(r) for r in duplicate_keys_hashed(df, ["k", "sub"]).collect()
    )
    via_join = sorted(
        tuple(r)
        for r in duplicate_keys_hashed(
            df, ["k", "sub"], max_exact_hashes=0
        ).collect()
    )
    assert exact == via_isin == via_join and len(exact) > 0


def test_duplicate_keys_hashed_no_duplicates(spark):
    """All-unique keys → empty result via the constant-false filter."""
    from ndap_data_validator_spark.operators.uniqueness import (
        duplicate_keys_hashed,
    )

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    assert duplicate_keys_hashed(df, ["k"]).count() == 0
