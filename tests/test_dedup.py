"""Dedup operators: exact dedup and connected components."""

from __future__ import annotations

import pytest

from ndap_data_validator_spark.operators import dedup as D


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "The  Quick Brown  Fox jumps over the lazy dog"),  # normalized dup
        (3, "the quick brown fox leaps over the lazy dog"),  # near-dup (1 word)
        (4, "completely different text about spark aggregation engines"),
        (5, "another unrelated document mentioning iceberg tables only"),
        (6, "the quick brown fox jumps over the lazy cat today"),  # near-dup-ish
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicate_groups(corpus):
    groups = D.exact_duplicate_groups(corpus).collect()
    assert len(groups) == 1
    assert groups[0]["keeper_id"] == 0 and groups[0]["dup_count"] == 3


def test_dedup_exact_keeps_min_id(corpus):
    kept = sorted(r["doc_id"] for r in D.dedup_exact(corpus).collect())
    assert kept == [0, 3, 4, 5, 6]


def test_connected_components_basic(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comp = {
        r["node"]: r["comp"]
        for r in D.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_long_chain_converges(spark):
    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = D.connected_components(pairs, max_iterations=40).collect()
    assert {r["comp"] for r in comp} == {0}
    assert len(comp) == n + 1

