"""Text repeated across documents, as the dedup operators see it: the
word n-gram rule, md5/xxhash64 parity on identical documents, and NULL or
self-repeating text never forming a cross-document pair."""

from pyspark.sql import functions as F

from ndap_data_validator_spark.operators.dedup import (
    minhash_near_duplicates,
    shingles,
    simhash_buckets,
)


def _pairs(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return sorted(tuple(r) for r in minhash_near_duplicates(df, **kw).collect())


def test_positional_ngrams_positions_and_short_doc(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "  A   b  C d "), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["ng"]
        for r in df.select(
            "doc_id", shingles(F.col("text"), 3).alias("ng")
        ).collect()
    }
    # n-grams in token order, one per start position
    assert got[1] == ["a b c", "b c d"]
    # shorter than n: whole text as one 'n-gram'
    assert got[2] == ["a b"]
    # casefolded and whitespace-normalised before splitting
    assert got[3] == got[1]
    assert got[4] is None


def test_identical_docs_fully_repeated_and_md5_parity(spark):
    rows = [(1, "m n o p q"), (2, "m n o p q"), (3, "k1 k2 k3 k4 k5")]
    got = _pairs(spark, rows, threshold=0.5, hash_fn="md5")
    assert got == [(1, 2, 1.0)]
    # xxhash64 production path agrees on every pair
    assert _pairs(spark, rows, threshold=0.5, hash_fn="xxhash64") == got
    df = spark.createDataFrame(rows, "doc_id long, text string")
    buckets = {
        fn: sorted(tuple(r) for r in simhash_buckets(df, hash_fn=fn).collect())
        for fn in ("md5", "xxhash64")
    }
    assert buckets["md5"] == buckets["xxhash64"] == [(1, 2)]


def test_null_text_drops_and_within_doc_repeat_not_flagged(spark):
    rows = [(1, None), (2, None), (3, "e f e f e f e f"), (4, "g1 g2 g3 g4")]
    # NULL text yields no shingles, so two NULL docs do not pair; doc 3
    # repeats WITHIN itself only, which is not a cross-document duplicate
    assert _pairs(spark, rows, threshold=0.5) == []
