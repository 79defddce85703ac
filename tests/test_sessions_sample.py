"""Deterministic hash-gate sampling, connected components and benchmark
decontamination."""

from __future__ import annotations

from pyspark.sql import functions as F

from ndap_data_validator_spark.operators.sample import deterministic_sample


def test_deterministic_sample_stable_and_partition_independent(spark):
    df = spark.range(20_000).select(F.col("id").alias("k"))
    a = {r["k"] for r in deterministic_sample(df, "k", 0.1, seed=7).collect()}
    b = {
        r["k"]
        for r in deterministic_sample(
            df.repartition(13), "k", 0.1, seed=7
        ).collect()
    }
    assert a == b                       # partitioning-independent
    assert 0.08 < len(a) / 20_000 < 0.12  # ~fraction
    c = {r["k"] for r in deterministic_sample(df, "k", 0.1, seed=8).collect()}
    assert a != c                       # seed changes the sample


def test_sample_consistent_across_tables(spark):
    """The same key samples in/out everywhere — sampled joins stay aligned."""
    left = spark.range(5_000).select(F.col("id").alias("k"), F.lit("l").alias("s"))
    right = spark.range(5_000).select(F.col("id").alias("k"), F.lit("r").alias("s"))
    ls = deterministic_sample(left, "k", 0.2, seed=3)
    rs = deterministic_sample(right, "k", 0.2, seed=3)
    assert ls.count() == rs.count() == ls.join(rs, "k").count()


# ----------------------------------------------- property vs python oracles


def test_connected_components_matches_union_find(spark):
    """Seeded random graph: min-label components == python union-find."""
    import random

    from ndap_data_validator_spark.operators.dedup import connected_components

    rng = random.Random(7)
    nodes = list(range(120))
    edges = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(90)
        }
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["comp"] for r in connected_components(pairs).collect()
    }

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e}
    expected = {}
    comp_min: dict[int, int] = {}
    for n in sorted(touched):
        comp_min.setdefault(find(n), n)
    for n in touched:
        expected[n] = comp_min[find(n)]
    assert got == expected


def test_stratified_sample_rates_and_determinism(spark):
    from ndap_data_validator_spark.operators.sample import stratified_sample

    df = spark.range(30_000).select(
        F.col("id").alias("key"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("stratum"),
    )
    rates = {"a": 0.5, "b": 0.05, "c": 1.0}
    out = stratified_sample(df, "stratum", rates, "key", seed=3)
    got = {r["stratum"]: r["n"] for r in
           out.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["c"] == 10_000  # rate 1.0 keeps everything
    assert abs(got["a"] / 10_000 - 0.5) < 0.03
    assert abs(got["b"] / 10_000 - 0.05) < 0.01
    # deterministic under repartitioning
    again = stratified_sample(df.repartition(17), "stratum", rates, "key", seed=3)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0
    # unknown strata fall to default_rate=0.0
    df2 = df.withColumn("stratum", F.lit("zzz"))
    assert stratified_sample(df2, "stratum", rates, "key", seed=3).count() == 0


def test_decontaminate_flags_ngram_overlap(spark):
    from ndap_data_validator_spark.operators.decontaminate import (
        benchmark_ngram_hashes,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),  # verbatim
            (2, "prefix words then the quick brown fox jumps over the "
                "lazy dog tonight and more trailing text here"),  # embedded
            (3, "completely unrelated content about spark query planning "
                "and shuffle partitioning strategies at scale"),
        ],
        "doc_id long, text string",
    )
    bh = benchmark_ngram_hashes(bench, n=8, seed=1)
    rep = {r["doc_id"]: r for r in
           decontaminate(docs, bh, n=8, seed=1).collect()}
    assert rep[1]["contaminated"] and rep[1]["hit_ratio"] == 1.0
    assert rep[2]["contaminated"] and 0 < rep[2]["n_hits"] < rep[2]["n_ngrams"]
    assert not rep[3]["contaminated"] and rep[3]["n_hits"] == 0


def test_decontaminate_fuzzy_catches_paraphrased_leak(spark):
    """Fuzzy (MinHash-LSH + Jaccard) decontamination catches a lightly
    edited benchmark copy that the exact n-gram check misses, and leaves
    unrelated documents unflagged."""
    from ndap_data_validator_spark.operators.decontaminate import (
        benchmark_ngram_hashes,
        decontaminate,
        decontaminate_fuzzy,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),  # near-verbatim leak (one word changed below)
            (2, "completely different text about other topics entirely now"),
            (3, "umami sushi ramen tempura sake mochi bento udon soba gyoza"),
        ],
        "doc_id long, text string",
    )
    # benchmark = doc 1 with ONE word swapped: every 10-gram differs, so
    # the exact check at n=10 sees zero collisions...
    bench = spark.createDataFrame(
        [(100, base.replace("epsilon", "omega"))], "doc_id long, text string"
    )
    exact = decontaminate(
        docs, benchmark_ngram_hashes(bench, n=10), n=10
    ).where(F.col("contaminated"))
    assert exact.count() == 0

    # ...while fuzzy Jaccard (9/11 shared unigrams) flags doc 1 only
    rep = {
        r["doc_id"]: r
        for r in decontaminate_fuzzy(
            docs, bench, threshold=0.5, shingle_n=1, num_hashes=16, bands=8
        ).collect()
    }
    assert rep[1]["contaminated"] and rep[1]["max_jaccard"] > 0.7
    assert not rep[2]["contaminated"] and rep[2]["max_jaccard"] is None
    assert not rep[3]["contaminated"]
    assert rep[1]["n_bench_matches"] == 1


def test_decontaminate_fuzzy_md5_matches_xxhash_semantics(spark):
    """The md5 verification config flags the same documents as the
    production xxhash64 config on a clean fixture (band hashing differs;
    the verified-Jaccard contract does not)."""
    from ndap_data_validator_spark.operators.decontaminate import (
        decontaminate_fuzzy,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} with shared words " + "filler " * (i % 3)) for i in range(30)],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" suffix")).alias("text")
    )
    a = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_fuzzy(docs, bench, threshold=0.5).collect()
    }
    b = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_fuzzy(
            docs, bench, threshold=0.5, hash_fn="md5"
        ).collect()
    }
    assert a == b
    assert any(a.values())


def test_decontaminate_bloom_matches_exact_flags(spark):
    from ndap_data_validator_spark.operators.decontaminate import (
        benchmark_ngram_hashes,
        bloom_bitset,
        decontaminate,
        decontaminate_bloom,
    )

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "prefix words then the quick brown fox jumps over the "
                "lazy dog tonight and more trailing text here"),
            (3, "completely unrelated content about spark query planning "
                "and shuffle partitioning strategies at scale"),
        ],
        "doc_id long, text string",
    )
    for hash_fn in ("xxhash64", "md5"):
        bh = benchmark_ngram_hashes(bench, n=8, seed=1, hash_fn=hash_fn)
        bs = bloom_bitset(bh, m_bits=1 << 16, k=3, hash_fn=hash_fn)
        exact = {r["doc_id"]: r for r in
                 decontaminate(docs, bh, n=8, seed=1, hash_fn=hash_fn).collect()}
        bloom = {r["doc_id"]: r for r in
                 decontaminate_bloom(
                     docs, bs, n=8, m_bits=1 << 16, k=3, seed=1,
                     hash_fn=hash_fn,
                 ).collect()}
        for d in (1, 2, 3):
            # bloom can only over-flag, and at this load FP ~ 0: equal here
            assert bloom[d]["n_ngrams"] == exact[d]["n_ngrams"]
            assert bloom[d]["n_hits"] == exact[d]["n_hits"], (hash_fn, d)
            assert bloom[d]["contaminated"] == exact[d]["contaminated"]


def test_bloom_bitset_is_fixed_size(spark):
    from ndap_data_validator_spark.operators.decontaminate import (
        benchmark_ngram_hashes,
        bloom_bitset,
    )
    import pyspark.sql.functions as F

    texts = [(i, f"benchmark item {i} with words w{i} x{i} y{i} z{i} "
                 f"a{i} b{i} c{i} d{i}") for i in range(50)]
    bench = spark.createDataFrame(texts, "doc_id long, text string")
    bh = benchmark_ngram_hashes(bench, n=4, seed=5)
    bs = bloom_bitset(bh, m_bits=1 << 12, k=3)
    n_words = bs.count()
    assert n_words <= (1 << 12) // 32  # never exceeds m/32 words
    # every mask is a valid 32-bit word (no sign-bit edge case)
    mx = bs.agg(F.max("bits"), F.min("bits")).first()
    assert 0 <= mx[1] and mx[0] < (1 << 32)


def test_bloom_gate_inline_matches_join_path(spark):
    """The pure-projection inline gate (bitset as an array literal) is
    bit-identical to the broadcast-join path on the same bitset, for
    both hash functions."""
    from ndap_data_validator_spark.operators.decontaminate import (
        benchmark_ngram_hashes,
        bloom_bitset,
        bloom_words,
        decontaminate_bloom,
        decontaminate_bloom_stream,
    )

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "prefix words then the quick brown fox jumps over the "
                "lazy dog tonight and more trailing text here"),
            (3, "completely unrelated content about spark query planning "
                "and shuffle partitioning strategies at scale"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    m = 1 << 16
    for hash_fn in ("xxhash64", "md5"):
        bh = benchmark_ngram_hashes(bench, n=8, seed=1, hash_fn=hash_fn)
        bs = bloom_bitset(bh, m_bits=m, k=3, hash_fn=hash_fn)
        words = bloom_words(bs, m_bits=m)
        join_path = {r["doc_id"]: r for r in decontaminate_bloom(
            docs, bs, n=8, m_bits=m, k=3, seed=1, hash_fn=hash_fn
        ).collect()}
        inline = {r["doc_id"]: r for r in decontaminate_bloom_stream(
            docs, words, n=8, m_bits=m, k=3, seed=1, hash_fn=hash_fn
        ).collect()}
        assert set(inline) == set(join_path) == {1, 2, 3}  # NULL drops
        for d in (1, 2, 3):
            assert inline[d].asDict() == join_path[d].asDict(), (hash_fn, d)
