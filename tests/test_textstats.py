"""Text-analysis functions over the documents table (token counts, quality,
lang-id, fingerprint)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions import textstats as T


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()


def _one(spark, text, expr_fn):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(expr_fn(F.col("t")).alias("v")).first()["v"]


def test_token_count_ws(spark):
    assert _one(spark, "a b  c", T.token_count_ws) == 3
    assert _one(spark, "  ", T.token_count_ws) == 0
    assert _one(spark, "", T.token_count_ws) == 0


def test_token_count_bpe(spark):
    # "hello, world42" → hello | , | world | 42  (letters/punct/digits split)
    assert _one(spark, "hello, world42", T.token_count_bpe) == 4
    assert _one(spark, None, T.token_count_bpe) is None


def test_stopword_and_alpha_ratio(spark):
    v = _one(spark, "the cat sat on the mat", T.stopword_ratio)
    assert abs(v - 3 / 6) < 1e-9  # the, on, the
    a = _one(spark, "ab12", T.alpha_ratio)
    assert abs(a - 0.5) < 1e-9


def test_mean_word_length(spark):
    assert abs(_one(spark, "ab abcd", T.mean_word_length) - 3.0) < 1e-9


def test_quality_score_orders_text(spark):
    prose = (
        "the quick brown fox jumps over the lazy dog and runs into the "
        "quiet forest with a happy grin on its face"
    )
    junk = "@@@@ #### $$$$ 1234 %%%% ^^^^ &&&& **** (((( ))))"
    good = _one(spark, prose, T.quality_score)
    bad = _one(spark, junk, T.quality_score)
    assert good > bad
    assert 0.0 <= bad <= good <= 1.0


def test_lang_id(spark):
    assert _one(spark, "the cat and the dog is here with that", T.lang_id) == "en"
    assert _one(spark, "der Hund und die Katze ist mit", T.lang_id) == "de"
    assert _one(spark, "le chat et la maison est avec", T.lang_id) == "fr"
    assert _one(spark, "xyzzy qwerty", T.lang_id) == "und"


def test_fingerprint_normalizes(spark):
    a = _one(spark, "  Hello   World ", T.fingerprint)
    b = _one(spark, "hello world", T.fingerprint)
    assert a == b and len(a) == 32


def test_text_features_single_projection(spark, docs):
    out = T.text_features(docs, "text")
    assert out.count() == docs.count()
    row = out.where(F.col("doc_id") == 0).first()
    assert row["n_tokens_ws"] > 0
    assert row["n_chars_computed"] == row["n_chars"]  # matches generator metadata
    # one projection → no shuffle in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pii_counts_and_redaction(spark):
    from pyspark.sql import functions as F

    from ndap_data_validator_spark.functions.pii import pii_count, redact_pii

    df = spark.createDataFrame(
        [
            (0, "write to jane.doe+x@sub.example.org or bob@ex.io"),
            (1, "server 192.168.0.1 then 10.0.0.255 replied"),
            (2, "call +1 (415) 555-0199 or 020 7946 0958 now"),
            (3, "nothing sensitive here"),
            (4, None),
        ],
        "id long, t string",
    )
    t = F.col("t")
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            pii_count(t, "email").alias("e"),
            pii_count(t, "ipv4").alias("i"),
            pii_count(t, "phone").alias("p"),
            redact_pii(t).alias("red"),
        ).collect()
    }
    assert rows[0]["e"] == 2 and "<EMAIL>" in rows[0]["red"]
    assert "@" not in rows[0]["red"]
    assert rows[1]["i"] == 2 and rows[1]["red"].count("<IP>") == 2
    assert rows[2]["p"] >= 2 and "<PHONE>" in rows[2]["red"]
    assert rows[3]["red"] == "nothing sensitive here"
    assert rows[4]["red"] is None


def test_repetition_ratio(spark):
    from pyspark.sql import functions as F

    from ndap_data_validator_spark.functions.textstats import repetition_ratio

    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),          # maximal repetition
            (1, "the quick brown fox jumps over dogs"),    # all distinct
            (2, "a b"),                                    # < n words -> NULL
        ],
        "id long, t string",
    )
    rows = {
        r["id"]: r["rr"]
        for r in df.select(
            "id", repetition_ratio(F.col("t"), n=3).alias("rr")
        ).collect()
    }
    assert rows[1] == 0.0
    assert rows[2] is None
    assert rows[0] == 1.0 - 1.0 / 4  # 4 trigrams, 1 distinct


def test_phone_pattern_precision(spark):
    """r02 advice: the phone pattern must not span newlines, must not swallow
    unbounded digit runs, and must still catch common phone shapes."""
    from ndap_data_validator_spark.functions.pii import pii_count, redact_pii

    df = spark.createDataFrame(
        [
            (0, "call +1 (555) 123-4567 now"),
            (1, "intl +44 20 7946 0958 ok"),
            (2, "line one 1234\nline two 5678"),  # newline must break a match
            (3, "just a short 12345 id"),  # <7 digits: not a phone
            (4, "hash 12345678901234567890 tail"),  # 20 digits: bounded match
        ],
        "id int, t string",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id", pii_count(F.col("t"), "phone").alias("p"),
            redact_pii(F.col("t")).alias("red"),
        ).collect()
    }
    assert rows[0]["p"] == 1 and "<PHONE>" in rows[0]["red"]
    assert rows[1]["p"] == 1
    assert rows[2]["p"] == 0 and "<PHONE>" not in rows[2]["red"]
    assert rows[3]["p"] == 0
    # 20-digit run: the first 15 digits match (documented class), the
    # remainder survives — the old pattern swallowed the whole run
    assert rows[4]["red"].count("<PHONE>") == 1 and "67890 tail" in rows[4]["red"]


def test_url_extraction_and_blocklist_filter(spark):
    from ndap_data_validator_spark.functions.urls import (
        domain_blocklist_filter,
        extract_domains,
        extract_urls,
    )

    df = spark.createDataFrame(
        [
            (0, "plain text no links"),
            (1, "visit https://Good.Example.COM/a?b=1 and http://bad.org/x"),
            (2, "dup http://bad.org/1 http://bad.org/2 tail"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id",
        F.size(extract_urls(F.col("text"))).alias("n"),
        extract_domains(F.col("text")).alias("doms"),
    ).collect()}
    assert rows[0]["n"] == 0 and rows[0]["doms"] == []
    assert rows[1]["n"] == 2
    assert sorted(rows[1]["doms"]) == ["bad.org", "good.example.com"]
    assert rows[2]["doms"] == ["bad.org"]  # distinct

    kept = domain_blocklist_filter(df, ["bad.org"])
    assert {r["doc_id"] for r in kept.collect()} == {0}
    dropped = domain_blocklist_filter(df, ["bad.org"], keep=False)
    assert {r["doc_id"] for r in dropped.collect()} == {1, 2}


def test_blocklist_subdomain_and_userinfo_bypass(spark):
    """r03 ADVICE (medium): subdomains of a blocked domain and userinfo
    tricks (http://x@evil.com) must not pass the gate; unrelated domains
    merely CONTAINING the blocked string (notevil.com) must pass."""
    from ndap_data_validator_spark.functions.urls import (
        domain_blocklist_filter,
        extract_domains,
    )

    df = spark.createDataFrame(
        [
            (0, "clean http://fine.example.net/x"),
            (1, "sub http://a.evil.com/x"),
            (2, "deep http://b.a.EVIL.com/x"),
            (3, "userinfo http://x@evil.com/x"),
            (4, "both http://u:p@c.evil.com/x"),
            (5, "lookalike http://notevil.com/x"),
            (6, "exact http://evil.com/x"),
        ],
        "doc_id long, text string",
    )
    doms = {
        r["doc_id"]: r["d"]
        for r in df.select(
            "doc_id", extract_domains(F.col("text")).alias("d")
        ).collect()
    }
    assert doms[3] == ["evil.com"]  # userinfo stripped
    assert doms[4] == ["c.evil.com"]
    kept = {r["doc_id"] for r in domain_blocklist_filter(df, ["evil.com"]).collect()}
    assert kept == {0, 5}


def test_ipv6_bracketed_host_extraction(spark):
    """r04 ADVICE (low): bracketed IPv6 authorities must yield the whole
    '[...]' literal as the host — the colon port-strip used to mangle
    'http://[::1]:8080/x' into host '[' so IPv6 blocklist entries could
    never match."""
    from ndap_data_validator_spark.functions.urls import (
        domain_blocklist_filter,
        extract_domains,
    )

    df = spark.createDataFrame(
        [
            (0, "v6 http://[::1]:8080/x"),
            (1, "v6 noport https://[2001:db8::7]/path"),
            (2, "v6 userinfo http://u:p@[2001:DB8::7]:443/x"),
            (3, "v4 http://127.0.0.1:8080/x"),
        ],
        "doc_id long, text string",
    )
    doms = {
        r["doc_id"]: r["d"]
        for r in df.select(
            "doc_id", extract_domains(F.col("text")).alias("d")
        ).collect()
    }
    assert doms[0] == ["[::1]"]
    assert doms[1] == ["[2001:db8::7]"]
    assert doms[2] == ["[2001:db8::7]"]  # userinfo + port stripped, lowered
    assert doms[3] == ["127.0.0.1"]
    kept = {
        r["doc_id"]
        for r in domain_blocklist_filter(df, ["[::1]", "127.0.0.1"]).collect()
    }
    assert kept == {1, 2}
