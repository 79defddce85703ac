"""fastText-style linear quality classifier over hashed token features,
distributed and pure-JVM (VERDICT r03 #8).

The production web-quality gate (GPT-3's WebText classifier, CCNet,
RefinedWeb) is a linear model over bag-of-token features. This module
re-expresses that shape in Catalyst with the HASHING TRICK: tokens hash
into ``n_buckets`` feature slots, the model is a bucket→weight table, and
scoring is a per-token weight lookup summed per document — a dot product
of the document's hashed-count vector with the weight vector, computed as
explode → join → groupBy.

Training is naive-Bayes log-odds (the closed-form linear model): with
add-alpha smoothing over the bucket vocabulary,

    w[b]  = ln(cnt_pos[b]+α) − ln(total_pos+α·B)
          − ln(cnt_neg[b]+α) + ln(total_neg+α·B)
    prior = ln(n_pos_docs) − ln(n_neg_docs)
    score(doc) = prior + Σ_tokens w[bucket(token)]   (>0 ⇒ positive)

so the whole train step is ONE token shuffle (explode → groupBy(bucket))
plus a scalar agg — no gradient loop — and every term is a ln(a)−ln(b)
difference, the exact formulation an external engine reproduces
bit-for-bit.

Plan shape at 100 TB: the weight table is exactly ``n_buckets`` rows —
always broadcast for scoring; the corpus never shuffles to be scored.
Unseen buckets fall back to the smoothed weight via left-join coalesce.
``hash_fn='md5'`` (portable_hash64) makes bucketing replayable by DuckDB;
production uses xxhash64.

Labels: any boolean column. The planted fixture bootstraps labels from the
heuristic ``textstats.quality_score`` (weak supervision — the standard way
the first classifier generation is trained when no human labels exist).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.porthash import portable_hash64
from ndap_data_validator_spark.functions.textstats import words


def _bucket(token: Column, n_buckets: int, seed: int, hash_fn: str) -> Column:
    if hash_fn == "md5":
        h = portable_hash64(token, seed=seed)
    else:
        h = F.abs(F.xxhash64(token, F.lit(seed)))
    return F.pmod(h, F.lit(n_buckets))


def _doc_buckets(
    df: DataFrame, text_col: str, id_col: str | None,
    n_buckets: int, seed: int, hash_fn: str,
) -> DataFrame:
    cols = [F.col(id_col)] if id_col else []
    toks = df.select(
        *cols,
        F.explode(F.transform(words(F.col(text_col)), F.lower)).alias("token"),
    )
    return toks.select(
        *([id_col] if id_col else []),
        _bucket(F.col("token"), n_buckets, seed, hash_fn).alias("bucket"),
    )


def train_quality_classifier(
    labeled: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 0.5,
    seed: int = 7,
    hash_fn: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Closed-form NB log-odds training over ``labeled`` (boolean
    ``label_col``). Returns ``(weights, consts)``:

    * ``weights`` — (bucket, w) for every bucket OBSERVED in training;
    * ``consts`` — one row (prior, w_unseen) where ``w_unseen`` is the
      log-odds of a bucket with zero counts on both sides (the coalesce
      fallback at scoring time).
    """
    toks = labeled.select(
        F.col(label_col).alias("__y"),
        F.explode(F.transform(words(F.col(text_col)), F.lower)).alias("token"),
    ).select(
        "__y", _bucket(F.col("token"), n_buckets, seed, hash_fn).alias("bucket")
    )
    counts = toks.groupBy("bucket").agg(
        F.sum(F.col("__y").cast("long")).alias("cpos"),
        F.sum((~F.col("__y")).cast("long")).alias("cneg"),
    )
    # Materialize the ≤ n_buckets count table ONCE: `totals` (via the
    # consts broadcast inside `weights`) and the scorer's broadcast of
    # `weights`/`consts` would each re-run the labeled-corpus token
    # explode+groupBy otherwise — three training passes for one model.
    counts = counts.localCheckpoint()
    totals = counts.agg(
        F.sum("cpos").alias("tpos"), F.sum("cneg").alias("tneg")
    )
    ndocs = labeled.agg(
        F.sum(F.col(label_col).cast("long")).alias("npos"),
        F.sum((~F.col(label_col)).cast("long")).alias("nneg"),
    )
    a, b = F.lit(alpha), F.lit(float(n_buckets) * alpha)
    consts = totals.crossJoin(ndocs).select(
        (F.log(F.col("npos").cast("double")) - F.log(F.col("nneg").cast("double"))).alias("prior"),
        (
            F.log(a) - F.log(F.col("tpos") + b)
            - F.log(a) + F.log(F.col("tneg") + b)
        ).alias("w_unseen"),
        F.col("tpos"), F.col("tneg"),
    )
    weights = counts.crossJoin(
        F.broadcast(consts.select(F.col("tpos").alias("__tp"), F.col("tneg").alias("__tn")))
    ).select(
        "bucket",
        (
            F.log(F.col("cpos") + a) - F.log(F.col("__tp") + b)
            - F.log(F.col("cneg") + a) + F.log(F.col("__tn") + b)
        ).alias("w"),
    )
    return weights, consts.select("prior", "w_unseen")


def score_quality(
    docs: DataFrame,
    weights: DataFrame,
    consts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    seed: int = 7,
    hash_fn: str = "md5",
    round_digits: int | None = None,
) -> DataFrame:
    """Score documents → (id, n_tokens, score, predicted). The weight
    table is bucket-count-sized, hence force-broadcast; the corpus never
    shuffles. Empty docs score the prior alone. ``predicted`` compares the
    ROUNDED score to 0 when ``round_digits`` is set, so the boolean is
    identical across engines even at FP-noise boundaries."""
    db = _doc_buckets(docs, text_col, id_col, n_buckets, seed, hash_fn)
    cj = F.broadcast(consts.select(
        F.col("prior").alias("__prior"), F.col("w_unseen").alias("__wu")
    ))
    scored = (
        db.join(F.broadcast(weights), "bucket", "left")
        .crossJoin(cj)
        .select(id_col, F.coalesce(F.col("w"), F.col("__wu")).alias("__w"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("__w").alias("__sw")
    )
    all_ids = docs.select(id_col).distinct().crossJoin(cj)
    score = F.col("__prior") + F.coalesce(F.col("__sw"), F.lit(0.0))
    if round_digits is not None:
        score = F.round(score, round_digits)
    return (
        all_ids.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            score.alias("score"),
            (score > 0).alias("predicted"),
        )
    )


__all__ = ["train_quality_classifier", "score_quality"]
