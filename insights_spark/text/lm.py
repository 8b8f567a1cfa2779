"""Bigram language-model quality scoring — the "perplexity filter" every
public web-corpus pipeline runs (CCNet trains a KenLM on Wikipedia and
keeps the low-perplexity tail, Wenzek et al. 2020; RedPajama/C4 publish
the same shape): train a tiny LM on a trusted slice, score EVERY document
by how surprised the model is, drop the gibberish tail.

The classic filter is float log-probabilities — which libm-divergence
would poison this repo's bit-exact oracle gate (the same reason bm25
keeps the rational RSJ idf and pagerank runs fixed-point). This kernel
quantizes the per-bigram surprisal to INTEGER bits instead:

    p(w2|w1)   = (c12 + 1) / (c1 + V)          Laplace add-1
    q          = ((c1 + V) · 2^20) DIV (c12 + 1)    BIGINT, q ≥ 2^20·1/p·…
    bits(q)    = floor(log2 q) = length(bin(q)) - 1

`bin()` (integer → binary string) exists in BOTH Spark and DuckDB and is
exact — no libm anywhere — so floor-log2 surprisal is a deterministic
integer both engines derive identically. bits ≈ 20 + log2(1/p) within
1 bit: a monotone, additive stand-in for −log p that ranks documents the
way true perplexity does while staying bit-identical across engines,
partitionings, and retries. Per document the score is

    bits_per_bigram_milli = (Σ bits · 1000) DIV n_bigrams

(integer milli-bits per bigram — smaller = more fluent under the model),
with ``keep`` an integer threshold compare. A deployment wanting true
float perplexity swaps bits(q) for -ln p; the plan shape is identical.

Scale posture (100 TB): training bigram counts are TWO hash aggregations
over the (bounded, trusted) training slice. Scoring joins each document
bigram against the bigram and unigram tables — broadcast when the model
is pruned (``min_count`` drops the hapax tail, the standard KenLM prune),
shuffle hash join on (w1, w2) otherwise; either way the per-doc rollup is
ONE shuffle keyed on doc_id. Everything is built-in column expressions —
no UDF, no collect; the V scalar and the model ride broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .quality import tokens

#: fixed-point scale for the quantized probability ratio (2^20)
SCALE_BITS = 20


def _bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — consecutive token pairs; docs with < 2 tokens
    contribute nothing. The size-≥2 filter runs BEFORE sequence(): Spark's
    sequence(1, 0) counts DOWN, which would fabricate a reversed pair."""
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 1),"
                    " i -> struct(_t[i-1] AS w1, _t[i] AS w2))"
                )
            ).alias("_b"),
        )
        .select("doc_id", F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    )


def bigram_lm_scores(
    docs: DataFrame,
    train_pred,
    keep_below_milli: int,
) -> DataFrame:
    """Score every document's fluency under a bigram LM trained on the
    ``train_pred`` slice (a boolean Column over ``docs``).

    Output per document with ≥ 1 bigram: (doc_id, n_bigrams, bits_sum,
    bits_per_bigram_milli, keep) — all BIGINT/INT, exactly reproducible.
    ``keep`` = 1 iff bits_per_bigram_milli < keep_below_milli. Unseen
    pairs back off to c12 = 0 (pure Laplace mass).
    """
    grams = _bigrams(docs)
    train = _bigrams(docs.filter(train_pred))

    big = (
        train.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    uni = train.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    voc = train.agg(
        F.countDistinct("w2").cast("long").alias("v")
    )

    scored = (
        grams.join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(uni), ["w1"], "left")
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            F.coalesce(F.col("c12"), F.lit(0)).alias("c12"),
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            "v",
        )
        .select(
            "doc_id",
            F.expr(
                f"((c1 + v) * {1 << SCALE_BITS}) DIV (c12 + 1)"
            ).alias("_q"),
        )
        .select(
            "doc_id",
            (F.length(F.bin(F.col("_q"))) - 1).cast("long").alias("_bits"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_bits").cast("long").alias("bits_sum"),
    )
    milli = F.expr("(bits_sum * 1000) DIV n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "bits_sum",
        milli.alias("bits_per_bigram_milli"),
        (milli < F.lit(keep_below_milli)).cast("int").alias("keep"),
    )
