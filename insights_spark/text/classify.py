"""Linear text-classifier scoring (fastText-style) over a documents table.

The quality classifier every modern web-corpus pipeline runs (CCNet /
RefinedWeb style): a shallow linear model over token features, exported
as a weight table and applied corpus-wide. The interesting part at 100 TB
is the SHAPE, which this reproduces exactly:

    token stream  ──broadcast-join──  weight table (the model)
         │
    doc-keyed rollup → linear score → threshold

The model side is always broadcast-small (a fastText vocab is ~10^6 rows
against 10^12 docs); the corpus side is one explode + one doc-keyed
aggregation, so no key is hotter than the largest single document.

Arithmetic discipline: weights are INTEGERS (derived from the portable
polynomial token hash), summed exactly, with ONE final division — no
order-dependent float summation, so the DuckDB oracle reproduces scores
bit-for-bit. Thresholding happens on the exact integer sum (sigmoid is
monotone: `score > 0` ⇔ `sigmoid(score) > 0.5`, without touching libm).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .quality import doc_fingerprint, tokens


def token_weight(tok: Column) -> Column:
    """Deterministic integer weight in [-48, 48] from the
    portable poly-hash of the token — the self-contained stand-in for a
    trained model's exported weight (the fixture ships no .bin; the
    lookup/rollup plumbing is what's under test)."""
    return (doc_fingerprint(tok) % 97 - 48).cast("long")


def classifier_score(docs: DataFrame) -> DataFrame:
    """Score every document with the linear model; emit
    (id, n_tokens, score, keep).

    The model (tok, w) is derived in-query from the corpus vocabulary
    with ``token_weight`` (one distinct shuffle — bounded by Heaps' law)
    and broadcast. Docs with no tokens carry no evidence and are not
    scored.
    """
    tok_rows = (
        docs.filter(F.col("text").isNotNull())
        .select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok"))
    )
    weights = (
        tok_rows.select("tok").distinct()
        .withColumn("w", token_weight(F.col("tok")))
    )
    agg = (
        tok_rows.join(F.broadcast(weights), "tok")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("_sw"), F.count("*").alias("_n"))
    )
    return agg.select(
        F.col("doc_id"),
        F.col("_n").cast("long").alias("n_tokens"),
        (F.col("_sw") / (F.lit(97.0) * F.col("_n"))).alias("score"),
        (F.col("_sw") > 0).alias("keep"),
    )
