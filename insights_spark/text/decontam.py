"""Benchmark decontamination — flag training docs that contain an eval set's
n-grams (the before-training hygiene pass every LLM data pipeline runs;
cf. the n-gram overlap checks described in public LM reports).

Semantics: a benchmark ITEM is a token sequence; a corpus doc is
CONTAMINATED by that item iff the item's full `n`-token window appears
verbatim (case-normalized, whitespace-tokenized) among the doc's n-grams.
Output counts how many distinct benchmark grams each contaminated doc
contains — the triage signal (1 shared gram = likely coincidence at small
n, many = verbatim inclusion).

100 TB posture: benchmark grams are the SMALL side by construction (eval
sets are thousands of items, corpora are billions of docs) — they hash to
a bounded key set that broadcasts; the corpus side is ONE scan emitting
(gram-hash, doc_id) pairs which semi-reduce against the broadcast before
any shuffle (Catalyst turns the inner join against a broadcast into a
map-side hash probe). No all-pairs stage exists at any size; the only
shuffle is the per-doc count aggregation over MATCHED pairs, bounded by
the contamination volume, not the corpus.

Hashing uses the engine's portable polynomial gram hash (`poly_hash` SQL
parity in dedup), so the DuckDB oracle replays the identical arithmetic —
membership is engine-exact, no tolerance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def _distinct_gram_hashes_udf(n: int):
    """pandas UDF: DISTINCT n-gram polynomial hashes of a text column, as
    array<long> — the Arrow-vectorized replacement for the old JVM
    ``transform(grams, aggregate(chars, ...))`` column, whose per-CHARACTER
    interpreted fold (no codegen for higher-order functions) dominated the
    decontam scan (guide §4.1/§4.2; measured ~5.5 s of the sf0.1 bench).

    Values are bit-identical: grams come from the same lowercase
    whitespace tokenization (``_word_ngrams_py`` mirrors the column
    version, pinned by tests), hashes from ``poly_hash_np`` (pinned
    bit-identical to the fold: h = fold(7, h·31 + ord) mod 1e9+7), and
    distinctness of HASH VALUES matches the old
    ``array_distinct(hashes)`` / explode-then-distinct semantics on both
    the doc and benchmark sides.
    """
    from pyspark.sql.functions import pandas_udf

    from .dedup import _word_ngrams_py, poly_hash_np

    @pandas_udf("array<long>")
    def _gh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            grams = _word_ngrams_py(t, n) if t is not None else []
            if not grams:
                out.append([])
                continue
            out.append(np.unique(poly_hash_np(grams)).tolist())
        return pd.Series(out)

    return _gh


def contaminated_docs(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """(doc_id, n_bench_grams) for every doc sharing ≥1 13-gram with the
    benchmark; n_bench_grams = how many DISTINCT benchmark gram hashes the
    doc contains."""
    gh = _distinct_gram_hashes_udf(13)
    bench_grams = (
        benchmark.select(F.explode(gh(F.col("text"))).alias("_gh"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col("doc_id"),
        F.explode(gh(F.col("text"))).alias("_gh"),
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "_gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bench_grams"))
    )
