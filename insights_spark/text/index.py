"""Inverted index build — term → posting list over the document corpus.

The IR-side sibling of `term_freq`: where term_freq keeps only the top-k
document frequencies, this materializes the postings themselves — the
structure a retrieval / dedup-audit / contamination-check pipeline reads
("which training docs contain this benchmark phrase?").

Shape: explode distinct terms per doc (one Arrow-free JVM pass — the
tokenizer is `split` + `filter`, codegen'd) → groupBy(term) →
`sort_array(collect_list(doc_id))`. ONE shuffle keyed on the term.

Scale posture: posting lists of stop-words are the classic skew bomb —
a single 'the' row would hold 10¹⁰ ids. The `max_df` cap drops terms
whose document frequency exceeds it (the standard stop-word cut), keeping
every output row bounded; `min_df` trims the hapax tail that bloats the
index without aiding retrieval. The df computation and the cut happen in
the SAME aggregation (size of the collected list) so no second pass over
the corpus is needed. At true web scale, shard the remaining heavy terms
by `(term, doc_id mod k)` into segment-local postings — the map-side
layout detail a real index writer would add; the logical contract here
(cap + sorted list) is unchanged by that sharding.

Postings are emitted as a comma-joined string (`posting_csv`) rather than
an array column so the result hashes stably across engines (the driver
canonicalizer and DuckDB's `array_to_string(list_sort(...))` agree
byte-for-byte).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .quality import tokens


def inverted_index(
    docs: DataFrame,
    min_df: int = 2,
    max_df: int = 50,
    ngram: int = 1,
) -> DataFrame:
    """(term, df, posting_csv) for terms with min_df ≤ df ≤ max_df.

    df counts DISTINCT documents (a term repeated in one doc posts once);
    posting_csv is the ascending doc-id list, comma-joined. ``ngram=2``
    indexes space-joined word bigrams instead of unigrams — the PHRASE
    index a benchmark-contamination check queries ("which training docs
    contain this multi-word benchmark string?"); higher n analogous.
    """
    tok = tokens(F.col("text"))
    if ngram == 1:
        term_arr = tok
    else:
        # n-gram via aligned slices zipped with concat: tok[i..] ⊗ tok[i+1..]
        # (pure column ops, no UDF; empty when the doc has < ngram tokens)
        n = F.size(tok)
        term_arr = F.slice(tok, 1, F.greatest(n - (ngram - 1), F.lit(0)))
        for off in range(1, ngram):
            nxt = F.slice(tok, off + 1, F.greatest(n - (ngram - 1), F.lit(0)))
            term_arr = F.zip_with(
                term_arr, nxt, lambda a, b: F.concat(a, F.lit(" "), b)
            )
    postings = (
        docs.select(
            F.col("doc_id"),
            F.explode(F.array_distinct(term_arr)).alias("term"),
        )
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .filter(
            (F.size("_ids") >= min_df) & (F.size("_ids") <= max_df)
        )
    )
    return postings.select(
        "term",
        F.size("_ids").cast("bigint").alias("df"),
        F.array_join(F.col("_ids").cast("array<string>"), ",").alias("posting_csv"),
    )
