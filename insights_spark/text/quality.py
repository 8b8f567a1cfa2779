"""Text quality / token / language-id operators over a documents table.

All hot-path operators are pure Spark column expressions (JVM, codegen,
ANSI-SQL-reproducible for the DuckDB oracle). These are the stages a
100 TB training-data pipeline runs on every document, so no Python is
allowed anywhere here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"
# BPE-ish subword regex: word pieces, numbers, punctuation runs
BPE_ISH = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "zu", "den", "nicht", "von", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "sw": ["na", "ya", "wa", "kwa", "ni", "za", "katika", "hii", "kuwa", "la"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty tokens removed)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_count(text: Column) -> Column:
    """Subword-level count via the BPE-ish regex (regexp_count is
    SQL-reproducible; proxies tokenizer cost for budget estimates)."""
    return F.regexp_count(F.lower(text), F.lit(BPE_ISH))


def quality_scores(df: DataFrame) -> DataFrame:
    """Attach standard quality columns:

    n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
    uniq_token_ratio — the usual web-text quality gates (length bounds,
    symbol load, stopword density, repetition).
    """
    t = F.col("text")
    # tokenize ONCE into a materialized column (r6, guide §4.1): higher-
    # order functions are interpreted and escape common-subexpression
    # elimination, so the inline `tokens(t)` re-split the text per metric
    tok = F.col("__tok")
    n_tok = F.size(tok)
    punct = F.length(F.regexp_replace(t, r"[a-zA-Z0-9\s]", ""))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return (
        df.withColumn("__tok", tokens(t))
        .withColumn("n_chars", F.length(t))
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "avg_token_len",
            F.when(n_tok > 0,
                   (F.length(F.regexp_replace(F.lower(t), r"\s+", "")) / n_tok)
                   ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(F.length(t) > 0, punct / F.length(t)).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(n_tok > 0,
                   F.size(F.filter(tok, lambda x: F.array_contains(sw, x))) / n_tok
                   ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "uniq_token_ratio",
            F.when(n_tok > 0, F.size(F.array_distinct(tok)) / n_tok).otherwise(F.lit(0.0)),
        )
        .drop("__tok")
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-density language id (deterministic argmax, ties by language
    code ascending). A heuristic, not a model — the Spark shape (pure
    column scoring, no UDF) is the point."""
    # tokenize ONCE (see quality_scores: interpreted HOFs escape CSE)
    tok = F.col("__lid_tok")
    n_tok = F.size(tok)
    scores = []
    for lang in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(tok, lambda x: F.array_contains(sw, x)))
        scores.append(
            F.struct(
                # negated score so ascending sort = (score desc, lang asc)
                (-F.when(n_tok > 0, hits / n_tok).otherwise(F.lit(0.0))).alias("neg"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.sort_array(F.array(*scores))[0]
    return (
        df.withColumn("__lid_tok", tokens(F.col("text")))
        .withColumn("lang_pred", F.when(best["neg"] < 0, best["lang"]))
        .drop("__lid_tok")
    )


def repetition_scores(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality gates (Rae et al. 2021 §A1.1):
    per-document duplicate-token fraction, duplicate-token character
    fraction, top-n-gram character fraction, and duplicate-n-gram
    character fraction. Documents dominated by repeated phrases are the
    classic web-crawl failure mode these gates exist to drop.

    Scale posture: explode → two aggregations, BOTH keyed by the document
    id (token counts, gram counts) — shuffle volume is O(corpus tokens),
    partitioned by (doc, term), so no key is hotter than the largest
    single document. No Python anywhere; every expression is ANSI-SQL
    replicable so the DuckDB oracle reproduces the floats exactly (integer
    sums + one correctly-rounded division).

    Output: (id, n_tokens, dup_token_frac, dup_token_char_frac,
    top_gram_char_frac, dup_gram_char_frac); fractions are 0.0 for empty
    or gram-less docs. Ties for the top gram break lexicographically."""
    t = F.col("text")
    base = df.filter(t.isNotNull()).select(
        F.col("doc_id"),
        tokens(t).alias("toks"),
        F.length(F.regexp_replace(F.lower(t), r"\s+", "")).alias("tok_chars"),
    )

    tok_agg = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_toks"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
            .alias("dup_toks"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.length("tok")).otherwise(F.lit(0))
            ).alias("dup_tok_chars"),
        )
    )

    n = 2
    grams = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram_agg = (
        base.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            # struct min = (count desc, gram asc) — deterministic top pick
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("gram"))).alias("top"),
            F.sum(
                F.when(
                    F.col("c") > 1, F.col("c") * (F.length("gram") - (n - 1))
                ).otherwise(F.lit(0))
            ).alias("dup_gram_chars"),
        )
    )

    tc = F.col("tok_chars")
    top_chars = (-F.col("top.nc")) * (F.length(F.col("top.gram")) - (n - 1))
    return (
        base.select("doc_id", "tok_chars")
        .join(tok_agg, "doc_id", "left")
        .join(gram_agg, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("n_toks"), F.lit(0)).cast("long").alias("n_tokens"),
            F.when(F.col("n_toks") > 0, F.col("dup_toks") / F.col("n_toks"))
            .otherwise(F.lit(0.0)).alias("dup_token_frac"),
            F.when(tc > 0, F.coalesce(F.col("dup_tok_chars"), F.lit(0)) / tc)
            .otherwise(F.lit(0.0)).alias("dup_token_char_frac"),
            F.when((tc > 0) & F.col("top").isNotNull(), top_chars / tc)
            .otherwise(F.lit(0.0)).alias("top_gram_char_frac"),
            F.when(tc > 0, F.coalesce(F.col("dup_gram_chars"), F.lit(0)) / tc)
            .otherwise(F.lit(0.0)).alias("dup_gram_char_frac"),
        )
    )


def doc_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash of the normalized text — the document
    fingerprint primitive. Pure fold over characters (JVM-side aggregate);
    identical arithmetic is expressible in the DuckDB oracle, so the
    fingerprint is engine-portable by construction."""
    norm = F.regexp_replace(F.lower(text), r"\s+", " ")
    chars = F.split(norm, "")
    return F.aggregate(
        F.filter(chars, lambda c: c != ""),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % F.lit(1_000_000_007),
    )


def score_percentile_rank(df: DataFrame, score_col: str) -> DataFrame:
    """Per-group percentile-rank calibration of a quality score — the
    step before thresholding a classifier across heterogeneous sources
    (FineWeb-style): raw score scales differ per source, so the keep/drop
    cut is made on each doc's WITHIN-SOURCE cumulative rank in [0, 1].

    Semantics = ``cume_dist() OVER (PARTITION BY group ORDER BY score,
    id)`` with the id tiebreak making ranks total. The IMPLEMENTATION
    avoids that window: at 100 TB a handful of giant sources would each
    sort on one task under partitionBy(source). Instead the global rank
    rides the shared two-phase prefix scan ordered by (group, score, id),
    and each group's offset (global rank at its start) comes from a
    group-count rollup broadcast back — pct = (global_rank − offset) / n.
    Identical values, distributed sort.

    Output: input keys + (pct_rank double in (0, 1]).
    """
    from .pack import global_cumsum

    d = df.select("source", "doc_id", score_col).withColumn(
        "_one", F.lit(1).cast("long")
    )
    ranked = global_cumsum(
        d, "_one", [F.asc("source"), F.asc(score_col), F.asc("doc_id")],
        out_col="_gr",
    )
    totals = ranked.groupBy("source").agg(
        F.max("_gr").alias("_hi"), F.count(F.lit(1)).alias("_n")
    )
    return (
        ranked.join(F.broadcast(totals), "source")
        .select(
            "source", "doc_id", score_col,
            (
                (F.col("_gr") - (F.col("_hi") - F.col("_n"))).cast("double")
                / F.col("_n").cast("double")
            ).alias("pct_rank"),
        )
    )


def lang_margin(df: DataFrame) -> DataFrame:
    """Language-id confidence: top-1 vs top-2 stopword-density margin and
    a mixed-language flag. Code-switched or boilerplate-heavy pages score
    two languages nearly equally — those are the docs a per-language
    corpus must NOT route on the argmax alone (the standard CLD-style
    "reliable" bit). Same pure-column scoring as lang_id (sort the
    per-language score structs once, read slots 1 and 2); map-only, no
    UDF, no shuffle.

    Output columns: lang_pred (NULL when nothing matches), lang_second,
    margin (top1 − top2 density, 0.0 when nothing matches), is_mixed
    (int: both scores positive and margin < 0.1).
    """
    tok = tokens(F.col("text"))
    n_tok = F.size(tok)
    scores = []
    for lang in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(tok, lambda x: F.array_contains(sw, x)))
        scores.append(
            F.struct(
                (-F.when(n_tok > 0, hits / n_tok).otherwise(F.lit(0.0))).alias("neg"),
                F.lit(lang).alias("lang"),
            )
        )
    arr = F.sort_array(F.array(*scores))
    top, second = arr[0], arr[1]
    margin = (-top["neg"]) - (-second["neg"])
    return (
        df.withColumn("lang_pred", F.when(top["neg"] < 0, top["lang"]))
        .withColumn("lang_second", F.when(second["neg"] < 0, second["lang"]))
        .withColumn("margin", margin)
        .withColumn(
            "is_mixed",
            (
                (top["neg"] < 0) & (second["neg"] < 0) & (margin < 0.1)
            ).cast("int"),
        )
    )
