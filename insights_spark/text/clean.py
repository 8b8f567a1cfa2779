"""Composed corpus cleaner — the C4-style training-data filter chain as
ONE operator, every stage reusing an already-oracle-checked primitive.

    quality gates (token count, repetition) →
    language filter (stopword-density lang id) →
    exact dedup (min-id representative per normalized text) →
    near-dup removal (word-trigram Jaccard, df-capped; drop the larger id
    of every pair ≥ threshold — the standard greedy rule)

Scale posture: the gates are pure column predicates (pushdown-able,
codegen'd); exact dedup is one hash shuffle on the normalized text; the
near-dup pass runs only over gate+dedup SURVIVORS with the hot-gram
document-frequency cap — at corpus scale swap that stage for
``minhash_near_dups``/``embedding_lsh_candidates`` verify-after
(same contract, sub-quadratic). The whole chain is a single lazy plan —
one action cleans the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df, pin
from .dedup import exact_dedup, ngram_jaccard_pairs
from .quality import lang_id, quality_scores


def clean_corpus(docs: DataFrame) -> DataFrame:
    """Kept documents after the full cleaning chain:
    (doc_id, lang_pred, n_tokens)."""
    scored = lang_id(quality_scores(docs))
    # persisted (r6, interleaved A/B ~8%): the gate feeds both the
    # exact-dedup branch and the survivor semi-join — without the pin the
    # quality+lang scoring chain runs twice
    gated = pin(scored.filter(
        (F.col("n_tokens") >= F.lit(5))
        & (F.col("uniq_token_ratio") >= F.lit(0.2))
        & F.col("lang_pred").isin("en", "de", "fr")
    ))
    reps = exact_dedup(gated).select("doc_id")
    # NOT persisted (r6 cold-cache A/B): surv feeds the gram pass and the
    # final anti-join, but both re-derive cheaply from the cached gate —
    # materializing surv's full-text rows costs more than the semi-join
    # recompute (cold min-of-4 interleaved: gate-only 4.09 s vs
    # gate+surv 4.77 s vs none 5.50 s)
    surv = gated.join(reps, "doc_id", "left_semi")
    near = ngram_jaccard_pairs(surv, max_gram_df=50)
    dropped = near.select(F.col("b").alias("doc_id")).distinct()
    return surv.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang_pred", "n_tokens"
    )


def train_test_split(docs: DataFrame) -> DataFrame:
    """Deterministic content-stable train/test split: adds a `split` column
    ('train'/'test') keyed on a multiplicative hash of the document id —
    NOT on row position or RNG, so the assignment survives repartitioning,
    re-ingestion order, and incremental appends (the property a training
    pipeline actually needs: a doc never migrates between splits across
    runs).

    100/1000 of the id space goes to test. Pure column
    arithmetic (one codegen'd expression, no shuffle, no UDF), and exactly
    reproducible in ANSI SQL — the driver oracle replays the identical
    `mod(id*1000003+7, 1000)` bucket on DuckDB.

    At 100 TB: this is a map-only stamp; downstream writers partition by
    `split` so the two corpora land in separate file sets with zero extra
    shuffle beyond the write's own layout.
    """
    # wrap the id into the modulus BEFORE multiplying: (id mod m)·k ≡ id·k
    # (mod m), so values are identical, but the product can no longer
    # overflow int64 at 10^10-doc id scale (where Spark would wrap silently
    # and ANSI engines would error — the hashes would diverge cross-engine)
    bucket = F.pmod(F.pmod(F.col("doc_id"), F.lit(1000)) * 1000003 + 7,
                    F.lit(1000))
    return docs.withColumn(
        "split",
        F.when(bucket < 100, F.lit("test")).otherwise(F.lit("train")),
    )


def cluster_safe_split(clusters: DataFrame) -> DataFrame:
    """Leakage-free train/test split: bucket by the near-dup CLUSTER id,
    not the doc id, so a document and every near-duplicate of it land in
    the SAME split — the eval set can never contain a near-copy of a
    training doc (the contamination mode a doc-keyed split like
    train_test_split cannot prevent: A in train, its 0.95-Jaccard twin B
    in test).

    Input is the near_dup_clusters labeling (doc_id, cluster_id, ...);
    the bucket rule is the identical overflow-safe multiplicative hash as
    train_test_split, applied to cluster_id — map-only stamp, no shuffle
    beyond what the labeling already paid, content-stable across runs and
    appends (a cluster never migrates).

    Output: (doc_id, cluster_id, split).
    """
    bucket = F.pmod(
        F.pmod(F.col("cluster_id"), F.lit(1000)) * 1000003 + 7, F.lit(1000)
    )
    return clusters.select("doc_id", "cluster_id").withColumn(
        "split",
        F.when(bucket < 100, F.lit("test")).otherwise(F.lit("train")),
    )


def per_source_cap(docs: DataFrame, max_per_source: int) -> DataFrame:
    """Per-domain document cap — the C4-style crawl-balance rule: keep at
    most `max_per_source` docs per source/domain so no single host dominates
    the corpus. The kept set is DETERMINISTIC and content-stable: ranked by
    a multiplicative hash of the id (not arrival order), so re-ingestion
    and repartitioning keep the same docs; ties cannot occur (the hash is
    injective on ids below the modulus, and id breaks any residue tie).

    ONE window shuffle partitioned by source; skew bounded by the largest
    single domain — exactly the hot-key profile AQE's skew-split handles,
    and at 10¹⁰ docs the per-domain counts a crawl frontier already
    maintains make this a pre-filtered pass.
    """
    from pyspark.sql.window import Window

    # (id mod 2³¹)·k ≡ id·k (mod 2³¹): same values, but the product stays
    # ≤ (2³¹−1)·2654435761 < 2⁶³ — no silent int64 wrap at 10^10-doc ids
    h = F.pmod(F.pmod(F.col("doc_id"), F.lit(1 << 31)) * 2654435761 + 17,
               F.lit(1 << 31))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_per_source)
        .drop("_rk")
    )


def per_source_cap_arrival(docs: DataFrame, max_per_source: int) -> DataFrame:
    """Per-domain cap with ASCENDING-ID admission: keeps exactly the
    lowest `max_per_source` doc ids per source, as one keyed window — the
    membership an arrival-order admission counter reaches when the whole
    corpus arrives at once (driver-visible as the `source_cap_stream_twin`
    oracle query). Use the hash-ranked `per_source_cap` when membership
    must be content-stable under re-ingestion order; use this one when
    the earliest ids must win.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_per_source)
        .drop("_rk")
    )


def stratified_sample(docs: DataFrame, per_stratum: int) -> DataFrame:
    """Balanced per-stratum sample: exactly min(per_stratum, stratum size)
    docs from each stratum (language, source, quality bucket …), picked by
    deterministic hash rank — the training-mix balancing step (e.g. equal
    per-language subcorpora) with reproducible membership across runs.

    Same physical shape as `per_source_cap` (one stratum-partitioned
    window); the two differ only in intent: cap = remove excess, sample =
    draw a fixed-size balanced subset.
    """
    from pyspark.sql.window import Window

    h = F.pmod(F.pmod(F.col("doc_id"), F.lit(1 << 31)) * 2654435761 + 29,
               F.lit(1 << 31))  # overflow-safe, value-identical (see cap)
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= per_stratum)
        .drop("_rk")
    )


def budget_select(docs: DataFrame, token_budget: int) -> DataFrame:
    """Token-budget corpus selection: take documents in quality order
    (descending unique-token ratio, the repetition-penalizing proxy every
    web pipeline has some flavor of; ``doc_id`` tiebreak) until the
    cumulative token count reaches ``token_budget`` — the "best N tokens"
    draw a training run makes from an over-sized corpus.

    The crux at 100 TB is the GLOBAL ordered cumulative sum; this reuses
    the two-phase distributed scan (``pack.global_cumsum`` — range
    partition on the quality key, per-partition window, bounded totals
    collect, broadcast offsets) instead of the banned single-partition
    ``sum() OVER (ORDER BY quality)`` window. Selection is the inclusive
    prefix: docs whose cumulative total (including themselves) fits the
    budget. Token-less docs can't contribute and are dropped.

    Output: (id, n_tokens, cum_tokens), the selected set.
    """
    from .pack import global_cumsum
    from .quality import tokens

    tok = tokens(F.col("text"))
    n_tok = F.size(tok)
    d = (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id"),
            n_tok.cast("long").alias("n_tokens"),
            (F.size(F.array_distinct(tok)) / n_tok).alias("_uniq"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    cum = global_cumsum(
        d, "n_tokens", [F.desc("_uniq"), F.asc("doc_id")], out_col="cum_tokens"
    )
    return (
        cum.filter(F.col("cum_tokens") <= int(token_budget))
        .select("doc_id", "n_tokens", F.col("cum_tokens").cast("long").alias("cum_tokens"))
    )


def boilerplate_flags(docs: DataFrame) -> DataFrame:
    """CCNet-style boilerplate detection: cross-document duplicate
    segments (nav bars, cookie banners, footers) flagged by document
    frequency. The fixture text has no newlines, so "lines" are
    deterministic 10-token windows of the token stream — the
    same primitive, content-defined instead of layout-defined.

    Shape: segment → one content-keyed aggregation (distinct-doc count
    per segment) → the small ``df >= 2`` boilerplate dictionary
    joined back (AQE broadcasts it when it fits — the dictionary is the
    frequent-ITEM set, orders of magnitude smaller than the corpus) →
    one doc-keyed rollup. Shuffle volume is O(corpus tokens), keyed by
    segment content, so hot boilerplate lines cost one combiner row per
    partition, not a hot reduce task (count-distinct partial aggregates
    map-side).

    Output per doc with ≥1 segment: (id, n_segs, boiler_segs,
    boiler_frac, kept_tokens) where kept_tokens counts tokens outside
    flagged segments — the post-removal length accounting a cleaning
    pipeline needs before re-budgeting.
    """
    from .quality import tokens

    s = 10
    toks = tokens(F.col("text"))
    base = (
        docs.filter(F.col("text").isNotNull())
        .select(F.col("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") > 0)
    )
    segs = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size("toks") / F.lit(float(s))).cast("int")),
        lambda j: F.concat_ws(" ", F.slice(F.col("toks"), (j - 1) * s + 1, s)),
    )
    seg_rows = base.select("doc_id", F.explode(segs).alias("line"))
    boiler = (
        seg_rows.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("line", F.lit(True).alias("_isb"))
    )
    flagged = seg_rows.join(boiler, "line", "left")
    isb = F.coalesce(F.col("_isb"), F.lit(False))
    seg_toks = F.size(F.split(F.col("line"), " "))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(isb.cast("int")).alias("boiler_segs"),
            F.sum(F.when(~isb, seg_toks).otherwise(F.lit(0))).alias("kept_tokens"),
        )
        .select(
            "doc_id",
            F.col("n_segs").cast("long").alias("n_segs"),
            F.col("boiler_segs").cast("long").alias("boiler_segs"),
            (F.col("boiler_segs") / F.col("n_segs")).alias("boiler_frac"),
            F.col("kept_tokens").cast("long").alias("kept_tokens"),
        )
    )


def mix_sources(docs: DataFrame, weights: dict[str, float], total: int) -> DataFrame:
    """Corpus mixing to target proportions — the sampling-weights knob
    every LLM training run has (Pile/LLaMA-style "x% web, y% code, z%
    wiki"): keep ⌊total·w_s/Σw⌋ documents of each source, chosen by the
    same content-stable hash rank as ``per_source_cap`` so the mixture is
    deterministic under repartitioning, re-ingestion and appends. Sources
    absent from ``weights`` contribute nothing; a source with fewer docs
    than its quota yields all it has (the shortfall is visible as
    max(rank) < quota downstream).

    Output: the selected rows as (doc_id, source, mix_rank, quota).
    Quotas are computed driver-side in exact integer arithmetic (they are
    parameters, not data) and broadcast as a literal table.

    Scale: ONE window shuffle partitioned by source (same layout and skew
    profile as per_source_cap) after a broadcast semi-join that drops
    unweighted sources BEFORE the exchange.
    """
    from pyspark.sql.window import Window

    sw = sum(weights.values())
    quotas = [(s, int(total * w / sw)) for s, w in sorted(weights.items())]
    spark = docs.sparkSession
    qdf = local_df(spark, quotas, "source string, quota long")
    h = F.pmod(F.pmod(F.col("doc_id"), F.lit(1 << 31)) * 2654435761 + 17,
               F.lit(1 << 31))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(qdf), "source")  # prunes BEFORE the window shuffle
        .withColumn("mix_rank", F.row_number().over(w))
        .filter(F.col("mix_rank") <= F.col("quota"))
        .select("doc_id", "source", "mix_rank", "quota")
    )


def normalize_text_nfc(df: DataFrame) -> DataFrame:
    """Unicode + whitespace normalization — the first map of every
    crawl-text pipeline (CCNet/C4 both normalize before anything else,
    public): NFC-compose combining sequences (é as one codepoint, not
    e + U+0301 — exact dedup and shingling break without it), strip
    C0/DEL control characters, collapse runs of ASCII whitespace to one
    space, trim. Emits (id, norm_text, changed, n_chars).

    Cross-engine exactness is all in the DETAILS, each pinned
    deliberately: the whitespace class is the EXPLICIT
    ``[ \\t\\n\\r\\f\\v]`` (Python's ``\\s`` is Unicode-aware, RE2's is
    ASCII — the implicit classes disagree on NBSP); trim strips that
    same explicit set (Python ``.strip()`` would strip Unicode spaces,
    DuckDB ``trim`` only ASCII space); NFC itself agrees because both
    sides implement the same public Unicode normalization algorithm.
    Step order (NFC → strip control → collapse → trim) is identical in
    the SQL mirror.

    Scale posture: map-only Arrow-batched pandas UDF (unicodedata has
    no JVM builtin), zero shuffle, pipeline-fusable with the scan.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import re
        import unicodedata

        ctrl = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
        ws = re.compile(r"[ \t\n\r\f\v]+")

        def f(t):
            if t is None:
                return None
            t = unicodedata.normalize("NFC", t)
            t = ctrl.sub("", t)
            t = ws.sub(" ", t)
            return t.strip(" \t\n\r\f\v")

        return s.map(f)

    return df.select(
        F.col("doc_id"),
        F.col("text").alias("_orig"),
        _norm(F.col("text")).alias("norm_text"),
    ).select(
        "doc_id",
        "norm_text",
        (F.col("norm_text") != F.col("_orig")).cast("int")
        .alias("changed"),
        F.length("norm_text").cast("long").alias("n_chars"),
    )
