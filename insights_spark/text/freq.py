"""Corpus frequency analyses: exact-verified Misra–Gries heavy hitters
and per-document n-gram novelty.

``heavy_hitters`` completes the engine's sketch family (HLL count-
distinct and KLL-style quantiles live in ops/stats.py) with the third
classic mergeable summary — frequent items — in the same *sketch-for-
candidates, exact-for-answers* shape those two use: the sketch only
BOUNDS the work, the emitted numbers are exact, so the oracle is plain
SQL and the output is provably identical to the brute-force answer.

Why the candidate set is complete (the Misra–Gries guarantee, public —
Misra & Gries 1982; merge analysis Agarwal et al., PODS'12): an MG(k)
summary over a stream of n items underestimates any item's count by at
most n/k. Partition the corpus into parts of n_p tokens (Σn_p = N). If a
term t has global count C > N/k, then in at least one partition its
local count c_p > n_p/k (otherwise C = Σc_p ≤ Σn_p/k = N/k). In that
partition MG(k)'s estimate for t is ≥ c_p − n_p/k > 0, and MG only
tracks items with positive counters — so t is in that partition's
candidate output. The union of per-partition candidates therefore
contains EVERY global heavy hitter; the exact recount pass then keeps
precisely the true ones. Candidate volume is ≤ k·partitions rows —
independent of corpus size.

Scale posture (100 TB): stage 1 is map-only (mapInPandas, one dict of ≤k
counters per partition, Arrow batches streamed — never the whole
partition in memory); stage 2 semi-joins the token stream against the
broadcast candidate set BEFORE its only shuffle, so shuffle volume is
O(occurrences of candidate terms), not O(corpus). The output is
partitioning-invariant even though the candidate SUPERSET isn't: the
exact filter count·k > N prunes any partition-dependent extras.

``novelty_scores`` is the diversity lens on the same gram machinery the
near-dup detectors use: the fraction of a document's distinct n-grams
that appear NOWHERE else in the corpus (gram df = 1). Boilerplate and
template spam score near 0, unique prose near 1 — the standard cheap
"how much does this doc add" signal for corpus curation.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.latest import top_k
from .dedup import word_ngrams_np
from .quality import tokens

_WS = re.compile(r"\s+")


def _mg_update(counters: dict, toks: list, k: int) -> None:
    """One Misra–Gries pass: increment present keys, insert while < k
    counters, otherwise decrement ALL and drop zeros (the classic step)."""
    for t in toks:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]


def heavy_hitters(docs: DataFrame) -> DataFrame:
    """All terms with exact global count · 32 > total tokens, as
    (term, n) with n EXACT — Misra–Gries (32 counters) bounds the
    candidate set, an
    exact recount of only those candidates produces the answer (see
    module docstring for the completeness proof)."""

    def mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            for txt in pdf["text"]:
                if txt is None:
                    continue
                toks = [t for t in _WS.split(str(txt).lower()) if t]
                _mg_update(counters, toks, 32)
        yield pd.DataFrame({"term": list(counters)})

    cand = (
        docs.select("text")
        .mapInPandas(mg_partition, "term string")
        .distinct()
    )
    exploded = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    total = exploded.agg(F.count(F.lit(1)).alias("_N"))
    return (
        exploded.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * F.lit(32) > F.col("_N"))
        .select("term", "n")
    )


def novelty_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, n_novel, novelty) per document with ≥ 1 word
    3-gram: novelty = fraction of the doc's DISTINCT 3-grams whose corpus document
    frequency is exactly 1 (one IEEE division of two exact integers, so
    the oracle reproduces it bit-for-bit). Docs shorter than 3 tokens
    have no grams — novelty is undefined there and the rows are absent,
    mirroring containment_pairs' zero-denominator rule."""
    grams = docs.select(
        F.col("doc_id"),
        F.explode(word_ngrams_np()(F.col("text"))).alias("gram"),
    )
    df_counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
    return (
        grams.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("_df") == 1).cast("long")).alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_grams"))
    )


def top_terms_per_source(docs: DataFrame) -> DataFrame:
    """5 most frequent terms PER SOURCE (ties broken by term asc) — the
    per-group top-k shape every per-domain profiling report needs, as
    distinct from the global top-k (``term_freq``'s
    TakeOrderedAndProject) and the global heavy hitters.

    Plan: (source, term) rollup with map-side combine, then ONE window
    partitioned by source — rank state is per-source, skew bounded by the
    hottest single domain's DISTINCT-term count (vocabulary-bounded, far
    below its row count)."""
    counts = (
        docs.select(
            F.col("source"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return top_k(counts, ["source"], [F.col("n").desc(), "term"], 5,
                 rank="rank").select("source", "term", "n", "rank")


def token_share_curve(docs: DataFrame) -> DataFrame:
    """Corpus concentration (Lorenz curve): rank documents by token count
    DESCENDING (ties by id asc) and report the cumulative token share at
    each rank decile — "the top 10% of docs hold X% of the tokens", the
    skew diagnostic that decides whether per-doc caps are worth running.

    Output: (bucket 1..10, docs_cum, tokens_cum, token_share) with
    docs_cum/tokens_cum exact integers and token_share one IEEE division.
    Both global prefix sums (tokens and row rank) ride ONE
    ``global_cumsum_multi`` scan — no unpartitioned window anywhere; the
    final rollup is ≤ 10 rows."""
    from .pack import global_cumsum_multi
    from .quality import token_count

    t = (
        docs.select(
            F.col("doc_id"),
            token_count(F.col("text")).cast("long").alias("ntok"),
        )
        .filter(F.col("ntok") > 0)
        .withColumn("_one", F.lit(1).cast("long"))
    )
    cum = global_cumsum_multi(
        t,
        ["ntok", "_one"],
        [F.col("ntok").desc(), F.col("doc_id").asc()],
        ["tokens_cum", "rank"],
    )
    tot = cum.agg(
        F.max("rank").alias("_n"), F.max("tokens_cum").alias("_tok")
    )
    bucket = (
        (F.col("rank") - 1) * F.lit(10) - F.pmod(
            (F.col("rank") - 1) * F.lit(10), F.col("_n")
        )
    ) / F.col("_n") + 1
    return (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.max("rank").alias("docs_cum"),
            F.max("tokens_cum").alias("tokens_cum"),
            (F.max("tokens_cum") / F.max("_tok")).alias("token_share"),
        )
    )


def source_drift_chi2(docs: DataFrame) -> DataFrame:
    """χ² drift of each source's term distribution against the corpus —
    "which domains use which vocabulary unusually often/rarely", the
    per-source distribution-shift monitor a crawl pipeline runs per
    ingest (χ² independence test, Pearson 1900, public; the
    count-based formulation avoids KL's logarithm, whose libm rounding
    differs across engines).

    For each (source s, term t) with t in the HEAVY vocabulary (global
    count ≥ 50 — a threshold, not a top-k, so no global sort):

        obs = c_st,  exp = c_s·c_t / c
        contribution = (obs − exp)² / exp
                     = (c·c_st − c_s·c_t)² / (c·c_s·c_t·c)   ← rationals

    Emitted as the EXACT integer pair (num = (c·c_st − c_s·c_t)²,
    den = c·c_s·c_t) per cell — DECIMAL(38,0), since c·c_st reaches ~10¹²
    at sf1 and its square overflows int64. χ²_s = Σ_t num/(den·c); the
    divisions are the consumer's, the engine's answer is exact. Absent
    (s, t) cells (obs = 0) are INCLUDED, as the test requires — generated
    by a broadcast cross of the two bounded rollups (sources × heavy
    vocabulary), never a row-level cartesian.

    Scale posture: one (source, term) rollup with map-side combine over
    the exploded tokens (the only big shuffle), two bounded side rollups,
    broadcast joins back. Skew: decomposable counts — partial agg
    absorbs hot terms (measured r4: salting loses to map-side combine).
    """
    toks = docs.select(
        F.col("source"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c_st"))
    t = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c_t"))
        .filter(F.col("c_t") >= 50)
    )
    s = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("c_s"))
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("c"))
    grid = s.crossJoin(F.broadcast(t)).crossJoin(F.broadcast(tot))
    cells = grid.join(st, ["source", "term"], "left").withColumn(
        "c_st", F.coalesce(F.col("c_st"), F.lit(0)))
    dev = (F.col("c").cast("decimal(19,0)") * F.col("c_st")
           - F.col("c_s").cast("decimal(19,0)") * F.col("c_t"))
    return cells.select(
        "source",
        "term",
        (dev * dev).cast("decimal(38,0)").alias("chi2_num"),
        (F.col("c").cast("decimal(19,0)") * F.col("c_s") * F.col("c_t"))
        .cast("decimal(38,0)").alias("chi2_den"),
    )


def cooccurrence_counts(
    docs: DataFrame,
    window: int = 5,
) -> DataFrame:
    """Windowed term co-occurrence counts over the heavy vocabulary — the
    integer core of PMI / GloVe / SGNS-style association statistics
    (public: Church & Hanks 1990 PMI; Pennington 2014 GloVe counts).
    Emits (term_a ≤ term_b, n) for every unordered heavy-term pair whose
    occurrences sit within ``window`` tokens in the same document; PMI's
    logarithm is the consumer's — counts stay exact integers.

    Scale posture: the vocabulary filter (global count ≥ 50 — a
    threshold, no global sort) is BROADCAST back so the position table
    shrinks before the only expensive step; the pair join is keyed on
    doc_id (co-partitioned self-join, never cross-doc), its fan-out
    bounded by window × per-doc heavy-token count; the final rollup is a
    decomposable count with map-side combine, output bounded by the
    heavy-vocabulary square, not the corpus.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(tokens(F.col("text"))).alias("pos", "term"),
    )
    heavy = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 50)
        .select("term")
    )
    pos = toks.join(F.broadcast(heavy), "term")
    a = pos.select("doc_id", F.col("term").alias("ta"), F.col("pos").alias("pa"))
    b = pos.select("doc_id", F.col("term").alias("tb"), F.col("pos").alias("pb"))
    pairs = a.join(b, "doc_id").filter(
        (F.col("pb") > F.col("pa")) & (F.col("pb") <= F.col("pa") + window)
    )
    return pairs.groupBy(
        F.least("ta", "tb").alias("term_a"),
        F.greatest("ta", "tb").alias("term_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def kn_continuation(docs: DataFrame) -> DataFrame:
    """Kneser-Ney continuation statistics per token (Kneser & Ney 1995,
    public) — the table an LM-smoothing pipeline derives from a corpus:

        (token, freq, n_left, n_right)

    ``freq`` = raw unigram occurrences; ``n_left`` = N1+(•w), the number
    of DISTINCT predecessors (the KN continuation count — "how many
    contexts does w complete?", the quantity that replaces raw frequency
    in the lower-order KN distribution); ``n_right`` = N1+(w•), distinct
    successors (the branching factor that drives Witten-Bell smoothing).
    Bigrams are SEQUENTIAL with multiplicity (LM counts, not the dedup
    family's distinct grams) and never cross document boundaries; no
    BOS/EOS sentinels — first/last tokens simply lack a predecessor/
    successor, so Σ n_left = Σ n_right = distinct bigram types.

    Plan: one bigram-pair rollup (token-keyed shuffle with map-side
    combine — decomposable count, the measured r4 skew rule) after which
    BOTH continuation counts are plain count(*) scans of the DISTINCT
    pair table — no countDistinct shuffle anywhere; plus the unigram
    rollup. Three shuffles total, all on token keys, vocabulary-bounded.
    """
    tok = docs.filter(F.col("text").isNotNull()).select(
        tokens(F.col("text")).alias("ts")
    )
    uni = tok.select(F.explode("ts").alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    idx = F.sequence(F.lit(1), F.size("ts") - 1)
    big = tok.filter(F.size("ts") >= 2).select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("ts", i).alias("w1"),
                    F.element_at("ts", i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    )
    pairs = big.groupBy(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    ).agg(F.count(F.lit(1)).alias("_c"))
    lft = pairs.groupBy(F.col("w2").alias("token")).agg(
        F.count(F.lit(1)).cast("long").alias("n_left")
    )
    rgt = pairs.groupBy(F.col("w1").alias("token")).agg(
        F.count(F.lit(1)).cast("long").alias("n_right")
    )
    return (
        uni.join(lft, "token", "left")
        .join(rgt, "token", "left")
        .select(
            "token",
            "freq",
            F.coalesce("n_left", F.lit(0)).cast("long").alias("n_left"),
            F.coalesce("n_right", F.lit(0)).cast("long").alias("n_right"),
        )
    )


def freq_of_freqs(docs: DataFrame) -> DataFrame:
    """Good-Turing frequency-of-frequencies table (Good 1953, public) —
    the other half of the smoothing toolchain next to
    ``kn_continuation``: N_r = how many distinct token TYPES occur
    exactly r times. Good-Turing discounting reads r* = (r+1)·N_{r+1}/N_r
    straight off this table, and N_1 (the singleton mass) estimates the
    probability of unseen types; both divisions stay with the consumer —
    the engine emits the exact integer pairs (freq, n_types).

    Plan: token rollup (map-side combined) → freq rollup; output bounded
    by DISTINCT FREQUENCY VALUES (≤ O(√total_tokens) distinct values can
    exist), far below the vocabulary — two decomposable shuffles, the
    second on a tiny key space.
    """
    return (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .groupBy("freq")
        .agg(F.count(F.lit(1)).cast("long").alias("n_types"))
        .select(F.col("freq").cast("long").alias("freq"), "n_types")
    )
