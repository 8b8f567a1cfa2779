"""Deduplication operators for web-text corpora.

Strategies, cheapest first (each a `queries()` entry with an oracle where
SQL can express it):

- exact       : hash-groupBy on normalized text, keep min doc_id.
- ngram_jaccard: word-3-gram Jaccard similarity pairs above a threshold —
                the exact near-dup baseline (explode + equi-join on shared
                grams; at scale, run *after* LSH banding restricts pairs).
- minhash     : MinHash signatures over word-3-gram shingles with portable
                polynomial hashing (no engine-specific hash functions, so
                signatures match across Spark / DuckDB / anything).
- minhash_lsh : band the signatures, bucket-join candidate pairs, verify
                with exact Jaccard — the 100 TB near-dup path: shuffle is
                keyed on (band, band_hash) buckets, never all-pairs.
- simhash     : 64-bit simhash via vectorized numpy pandas-UDF, near-dup =
                hamming distance ≤ k on banded prefixes.

Shared pieces, one of each: ``_band_explode`` (rows → (_id, *carry,
band, key) from ``_sig_band_keys`` signature slices or ``_bit_band_keys``
sketch bit fields; both reject bands that do not tile the sketch),
``_band_self_join`` (distinct (a, b), a < b, per shared bucket — the
MinHash and embedding LSH candidates), ``_minhash_coeffs`` + ``_minhash_np``
(the MinHash kernel of both pandas UDFs) and ``_gram_overlap`` (gram pass,
df-cap and shared-gram count of the Jaccard and containment pairs).

Scale notes: all-pairs joins appear ONLY within an LSH bucket or an
explicit small group; every join key (gram hash, band hash, simhash band)
is a stable 64-bit int, salted-splittable if a bucket goes hot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .quality import tokens

MOD = 1_000_000_007
BASE = 31
SEED = 7


def normalized(text: Column) -> Column:
    return F.regexp_replace(F.lower(text), r"\s+", " ")


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min-id representative per identical normalized text."""
    return (
        df.withColumn("_norm", normalized(F.col("text")))
        .groupBy("_norm")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count"))
        .drop("_norm")
    )


def word_ngrams(text: Column) -> Column:
    """Distinct word 3-grams (space-joined) of the normalized text."""
    tok = tokens(text)
    # guard: Spark sequence(1, 0) DESCENDS → slice(…, 0) error on short docs
    idx = F.sequence(F.lit(1), F.size(tok) - 2)
    grams = F.when(
        F.size(tok) >= 3,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i, 3))),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def word_ngrams_np():
    """pandas UDF mirror of word_ngrams() — same values, Arrow-batched.

    Spark evaluates higher-order functions interpreted (no codegen), which
    makes the column version the bottleneck of gram-heavy stages; this
    kernel is the hot-path replacement (tests pin value equality)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _grams(texts: pd.Series) -> pd.Series:
        return pd.Series([_word_ngrams_py(t, 3) if t is not None else [] for t in texts])

    return _grams


def poly_hash(col: Column) -> Column:
    """Portable polynomial string hash (fold over characters, JVM-side).

    Deliberately NOT F.hash/xxhash64: those are Spark-private functions the
    oracle can't reproduce; this fold is plain integer arithmetic any SQL
    engine can run."""
    chars = F.filter(F.split(col, ""), lambda c: c != "")
    return F.aggregate(
        chars, F.lit(SEED).cast("long"),
        lambda acc, c: (acc * BASE + F.ascii(c)) % F.lit(MOD),
    )


# ------------------------------------------------ shared near-dup pieces


def _gram_overlap(
    df: DataFrame, max_gram_df: int | None, pair: Column,
) -> tuple[DataFrame, DataFrame]:
    """Shared word-3-gram counts of the doc pairs that meet ``pair`` (a predicate
    on ``a``/``b``): ``inter`` is (a, b, inter), ``sizes`` is (a, size_a),
    both over the df-capped gram sets when ``max_gram_df`` is set.

    One UDF pass, persisted: the gram arrays feed three consumers (both
    self-join sides + sizes) and would otherwise re-run the gram kernel
    per branch — locally a persist, at cluster scale a materialized grams
    table. Sizes via F.size (no extra shuffle) in the uncapped path."""
    ga = df.select(
        F.col("doc_id").alias("a"), word_ngrams_np()(F.col("text")).alias("_grams")
    ).persist()
    g = ga.select("a", F.explode("_grams").alias("gram"))
    if max_gram_df is not None:
        hot = (
            g.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_gram_df)
            .select("gram")
        )
        # anti-join against the (tiny) hot-gram set; persisted because the
        # filtered grams feed both self-join sides and the size recount
        g = g.join(hot, "gram", "left_anti").persist()
        sizes = g.groupBy("a").agg(F.count(F.lit(1)).alias("size_a"))
    else:
        sizes = ga.select("a", F.size("_grams").alias("size_a"))
    g2 = g.select(F.col("a").alias("b"), F.col("gram"))
    inter = (
        g.join(g2, "gram")
        .filter(pair)
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return inter, sizes


def _minhash_coeffs(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """(A_k, B_k) of h_k(g) = (A_k * poly(g) + B_k) mod MOD."""
    a = np.array([2 * k + 1 for k in range(num_hashes)], dtype=np.int64)
    b = np.array([7919 * (k + 1) for k in range(num_hashes)], dtype=np.int64)
    return a, b


def _minhash_np(grams: list[str], a: np.ndarray, b: np.ndarray) -> list[int]:
    """MinHash signature of one doc's grams; all-MOD sentinel if none."""
    if not grams:
        return [MOD] * len(a)
    gh = poly_hash_np(grams)
    return ((gh[:, None] * a[None, :] + b[None, :]) % MOD).min(axis=0).tolist()


def _band_width(size: int, bands: int) -> int:
    """Hashes or bits per band: the bands must tile the sketch exactly."""
    if not 1 <= bands <= size or size % bands:
        raise ValueError(f"bands={bands} must be >= 1 and divide the sketch size {size}")
    return size // bands


def _sig_band_keys(sig_col: str, num_hashes: int, bands: int) -> list[Column]:
    """Band keys of an array signature: `bands` equal slices."""
    r = _band_width(num_hashes, bands)
    return [F.slice(sig_col, b * r + 1, r) for b in range(bands)]


def _bit_band_keys(h_col: str, n_bits: int, bands: int) -> list[Column]:
    """Band keys of an integer sketch: `bands` equal bit fields, read as
    unsigned (a negative int64 bands as its 64-bit pattern)."""
    w = _band_width(n_bits, bands)
    # a long literal: the one-band mask of a 64-bit sketch is all ones, -1
    mask = (1 << w) - 1 if w < 64 else -1
    return [
        F.shiftrightunsigned(F.col(h_col), b * w).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]


def _band_explode(df: DataFrame, keys: list[Column], *carry: str) -> DataFrame:
    """(_id, *carry, band, key) rows, one per band key of each `_id` row."""
    bk = F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in enumerate(keys)
    ])).alias("bk")
    return df.select("_id", *carry, bk).select(
        "_id", *carry, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _band_self_join(banded: DataFrame) -> DataFrame:
    """Distinct (a, b) with a < b of the `_id`s sharing a (band, key) bucket."""
    other = banded.select(F.col("_id").alias("_id2"), "band", "key")
    return (
        banded.join(other, ["band", "key"])
        .filter(F.col("_id") < F.col("_id2"))
        .select(F.col("_id").alias("a"), F.col("_id2").alias("b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact word-3-gram Jaccard similarity for all pairs sharing ≥1 gram.

    (a, b, jaccard) with a < b, jaccard ≥ 0.5. Shuffle key = gram;
    pairs never materialize unless they share a gram.

    ``max_gram_df`` is the 100 TB guard: grams occurring in more than that
    many documents ("stop-grams") are dropped from BOTH the intersection
    and the per-doc sizes — i.e. Jaccard is computed over the df-capped
    gram sets, the standard df-capping semantics of production dedup
    (a single gram shared by 10^6 docs would otherwise materialize 10^12
    join pairs). With None (default) the similarity is exact over all
    grams; at scale either set the cap or run on LSH-candidate pairs only
    (see minhash_near_dups).
    """
    inter, sizes = _gram_overlap(df, max_gram_df, F.col("a") < F.col("b"))
    return (
        inter.join(sizes, "a")
        .join(sizes.select(F.col("a").alias("b"), F.col("size_a").alias("size_b")), "b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
    )


def poly_hash_np(strings: list[str]) -> np.ndarray:
    """Vectorized portable polynomial hash — bit-identical to poly_hash().

    Strings become a padded codepoint matrix; the fold runs one vectorized
    step per character column. int64-safe: h < MOD ≈ 2^30, h*31 + code
    ≪ 2^63."""
    if not strings:
        return np.zeros(0, dtype=np.int64)
    arr = np.array(strings, dtype="U")
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    maxlen = max(arr.dtype.itemsize // 4, 1)
    codes = arr.view(np.uint32).reshape(len(arr), -1).astype(np.int64)
    h = np.full(len(arr), SEED, dtype=np.int64)
    # mask by true length, not by code>0: strings may contain NUL, which is
    # indistinguishable from numpy's fixed-width padding otherwise
    for j in range(min(maxlen, codes.shape[1])):
        live = lengths > j
        if not live.any():
            break
        h = np.where(live, (h * BASE + codes[:, j]) % MOD, h)
    return h


def _word_ngrams_py(text: str, n: int) -> list[str]:
    """Python mirror of word_ngrams (normalized, distinct, order-preserving)."""
    toks = [t for t in str(text).lower().split() if t]
    if len(toks) < n:
        return []
    seen: dict[str, None] = {}
    for i in range(len(toks) - n + 1):
        seen.setdefault(" ".join(toks[i : i + n]), None)
    return list(seen)


def minhash_signature_np(num_hashes: int = 16, n: int = 3):
    """pandas UDF computing minhash_signature() values exactly, but with
    the numpy hash kernel — ~50× faster than the interpreted column fold
    (higher-order functions don't codegen). Returns array<long>."""
    from pyspark.sql.functions import pandas_udf

    a, b = _minhash_coeffs(num_hashes)

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        return pd.Series([
            _minhash_np(_word_ngrams_py(t, n) if t is not None else [], a, b)
            for t in texts
        ])

    return _sig


def minhash_signature(text: Column) -> Column:
    """MinHash signature: array of 16 min-values over gram hashes.

    h_k(g) = (A_k * poly(g) + B_k) mod MOD with fixed odd A_k, B_k.
    Empty-gram docs get MOD (sentinel > any hash).
    """
    grams = word_ngrams(text)
    gh = F.transform(grams, lambda g: poly_hash(g))
    a_k, b_k = _minhash_coeffs(16)
    sigs = []
    for k in range(16):
        a, b = int(a_k[k]), int(b_k[k])
        hk = F.transform(gh, lambda h: (h * a + b) % F.lit(MOD))
        sigs.append(
            F.coalesce(F.array_min(hk), F.lit(MOD).cast("long")).alias(f"mh{k}")
        )
    return F.array(*sigs)


def minhash_near_dups(df: DataFrame) -> DataFrame:
    """Full near-dup pipeline: LSH candidates (16 hashes in 4 bands) →
    exact Jaccard verify, keeping pairs with jaccard ≥ 0.5.

    Grams + signatures come from ONE fused pandas-UDF pass, persisted: the
    banding branch needs the signature and the verify branch needs the gram
    arrays — separate UDF stages would tokenize every document twice (and
    Spark would recompute the shared subtree per branch anyway). Locally a
    persist; at cluster scale this is the materialized (id, grams, sig)
    table a production dedup pipeline writes once per corpus snapshot.
    """
    from pyspark.sql.functions import pandas_udf

    a, b = _minhash_coeffs(16)

    @pandas_udf("struct<grams: array<string>, sig: array<long>>")
    def _gs(texts: pd.Series) -> pd.DataFrame:
        grams = [_word_ngrams_py(t, 3) if t is not None else [] for t in texts]
        return pd.DataFrame({"grams": grams, "sig": [_minhash_np(g, a, b) for g in grams]})

    base = (
        df.select(F.col("doc_id").alias("_id"), _gs(F.col("text")).alias("_gs"))
        .select("_id", F.col("_gs.grams").alias("_grams"), F.col("_gs.sig").alias("_sig"))
        .persist()
    )

    # empty-gram docs all share the sentinel signature → they'd bucket with
    # each other in every band (quadratic candidates) and never verify;
    # exclude them from banding (the verify side keeps them — joins on
    # candidate ids only, so output is unchanged)
    cand = _band_self_join(_band_explode(
        base.filter(F.size("_grams") > 0), _sig_band_keys("_sig", 16, 4)
    ))
    g = base.select(F.col("_id").alias("_gid"), F.col("_grams"))
    j = (
        cand.join(g.withColumnRenamed("_gid", "a").withColumnRenamed("_grams", "ga"), "a")
        .join(g.withColumnRenamed("_gid", "b").withColumnRenamed("_grams", "gb"), "b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn("uni", F.size(F.array_union("ga", "gb")))
        .withColumn("jaccard", F.when(F.col("uni") > 0, F.col("inter") / F.col("uni"))
                    .otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
    )
    return j


# --------------------------------------------------------------- simhash

# 64 independent affine transforms of the portable poly hash; bit k votes +1
# when (poly(tok) * A_k + B_k) mod P falls below P/2 (random-threshold
# construction). Plain integer arithmetic → bit-identical in ANY SQL engine,
# unlike the usual blake2b/xxhash token hashing. A_k must be well-mixed
# ~30-bit constants: small odd multipliers (1,3,5,…) leave neighbouring
# bits correlated per token and collapse the signature's effective entropy
# (measured: hamming≤10 pair count exploded 100× before the Knuth-style
# multiplicative spread below).
_SIM_A = np.array([(2654435761 * (k + 1)) % MOD for k in range(64)], dtype=np.int64)
_SIM_B = np.array([(40503 * (k + 1) * 104729) % MOD for k in range(64)], dtype=np.int64)
_SIM_HALF = MOD // 2


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit simhash per text: majority vote over portable token-hash bits.

    bit_k = 1 iff strictly more tokens satisfy (poly(tok)*A_k+B_k) mod P <
    P//2 than not (frequency-weighted: repeated tokens vote repeatedly).
    The value is the two's-complement int64 of the 64-bit word.
    """
    out = np.zeros(len(texts), dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for i, t in enumerate(texts):
        if not t:
            continue
        toks = str(t).lower().split()
        if not toks:
            continue
        gh = poly_hash_np(toks)
        hk = (gh[:, None] * _SIM_A[None, :] + _SIM_B[None, :]) % MOD
        pos = (hk < _SIM_HALF).sum(axis=0)
        bits = (2 * pos > len(toks)).astype(np.uint64)
        val = int((bits << shifts).sum(dtype=np.uint64))
        out[i] = val - (1 << 64) if val >= (1 << 63) else val
    return pd.Series(out)


def with_simhash(df: DataFrame) -> DataFrame:
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        return _simhash_batch(texts)

    return df.withColumn("simhash", _sh(F.col("text")))


def simhash_near_dups(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dups by simhash hamming distance ≤ max_hamming.

    Banding (pigeonhole): distance ≤ 3 implies one of 4 16-bit
    slices matches exactly → candidates join on (band, slice), verified by
    exact popcount. Never all-pairs.

    RECALL CONTRACT: every emitted pair truly has hamming ≤ max_hamming
    (precision is exact), but candidate recall is only GUARANTEED for
    distance ≤ 3 (pigeonhole). With max_hamming > 3 this is
    banding-limited recall — the standard simhash trade (Manku et al.'s
    table-based scheme makes the same one): a true pair whose four 16-bit
    slices all differ is not surfaced. ``banded_hamming_pairs`` with
    ``bands = max_hamming + 1`` gives guaranteed-complete output at the
    price of a proportionally larger band join.

    Tokenless docs (simhash 0) are excluded up front: they'd pairwise match
    at hamming 0 (O(empty²) output) while sharing no content at all. The
    gate is the TOKENIZER's emptiness (split on \\s+ yields nothing), not
    trim() — trim strips only ASCII spaces, so a tab/newline-only doc would
    slip through a trim gate yet still hash to 0.
    """
    from .quality import token_count

    src = df.filter(
        F.col("text").isNotNull() & (token_count(F.col("text")) > 0)
    )
    sh = with_simhash(src).select(F.col("doc_id").alias("_id"), "simhash")
    return banded_hamming_pairs(sh, "simhash", max_hamming, 4)


def banded_hamming_pairs(
    sh: DataFrame, hash_col: str, max_hamming: int, bands: int
) -> DataFrame:
    """Banded self-join for 64-bit Hamming near-dup: explode each row into
    `bands` (band, slice) keys, equi-join on the key, verify by exact
    popcount. Shared by simhash (text) and ahash (image) near-dup — the
    recall contract is the caller's: complete iff max_hamming ≤ bands-1.
    bands must divide 64 (ValueError otherwise).

    `sh` must carry a unique `_id` plus the 64-bit hash column. Output:
    (a, b, hamming) with a < b, one row per verified pair."""
    sh = sh.select("_id", F.col(hash_col).alias("_h"))
    banded = _band_explode(sh, _bit_band_keys("_h", 64, bands), "_h")
    other = banded.select(
        F.col("_id").alias("_id2"), F.col("_h").alias("_h2"), "band", "key"
    )
    pairs = (
        banded.join(other, ["band", "key"])
        .filter(F.col("_id") < F.col("_id2"))
        .select("_id", "_id2", "_h", "_h2")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("_h").bitwiseXOR(F.col("_h2"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("_id").alias("a"), F.col("_id2").alias("b"), "hamming")
    )
    return pairs


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS → canonical survivors: the step
    a real dedup pipeline runs after any pair generator (MinHash-LSH,
    SimHash, embedding-LSH), because near-duplication is transitive in
    practice — A~B and B~C must collapse to ONE kept document, which
    pairwise drop-the-second logic gets wrong.

    Connected components run via :func:`insights_spark.geo.vectorize.
    star_cc_labels` (alternating large-star/small-star contraction,
    Kiveris et al. — O(log² n) rounds on any topology, per-round state is
    just the shrinking edge list, shuffles keyed on node id so AQE skew
    handling applies). Cluster id = minimum doc id of the component;
    the canonical survivor is the cluster-id doc itself (keep-first-
    crawled). Docs in no pair are their own singleton cluster.

    Output: (id, cluster_id, is_canonical) for EVERY input doc — the drop
    set is `~is_canonical`, the mapping table is the whole output.
    """
    from ..geo.vectorize import star_cc_labels

    edges = pairs.select(F.col("a").alias("id"), F.col("b").alias("nbr_id"))
    labels = star_cc_labels(edges)
    base = docs.select(F.col(id_col))
    joined = base.join(labels.withColumnRenamed("id", id_col), id_col, "left")
    cl = F.coalesce(F.col("label"), F.col(id_col))
    return joined.select(
        F.col(id_col),
        cl.cast("long").alias("cluster_id"),
        (F.col(id_col) == cl).alias("is_canonical"),
    )


def minhash_vs_index(batch_sigs: DataFrame, index_sigs: DataFrame) -> DataFrame:
    """Incremental near-dedup: NEW documents against an EXISTING corpus's
    stored MinHash signature index — the cross-corpus step the corpus job
    runs per ingest batch (its exact-hash anti-join catches verbatim
    copies; this catches near-copies) without ever re-reading indexed
    TEXT: the index side is 16 longs per doc (~128 B), so the
    verify is signature-estimated Jaccard (equal-position fraction — the
    unbiased MinHash estimator), the standard at-scale compromise when
    the corpus text is cold storage.

    Shape: both sides explode into (band, slice) keys; ONE bucket-keyed
    equi-join (shuffle bounded by touched buckets — a batch touches
    O(batch × bands) buckets, never the whole index); candidate pairs
    dedup by (a, b); estimator is exact integer arithmetic (count of
    equal positions / 16, one division) so the oracle reproduces
    it bit-for-bit. All-sentinel (gram-less) docs drop up front — they
    would bucket-collide with every other empty doc and verify at 1.0
    despite sharing no content.

    Output: (a = batch id, b = index id, est_jaccard ≥ 0.5).
    """
    # r6 (guide §2.3 "shuffle keys, not payloads"): the band join now
    # carries ONLY (id, band, slice); the full signatures re-attach to the
    # deduped candidate pairs afterwards — the old plan shipped both
    # 16-long signature arrays through every band replica and the bucket
    # shuffle. Both sides still explode from the same upstream signature
    # frame, so callers should persist it (the entry does).
    def banded(df, idc, side):
        s = df.filter(F.element_at("sig", 1) != MOD).select(
            F.col(idc).alias("_id"), F.col("sig").alias("_sig")
        )
        return _band_explode(s, _sig_band_keys("_sig", 16, 4)) \
            .withColumnRenamed("_id", side)

    cand = (
        banded(batch_sigs, "doc_id", "a")
        .join(banded(index_sigs, "doc_id", "b"), ["band", "key"])
        .select("a", "b")
        .distinct()
    )
    att = (
        cand.join(
            batch_sigs.select(F.col("doc_id").alias("a"),
                              F.col("sig").alias("_asig")),
            "a",
        )
        .join(
            index_sigs.select(F.col("doc_id").alias("b"),
                              F.col("sig").alias("_bsig")),
            "b",
        )
    )
    eq = F.aggregate(
        F.zip_with("_asig", "_bsig", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        att.withColumn("est_jaccard", eq / F.lit(16.0))
        .filter(F.col("est_jaccard") >= 0.5)
        .select("a", "b", "est_jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Directed word-3-gram containment: C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)|.

    The quote-inclusion detector Jaccard structurally misses: a short doc
    pasted verbatim inside a much longer one has containment ≈ 1.0 while
    Jaccard ≈ |a|/|b| ≈ 0 (the reference problem in web-corpus dedup —
    boilerplate-wrapped syndicated articles, quoted posts; cf. Broder's
    resemblance vs containment distinction). Output: (a, b, containment)
    with a ≠ b, containment ≥ threshold — DIRECTED, so a ⊂ b and b ⊂ a
    both emit when both clear the bar (mutual containment ≈ Jaccard ≈ 1).

    Shape: the same ``_gram_overlap`` pass as ngram_jaccard_pairs — one
    Arrow gram pass (persisted: feeds both join sides + sizes), gram-keyed
    equi-join so pairs sharing zero grams never materialize, ONE (a,b)
    rollup; the only differences are the denominator (|a| alone) and
    keeping both directions (a != b) instead of a < b. ``max_gram_df`` is
    the same stop-gram guard — containment is then over df-capped gram
    sets. Docs with no grams (< n tokens) cannot appear on either side: a
    zero denominator is undefined, not 100%-contained.
    """
    inter, sizes = _gram_overlap(df, max_gram_df, F.col("a") != F.col("b"))
    return (
        inter.join(sizes, "a")
        .withColumn("containment", F.col("inter") / F.col("size_a"))
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )


def passage_dedup(df: DataFrame) -> DataFrame:
    """Sub-document exact dedup — the C4/RefinedWeb "repeated passage"
    rule the whole-document detectors structurally miss: a boilerplate
    block or syndicated paragraph pasted into otherwise-distinct pages
    never makes the DOCUMENTS near-dups, but its second and later copies
    are still zero-information for training. Each document's token stream
    is cut into fixed 10-token windows (non-overlapping, last one
    short); a chunk instance SURVIVES iff it is the globally FIRST
    occurrence of that exact chunk text in (doc_id, position) order —
    deterministic, partitioning-invariant, and exactly reproducible by
    the SQL oracle (keep-first = one min(struct) per chunk text).

    Output per document with ≥1 token: (doc_id, n_chunks, n_kept,
    tokens_kept, tokens_removed) — the accounting view (the cleaned text
    itself is `concat_ws` of kept chunks, left to the caller so the
    rollup stays integer-exact).

    Scale posture (100 TB): ONE shuffle keyed on the chunk text for the
    keep-first pick (for a 10^12-doc crawl, key on (xxhash64(chunk),
    chunk) to shrink exchange rows — same plan, shorter keys), one
    doc-keyed rollup; no UDF, no collect. Chunking itself is a
    transform/slice column expression — map-only.
    """
    C = 10
    toks = df.select(
        F.col("doc_id"), tokens(F.col("text")).alias("_tok")
    ).filter(F.size("_tok") > 0)
    n_chunks = (F.size("_tok") + F.lit(C - 1)).cast("long") / F.lit(C)
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), F.floor(n_chunks).cast("long") - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.array_join(
                F.slice("_tok", (i * C + 1).cast("int"), C), " "
            ).alias("chunk"),
            F.least(F.lit(C).cast("long"), F.size("_tok") - i * C).alias("clen"),
        ),
    )
    inst = toks.select(
        "doc_id", F.explode(chunks).alias("_s")
    ).select(
        "doc_id",
        F.col("_s.idx").alias("idx"),
        F.col("_s.chunk").alias("chunk"),
        F.col("_s.clen").alias("clen"),
    )
    firsts = inst.groupBy("chunk").agg(
        F.min(F.struct(F.col("doc_id"), F.col("idx"))).alias("_f")
    )
    flagged = inst.join(firsts, "chunk").withColumn(
        "_kept",
        (F.col("_f.doc_id") == F.col("doc_id")) & (F.col("_f.idx") == F.col("idx")),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("_kept").cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("_kept"), F.col("clen")).otherwise(0)).alias(
            "tokens_kept"
        ),
        F.sum(F.when(~F.col("_kept"), F.col("clen")).otherwise(0)).alias(
            "tokens_removed"
        ),
    )


def cluster_savings(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Dedup accounting per near-dup cluster — the number every dedup run
    reports upward: how much does keeping one canonical doc per cluster
    actually save? Input ``clusters`` is near_dup_clusters' output
    (doc_id, cluster_id, is_canonical; cluster_id = the canonical doc by
    construction). Output per cluster: n_docs, n_sources (distinct),
    total_chars, kept_chars (the canonical doc's), saved_chars =
    total − kept. Singleton clusters report saved_chars 0.

    One broadcast-or-hash join on the doc id + one cluster-keyed rollup;
    all integers exact.
    """
    j = clusters.select(
        F.col("doc_id"), "cluster_id"
    ).join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    return j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(
            F.when(F.col("doc_id") == F.col("cluster_id"),
                   F.col("n_chars")).otherwise(0)
        ).alias("kept_chars"),
    ).withColumn("saved_chars", F.col("total_chars") - F.col("kept_chars"))


def prefix_jaccard_pairs(df: DataFrame) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering — the scalable
    exact counterpart to MinHash-LSH (Chaudhuri et al. ICDE'06 /
    Bayardo et al. WWW'07 "Scaling Up All Pairs", both public). LSH is
    probabilistic (misses pairs at a known rate); ``ngram_jaccard_pairs``
    is exact but joins on EVERY shared gram; prefix filtering is exact
    AND generates candidates only from each document's rarest grams.

    Threshold is the rational t = 1/2 so both the prefix length and the
    final gate are INTEGER arithmetic: under one global gram order, two
    sets with J ≥ t must share a gram within their first
    ``|s| − ⌈t·|s|⌉ + 1`` grams (if the prefixes were disjoint, the
    overlap is at most min(|a|,|b|) − prefix excess < t·|a∪b| — the
    standard lemma), where ⌈t·|s|⌉ = (1·|s| + 1) div 2. The global
    order is (df, gram) ascending — rarest first, total because gram
    strings are unique — so prefixes hold precisely the grams least
    likely to collide.

    Output: (a, b, inter, uni, jaccard) with a < b and
    inter·2 ≥ uni·1 (exact integer gate); ``jaccard`` itself is
    ONE IEEE division of the two exact integers. Grams are DISTINCT word
    3-grams; docs with < 3 tokens have no grams and never pair.

    Scale posture (100 TB): the df table is one decomposable gram-keyed
    count; the sort key attach is ONE gram-keyed join back to the
    exploded grams; candidate generation explodes ONLY the ~(1−t)·|s|
    prefix grams and equi-joins on gram — hot grams sort to the END of
    the order and stay out of prefixes, which is what bounds the
    candidate blowup (the same role the df-cap plays for
    ngram_jaccard_pairs, but without changing the similarity's
    semantics). Verification joins the two bounded gram arrays per
    surviving candidate — never all-pairs.
    """
    ga = df.select(
        F.col("doc_id").alias("id"),
        word_ngrams_np()(F.col("text")).alias("_g"),
    ).where(F.size("_g") > 0).persist()
    g = ga.select("id", F.explode("_g").alias("gram"))
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    # global (df, gram) sort order attached in one gram-keyed join, then
    # re-rolled per doc; prefix = first |s| - ceil(t*|s|) + 1 grams
    sorted_g = (
        g.join(dfreq, "gram")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "gram"))).alias("_sg"))
        .select(
            "id",
            F.transform("_sg", lambda s: s["gram"]).alias("_grams"),
        )
    )
    sz = F.size("_grams")
    ceil_ts = F.expr("(1 * size(_grams) + 1) div 2")
    plen = sz.cast("long") - ceil_ts + F.lit(1)
    prefix = sorted_g.select(
        "id", F.explode(F.slice("_grams", 1, plen)).alias("gram")
    )
    cand = (
        prefix.select(F.col("id").alias("a"), "gram")
        .join(prefix.select(F.col("id").alias("b"), "gram"), "gram")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        # pinned-count fan-out (r6, guide §2.5): the candidate pair rows
        # are byte-tiny, so AQE coalesced the verify stage to a few tasks
        # — but each pair pays an array_intersect over the full gram
        # arrays (CPU-dense); a user-specified repartition is exempt from
        # coalescing and the verify joins stay broadcast map-side
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    verified = (
        cand.join(ga.select(F.col("id").alias("a"),
                            F.col("_g").alias("_ga")), "a")
        .join(ga.select(F.col("id").alias("b"),
                        F.col("_g").alias("_gb")), "b")
        .select(
            "a", "b",
            F.size(F.array_intersect("_ga", "_gb")).cast("long")
            .alias("inter"),
            (F.size("_ga") + F.size("_gb")).cast("long").alias("_sab"),
        )
        .withColumn("uni", F.col("_sab") - F.col("inter"))
        .where(F.col("inter") * F.lit(2) >= F.col("uni") * F.lit(1))
    )
    return verified.select(
        "a", "b", "inter", "uni",
        (F.col("inter") / F.col("uni")).alias("jaccard"),
    )


def cdc_chunks(df: DataFrame) -> DataFrame:
    """Content-defined chunking — the rsync/LBFS rolling-hash boundary
    scheme (Muthitacharoen et al. SOSP'01, public) that underlies
    binary-level corpus dedup: a chunk boundary falls AFTER character i
    whenever the polynomial hash of the trailing 8 chars is
    ≡ 0 (mod 64), so boundaries are anchored to CONTENT, not
    offsets — an insertion early in a document shifts every fixed-size
    chunk but leaves all CDC chunks after the next anchor identical,
    which is what makes chunk-hash dedup robust to edits (the property
    fixed-stride ``passage_dedup`` lacks; expected chunk length ≈
    64 chars). This is the STATELESS variant — every anchor
    cuts, no min/max clamp — so the chunking is a pure per-position
    predicate, reproducible in ANSI SQL.

    Output: (doc_id, chunk_idx, start, length, chash) — 0-based chunk
    index, 1-based char offset, and the portable ``poly_hash`` of the
    chunk text (the dedup key: one chunk-hash rollup away from the
    shared-bytes table). Hash arithmetic is the same (31, 1e9+7) fold as
    ``poly_hash``/``poly_hash_np`` — bit-identical in DuckDB — with the
    boundary hash maintained as a TRUE rolling update (subtract the
    outgoing char's base^(w−1) term, one multiply-add per char).

    Scale posture: MAP-ONLY — no shuffle anywhere; Arrow-batched kernel,
    one pass per document, O(len) per doc. The dedup application
    (groupBy chash) adds the single chunk-keyed shuffle.
    """
    from pyspark.sql.functions import pandas_udf

    window = 8
    bw = pow(BASE, window - 1, MOD)  # base^(w-1) for the rolling eviction
    # the seed contributes the CONSTANT 7·base^w to every window hash, so
    # the rolling state tracks the seedless char polynomial and the
    # boundary test adds sw back — a naive (h−evict)·B+c roll would
    # multiply the seed term once per slide and diverge from poly_hash
    sw = (SEED * pow(BASE, window, MOD)) % MOD

    @pandas_udf("array<struct<chunk_idx:int,start:long,length:long,chash:long>>")
    def _chunks(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None or len(t) == 0:
                out.append([])
                continue
            n = len(t)
            codes = [ord(c) for c in t]
            cuts = []
            if n >= window:
                p = 0
                for j in range(window):
                    p = (p * BASE + codes[j]) % MOD
                if (sw + p) % MOD % 64 == 0:
                    cuts.append(window)
                for i in range(window, n):
                    p = ((p - codes[i - window] * bw) * BASE + codes[i]) % MOD
                    if (sw + p) % MOD % 64 == 0:
                        cuts.append(i + 1)
            if not cuts or cuts[-1] < n:
                cuts.append(n)
            chunks, prev = [], 0
            for idx, c in enumerate(cuts):
                ch = SEED
                for j in range(prev, c):
                    ch = (ch * BASE + codes[j]) % MOD
                chunks.append((idx, prev + 1, c - prev, ch))
                prev = c
            out.append(chunks)
        return pd.Series(out)

    return (
        df.select(F.col("doc_id"), F.col("text").alias("_t"))
        .where(F.col("_t").isNotNull() & (F.length("_t") > 0))
        .select("doc_id", F.explode(_chunks(F.col("_t"))).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.start").alias("start"),
            F.col("c.length").alias("length"),
            F.col("c.chash").alias("chash"),
        )
    )


def cdc_containment(df: DataFrame) -> DataFrame:
    """Chunk-level containment — the APPLICATION query of ``cdc_chunks``
    and the binary-level sibling of the gram-based ``containment_pairs``:
    two documents that share content-defined chunks share literal byte
    runs, robust to insertions (the CDC anchor property), so
    ``shared_bytes / min(len_a, len_b)`` measures quote-inclusion without
    any tokenizer.

    Candidates come ONLY from the chunk-hash equi-join on (chash, length)
    — never all-pairs — with a 64-document frequency cap on
    chunks (boilerplate chunks shared by everything are dropped from
    CANDIDATE GENERATION exactly like hot grams in the minhash df-cap;
    the measured quantity is then shared RARE bytes, which is the
    dedup-relevant signal). Shared bytes count each DISTINCT (chash,
    length) once per pair. Gate: shared·10⁶ ≥ 200000 ·
    min(len_a, len_b) in exact integers.

    Output: (a, b, shared_bytes, a_len, b_len) with a < b.
    """
    ch = (
        cdc_chunks(df)
        .select("doc_id", "length", "chash")
        .distinct()
    )
    keep = (
        ch.groupBy("chash", "length")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= F.lit(64))
        .select("chash", "length")
    )
    ch = ch.join(keep, ["chash", "length"]).persist()
    pairs = (
        ch.select(F.col("doc_id").alias("a"), "chash", "length")
        .join(ch.select(F.col("doc_id").alias("b"), "chash", "length"),
              ["chash", "length"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("length").cast("long").alias("shared_bytes"))
    )
    dl = df.select(
        F.col("doc_id").alias("_d"),
        F.length("text").cast("long").alias("_len"),
    ).where(F.col("_len") > 0)
    return (
        pairs.join(dl.select(F.col("_d").alias("a"),
                             F.col("_len").alias("a_len")), "a")
        .join(dl.select(F.col("_d").alias("b"),
                        F.col("_len").alias("b_len")), "b")
        .where(
            F.col("shared_bytes") * F.lit(1_000_000)
            >= F.lit(200_000) * F.least("a_len", "b_len")
        )
        .select("a", "b", "shared_bytes", "a_len", "b_len")
    )
