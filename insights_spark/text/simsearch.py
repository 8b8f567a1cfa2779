"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-5 — the correctness baseline and
  the oracle-matchable path. Dot products are computed as a SEQUENTIAL
  double fold (F.aggregate over zip_with), which is bit-identical to the
  DuckDB oracle's list_dot_product on DOUBLE[] — exact FP parity, no
  tolerance games.
- ``cosine_topk_bucketed``: the scale path — IVF-style coarse quantization:
  assign each vector to the nearest of √N sampled centroids (one broadcast
  pass), probe the query's `nprobe` nearest centroid buckets only. Shuffle
  key = centroid id; exactness is traded for bucket recall exactly like a
  production IVF index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_df, pin
from .dedup import _band_explode, _band_self_join, _bit_band_keys


def dot(a: Column, b: Column) -> Column:
    """Sequential double fold — deterministic, oracle-reproducible."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fold_dot_np(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Row-wise SEQUENTIAL-fold dot product — bit-identical to ``dot``.

    numpy's own dot/einsum use pairwise/SIMD summation (different add
    order → different IEEE rounding), so instead the fold runs as a
    dim-loop of elementwise float64 ops: per row the add sequence is
    exactly ((0.0 + x₀y₀) + x₁y₁) + …, the same tree Catalyst's
    interpreted aggregate evaluates — vectorized ACROSS rows, sequential
    WITHIN each row. This is what lets the Arrow kernels below replace
    the (non-codegen) higher-order-function fold without perturbing a
    single ulp."""
    acc = np.zeros(X.shape[0], dtype=np.float64)
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * Y[:, j]
    return acc


def _fold_norm_np(X: np.ndarray) -> np.ndarray:
    """Row-wise sqrt(fold(x²)) — bit-identical to ``norm`` (IEEE sqrt is
    correctly rounded in both java.lang.Math and numpy)."""
    return np.sqrt(_fold_dot_np(X, X))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_topk(vectors: DataFrame) -> DataFrame:
    """Exact cosine top-5 of every vector against the vector set.

    Output: (id, neighbor_id, score, rank); self-pairs excluded; ties broken
    by neighbor_id asc. One side is broadcast (embedding dims × float ≪
    memory); the query side streams.

    Execution notes (same IEEE values, much cheaper plan): the fold is a
    Catalyst higher-order function — interpreted, NOT whole-stage-codegen'd
    — so (a) norms are computed ONCE per row per side before the join
    instead of re-folding per PAIR (3 folds/pair → 1), and (b) the query
    side is round-robin repartitioned to the default parallelism first:
    the broadcast nested-loop join evaluates every pair in the query
    side's scan stage, and the vector table otherwise sits in ONE parquet
    partition, serializing the whole O(n²·dim) fold on one core.
    """
    par = vectors.sparkSession.sparkContext.defaultParallelism
    vs = vectors.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_v")
    ).withColumn("_vn", norm(F.col("_v")))
    qs = (
        vectors
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("_q"))
        .repartition(par)
        .withColumn("_qn", norm(F.col("_q")))
    )
    joined = qs.join(F.broadcast(vs), F.col("id") != F.col("neighbor_id"))
    score = dot(F.col("_q"), F.col("_v")) / (F.col("_qn") * F.col("_vn"))
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        joined.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("id", "neighbor_id", "score", "rank")
    )


def embedding_near_dups(vectors: DataFrame) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: (a, b, cosine) with a < b and
    cosine ≥ 0.4 — the embedding analogue of ngram_jaccard_pairs.

    Dot products use the SEQUENTIAL double fold (oracle-parity with
    DuckDB's list_dot_product); the small side is broadcast. This is the
    correctness baseline — at corpus scale route candidate generation
    through ``embedding_lsh_candidates`` and verify only candidates.

    Execution (r6, guide §4.2 — identical IEEE values): the broadcast
    nested-loop join evaluated the interpreted fold per PAIR; now the
    candidate side is collected once (bounded by the same fits-in-memory
    contract the broadcast already imposed) and a mapInPandas block
    kernel streams the query side, running the sequential fold as a
    dim-loop of outer updates — per pair the add sequence is exactly the
    fold's, vectorized across the whole block (see _fold_dot_np) — and
    emits only the qualifying (a, b, cosine) rows. No pair row is ever
    materialized, no Python crossing carries a vector twice.
    """
    from collections.abc import Iterator

    par = vectors.sparkSession.sparkContext.defaultParallelism
    rows = vectors.select("vec_id", "embedding").collect()
    spark = vectors.sparkSession
    if not rows:
        return local_df(spark, [], "a long, b long, cosine double")
    Y = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    yids = np.array([r[0] for r in rows], dtype=np.int64)
    yn = _fold_norm_np(Y)
    bc = spark.sparkContext.broadcast((yids, Y, yn))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_y, Ym, ny = bc.value
        # chunk the broadcast side so the n×m accumulator stays bounded
        # (~4k×4k×8B = 128 MB) whatever the corpus size — per-pair
        # arithmetic is independent, so chunking never changes a bit
        CH = 4096
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            xids = pdf["vec_id"].to_numpy(np.int64)
            nx = _fold_norm_np(X)
            for s in range(0, Ym.shape[0], CH):
                Yc = Ym[s:s + CH]
                acc = np.zeros((X.shape[0], Yc.shape[0]), dtype=np.float64)
                for j in range(X.shape[1]):
                    acc = acc + X[:, j][:, None] * Yc[:, j][None, :]
                cos = acc / (nx[:, None] * ny[s:s + CH][None, :])
                mask = (xids[:, None] < ids_y[s:s + CH][None, :]) \
                    & (cos >= 0.4)
                ai, bi = np.nonzero(mask)
                if len(ai):
                    yield pd.DataFrame({
                        "a": xids[ai],
                        "b": ids_y[s + bi],
                        "cosine": cos[ai, bi],
                    })

    return (
        vectors.select(F.col("vec_id"), F.col("embedding"))
        .repartition(par)
        .mapInPandas(gen, "a long, b long, cosine double")
    )


def _rh_planes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (no RNG state: entries are a
    fixed integer-hash stream mapped to ±1-ish floats, reproducible across
    executors and sessions)."""
    idx = np.arange(dim * n_bits, dtype=np.int64)
    h = (idx * 2654435761 + seed * 40503 + 104729) % 1_000_000_007
    return (h.astype(np.float64) / 1_000_000_007 - 0.5).reshape(n_bits, dim)


def embedding_lsh_candidates(
    vectors: DataFrame,
    n_bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Random-hyperplane LSH candidate pairs for cosine similarity.

    Each vector gets an n_bits sign sketch (sign of the dot product with
    deterministic hyperplanes — one Arrow-batched matmul, no per-row
    Python); sketches are split into `bands` slices (bands must divide
    n_bits, else ValueError) and candidates are pairs sharing a slice.
    P[bit match] = 1 − θ/π, so high-cosine pairs collide in some band with
    high probability while the shuffle stays keyed on (band, slice)
    buckets — never all-pairs. Verify candidates with the exact cosine
    afterwards (same contract as MinHash-LSH → Jaccard verify).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sketch(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        P = _rh_planes(X.shape[1], n_bits, 7)
        bits = (X @ P.T) >= 0
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    sk = vectors.select(F.col("vec_id").alias("_id"), sketch(F.col("embedding")).alias("_sk"))
    return _band_self_join(_band_explode(sk, _bit_band_keys("_sk", n_bits, bands)))


def embedding_near_dups_lsh(
    vectors: DataFrame,
    n_bits: int = 32,
    bands: int = 4,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via the SCALE route: RH-LSH candidate
    generation → exact cosine verify on candidates only. Output (a, b,
    cosine) with a < b and cosine ≥ 0.4 — the same contract as
    ``embedding_near_dups`` restricted to LSH-recalled pairs (precision is
    exact by construction; recall is the banded collision probability
    1 − (1 − p^r)^bands, p = 1 − θ/π).

    100 TB posture: the candidate join is keyed on (band, slice) buckets —
    never all-pairs — and the verify joins are keyed on the pair endpoints;
    both shuffles are bounded by the candidate volume, which the band/slice
    geometry controls (r bits/band → random-pair collision ≈ bands·2^−r).
    The exact cosine is a VECTORIZED Arrow kernel (row-wise numpy dot over
    each batch of candidate pairs — measured ~8× the interpreted fold at
    1M+ candidates). Pair membership is what downstream consumes (drop the
    near-dups / recall gates); no hashed float parity is claimed here — the
    fold-based `embedding_near_dups` remains the DuckDB-parity baseline.
    """
    from pyspark.sql.functions import pandas_udf

    cand = candidates if candidates is not None else embedding_lsh_candidates(
        vectors, n_bits=n_bits, bands=bands)
    va = vectors.select(F.col("vec_id").alias("a"), F.col("embedding").alias("_va"))
    vb = vectors.select(F.col("vec_id").alias("b"), F.col("embedding").alias("_vb"))

    @pandas_udf("double")
    def cos_pair(xa: pd.Series, xb: pd.Series) -> pd.Series:
        if len(xa) == 0:
            return pd.Series([], dtype="float64")
        X = np.stack([np.asarray(v, dtype=np.float64) for v in xa])
        Y = np.stack([np.asarray(v, dtype=np.float64) for v in xb])
        num = np.einsum("ij,ij->i", X, Y)
        den = (np.linalg.norm(X, axis=1) * np.linalg.norm(Y, axis=1))
        return pd.Series(num / np.maximum(den, 1e-12))

    return (
        cand.join(va, "a").join(vb, "b")
        .withColumn("cosine", cos_pair(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= 0.4)
        .select("a", "b", "cosine")
    )


def sample_centroids(vectors: DataFrame, n_total: int, num_centroids: int) -> list:
    """The `num_centroids` (vec_id, embedding) rows with the SMALLEST
    deterministic hash of vec_id, in hash order — the centroid sample of
    both ``cosine_topk_bucketed`` and ``semantic_prune``.

    Selected WITHOUT ordering the full table: a hash-threshold filter keeps
    ~4× the needed rows (binomial concentration makes a shortfall
    astronomically unlikely; the loop widens the threshold if it happens),
    then only that sliver is top-k'd. No Sort/Exchange ever touches the
    full vector table — at 10^10 vectors the filter is a map-side scan and
    the driver collects √N rows, exactly the cost profile of a production
    IVF index build's reservoir step.
    """
    M = n_total * 2 + 1
    hash_col = F.pmod(F.col("vec_id") * 2654435761 + 42, F.lit(M))
    t = max(1, (M * num_centroids * 4) // max(n_total, 1))
    while True:
        sliver = vectors.select("vec_id", "embedding").filter(hash_col < t)
        rows = sliver.orderBy(hash_col, F.col("vec_id")).limit(num_centroids).collect()
        if len(rows) >= min(num_centroids, n_total) or t >= M:
            return rows
        t *= 4


def cosine_topk_sample(vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine top-5 for a SMALL query set against the full vector
    table — the recall-gate / eval-probe shape (sample × n), as one
    numpy-matmul SCAN instead of an interpreted per-pair fold.

    The bounded query side (≈10²-10³ rows by contract) is collected and
    broadcast as a dense matrix; mapInPandas streams the big side once,
    emitting each Arrow batch's local top-5 per query (≤ q·5 rows per
    batch); one window merges. No shuffle of the vector table, no
    collect of the big side — at 10^10 vectors this is a map-side scan +
    a q·5-row merge, while the fold-based `cosine_topk` (kept for the
    oracle-hashed `ann_topk`, where DuckDB float parity matters) costs
    ~40× more per pair in interpreted evaluation (measured: the ann_ivf
    gate at sf1 was 115 s fold-based, ~4 s as this scan).

    Scores are float64 matmul (pairwise summation) — NOT bit-identical to
    the sequential fold; use only where pair identity/counts matter, not
    hashed float parity.
    """
    from collections.abc import Iterator

    qrows = queries.select("vec_id", "embedding").collect()
    if not qrows:
        schema = "id long, neighbor_id long, score double, rank int"
        return local_df(vectors.sparkSession, [], schema)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    bc = vectors.sparkSession.sparkContext.broadcast((qids, Q))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qid, Qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            mid = pdf["vec_id"].to_numpy(np.int64)
            S = Qm @ X.T                      # (q × batch)
            S[qid[:, None] == mid[None, :]] = -np.inf   # exclude self
            kk = min(5, S.shape[1])
            rows = []
            for r in range(S.shape[0]):
                order = np.lexsort((mid, -S[r]))[:kk]
                for j in order:
                    if S[r, j] == -np.inf:
                        break
                    rows.append((int(qid[r]), int(mid[j]), float(S[r, j])))
            yield pd.DataFrame(rows, columns=["id", "neighbor_id", "score"])

    part = vectors.select("vec_id", "embedding").mapInPandas(
        gen, "id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


def cosine_topk_bucketed(vectors: DataFrame, nprobe: int = 2) -> DataFrame:
    """IVF-style approximate self-top-5.

    Centroids = deterministic sample of √N of the vectors themselves (no
    iterative k-means — one pass, reproducible), L2-normalized. Every
    vector lands in its nearest centroid bucket; each query probes its
    `nprobe` nearest buckets. applyInPandas per bucket computes the local
    top-5 with numpy; a final window merges probe results. An empty
    vector table gives an empty result.
    """
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    n_total = vectors.count()
    if n_total == 0:
        schema = "id long, neighbor_id long, score double, rank int"
        return local_df(vectors.sparkSession, [], schema)
    rows = sample_centroids(vectors, n_total, max(1, int(np.sqrt(n_total))))
    C = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    bc = vectors.sparkSession.sparkContext.broadcast(C)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def nearest_buckets(vecs: pd.Series) -> pd.Series:
        # one batched matmul per Arrow batch, not a per-row Python loop
        Cm = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        S = X @ Cm.T
        order = np.argsort(-S, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order.tolist()))

    # persisted: both the members and probes branches consume this UDF stage
    # (Spark recomputes shared subtrees per branch — the bucket assignment
    # would otherwise run twice over every vector). At cluster scale this is
    # the materialized IVF assignment table an index build writes once.
    tagged = pin(vectors.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        nearest_buckets(F.col("embedding")).alias("probes"),
    ))
    # members: bucket = nearest centroid (probes[0]); queries probe all nprobe
    members = tagged.select(
        F.col("probes")[0].alias("bucket"), F.col("id").alias("mid"), F.col("v").alias("mv")
    )
    probes = tagged.select("id", "v", F.explode("probes").alias("bucket"))

    out_schema = StructType([
        StructField("id", LongType()), StructField("neighbor_id", LongType()),
        StructField("score", DoubleType()), StructField("rank", IntegerType()),
    ])

    def solve(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["id"].notna()]
        m = pdf[pdf["mid"].notna()]
        if q.empty or m.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in q["v"]])
        M = np.stack([np.asarray(v, dtype=np.float64) for v in m["mv"]])
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = Qn @ Mn.T
        qid = q["id"].to_numpy(np.int64)
        mid = m["mid"].to_numpy(np.int64)
        S[qid[:, None] == mid[None, :]] = -np.inf
        kk = min(5, S.shape[1])
        rows = []
        for r in range(S.shape[0]):
            order = np.lexsort((mid, -S[r]))[:kk]
            for rank, j in enumerate(order, 1):
                if S[r, j] == -np.inf:
                    break
                rows.append((qid[r], mid[j], float(S[r, j]), rank))
        return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    qq = probes.select("bucket", "id", "v").withColumn("mid", F.lit(None).cast("long")) \
        .withColumn("mv", F.lit(None).cast("array<float>"))
    mm = members.select("bucket", F.lit(None).cast("long").alias("id"),
                        F.lit(None).cast("array<float>").alias("v"), "mid", "mv")
    # pinned-count hash repartition (r6, guide §2.5): the bucket shuffle
    # is byte-small, so AQE coalesced it under the CPU-bound per-bucket
    # numpy kernel (the simplify_tracks lesson); a user-specified count
    # is exempt from coalescing and satisfies the groupBy distribution
    par = vectors.sparkSession.sparkContext.defaultParallelism
    local = (
        qq.unionByName(mm)
        .repartition(par, "bucket")
        .groupBy("bucket")
        .applyInPandas(solve, out_schema)
    )
    # merge probe results: global top-5 per query
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        local.dropDuplicates(["id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


def semantic_prune(vectors: DataFrame) -> DataFrame:
    """SemDeDup-style semantic pruning: partition the embedding space into
    16 IVF buckets (centroids from sample_centroids), find within-bucket
    cosine near-dup pairs ≥ 0.4, resolve transitive components, keep the
    min-id vector per component.

    The within-bucket pair step is quadratic PER BUCKET — that is
    SemDeDup's actual published cost model (Abbas et al. 2023 run k-means
    with k ∝ √n so buckets stay ~√n); cross-bucket near-dups are missed
    by design (the standard recall trade, same contract as banded LSH).

    Float parity: assignment scores and pair cosines use the sequential
    fold (`dot`/`norm` above = DuckDB list_dot_product), so an oracle can
    replay the whole pipeline bit-for-bit. Centroid rows are used EXACTLY
    as stored (no renormalization — argmax of dot/(|v||c|) is unchanged
    by scaling c, so skipping the normalize step costs nothing and keeps
    the arithmetic reproducible). The numpy-matmul assignment
    (cosine_topk_sample's kernel) is the throughput path when bit parity
    isn't required.

    Output: (vec_id, cent_id, cluster_id, is_kept) for EVERY vector;
    the prune set is is_kept = 0.
    """
    from .dedup import near_dup_clusters

    rows = sample_centroids(vectors, vectors.count(), 16)
    from pyspark.sql.functions import pandas_udf

    # r6 (guide §4.1/§4.2): the centroid assignment was a ×k crossJoin +
    # per-row interpreted fold + a window sort over n·k rows; it is now ONE
    # map-side Arrow pass computing the same fold arithmetic (bit-identical
    # — see _fold_dot_np) with argmax tie-broken to the smallest cent_id
    # (np.argmax returns the FIRST maximum; centroids are scanned in
    # cent_id order), i.e. exactly the old (score DESC, cent_id ASC)
    # row_number pick. No Exchange, no n·k blow-up.
    cmat = [np.asarray(r[1], dtype=np.float64) for r in rows]
    cnorms = [float(_fold_norm_np(c[None, :])[0]) for c in cmat]

    @pandas_udf("int")
    def best_cent(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        nx = _fold_norm_np(X)
        scores = np.empty((X.shape[0], len(cmat)), dtype=np.float64)
        for ci, (c, cn) in enumerate(zip(cmat, cnorms)):
            scores[:, ci] = _fold_dot_np(X, np.broadcast_to(c, X.shape)) / (nx * cn)
        return pd.Series((np.argmax(scores, axis=1) + 1).astype(np.int32))

    @pandas_udf("double")
    def cos_fold(xa: pd.Series, xb: pd.Series) -> pd.Series:
        if len(xa) == 0:
            return pd.Series([], dtype="float64")
        X = np.stack([np.asarray(v, dtype=np.float64) for v in xa])
        Y = np.stack([np.asarray(v, dtype=np.float64) for v in xb])
        return pd.Series(
            _fold_dot_np(X, Y) / (_fold_norm_np(X) * _fold_norm_np(Y))
        )

    a = vectors.select(F.col("vec_id"), F.col("embedding").alias("emb"))
    asg = a.select(
        "vec_id", best_cent(F.col("emb")).alias("cent_id"), "emb"
    )
    lhs = asg.select(F.col("vec_id").alias("a"), "cent_id", F.col("emb").alias("ea"))
    rhs = asg.select(F.col("vec_id").alias("b"), "cent_id", F.col("emb").alias("eb"))
    pairs = (
        lhs.join(rhs, "cent_id")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", cos_fold(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= 0.4)
        .select("a", "b")
    )
    labeled = near_dup_clusters(vectors, pairs, id_col="vec_id")
    return labeled.join(
        asg.select(F.col("vec_id"), "cent_id"), "vec_id"
    ).select(
        "vec_id",
        "cent_id",
        "cluster_id",
        F.col("is_canonical").cast("int").alias("is_kept"),
    )


def kmeans_lloyd_int(emb: DataFrame) -> DataFrame:
    """Lloyd's k-means (k = 8, 3 iterations) over an embedding column in
    EXACT integer arithmetic (Lloyd 1957/1982, public) — the clustering
    primitive behind semantic corpus partitioning, cluster-balanced
    mixing, and SemDeDup-style pruning, here with a bit-reproducible contract no
    float k-means can offer (float centroid sums reorder under shuffle).

    Three exactness devices:
    - vectors quantize by a POWER-OF-TWO scale: x·1024 is exact in
      double, so floor() lands identically in every engine;
    - centroid update is the floor-mean via the adjusted numerator
      ``(s − pmod(s, m)) div m`` — the numerator is an exact multiple of
      m, so truncating and flooring division agree even for negative
      sums (DuckDB's ``//`` truncates, Spark's ``div`` truncates; both
      hit the same multiple);
    - argmin ties break on the smallest centroid id via lexicographic
      struct ordering (array_min on struct(d, cid) ≡ ORDER BY d, cid).

    Init: the k smallest ids' vectors (deterministic, SQL-replicable).
    Empty clusters keep their previous centroid. Output per cluster
    after the final assignment: (cluster, n, inertia — Σ member
    distances² as exact BIGINT, centroid array<bigint>).

    Scale posture (100 TB): the classic broadcast-centroids shape — per
    iteration the k×d centroid table (k ≤ a few hundred) is collected
    and re-broadcast as a LITERAL (bounded driver traffic, the
    simsearch ≤256-row-sample precedent), assignment is a map-only pass
    with JVM-codegen'd zip_with/aggregate (no Python in the loop), and
    the update is ONE decomposable (cluster, dim)-keyed sum — map-side
    partials absorb the biggest-cluster skew. The quantized vector table
    is persisted once and reused by all iterations.
    """
    q = pin(emb.select(
        F.col("vec_id").alias("id"),
        F.expr(
            "transform(embedding, x -> "
            "CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))"
        ).alias("q"),
    ))
    init = q.orderBy("id").limit(8).collect()     # bounded: k rows
    cents = [(i, list(r["q"])) for i, r in enumerate(init)]

    from pyspark.sql.functions import pandas_udf

    def _assign_udf(cents_now):
        # r6 (guide §4.1): the per-row argmin over k centroids ran as an
        # INTERPRETED higher-order fold (zip_with + aggregate get no
        # codegen); distances are exact int64, so a numpy kernel is
        # bit-identical by construction (integer sums are order-free) —
        # np.argmin returns the FIRST minimum, i.e. the smallest cid among
        # ties, exactly the old array_min(struct(d, cid)) pick.
        C = np.array([cv for _cid, cv in cents_now], dtype=np.int64)
        cids = np.array([cid for cid, _cv in cents_now], dtype=np.int64)

        @pandas_udf("struct<cluster:long, dist:long>")
        def _assign(qs: pd.Series) -> pd.DataFrame:
            if len(qs) == 0:
                return pd.DataFrame({"cluster": [], "dist": []})
            X = np.stack([np.asarray(v, dtype=np.int64) for v in qs])
            dists = np.empty((X.shape[0], C.shape[0]), dtype=np.int64)
            for ci in range(C.shape[0]):
                D = X - C[ci]
                dists[:, ci] = np.einsum("ij,ij->i", D, D)
            best = np.argmin(dists, axis=1)
            return pd.DataFrame({
                "cluster": cids[best],
                "dist": dists[np.arange(X.shape[0]), best],
            })

        return _assign

    assigned = None
    for it in range(3):
        best = _assign_udf(cents)(F.col("q"))
        assigned = q.select(
            "id", "q",
            best["cluster"].alias("cluster"), best["dist"].alias("dist"),
        )
        if it == 2:
            break
        upd = (
            assigned.select("cluster", F.posexplode("q").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"),
                 F.count(F.lit(1)).cast("long").alias("m"))
            .select(
                "cluster", "pos",
                F.expr("(s - pmod(s, m)) div m").alias("c"),
            )
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c")))
                 .alias("sc"))
            .select(
                "cluster",
                F.expr("transform(sc, x -> x.c)").alias("cv"),
            )
        )
        got = {r["cluster"]: [int(v) for v in r["cv"]]
               for r in upd.collect()}        # bounded: <= k rows
        cents = [(cid, got.get(cid, cv)) for cid, cv in cents]

    spark = emb.sparkSession
    cent_df = local_df(spark, cents, "cluster long, centroid array<bigint>")
    roll = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dist").cast("long").alias("inertia"),
    )
    return roll.join(F.broadcast(cent_df), "cluster").select(
        "cluster", "n", "inertia", "centroid"
    )
