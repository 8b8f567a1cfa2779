"""Web link-graph analytics: deterministic fixed-point PageRank.

The web-corpus twin of the geo stack's star-contraction connected
components (geo/vectorize.py): an ITERATIVE graph algorithm expressed as
a bounded chain of joins + keyed aggregations, the Pregel shape Spark
runs at web scale (PageRank is the canonical example in the public
Spark/GraphX literature; the algorithm itself is Page & Brin 1998,
public). The reference has no graph analytics — this extends the engine
the way a crawl-scale training-data pipeline needs: ranking pages by link
structure feeds both crawl prioritization and quality weighting of
training documents.

Determinism contract (the whole point of this formulation): scores are
FIXED-POINT int64 (``scale`` units = probability 1.0) and every update is
integer arithmetic —

    score'(v) = floor(scale·(1-d) / n)
              + Σ_{u→v} floor(score(u)·d_num / (d_den·outdeg(u)))

with d = d_num/d_den (default 17/20 = 0.85). Integer sums are
order-free, so the result is bit-identical across partitionings, retries,
AND engines — the DuckDB oracle unrolls the same iterations in SQL and
matches exactly, something float PageRank can never promise (float sums
reorder under shuffle). The floor drops ≤ 1 unit per edge per iteration
(≤ n·fanout·iters·1e-12 total mass), a deterministic bias, not noise.

Scale posture (100 TB / 10^12 edges): per iteration, ONE hash join of the
edge table against the current score vector on src (both sides partition
by the join key; the edge table is persisted once and its shuffle reused
across iterations) and ONE aggregation keyed on dst — the classic
2-shuffle Pregel superstep. No collect, no driver loop over rows;
iterations are a fixed small count (rank converges geometrically, 5-20
supersteps in practice). Skew from mega-in-degree hubs lands in the
dst aggregation, which is a decomposable SUM — map-side partial
aggregation absorbs it (the measured r4 result: salting LOSES to
map-side combine on decomposable aggs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def pagerank_fixed_point(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 5,
    scale: int = SCALE,
    d_num: int = 17,
    d_den: int = 20,
) -> DataFrame:
    """Fixed-point PageRank over (nodes: ``id``; edges: ``src``, ``dst``).

    Returns (id, score) after ``iters`` supersteps, score in ``scale``
    fixed-point units. Dangling nodes (no out-edges) leak their mass —
    the standard simplification; deterministic either way. Multi-edges
    count multiply (both the out-degree and the contribution), matching
    the SQL mirror.
    """
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg"))
    # persisted: re-read by every superstep's join — without the pin the
    # edge derivation + degree shuffle would re-execute `iters` times
    e = edges.join(deg, "src").persist()
    n_df = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = F.expr(f"{scale * (d_den - d_num)} div ({d_den} * n)")
    cur = nodes.crossJoin(F.broadcast(n_df)).select(
        "id", F.expr(f"{scale} div n").alias("score"))
    for _ in range(iters):
        contrib = (
            e.join(cur, e["src"] == cur["id"])
            .select(
                F.col("dst").alias("id"),
                F.expr(f"(score * {d_num}) div ({d_den} * outdeg)").alias("c"),
            )
        )
        sums = contrib.groupBy("id").agg(F.sum("c").alias("csum"))
        cur = (
            nodes.join(sums, "id", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "id",
                (base + F.coalesce(F.col("csum"), F.lit(0)))
                .cast("long").alias("score"),
            )
        )
    return cur


def bfs_hop_distance(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY source node.

    The third member of the engine's graph family (star-CC components,
    fixed-point PageRank, now reachability): "how far is every page from
    the seed set" drives crawl-frontier scheduling and link-distance
    quality features. Input: edges (``src``, ``dst``), sources (``id``).
    Output: (id, dist) for every node reachable within ``max_hops``;
    sources themselves at dist 0; unreachable nodes ABSENT (enrichment,
    not a guess — the doc_geotag rule).

    Superstep = the textbook frontier expansion (Pregel BFS, public):
    frontier ⋈ edges (ONE hash join keyed on src) → distinct → anti-join
    against the visited set. BFS assigns each node on its FIRST visit,
    which IS the minimum distance — all-integer, order-free, engine-exact
    (the DuckDB oracle is a recursive CTE with UNION dedup).

    Scale posture: per level one join + one anti-join, both keyed
    shuffles bounded by the wavefront (frontier × mean out-degree), never
    all-pairs; the frontier is localCheckpointed each level — an
    ITERATIVE plan otherwise accretes a union chain `max_hops` deep and
    re-executes every prior level at each action (the pagerank persist
    lesson, one step further because BFS's output feeds its own next
    join). The per-level empty check is one bounded count — Pregel's
    vote-to-halt, a driver scalar, not a collect of rows.
    """
    visited = sources.select(
        F.col("id"), F.lit(0).cast("int").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier, edges["src"] == frontier["id"])
            .select(F.col("dst").alias("id"),
                    F.lit(hop).cast("int").alias("dist"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an (optionally
    directed, multi-) edge list — the community-density primitive
    (local clustering, spam-farm detection on link graphs).

    Classic degree-ordered orientation (Cohen's MapReduce scheme /
    GraphX's default): symmetrize + dedup to canonical undirected edges,
    then orient every edge from the (degree, id)-SMALLER endpoint to the
    larger. The oriented out-degree is O(√m) even at hub nodes — that
    bound is the whole point, it caps the wedge join's blow-up under
    power-law skew where a plain id-order orientation would emit
    deg(hub)² wedges. Wedges (two out-edges of one apex) then equi-join
    against the oriented edge set; each triangle materializes exactly
    once. Three hash joins total, all on node keys.

    The RESULT is orientation-invariant (any total order finds each
    triangle once), which is what lets a plain-id-order SQL oracle check
    the degree-ordered plan. Output: (id, n_triangles) for nodes in at
    least one triangle.
    """
    ue = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst"), F.col("src")))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        ue.select(F.col("a").alias("id"))
        .union(ue.select(F.col("b")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # single-long order key: (deg, id) — deg ≤ n so deg*2^32 never collides
    okey = (F.col("deg") * F.lit(1 << 32) + F.col("id")).alias("okey")
    keyed = deg.select("id", okey)
    e = (
        ue.join(keyed.withColumnRenamed("id", "a").withColumnRenamed("okey", "ka"), "a")
        .join(keyed.withColumnRenamed("id", "b").withColumnRenamed("okey", "kb"), "b")
        .select(
            F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kv"),
        )
        # persisted (r6): e feeds THREE consumers — both wedge-join sides
        # (which share one exchange on u) and the closing (b, c)-keyed join,
        # whose different key forces a recompute of the whole
        # symmetrize+degree+orient subtree without the pin. At scale that
        # recompute is two extra scans + three extra shuffles; locally
        # interleaved A/B measured 2.35 -> 1.69 s. The CacheManager holds
        # the pin until unpersist() or clearCache(); the ContextCleaner
        # does not reclaim persisted DataFrames.
        .persist()
    )
    w = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.kv") < F.col("y.kv"))
        .select(
            F.col("x.u").alias("a"),
            F.col("x.v").alias("b"),
            F.col("y.v").alias("c"),
        )
    )
    tri = w.join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"]
    )
    corners = (
        tri.select(F.col("a").alias("id"))
        .union(tri.select(F.col("b")))
        .union(tri.select(F.col("c")))
    )
    return corners.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 6,
) -> DataFrame:
    """Bounded-horizon weighted single-source shortest paths — the
    weighted sibling of ``bfs_hop_distance`` (Bellman–Ford 1958 with
    frontier pruning, the delta-stepping-lite Pregel shape, all public):
    minimum total integer edge weight from ANY seed node using at most
    ``rounds`` edges. Hop distance treats a slow 3-hop detour and a fast
    one alike; weighted distance is what crawl schedulers and
    link-quality features actually want (edge weight = latency, penalty,
    or inverse trust).

    Input: edges (``src``, ``dst``, ``w`` — non-negative integer),
    sources (``id``). Output: (id, dist) for every node reachable within
    ``rounds`` edges; seeds at 0; unreachable ABSENT. Bellman–Ford
    invariant: after k rounds dist(v) = min weight over paths of ≤ k
    edges — all-integer min-folds, order-free, engine-exact (the oracle
    is a bounded-step recursive path enumeration + one min rollup).

    Scale posture (10^12 edges): per round ONE hash join of edges
    against the IMPROVED-last-round frontier only (not the full dist
    table — settled regions stop generating traffic), a dst-keyed MIN
    pre-combine (decomposable → map-side partials absorb hub skew, the
    measured r4 rule), and one left-join relaxation against the current
    dist table. Frontier and dist are localCheckpointed per round — the
    iterative-plan-accretion lesson from BFS/pagerank. Vote-to-halt is
    one bounded isEmpty scalar.
    """
    dist = sources.select(
        F.col("id"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(rounds):
        cand = (
            edges.join(frontier, edges["src"] == frontier["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("w").cast("long")).alias("nd"),
            )
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        improved = (
            cand.join(dist, "id", "left")
            .where(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("id", F.col("nd").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            break
        dist = (
            dist.join(improved.select("id"), "id", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return dist


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007, public) with DETERMINISTIC tie-breaking —
    communities are the modular structure star-CC cannot see (CC merges
    everything reachable; LPA splits a connected graph into densely-knit
    groups — topic clusters in a link graph, coordinated-edit rings).

    Contract: undirected view (edges symmetrized, self-loops dropped),
    labels start as node ids; each round EVERY node simultaneously
    adopts the most frequent label among its neighbors, ties to the
    SMALLEST label (canonical LPA breaks ties randomly — useless for an
    engine-exact gate; the (count DESC, label ASC) rule is the same
    min(struct) argmax as home_cells/cusum). A FIXED ``iters`` keeps
    the result well-defined under the known sync-LPA oscillation on
    bipartite-ish structures — bit-identical across engines either way.
    Output: (id, label) for every edge endpoint.

    Scale posture (10^12 edges): per round ONE edges⋈labels hash join
    (src-keyed), ONE decomposable (dst, label) count (map-side partials
    absorb hub skew), ONE min(struct) argmax groupBy — the 2-shuffle
    Pregel superstep, same as pagerank. Labels are localCheckpointed per
    round (plan-accretion lesson); no collect anywhere.
    """
    ue = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    labels = (
        ue.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        nbr = ue.join(labels, ue["src"] == labels["id"]).select(
            F.col("dst").alias("nid"), "label"
        )
        cnt = nbr.groupBy("nid", "label").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        labels = (
            cnt.groupBy("nid")
            .agg(F.min(F.struct((-F.col("c")).alias("negc"),
                                F.col("label").alias("l"))).alias("p"))
            .select(F.col("nid").alias("id"), F.col("p.l").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def hits_fixed_point(
    edges: DataFrame,
    iters: int = 4,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, public) in exact integer
    fixed point — the second classic link-analysis ranking next to
    PageRank: authorities are pages many good hubs point AT, hubs are
    pages pointing at many good authorities (directory pages vs content
    pages — a distinction PageRank's single score cannot make).

    Per round: a(v) = Σ_{u→v} h(u), then L∞-normalize to ``scale``
    (a ← a·scale div max(a) — ONE scalar max broadcast back, the
    deterministic integer stand-in for the usual L2 norm; without it
    scores grow ~deg^2·iters and overflow at hub degrees that exist at
    web scale); then h(v) = Σ_{v→u} a(u), normalized the same way.
    All-integer sums are order-free → bit-identical across partitionings
    and engines; the oracle unrolls the same recurrence. Multi-edges
    count multiply, matching the SQL mirror. Nodes with no in-edges
    have authority 0; no out-edges, hub 0.

    Scale posture (10^12 edges): each half-round is ONE hash join of the
    edge table (persisted once) against the current score vector + ONE
    decomposable keyed SUM (map-side partials absorb hub skew) + a
    1-row max broadcast via crossJoin (the freq.py one-row-total idiom,
    no driver round-trip). The 2-shuffle Pregel superstep, twice per
    iteration.
    """
    e = edges.select("src", "dst").persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst")))
        .distinct()
        .persist()
    )
    # Sparse score vectors (r6, guide §2.4): a score table only needs rows
    # for nodes that CAN be nonzero — {indeg>0} for a, {outdeg>0} for h.
    # A zero-score row cannot move the L∞ max (scores are ≥ 0; the
    # empty-relation case is covered by greatest(max, 1) since max(∅) is
    # NULL and greatest skips NULLs), contributes nothing through the edge
    # join, and is re-materialized as 0 by the final left-join coalesce —
    # so the per-half-round `nodes ⋈ sums` full-coverage join (2 joins per
    # iteration, 8 for the default 4) is dropped with bit-identical output.
    h = nodes.withColumn("h", F.lit(1).cast("long"))
    a = None
    for _ in range(iters):
        a_sums = (
            e.join(h, e["src"] == h["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h").cast("long").alias("raw"))
        )
        amax = a_sums.agg(F.greatest(F.max("raw"), F.lit(1)).alias("m"))
        # the per-half-round eager checkpoint is LOAD-BEARING (r6,
        # measured): the L∞ max rides a broadcast scalar subquery whose
        # subtree duplicates the un-materialized sums — dropping this
        # checkpoint nests that doubling across half-rounds (4× the edge
        # join per iteration, hits 1.9 s → 5.4 s at sf0.1)
        a = a_sums.crossJoin(F.broadcast(amax)).select(
            "id", F.expr(f"(raw * {scale}) div m").alias("a")
        ).localCheckpoint(eager=True)
        h_sums = (
            e.join(a, e["dst"] == a["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").cast("long").alias("raw"))
        )
        hmax = h_sums.agg(F.greatest(F.max("raw"), F.lit(1)).alias("m"))
        h = h_sums.crossJoin(F.broadcast(hmax)).select(
            "id", F.expr(f"(raw * {scale}) div m").alias("h")
        ).localCheckpoint(eager=True)
    return (
        nodes.join(h, "id", "left")
        .join(a, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth"),
        )
    )


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 6) -> DataFrame:
    """k-core by iterative peeling (Seidman 1983, public) — the maximal
    subgraph where every node keeps ≥ k neighbors INSIDE the subgraph:
    the density measure behind spam-farm cores and community nuclei
    (degree alone is gameable — a hub wired to 10⁶ leaves has huge
    degree and an empty 2-core; triangles catch 3-cliques but not
    sparser cohesion).

    Synchronous peel, ``rounds`` FIXED in both engines (the LPA rule —
    engine-exact beats adaptive): each round drops every node whose
    degree in the CURRENT induced subgraph is < k, then recomputes.
    Peeling is monotone, so after R rounds the survivor set is a
    superset of the true k-core that equals it once a round removes
    nothing (the fixture test pins convergence; at web scale ~10–20
    rounds settle real graphs because peel cascades are shallow).
    Output: (id, core_deg) for surviving nodes, core_deg ≥ k their
    final induced degree. Undirected view, self-loops dropped.

    Scale posture (10^12 edges): per round TWO alive-set semi-joins on
    the persisted symmetrized edge list + ONE decomposable src-keyed
    count — no all-pairs, no collect; the alive set only shrinks, and
    it is localCheckpointed per round (plan-accretion lesson).
    """
    ue = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    alive = ue.select(F.col("src").alias("id")).distinct() \
        .localCheckpoint(eager=True)
    deg = None
    for _ in range(rounds):
        live = (
            ue.join(alive.select(F.col("id").alias("src")), "src",
                    "left_semi")
            .join(alive.select(F.col("id").alias("dst")), "dst",
                  "left_semi")
        )
        deg = live.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("core_deg"))
        alive = (
            deg.where(F.col("core_deg") >= F.lit(k))
            .select(F.col("src").alias("id"))
            .localCheckpoint(eager=True)
        )
    return (
        deg.where(F.col("core_deg") >= F.lit(k))
        .select(F.col("src").alias("id"), "core_deg")
    )
