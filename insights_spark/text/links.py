"""Web link-graph analytics: the engine's Pregel-shaped graph family.

PageRank, HITS, label propagation, k-core peeling, triangle counting
and bounded shortest paths over an (``src``, ``dst``) edge list — the
web-corpus twin of the geo stack's star-contraction connected
components (geo/vectorize.py). Every operator is an ITERATIVE graph
algorithm written as a bounded chain of joins + keyed aggregations, the
superstep shape Spark runs at web scale (the algorithms are the public
Page & Brin 1998, Kleinberg 1999, Raghavan et al. 2007, Seidman 1983,
Bellman–Ford 1958 and Cohen's MapReduce triangle scheme). Ranking pages
by link structure feeds both crawl prioritization and quality weighting
of training documents.

Shared pieces: ``_undirected`` is the one undirected view (symmetrize,
drop self-loops, dedup) that label propagation, k-core and triangles
read; hop-distance BFS is unit-weight ``sssp_weighted``, not a loop of
its own. Every loop is one call of ``runtime.supersteps.supersteps``: the
operator writes its initial state and its step (HITS's step is one
half-round), and ``supersteps`` owns the per-round checkpoint, the round
cap, the halt test and the release of the edge pins.

Determinism contract: every score or distance is integer arithmetic —
PageRank's scores are FIXED-POINT int64 (``scale`` units = probability
1.0),

    score'(v) = floor(scale·(1-d) / n)
              + Σ_{u→v} floor(score(u)·d_num / (d_den·outdeg(u)))

with d = d_num/d_den (default 17/20 = 0.85). Integer sums are
order-free, so results are bit-identical across partitionings, retries,
AND engines — the DuckDB oracles unroll the same iterations in SQL and
match exactly, something float PageRank can never promise (float sums
reorder under shuffle). The floor drops ≤ 1 unit per edge per iteration
(≤ n·fanout·iters·1e-12 total mass), a deterministic bias, not noise.

Scale posture (100 TB / 10^12 edges): per superstep ONE hash join of the
edge table against the current state on src and ONE decomposable keyed
aggregation — the classic 2-shuffle Pregel superstep. No collect, no
driver loop over rows; round counts are fixed and small. Skew from
mega-degree hubs lands in the keyed aggregation, which map-side partial
aggregation absorbs (the measured r4 result: salting LOSES to map-side
combine on decomposable aggs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..runtime.supersteps import supersteps

SCALE = 10**12


def _undirected(edges: DataFrame) -> DataFrame:
    """Undirected view of an edge list: both directions of every edge,
    self-loops dropped, duplicates removed — (src, dst) columns."""
    return (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank_fixed_point(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Fixed-point PageRank over (nodes: ``id``; edges: ``src``, ``dst``).

    Returns (id, score) after 5 supersteps with damping 17/20, score in
    ``SCALE`` fixed-point units. Dangling nodes (no out-edges) leak their mass —
    the standard simplification; deterministic either way. Multi-edges
    count multiply (both the out-degree and the contribution), matching
    the SQL mirror.
    """
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg"))
    # persisted: re-read by every superstep's join — without the pin the
    # edge derivation + degree shuffle would re-execute once per superstep
    e = edges.join(deg, "src").persist()
    n_df = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = F.expr(f"{SCALE * 3} div (20 * n)")

    def superstep(cur: DataFrame) -> DataFrame:
        contrib = (
            e.join(cur, e["src"] == cur["id"])
            .select(
                F.col("dst").alias("id"),
                F.expr("(score * 17) div (20 * outdeg)").alias("c"),
            )
        )
        sums = contrib.groupBy("id").agg(F.sum("c").alias("csum"))
        return (
            nodes.join(sums, "id", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "id",
                (base + F.coalesce(F.col("csum"), F.lit(0)))
                .cast("long").alias("score"),
            )
        )

    cur = nodes.crossJoin(F.broadcast(n_df)).select(
        "id", F.expr(f"{SCALE} div n").alias("score"))
    return supersteps(cur, superstep, 5, e)[0]


def bfs_hop_distance(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY source node.

    "How far is every page from the seed set" drives crawl-frontier
    scheduling and link-distance quality features. Input: edges (``src``,
    ``dst``), sources (``id``). Output: (id, dist int) for every node
    reachable within ``max_hops``; sources themselves at dist 0;
    unreachable nodes ABSENT (enrichment, not a guess — the doc_geotag
    rule).

    Hop distance IS unit-weight shortest path: after k Bellman–Ford
    rounds with every edge weighing 1, dist(v) = the fewest edges on any
    path of ≤ k edges = the BFS level. So this is ``sssp_weighted`` with
    ``w = 1`` — the same frontier-pruned supersteps, vote-to-halt and
    per-round checkpoints — with ``dist`` cast to int. All-integer,
    order-free, engine-exact (the DuckDB oracle is a recursive CTE with
    UNION dedup).
    """
    return sssp_weighted(
        edges.select("src", "dst", F.lit(1).alias("w")), sources,
        rounds=max_hops,
    ).select("id", F.col("dist").cast("int").alias("dist"))


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
    ue = _undirected(edges).where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"))
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
    rounds: int,
) -> DataFrame:
    """Bounded-horizon weighted single-source shortest paths — the
    general form of ``bfs_hop_distance`` (Bellman–Ford 1958 with
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
    table — settled regions stop generating traffic), then ONE id-keyed
    MIN over the current dist rows plus the new candidates, tagged
    old/new so ties keep the old row: the winner is the relaxed
    distance, and a winning candidate marks the node as improved. The
    MIN is decomposable, so map-side partials absorb hub skew (the
    measured r4 rule), and the relaxation needs no join against dist.
    The round state is that tagged (id, dist, new) table, the seeds all
    new; its improved rows are the next frontier, and vote-to-halt is one
    bounded isEmpty scalar on them. The MIN also collapses duplicate seed
    ids to one row.
    """

    def relax(best: DataFrame) -> DataFrame:
        front = best.where(F.col("new") == 1).select("id", "dist")
        reached = edges.join(front, edges["src"] == front["id"]).select(
            F.col("dst").alias("id"),
            (F.col("dist") + F.col("w").cast("long")).alias("dist"),
            F.lit(1).alias("new"),
        )
        return (
            best.select("id", "dist", F.lit(0).alias("new"))
            .unionByName(reached)
            .groupBy("id")
            .agg(F.min(F.struct("dist", "new")).alias("b"))
            .select("id", F.col("b.dist").alias("dist"),
                    F.col("b.new").alias("new"))
        )

    seeds = sources.select(
        F.col("id"), F.lit(0).cast("long").alias("dist"), F.lit(1).alias("new"))
    best, _ = supersteps(
        seeds, relax, rounds,
        halt=lambda _, b: b.where(F.col("new") == 1).isEmpty())
    return best.select("id", "dist")


def label_propagation(edges: DataFrame) -> DataFrame:
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
    min(struct) argmax as home_cells/cusum). A FIXED 4 rounds keep
    the result well-defined under the known sync-LPA oscillation on
    bipartite-ish structures — bit-identical across engines either way.
    Output: (id, label) for every edge endpoint.

    Scale posture (10^12 edges): per round ONE edges⋈labels hash join
    (src-keyed), ONE decomposable (dst, label) count (map-side partials
    absorb hub skew), ONE min(struct) argmax groupBy — the 2-shuffle
    Pregel superstep, same as pagerank. No collect anywhere.
    """
    ue = _undirected(edges).persist()

    def adopt(labels: DataFrame) -> DataFrame:
        nbr = ue.join(labels, ue["src"] == labels["id"]).select(
            F.col("dst").alias("nid"), "label"
        )
        cnt = nbr.groupBy("nid", "label").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        return (
            cnt.groupBy("nid")
            .agg(F.min(F.struct((-F.col("c")).alias("negc"),
                                F.col("label").alias("l"))).alias("p"))
            .select(F.col("nid").alias("id"), F.col("p.l").alias("label"))
        )

    labels = ue.select(F.col("src").alias("id")).distinct() \
        .withColumn("label", F.col("id"))
    return supersteps(labels, adopt, 4, ue)[0]


def hits_fixed_point(edges: DataFrame) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, public) in exact integer
    fixed point — the second classic link-analysis ranking next to
    PageRank: authorities are pages many good hubs point AT, hubs are
    pages pointing at many good authorities (directory pages vs content
    pages — a distinction PageRank's single score cannot make).

    Per round (4 rounds): a(v) = Σ_{u→v} h(u), then L∞-normalize to
    10^6 (a ← a·10^6 div max(a) — ONE scalar max broadcast back, the
    deterministic integer stand-in for the usual L2 norm; without it
    scores grow ~deg^2·rounds and overflow at hub degrees that exist at
    web scale); then h(v) = Σ_{v→u} a(u), normalized the same way.
    All-integer sums are order-free → bit-identical across partitionings
    and engines; the oracle unrolls the same recurrence. Multi-edges
    count multiply, matching the SQL mirror. Nodes with no in-edges
    have authority 0; no out-edges, hub 0.

    Scale posture (10^12 edges): each half-round is ONE hash join of the
    edge table (persisted once, released before returning) against the
    current score vector + ONE decomposable keyed SUM (map-side partials
    absorb hub skew) + a 1-row max broadcast via crossJoin (the freq.py
    one-row-total idiom, no driver round-trip). The 2-shuffle Pregel
    superstep, twice per iteration: each ``supersteps`` round is one
    half-round.
    """
    e = edges.select("src", "dst").persist()

    def half_round(score: DataFrame) -> DataFrame:
        """Sum ``h`` along src→dst into ``a``, or ``a`` along dst→src into
        ``h``, L∞-normalized to 10^6. The ``supersteps`` checkpoint of each
        half-round is LOAD-BEARING: the L∞ max's broadcast subquery
        duplicates the un-materialized sums, a doubling that nests across
        half-rounds without it (r6: hits 1.9 s → 5.4 s at sf0.1)."""
        by, to, name = (("src", "dst", "a") if "h" in score.columns
                        else ("dst", "src", "h"))
        sums = (
            e.join(score, e[by] == score["id"])
            .groupBy(F.col(to).alias("id"))
            .agg(F.sum(score.columns[1]).cast("long").alias("raw"))
        )
        m = sums.agg(F.greatest(F.max("raw"), F.lit(1)).alias("m"))
        return sums.crossJoin(F.broadcast(m)).select(
            "id", F.expr("(raw * 1000000) div m").alias(name)
        )

    # Sparse score vectors (r6): a score table only has rows for nodes that
    # CAN be nonzero — {outdeg>0} for h, {indeg>0} for a. A missing row
    # cannot move the L∞ max (scores are ≥ 0, and greatest(max, 1) skips
    # the NULL max of an empty table), adds nothing through the edge join,
    # and reads as 0 in the final full-join coalesce, which covers every
    # node. 4 rounds = 8 half-rounds, ending on a and on h.
    h = e.select(F.col("src").alias("id")).distinct() \
        .withColumn("h", F.lit(1).cast("long"))
    a = supersteps(h, half_round, 7)[0]
    h = supersteps(a, half_round, 1, e)[0]
    return (
        h.join(a, "id", "full")
        .select(
            "id",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth"),
        )
    )


def kcore_peel(edges: DataFrame, k: int) -> DataFrame:
    """k-core by iterative peeling (Seidman 1983, public) — the maximal
    subgraph where every node keeps ≥ k neighbors INSIDE the subgraph:
    the density measure behind spam-farm cores and community nuclei
    (degree alone is gameable — a hub wired to 10⁶ leaves has huge
    degree and an empty 2-core; triangles catch 3-cliques but not
    sparser cohesion).

    Synchronous peel, 6 rounds FIXED in both engines (the LPA rule —
    engine-exact beats adaptive): each round drops every node whose
    degree in the CURRENT induced subgraph is < k, then recomputes.
    Peeling is monotone, so after 6 rounds the survivor set is a
    superset of the true k-core that equals it once a round removes
    nothing (the fixture test pins convergence; at web scale ~10–20
    rounds settle real graphs because peel cascades are shallow).
    Output: (id, core_deg) for surviving nodes, core_deg ≥ k their
    final induced degree. Undirected view, self-loops dropped.

    Scale posture (10^12 edges): per round TWO alive-set semi-joins on
    the persisted undirected edge list + ONE decomposable src-keyed count
    — no all-pairs, no collect. The round state is the survivor table
    (id, core_deg), so the last round's table IS the output.
    """
    ue = _undirected(edges).persist()

    def peel(alive: DataFrame) -> DataFrame:
        return (
            ue.join(alive.select(F.col("id").alias("src")), "src",
                    "left_semi")
            .join(alive.select(F.col("id").alias("dst")), "dst",
                  "left_semi")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
            .where(F.col("core_deg") >= F.lit(k))
        )

    alive = ue.select(F.col("src").alias("id")).distinct()
    return supersteps(alive, peel, 6, ue)[0]
