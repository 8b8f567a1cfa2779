"""Raster→vector: slippy-tile rasters back to lon/lat vector geometry.

The other half of the north rule's "raster↔vector" pair (SURVEY §2.11):
``geo/tiles.py`` rasterizes points into z/x/y density tiles; this module
turns tile rasters back into vector form —

* :func:`vectorize_tiles` — per-tile lon/lat quad polygons via the inverse
  web-mercator transform (pure column math, whole-stage-codegen'd, and
  reproducible in ANSI SQL: ``sinh`` is written in exp-form because the
  DuckDB oracle lacks ``sinh``; bounds rounded to 9 decimals on BOTH sides
  so the comparison is libm-ulp-proof).
* :func:`tile_regions` — merged hot-tile REGIONS: connected components
  over 4-adjacency via :func:`star_cc_labels`. The oracle is a DuckDB
  recursive-CTE transitive closure over the same adjacency.

No reference counterpart (the reference leaves rendering to
Postgres/Leaflet dashboards, e.g. underpass-ui queries in
advanced-queries.md); formulas are the public OSM slippy-map spec.

Scale posture: a tile raster is bounded by 4^z keys regardless of input
size (z12 ⇒ ≤16.7M rows worldwide), so everything here operates on a table
that is tiny relative to the fact table that produced it. Components use
alternating large-star/small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): O(log² n)
rounds whatever the region shape, adversarial snakes included, and each
round's state is the shrinking edge list. Each round is ONE groupBy + ONE join
keyed on the 64-bit tile id; small edge lists skip the rounds for one
bounded collect and a driver union-find.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..runtime.supersteps import supersteps
from ..session import local_df

_PI = 3.141592653589793

# id = (z << 52) | (x << 26) | y — unique for z ≤ 20 (x, y < 2^26), pure
# bigint math so the SQL oracle reproduces it exactly.
_Z_SHIFT = 1 << 52
_X_SHIFT = 1 << 26


def _merc_lat(yfrac: Column) -> Column:
    """Inverse web-mercator: tile-fraction y → latitude in degrees.

    degrees(atan(sinh(pi*(1-2*yfrac)))) with sinh spelled (e^t - e^-t)/2 —
    the exact expression the DuckDB oracle runs.
    """
    t = F.lit(_PI) * (F.lit(1.0) - F.lit(2.0) * yfrac)
    return F.degrees(F.atan((F.exp(t) - F.exp(-t)) / F.lit(2.0)))


def with_tile_bounds(tiles: DataFrame) -> DataFrame:
    """Add west/south/east/north lon-lat bounds for each z/x/y tile."""
    n = F.pow(F.lit(2.0), F.col("z").cast("double"))
    x = F.col("x").cast("double")
    y = F.col("y").cast("double")
    return (
        tiles.withColumn("west", F.round(x / n * F.lit(360.0) - F.lit(180.0), 9))
        .withColumn(
            "east", F.round((x + F.lit(1.0)) / n * F.lit(360.0) - F.lit(180.0), 9)
        )
        .withColumn("north", F.round(_merc_lat(y / n), 9))
        .withColumn("south", F.round(_merc_lat((y + F.lit(1.0)) / n), 9))
    )


def vectorize_tiles(tiles: DataFrame, min_density: float = 1) -> DataFrame:
    """Raster→vector: above-threshold tiles as lon/lat quad bounds.

    Input: (z, x, y, density) — the output shape of
    ``tiles.density_rollup``. Output adds (west, south, east, north).
    Narrow projection + filter only: no shuffle, fully codegen'd.
    """
    hot = tiles.filter(F.col("density") >= F.lit(min_density))
    return with_tile_bounds(hot).select(
        "z", "x", "y", "density", "west", "south", "east", "north"
    )


def tile_id() -> Column:
    return (
        F.col("z").cast("bigint") * F.lit(_Z_SHIFT)
        + F.col("x").cast("bigint") * F.lit(_X_SHIFT)
        + F.col("y").cast("bigint")
    )


def star_cc_labels(edges: DataFrame, max_sweeps: int = 30,
                   collect_cap: int = 300_000) -> DataFrame:
    """Connected components over an edge list via alternating
    large-star/small-star (Kiveris et al., SoCC'14 — public algorithm),
    with a size-gated driver union-find fast path for small edge lists.

    `edges`: (id, nbr_id) directed pairs (both directions present or not —
    the first step symmetrizes). Returns (id, label) for every node THAT
    APPEARS IN AN EDGE, label = the component's minimum node id. Isolated
    nodes are the caller's coalesce. Raises RuntimeError when the
    contraction has not converged after ``max_sweeps`` sweeps.

    Why star contraction: min-label propagation needs O(log diameter)
    sweeps even WITH pointer jumping, and each sweep carries the full
    label table through two joins; star contraction is guaranteed
    O(log² n) rounds on ANY topology (adversarial snakes included) and each
    round's state is just the shrinking edge list. Round = large-star
    (hang every node's larger neighbors under its minimum) then small-star
    (re-hang the smaller neighbors), each ONE groupBy + ONE join on the
    node id, so AQE skew handling applies to every round. At fixpoint
    every component is a star rooted at its minimum, so the label read-off
    is one-hop.

    Sweep-cost engineering (measured on tiny bounded graphs, where
    per-stage scheduling latency dominates; identical plans at scale):
    the edge set is kept ORIENTATION-NORMALIZED (u > v) as a loop
    invariant — large-star emits (v, m) with m ≤ u < v and small-star
    (v, m) with m = min ≤ v, so normalization is free after the entry
    step. That makes E ∪ reverse(E) duplicate-free (one distinct
    shuffle dropped per sweep) and makes the small-star input exactly
    the large-star output (a union + filter dropped). Convergence pays
    one count on the already-checkpointed result; the one-sided
    anti-join diff runs only when counts match (equal-size distinct
    sets are equal iff one difference is empty).

    Size gate (r6, guide §1.2): the normalized edge count is already a
    loop precondition, so when it is ≤ ``collect_cap`` the components are
    solved by ONE bounded collect + driver union-find + ``local_df`` —
    the broadcast-join size rule applied to components (a ≤300k-row edge
    list is ~5 MB; nine distributed sweeps on it are pure scheduling
    latency, measured ~4.5 s at sf0.1 for the res-2 lattice whose size is
    geometry-bounded regardless of input rows). Above the cap — near-dup
    graphs CAN be unbounded — the star contraction runs unchanged; pass
    ``collect_cap=0`` to force it (tests pin both paths equal).
    """
    E = (
        edges.select(
            F.greatest(F.col("id"), F.col("nbr_id")).alias("u"),
            F.least(F.col("id"), F.col("nbr_id")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_cnt = E.count()
    if prev_cnt <= collect_cap:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:          # path compression
                parent[x], x = r, parent[x]
            return r

        for row in E.collect():
            u, v = row[0], row[1]
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN id: root IS the component minimum, so the
                # read-off below is a plain find() per node
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        rows = [(int(x), int(find(x))) for x in parent]
        return local_df(edges.sparkSession, rows, "id long, label long")

    def sweep(E: DataFrame) -> DataFrame:
        # E is (u > v)-normalized and distinct, so the two orientations
        # are disjoint: no distinct needed after the union
        sym = E.unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # large-star: for each u, m = min(u ∪ N(u)); hang neighbors v > u on m
        m_lg = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # no distinct here (r6, guide §2.4): duplicates in e1 change neither
        # m_sm's per-u minimum nor e2's post-distinct edge set — e2's own
        # distinct is the sweep's one dedup pass, so the extra exchange
        # bought nothing but a shuffle per sweep
        e1 = (
            sym.join(m_lg, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star input = each node's ≤-neighbors; e1 is already
        # (u > v)-normalized, so that is e1 itself — no re-symmetrize
        m_sm = e1.groupBy("u").agg(F.min("v").alias("m"))
        return (
            e1.join(m_sm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m_sm.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def converged(prev: DataFrame, cur: DataFrame) -> bool:
        nonlocal prev_cnt
        last, prev_cnt = prev_cnt, cur.count()
        return prev_cnt == last and \
            cur.join(prev, ["u", "v"], "left_anti").count() == 0

    E, halted = supersteps(E, sweep, max_sweeps, halt=converged)
    if not halted:
        raise RuntimeError(
            f"star_cc_labels did not converge within max_sweeps={max_sweeps}"
        )
    # fixpoint edges are (node, root) stars: one-hop min read-off
    return (
        E.unionByName(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("label"))
        .select(F.col("u").alias("id"), "label")
    )


def tile_regions(
    tiles: DataFrame,
    min_density: float = 1,
) -> DataFrame:
    """Merged hot-tile regions: 4-adjacency connected components.

    Output: (z, x, y, density, region_id) where region_id is the MINIMUM
    tile id in the component (deterministic, order-free — safe to
    oracle-hash). The hot tiles and their adjacency edges are built here;
    the components come from :func:`star_cc_labels` (O(log² n) rounds on
    any topology, driver union-find when the edge list is small).
    Isolated hot tiles appear in no edge and are their own region.

    The ``hot``/``edges`` persists stay in the CacheManager until the
    caller runs ``unpersist()`` or ``spark.catalog.clearCache()``: the
    ContextCleaner does not reclaim persisted DataFrames.
    """
    hot = (
        tiles.filter(F.col("density") >= F.lit(min_density))
        .select("z", "x", "y", "density", tile_id().alias("id"))
        .persist()
    )

    # Directed 4-adjacency edges (each unordered pair appears both ways;
    # star_cc_labels normalizes the orientation).
    nbr = hot.select(
        "id",
        "z",
        F.explode(
            F.array(
                F.struct((F.col("x") + 1).alias("nx"), F.col("y").alias("ny")),
                F.struct((F.col("x") - 1).alias("nx"), F.col("y").alias("ny")),
                F.struct(F.col("x").alias("nx"), (F.col("y") + 1).alias("ny")),
                F.struct(F.col("x").alias("nx"), (F.col("y") - 1).alias("ny")),
            )
        ).alias("_n"),
    ).select("id", "z", F.col("_n.nx").alias("x"), F.col("_n.ny").alias("y"))
    edges = (
        nbr.join(
            hot.select("z", "x", "y", F.col("id").alias("nbr_id")), ["z", "x", "y"]
        )
        .select("id", "nbr_id")
        .persist()
    )
    edges.count()

    labels = star_cc_labels(edges)
    return (
        hot.join(labels, "id", "left")
        .select(
            "z", "x", "y", "density",
            F.coalesce("label", "id").alias("region_id"),
        )
    )
