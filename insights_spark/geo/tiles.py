"""Slippy-map z/x/y tile assignment and edit-density rollups.

North-rule operator with no reference counterpart (SURVEY §2.11): raster
tile rollups of edit density. Implemented as PURE Spark column expressions
— whole-stage-codegen'd JVM math, zero Python in the hot path, and exactly
reproducible in ANSI SQL (the DuckDB oracle uses the same ln-form formula).

Standard web-mercator tiling:
    x = floor((lon + 180) / 360 * 2^z)
    y = floor((1 - ln(tan(φ) + 1/cos(φ)) / π) / 2 * 2^z)
with φ clamped to ±85.05112878° (mercator validity), both clamped to
[0, 2^z - 1]. Out-of-range latitudes (the reference warns about lat
outside ±90, README.md:78) are clamped rather than dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin

MAX_MERC_LAT = 85.05112878


def tile_x(lon: Column, z: int) -> Column:
    n = F.lit(float(2 ** z))
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    return F.greatest(F.lit(0), F.least(x, F.lit(2 ** z - 1))).cast("int")


def tile_y(lat: Column, z: int) -> Column:
    n = F.lit(float(2 ** z))
    clamped = F.greatest(F.lit(-MAX_MERC_LAT), F.least(lat, F.lit(MAX_MERC_LAT)))
    rad = F.radians(clamped)
    # ln-form of asinh(tan(rad)) — identical expression on the SQL-oracle side
    y = F.floor(
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(3.141592653589793))
        / F.lit(2.0)
        * n
    )
    return F.greatest(F.lit(0), F.least(y, F.lit(2 ** z - 1))).cast("int")


def with_tile(df: DataFrame, z: int) -> DataFrame:
    return (
        df.withColumn("z", F.lit(z))
        .withColumn("x", tile_x(F.col("lon"), z))
        .withColumn("y", tile_y(F.col("lat"), z))
    )


def density_rollup(df: DataFrame, z: int) -> DataFrame:
    """Edit-density per tile: groupBy(z,x,y) count.

    One shuffle on (x, y); at scale the tile key space is dense and uniform
    at z ≥ 6, so no salting is needed — skew lives in the *cell* domain
    (hot H3 cells), which the stats stage salts instead.
    """
    t = with_tile(df.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull()), z)
    return t.groupBy("z", "x", "y").agg(F.count(F.lit(1)).alias("density"))


def tile_pyramid(df: DataFrame, zooms: list[int]) -> DataFrame:
    """Multi-zoom pyramid: per-z rollups unioned; base computed once.

    The base-z rollup is aggregated first, then coarser zooms derive from it
    by integer-halving tile coordinates — each level aggregates the previous
    one instead of rescanning the fact table (log-depth rollup, the Spark
    answer to the reference's per-period loop pattern, hashtags.py:162-349).

    The base rollup is pinned: without it Spark's union recomputes the
    fact scan once per level — AQE exchange reuse does NOT kick in here
    because each level's subtree canonicalizes differently.
    The base rollup is tiny (≤4^base_z tile rows), so persisting is safe at
    any scale; on a real pipeline the base level is written to a table and
    coarser levels derive from the read-back.
    """
    zooms = sorted(set(zooms), reverse=True)
    base_z = zooms[0]
    base = density_rollup(df, base_z)
    if len(zooms) > 1:
        base = pin(base)
    out = base
    prev, prev_z = base, base_z
    for z in zooms[1:]:
        shift = 2 ** (prev_z - z)
        lvl = (
            prev.select(
                F.lit(z).alias("z"),
                (F.col("x") / F.lit(shift)).cast("int").alias("x"),
                (F.col("y") / F.lit(shift)).cast("int").alias("y"),
                F.col("density"),
            )
            .groupBy("z", "x", "y")
            .agg(F.sum("density").alias("density"))
        )
        out = out.unionByName(lvl)
        prev, prev_z = lvl, z
    return out


def tile_pyramid_merge(
    stored: DataFrame,
    delta_points: DataFrame,
    zooms: list[int],
) -> DataFrame:
    """Incremental pyramid maintenance — the geo twin of the corpus job's
    dedup-vs-index incrementality (jobs/corpus.py): a stored pyramid plus
    a new batch of points yields the updated pyramid WITHOUT rescanning
    history. Valid because density is a plain sum over points, so
    pyramid(A ∪ B) = merge(pyramid(A), pyramid(B)) cell-for-cell in exact
    integer arithmetic — pinned as ``merged == full recompute`` both in
    pytest and as the driver oracle (the tile_pyramid SQL over ALL
    events IS the expected merged output).

    Scale posture (100 TB): the only pass over new data is the delta's
    own pyramid (one rollup of the batch); the merge is one keyed shuffle
    bounded by OCCUPIED TILES (≤ 4^base_z), independent of history size.
    This is the operator a nightly ingest actually runs — history stays
    in the sink, deltas stream through.
    """
    delta = tile_pyramid(delta_points, zooms)
    return (
        stored.unionByName(delta)
        .groupBy("z", "x", "y")
        .agg(F.sum("density").alias("density"))
    )


def zonal_tile_stats(
    zoned_points: DataFrame,
    z: int,
    zone_col: str = "zone",
) -> DataFrame:
    """Zonal statistics — THE classic raster × vector product: per zone
    (country/region/task polygon), summary statistics of the z-level
    tile-density raster restricted to that zone's points (reference
    renders per-region activity density — insights/README.md; this is the
    raster-summary generalization).

    Output per zone: ``n_tiles`` (occupied), ``n_points``,
    ``max_density`` (hottest tile), ``mean_density`` = n_points/n_tiles —
    exact integers plus ONE IEEE division, so the SQL oracle is bit-exact.
    NULL zones (points outside every polygon) are dropped.

    Plan: two decomposable keyed rollups — (zone, x, y) then (zone) —
    both with map-side combine; tile keys are dense at z ≥ 6, so skew
    lives in the zone key exactly as in the country-insights rollups and
    AQE's skew handling applies unchanged. Composes with either PIP
    strategy (broadcast R-tree or cell equi-join) for zone assignment.
    """
    pts = zoned_points.filter(
        F.col(zone_col).isNotNull()
        & F.col("lon").isNotNull()
        & F.col("lat").isNotNull()
    )
    per_tile = (
        with_tile(pts, z)
        .groupBy(F.col(zone_col).alias("zone"), "x", "y")
        .agg(F.count(F.lit(1)).alias("density"))
    )
    return per_tile.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("density").alias("n_points"),
        F.max("density").alias("max_density"),
        (F.sum("density") / F.count(F.lit(1))).alias("mean_density"),
    )


def tile_diff(old_points: DataFrame, new_points: DataFrame, z: int) -> DataFrame:
    """Per-tile change detection between two snapshots — "what changed
    this month": tiles whose density differs between the old and new
    point sets, with both counts and the signed delta (the temporal diff
    of the reference's per-period density tables, computed tile-wise).

    Implemented as ONE union with signed weights + ONE keyed rollup —
    never a full-outer join of two separately-shuffled rollups (half the
    exchanges, same answer: Σ±1 per tile IS the delta). Unchanged tiles
    (including equal-but-nonzero ones) are dropped; a tile present in
    only one snapshot reports 0 on the other side. All counts exact
    integers.
    """
    o = with_tile(
        old_points.filter(
            F.col("lon").isNotNull() & F.col("lat").isNotNull()
        ), z
    ).select("z", "x", "y", F.lit(-1).cast("long").alias("_w"))
    n = with_tile(
        new_points.filter(
            F.col("lon").isNotNull() & F.col("lat").isNotNull()
        ), z
    ).select("z", "x", "y", F.lit(1).cast("long").alias("_w"))
    return (
        o.unionByName(n)
        .groupBy("z", "x", "y")
        .agg(
            F.sum(F.when(F.col("_w") < 0, 1).otherwise(0)).alias("n_old"),
            F.sum(F.when(F.col("_w") > 0, 1).otherwise(0)).alias("n_new"),
            F.sum("_w").alias("delta"),
        )
        .filter(F.col("delta") != 0)
    )


def compact_tile_cover(tiles: DataFrame) -> DataFrame:
    """Quadtree compaction of a z/x/y tile set: any parent whose FOUR
    children are all present is substituted for them, applied twice
    bottom-up — the minimal-cover primitive behind tile-pruned
    spatial filters and raster catalog manifests (the z/x/y scheme is the
    public slippy-map spec; compaction mirrors H3's compact_cells /
    S2's CellUnion.Normalize, both public APIs re-expressed relationally).

    Input: distinct (z, x, y) rows, single z level. Output: the compacted
    cover across z .. z-2 — every input tile is represented exactly
    once, by itself or by exactly one ancestor.

    Scale posture: per level, ONE groupBy on the parent key over the
    bounded occupied-tile set (count == 4 → full) plus one broadcast-able
    anti-join to drop absorbed children; integer-only key arithmetic
    (x div 2), no UDF. Levels are bounded (≤ z), each level's set shrinks
    ≥ 4× where compaction fires.
    """
    cur = tiles.select("z", "x", "y")
    kept = None
    for _ in range(2):
        withp = (
            cur.withColumn("pz", F.col("z") - 1)
            .withColumn("px", F.expr("x div 2"))
            .withColumn("py", F.expr("y div 2"))
        )
        full = (
            withp.groupBy("pz", "px", "py")
            .agg(F.count(F.lit(1)).alias("k"))
            .filter(F.col("k") == 4)
            .drop("k")
        )
        lvl_kept = withp.join(full, ["pz", "px", "py"], "left_anti").select(
            "z", "x", "y")
        kept = lvl_kept if kept is None else kept.unionByName(lvl_kept)
        cur = full.select(
            F.col("pz").alias("z"), F.col("px").alias("x"),
            F.col("py").alias("y"))
    return kept.unionByName(cur) if kept is not None else cur
