"""Per-user trajectory summaries — order a user's events in time and
summarize the resulting track: leg count, duration, path length, net
displacement, longest hop (the movement-profile rollup behind "local
mapper vs armchair mapper vs bot sweep" classification; reference
aggregates per-user activity without the spatial dimension —
galaxy-api user stats, insights README "mapping activity" — this adds
it).

Exactness contract: every emitted double is a fixed IEEE expression tree
over the inputs — leg = √(Δlon² + Δlat²) per consecutive pair, net
displacement = the same over the (first, last) points — so an
independent SQL engine reproduces them bit-for-bit. The ONE
order-sensitive reduction, Σ legs, folds the per-user leg list in
ascending sorted order (the bm25 pattern: `aggregate(sort_array(
collect_list(...)))` ≡ DuckDB `list_reduce(list_prepend(0.0,
list_sort(...)))`), making the sum a deterministic function of the leg
multiset, independent of partitioning. First/last points are min/max of
a (ts, id, lon, lat) struct — total order, tie-safe.

Scale posture (100 TB): ONE shuffle on the user key (the window and the
groupBy share it — AQE reuses the exchange). The collect_list holds one
user's LEG LENGTHS (8 bytes each), bounded by that user's event count —
the same per-key-bounded state every sessionization/track system
carries; a pathological single-key hotspot (a firehose bot) would need
the user's legs split by a salt and the summaries re-merged as a monoid,
noted here rather than silently assumed away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def user_tracks(points: DataFrame, id_col: str = "id") -> DataFrame:
    """(user_id, n_points, duration_s, path_len_deg, net_disp_deg,
    max_leg_deg) per user. Single-point tracks: duration 0, path 0.0,
    net 0.0, max_leg NULL."""
    pts = points.select(
        F.col("user_id"),
        # NTZ → TIMESTAMP → long (session TZ is UTC: instant preserved)
        F.col("ts").cast("timestamp").cast("long").alias("_ep"),
        F.col(id_col).alias("_id"),
        "lon",
        "lat",
    )
    w = Window.partitionBy("user_id").orderBy("_ep", "_id")
    leg = F.sqrt(
        (F.col("lon") - F.lag("lon").over(w)) ** 2
        + (F.col("lat") - F.lag("lat").over(w)) ** 2
    )
    legged = pts.withColumn("_leg", leg)
    pt_struct = F.struct("_ep", "_id", "lon", "lat")
    agg = legged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        (F.max("_ep") - F.min("_ep")).alias("duration_s"),
        F.aggregate(
            F.sort_array(F.collect_list("_leg")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("path_len_deg"),
        F.max("_leg").alias("max_leg_deg"),
        F.min(pt_struct).alias("_first"),
        F.max(pt_struct).alias("_last"),
    )
    net = F.sqrt(
        (F.col("_last.lon") - F.col("_first.lon")) ** 2
        + (F.col("_last.lat") - F.col("_first.lat")) ** 2
    )
    return agg.select(
        "user_id",
        "n_points",
        "duration_s",
        "path_len_deg",
        net.alias("net_disp_deg"),
        "max_leg_deg",
    )


def home_cells(points: DataFrame) -> DataFrame:
    """Per-user "home cell" — the most-visited hex cell (ties broken to
    the SMALLEST cell id, so the answer is deterministic): the classic
    home-location inference primitive behind "local mapper vs remote
    mapper" splits (reference tags users by country via their edits;
    this is the cell-resolution generalization).

    Output: (user_id, home_cell, visits, n_cells). Two keyed shuffles —
    (user, cell) rollup then user argmax — both decomposable aggs with
    map-side combine, so hot users cost map work, not reducer skew. The
    argmax is max(struct(visits, −cell)): one total order, no window, no
    self-join; cell ids are positive (packed axial layout), so negation
    flips the tie direction exactly.
    """
    from . import cells as _c

    per = (
        points.select(
            F.col("user_id"),
            _c.hex_udf(1)(F.col("lon"), F.col("lat")).alias(
                "cell"
            ),
        )
        .groupBy("user_id", "cell")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        per.groupBy("user_id")
        .agg(
            F.max(F.struct(F.col("_n"), (-F.col("cell")).alias("_negc")))
            .alias("_pick"),
            F.sum("_n").alias("visits_total"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .select(
            "user_id",
            (-F.col("_pick._negc")).alias("home_cell"),
            F.col("_pick._n").alias("visits"),
            "visits_total",
            "n_cells",
        )
    )


def od_flows(points: DataFrame, id_col: str = "id") -> DataFrame:
    """Origin–destination flow matrix between hex cells — the
    spatial-interaction rollup behind movement/commuting matrices
    (classic OD-matrix analysis, public): for every user's
    chronologically consecutive point pairs whose CELLS differ, count
    the directed (origin_cell, dest_cell) move.

    Output: (cell_from, cell_to, n_moves, n_users — exact distinct
    movers). Same-cell consecutive points are dwell, not movement —
    excluded (dwell is ``sessions.dwell_segments``' job); ties on ts
    order by ``id_col`` so both engines see identical lag sequences
    (the sessionize rule).

    Scale posture (100 TB): cell encode is the shared Arrow-batched
    kernel (one map pass); ONE user-partitioned window (skew bounded by
    the busiest user) emits the lag pairs; the matrix rollup is ONE
    (from, to)-keyed shuffle — n_moves decomposable (map-side combine),
    n_users an exact count-distinct bounded by the pair's movers. The
    matrix is bounded by OCCUPIED cell pairs actually traveled, not
    |cells|².
    """
    from pyspark.sql.window import Window as W

    from .cells import hex_udf

    pts = points.select(
        F.col("user_id"),
        F.col("ts").alias("_ts"),
        F.col(id_col).alias("_id"),
        hex_udf(0)(F.col("lon"), F.col("lat"))
        .alias("cell"),
    )
    w = W.partitionBy("user_id").orderBy(F.asc("_ts"), F.asc("_id"))
    moved = (
        pts.withColumn("_prev", F.lag("cell").over(w))
        .where(F.col("_prev").isNotNull()
               & (F.col("_prev") != F.col("cell")))
    )
    return moved.groupBy(
        F.col("_prev").alias("cell_from"), F.col("cell").alias("cell_to")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_moves"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def simplify_tracks(
    points: DataFrame,
    eps_milli: int,
    id_col: str = "id",
) -> DataFrame:
    """Depth-capped Douglas–Peucker polyline simplification per track
    (Douglas & Peucker 1973, public) — keep a point when its perpendicular
    deviation from the current chord exceeds ``eps_milli`` millidegrees,
    recursing into both halves, at most 4 levels deep.

    The depth cap is not a shortcut but the DISTRIBUTED framing: classic
    DP is unboundedly recursive, which neither a fixed SQL oracle nor a
    bounded work estimate can follow; capping the split tree makes the
    operator a fixed pipeline of 4 argmax rounds (each level ≤ 2^L
    segments/track), bounds kept interior points at 2^4 − 1 = 15, and
    keeps the oracle expressible as 4 unrolled SQL stages — the same
    discipline as the unrolled-Lloyd kmeans oracle. The cap binds only
    on tracks needing > 15 kept vertices.

    Exactness: coordinates are quantized to integer 1/1000 degrees
    (lossless on the synthetic milli-degree lattice) and every DP decision
    is arbitrary-precision integer arithmetic in the Arrow kernel —
    cross(A,B,P)² > eps²·|AB|² (point-to-POINT distance when the chord is
    degenerate A == B) — so kept-point sets are bit-stable across
    partitionings and engines. Ties (equal deviation) keep the smallest
    index; strict `>` means on-the-chord points never split.

    Scale posture: ONE shuffle on the track key (applyInPandas); per-group
    work is O(n · 2^4) comparisons on a track of n points with
    NO global state — the embarrassingly-parallel per-key shape. Output:
    (user_id, idx, lon, lat) — kept points with their 0-based position in
    the (ts, id)-ordered track; endpoints always kept.
    """
    if eps_milli < 0:
        raise ValueError("eps_milli must be >= 0")
    pts = points.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").cast("long").alias("_ep"),
        F.col(id_col).cast("long").alias("_id"),
        "lon",
        "lat",
    )
    e2 = int(eps_milli) * int(eps_milli)

    def dp(pdf):
        import numpy as np

        pdf = pdf.sort_values(["_ep", "_id"], kind="mergesort").reset_index(
            drop=True
        )
        # r6 (guide §4.2): the per-candidate scan is vectorized. Exactness
        # is preserved: the cross product |dx·py − dy·px| ≤ ~2^41 fits
        # int64, argmax over |cross| ≡ argmax over cross² (monotone on
        # ≥ 0; np.argmax keeps the FIRST max = the old smallest-k tie
        # rule), and only the one threshold compare per segment — whose
        # squares can exceed 2^63 — runs in arbitrary-precision Python int.
        xs = np.rint(pdf["lon"].to_numpy(np.float64) * 1000).astype(np.int64)
        ys = np.rint(pdf["lat"].to_numpy(np.float64) * 1000).astype(np.int64)
        n = len(pdf)
        keep = {0, n - 1}
        stack = [(0, n - 1, 0)]
        while stack:
            i, j, d = stack.pop()
            if j - i < 2 or d >= 4:
                continue
            ax, ay = int(xs[i]), int(ys[i])
            dx, dy = int(xs[j]) - ax, int(ys[j]) - ay
            l2 = dx * dx + dy * dy
            px = xs[i + 1:j] - ax
            py = ys[i + 1:j] - ay
            if l2:
                mag = np.abs(dx * py - dy * px)        # |cross| ≤ 2^41
                ki = int(np.argmax(mag))
                best = int(mag[ki]) ** 2               # exact python int
            else:
                s = px * px + py * py                  # ≤ 2^41, exact
                ki = int(np.argmax(s))
                best = int(s[ki])
            bestk = i + 1 + ki
            if best > (e2 * l2 if l2 else e2):
                keep.add(bestk)
                stack.append((i, bestk, d + 1))
                stack.append((bestk, j, d + 1))
        out = pdf.iloc[sorted(keep)][["user_id", "lon", "lat"]].copy()
        out.insert(1, "idx", sorted(keep))
        out["idx"] = out["idx"].astype("int32")
        return out

    # explicit hash partitioning with a PINNED count (r6, guide §2.5):
    # the group shuffle is byte-small, so AQE coalesced it to 1-2 tasks —
    # but the per-group Python kernel is CPU-bound, and coalescing
    # serialized ~all groups onto one core (measured 3.8 s on 2 tasks at
    # sf0.1). A user-specified repartition is exempt from AQE coalescing
    # and already satisfies the groupBy's required distribution, so no
    # second exchange is added.
    par = points.sparkSession.sparkContext.defaultParallelism
    return pts.repartition(par, "user_id").groupBy("user_id").applyInPandas(
        dp, "user_id long, idx int, lon double, lat double"
    )


#: the 8 integer direction vectors of the BFP extreme-point scan —
#: axis-aligned + diagonals; |dot| ≤ 2·(360000+170000) < 2^21, safe in long
HULL_DIRS = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)]


def directional_hull(points: DataFrame, id_col: str = "id") -> DataFrame:
    """K-directional extreme points per group — the Bentley-Faust-Preparata
    (CACM 1982, public) convex-hull approximation, the framing that makes
    "hull per key" DECOMPOSABLE: the exact hull needs all points of a group
    in one place (or a partial-hull merge pass), while the K-direction
    extreme set is K independent argmax aggregations — map-side combined,
    one shuffle on the group key, no applyInPandas, no per-group memory.
    Every emitted point IS a true hull vertex (an extreme point in some
    direction); the approximation only omits vertices extreme solely in
    un-sampled directions (BFP bound: area error ≤ O(1/K²)).

    Output: (user_id, dir_idx, id, lon, lat) — per user and direction, the
    point maximizing ``dot(dir, (x, y))`` on 1/1000-degree integer
    coordinates; ties break to the smallest ``id`` (struct-max on
    (dot, −id): exact, deterministic, engine-independent).
    """
    pts = points.select(
        F.col("user_id").alias("key"),
        F.col(id_col).cast("long").alias("_id"),
        "lon",
        "lat",
        F.round(F.col("lon") * 1000).cast("long").alias("_x"),
        F.round(F.col("lat") * 1000).cast("long").alias("_y"),
    )
    dirs = F.array(*[
        F.struct(
            F.lit(i).cast("int").alias("dir_idx"),
            F.lit(dx).cast("long").alias("dx"),
            F.lit(dy).cast("long").alias("dy"),
        )
        for i, (dx, dy) in enumerate(HULL_DIRS)
    ])
    fan = pts.select(
        "key", "_id", "lon", "lat", "_x", "_y", F.explode(dirs).alias("d")
    )
    dot = F.col("d.dx") * F.col("_x") + F.col("d.dy") * F.col("_y")
    best = (
        fan.groupBy("key", F.col("d.dir_idx").alias("dir_idx"))
        .agg(
            F.max(
                F.struct(
                    dot.alias("dot"),
                    (-F.col("_id")).alias("neg_id"),
                    F.col("lon").alias("lon"),
                    F.col("lat").alias("lat"),
                )
            ).alias("b")
        )
        .select(
            F.col("key").alias("user_id"),
            "dir_idx",
            (-F.col("b.neg_id")).alias(id_col),
            F.col("b.lon").alias("lon"),
            F.col("b.lat").alias("lat"),
        )
    )
    return best


def move_rose(points: DataFrame, id_col: str = "id") -> DataFrame:
    """Directional rose of movement — the octant histogram behind every
    wind-rose / movement-bearing plot (classic directional statistics),
    WITHOUT atan2: octant boundaries are exactly the rays E/NE/N/…
    (multiples of 45°), so membership is pure integer sign and
    |dx| vs |dy| comparisons on 1/1000-degree deltas — the same
    CASE tree evaluates bit-identically in any SQL engine, no libm.

    For each user's chronologically consecutive point pairs ((ts, id)
    order — the sessionize tie rule): sector = ⌊θ/45°⌋ ∈ 0..7 measured
    counterclockwise from east, half-open [k·45°, (k+1)·45°); zero-length
    moves are sector −1 ("still"). Output: (sector, n_moves, sum_d2) with
    ``sum_d2`` the exact integer sum of squared milli-degree lengths
    (the rose's weight column; sqrt stays with the consumer).

    Scale posture: one map pass, ONE user-partitioned window for the lag
    pair, then a 9-row decomposable rollup — map-side combine absorbs
    everything; skew bounded by the busiest single user.
    """
    pts = points.select(
        F.col("user_id"),
        F.col("ts").alias("_ts"),
        F.col(id_col).alias("_id"),
        F.round(F.col("lon") * 1000).cast("long").alias("_x"),
        F.round(F.col("lat") * 1000).cast("long").alias("_y"),
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("_ts"), F.asc("_id"))
    m = (
        pts.withColumn("_px", F.lag("_x").over(w))
        .withColumn("_py", F.lag("_y").over(w))
        .where(F.col("_px").isNotNull())
        .select(
            (F.col("_x") - F.col("_px")).alias("dx"),
            (F.col("_y") - F.col("_py")).alias("dy"),
        )
    )
    dx, dy = F.col("dx"), F.col("dy")
    sector = (
        F.when((dx == 0) & (dy == 0), F.lit(-1))
        .when((dy >= 0) & (dx > 0) & (dx > dy), F.lit(0))
        .when((dy > 0) & (dx > 0) & (dx <= dy), F.lit(1))
        .when((dy > 0) & (dx <= 0) & (-dx < dy), F.lit(2))
        .when((dy > 0) & (dx < 0) & (-dx >= dy), F.lit(3))
        .when((dy == 0) & (dx < 0), F.lit(4))
        .when((dy < 0) & (dx < 0) & (-dx > -dy), F.lit(4))
        .when((dy < 0) & (dx < 0) & (-dx <= -dy), F.lit(5))
        .when((dy < 0) & (dx >= 0) & (dx < -dy), F.lit(6))
        .otherwise(F.lit(7))
        .cast("int")
    )
    return (
        m.select(sector.alias("sector"),
                 (dx * dx + dy * dy).alias("d2"))
        .groupBy("sector")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_moves"),
            F.sum("d2").cast("long").alias("sum_d2"),
        )
    )
