"""Hex-grid focal smoothing + hotspot detection over cell rollups.

The raster-analysis sibling of the z/x/y tile pyramid (geo/tiles.py) on
the hex grid: given a per-cell count table (the output shape of the
hex_cells rollup), compute for every occupied cell the ring-1 focal sum
(the cell plus its six axial neighbors), the smoothed density, and a
hotspot flag — the Getis-Ord-style "is this cell hot relative to its
neighborhood" primitive behind edit-density heatmaps and anomaly maps
(reference renders per-region density tables: insights/README.md "mapping
activity", galaxy-api project_stats; the focal/neighbor formulation is
the raster generalization Spark can run at planet scale).

Why this is cheap and exact: the packed axial cell id is linear in its
(q, r) coordinates, so a cell's ring-h neighbors are ``cell`` plus each
packed delta of ``cells.hex_ring(h)`` — pure BIGINT arithmetic, codegen'd
JVM-side, replicated verbatim by the ANSI-SQL oracle. No UDF, no geometry
library.

Scale posture (100 TB): the input is already the per-cell rollup —
bounded by the number of OCCUPIED cells, orders of magnitude smaller than
the event table. The focal pass is one 7× explode of that rollup plus ONE
shuffle keyed on the target cell id, then an inner join back to occupied
cells (same key, co-partitioned by AQE). Halo targets (neighbors that
hold no events) are dropped by the inner join — focal sums treat absent
cells as 0 either way, so the drop loses nothing. Field overflow in the
packed id cannot occur for |q|,|r| < 2^26 - 1, which the encoder
guarantees for all finite lon/lat at res ≤ 15.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells


def hex_focal_smooth(cell_counts: DataFrame) -> DataFrame:
    """Ring-1 focal sum, smoothed density, and hotspot flag per occupied cell.

    Input: one row per occupied hex cell — (cell: BIGINT packed axial
    id, n: BIGINT count). Output per input cell:

    - ``n``          the cell's own count (passthrough)
    - ``ring_sum``   Σ counts over the cell + its 6 axial neighbors
                     (absent neighbors contribute 0)
    - ``ring_cells`` how many of those 7 positions are occupied (≥ 1)
    - ``smoothed``   ring_sum / 7.0 — the focal mean over the full ring
                     footprint (ONE IEEE division of two exact integers,
                     so the oracle reproduces it bit-for-bit)
    - ``is_hot``     the cell holds at least 2× the mean
                     count of its occupied NEIGHBORS (self excluded —
                     Getis-Ord G_i* style contrast): ``n·(ring_cells-1)
                     ·1 ≥ 2·(ring_sum-n)``, an INTEGER
                     cross-product so the flag is float-free. An isolated
                     cell (no occupied neighbors, 0 ≥ 0) is hot by
                     definition: a lone spike in empty space is the
                     sharpest contrast there is.

    The contribution view is symmetric (the offset set is closed under
    negation): exploding each source cell's count to its 7 ring positions
    and summing by target is exactly "each target's ring sum over
    sources" — one explode, one shuffle.
    """
    src = cell_counts.select(
        F.col("cell").cast("long").alias("_c"),
        F.col("n").cast("long").alias("_n"),
    )
    targets = cells.hex_fan(F.col("_c"), cells.hex_ring_offsets(1))
    contrib = src.select(
        F.explode(targets).alias("_t"), F.col("_n").alias("_contrib")
    )
    ring = contrib.groupBy("_t").agg(
        F.sum("_contrib").alias("ring_sum"),
        F.count(F.lit(1)).cast("bigint").alias("ring_cells"),
    )
    return (
        src.join(ring, src["_c"] == ring["_t"])
        .select(
            F.col("_c").alias("cell"),
            F.col("_n").alias("n"),
            F.col("ring_sum"),
            F.col("ring_cells"),
            (F.col("ring_sum") / F.lit(7.0)).alias("smoothed"),
            (
                F.col("_n") * (F.col("ring_cells") - 1) * F.lit(1)
                >= F.lit(2) * (F.col("ring_sum") - F.col("_n"))
            ).alias("is_hot"),
        )
    )


def decayed_cell_scores(
    points: DataFrame,
    res: int,
    halflife_s: int,
    now_epoch_s: int,
) -> DataFrame:
    """Exponentially time-decayed activity per hex cell — the "trending
    now" score (recent edits count full, each halflife halves the
    weight): score = Σ_events 2^−min(age/halflife, 20).

    Exactness by construction: ages quantize to INTEGER halflife buckets,
    so every weight is a power of two (an exact double), every event
    count is an integer ≤ 2^33, and every partial sum is a
    multiple of 2^−20 below 2^33 — representable exactly in a
    double, so the sum is order-free and the SQL oracle reproduces it
    bit-for-bit WITHOUT the sorted-fold crutch. ``now_epoch_s`` is an
    explicit parameter (a deterministic pipeline never reads the clock
    inside the plan); events newer than `now` clamp to bucket 0, older
    than 20 halflives to the floor weight 2^−20.

    Scale: one (cell, bucket) rollup then one cell rollup — both
    decomposable with map-side combine; output bounded by occupied cells.
    """
    age = F.lit(int(now_epoch_s)) - F.col("ts").cast("timestamp").cast("long")
    # exact integer floor-division (subtract the pmod remainder first):
    # float division + floor can misround within an ulp of a bucket edge
    h = F.lit(int(halflife_s)).cast("long")
    bucket = F.least(
        F.lit(20).cast("long"),
        F.greatest(
            F.lit(0).cast("long"),
            ((age - F.pmod(age, h)) / h).cast("long"),
        ),
    )
    per = (
        points.groupBy(
            cells.hex_udf(res)(F.col("lon"), F.col("lat")).alias(
                "cell"
            ),
            bucket.alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per.groupBy("cell").agg(
        F.sum("_n").alias("n_events"),
        F.sum(F.col("_n") * F.pow(F.lit(0.5), F.col("_b"))).alias("score"),
    )


def frontier_cells(cell_counts: DataFrame) -> DataFrame:
    """Mapping-frontier detection — occupied cells with ≥ 1 EMPTY ring-1
    neighbor: the "edge of the mapped world" primitive behind
    where-to-map-next prioritization (directing mappers at gaps is the
    reference project's purpose — insights/README.md; tasking-manager
    integration in SURVEY §2.10). Interior cells (all six neighbors
    occupied) are absent from the output.

    Output: (cell, n, empty_neighbors ∈ 1..6). One 6× explode + ONE
    anti-join keyed on the neighbor cell id (BIGINT arithmetic, no UDF,
    no geometry) + a cell rollup; everything runs on the bounded
    occupied-cell table. Antimeridian wrap is ignored, consistent with
    the focal/cluster siblings and replicated exactly by the oracle.
    """
    occ = cell_counts.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("n"),
    )
    nbrs = cells.hex_fan(F.col("cell"), cells.hex_ring(1))
    fan = occ.select("cell", "n", F.explode(nbrs).alias("_nb"))
    empty = fan.join(
        occ.select(F.col("cell").alias("_nb")), "_nb", "left_anti"
    )
    return empty.groupBy("cell", "n").agg(
        F.count(F.lit(1)).alias("empty_neighbors")
    )


def moran_i_exact(cell_counts: DataFrame) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the hex-cell rollup —
    "are edit counts spatially clustered?" — in EXACT integer arithmetic
    (Moran 1950, public; the lattice-adjacency formulation is standard in
    spatial statistics).

    With x_i the per-cell count, x̄ the mean, and w_ij = 1 when cells i,j
    are ring-1 axial neighbors (both occupied):

        I = (n_cells / W) · Σ_ij w_ij (x_i−x̄)(x_j−x̄) / Σ_i (x_i−x̄)²

    Floats would make the global sums order-dependent, so the kernel
    multiplies through by n_cells²: dev_i = n_cells·x_i − S (S = Σx, all
    BIGINT) and returns the exact integer quadruple

        (n_cells, w_pairs, num = Σ dev_i·dev_j, den = Σ dev_i²)

    with the products accumulated as DECIMAL(38,0) (dev can reach ~5·10⁹
    at sf1 scale; products overflow int64). I = (n_cells/w_pairs)·num/den
    — one division the CONSUMER performs; the engine's answer is exact
    and bit-identical across partitionings and engines.

    Scale posture: same as the focal siblings — one 6× explode of the
    bounded occupied-cell table + one equi-join on the packed cell id +
    two scalar aggregations. w_pairs counts DIRECTED pairs (each
    unordered adjacency twice), matching the symmetric Σ_ij definition.
    """
    occ = cell_counts.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("n"),
    )
    tot = occ.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("s_tot"),
    )
    base = occ.crossJoin(F.broadcast(tot)).select(
        "cell",
        (F.col("n_cells") * F.col("n") - F.col("s_tot")).alias("dev"),
    )
    nbrs = cells.hex_fan(F.col("cell"), cells.hex_ring(1))
    fan = base.select("dev", F.explode(nbrs).alias("_nb"))
    pairs = fan.join(
        base.select(F.col("cell").alias("_nb"), F.col("dev").alias("dev_b")),
        "_nb",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("w_pairs"),
        F.coalesce(
            F.sum(F.col("dev").cast("decimal(19,0)")
                  * F.col("dev_b").cast("decimal(19,0)")),
            F.lit(0),
        ).cast("decimal(38,0)").alias("num"),
    )
    den = base.agg(
        F.coalesce(
            F.sum(F.col("dev").cast("decimal(19,0)")
                  * F.col("dev").cast("decimal(19,0)")),
            F.lit(0),
        ).cast("decimal(38,0)").alias("den"),
    )
    return (
        tot.select("n_cells")
        .crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(den))
        .select("n_cells", "w_pairs", "num", "den")
    )


def getis_ord_exact(cell_counts: DataFrame) -> DataFrame:
    """Per-cell Getis–Ord G_i* hotspot statistic over the hex-cell rollup
    in EXACT integer arithmetic (Getis & Ord 1992 / Ord & Getis 1995,
    public; the "star" variant where the cell weights itself, w_ii = 1).

    The local sibling of ``moran_i_exact``: Moran's I answers "is the
    WHOLE surface clustered?", G_i* answers "WHICH cells are hot?" — the
    per-cell z-score behind every hotspot map:

        z_i = (Σ_j w_ij x_j − x̄ W_i)
              / ( s·sqrt( (n·W_i − W_i²) / (n−1) ) )

    with W_i = Σ_j w_ij (occupied ring positions incl. self), S = Σx,
    Q = Σx², x̄ = S/n, s² = Q/n − x̄². Floats + sqrt would poison the
    bit-exact oracle gate, so the kernel multiplies through by n and
    squares the significance test. Per occupied cell it returns integers

        (cell, x, ring_w = W_i, ring_wx = Σ_j w_ij x_j,
         gi_num = n·ring_wx − W_i·S)

    and the flag ``is_hot`` ⟺ z_i > 49/25 = 1.96 (the two-sided 5%
    Gaussian point) evaluated EXACTLY:

        gi_num > 0  AND
        25²·(n−1)·gi_num² > 49²·(n·Q − S²)·(n·W_i − W_i²)

    — every factor an integer both engines derive identically; the two
    big products ride DECIMAL(38,0) (gi_num can reach ~10⁹ at sf1 scale;
    its square overflows int64). The consumer recovers the float z-score
    as gi_num·sqrt((n−1)/((n·Q−S²)·(n·W_i−W_i²))) when it wants one.

    Scale posture (100 TB): input is the OCCUPIED-cell rollup (bounded by
    distinct cells, not events). One 7× explode + ONE shuffle keyed on the
    target cell id + an equi-join back to occupied cells (AQE
    co-partitioned) + a 3-scalar global agg broadcast back — the same
    2-shuffle layout as hex_focal_smooth; no UDF, no collect, and the
    oracle replays every step in ANSI SQL.
    """
    occ = cell_counts.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("x"),
    )
    tot = occ.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("x").cast("long").alias("s_tot"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q_tot"),
    )
    targets = cells.hex_fan(F.col("cell"), cells.hex_ring_offsets(1))
    contrib = occ.select(F.explode(targets).alias("_t"), F.col("x").alias("_xj"))
    ring = contrib.groupBy("_t").agg(
        F.count(F.lit(1)).cast("long").alias("ring_w"),
        F.sum("_xj").cast("long").alias("ring_wx"),
    )
    j = (
        occ.join(ring, occ["cell"] == ring["_t"])
        .drop("_t")
        .crossJoin(F.broadcast(tot))
    )
    gi_num = (F.col("n_cells") * F.col("ring_wx")
              - F.col("ring_w") * F.col("s_tot"))
    var_g = (F.col("n_cells") * F.col("q_tot")
             - F.col("s_tot") * F.col("s_tot"))
    var_l = (F.col("n_cells") * F.col("ring_w")
             - F.col("ring_w") * F.col("ring_w"))
    lhs = (
        gi_num.cast("decimal(19,0)") * gi_num.cast("decimal(19,0)")
        * ((F.col("n_cells") - 1) * F.lit(25 * 25)).cast("decimal(19,0)")
    )
    rhs = (
        var_g.cast("decimal(19,0)") * var_l.cast("decimal(19,0)")
        * F.lit(49 * 49).cast("decimal(19,0)")
    )
    return j.select(
        "cell",
        "x",
        "ring_w",
        "ring_wx",
        gi_num.cast("long").alias("gi_num"),
        ((gi_num > 0) & (lhs > rhs)).cast("int").alias("is_hot"),
    )


def idw_fill(cell_counts: DataFrame) -> DataFrame:
    """Inverse-distance-weighted gap-fill — estimate a value at every
    EMPTY hex cell from its occupied ring-1/ring-2 neighbors (Shepard
    1968 IDW, public; the raster "fill the holes in the surface"
    primitive behind continuous edit-density heatmaps). The inverse of
    ``frontier_cells``: the frontier is the occupied edge, the gaps are
    the empty holes worth estimating — and directing mappers at gaps is
    the reference project's purpose (insights/README.md).

    IDW with power p = 1 on the hex-graph distance: ring-1 neighbors
    weigh 1/1, ring-2 weigh 1/2. Scaling both by 2 makes every term an
    integer — est = (2·Σ₁x + Σ₂x) / (2·c₁ + c₂) — so the estimate is
    ONE IEEE division of two exactly-derived BIGINTs and the DuckDB
    oracle reproduces it bit-for-bit (same trick as hex_focal_smooth's
    ``smoothed``). Output is gated to true holes (≥ 3 occupied IMMEDIATE
    neighbors): that keeps interior gaps and drops the unbounded halo
    fringe where an estimate is extrapolation, not interpolation.

    Output per gap cell: (cell, ring1_nbrs ∈ 3..6, ring2_nbrs ∈
    0..12, w_num = 2·Σ₁x + Σ₂x, w_den = 2·c₁ + c₂, est = w_num/w_den).

    Scale posture (100 TB): input is the bounded OCCUPIED-cell rollup.
    One 18× explode of that rollup + ONE shuffle keyed on the target
    cell id + one left_anti join vs occupied cells on the SAME key (AQE
    co-partitions; no second shuffle of the big side) — no UDF, no
    geometry library, no collect. Packed-id overflow is impossible for
    |q|,|r| < 2^26 − 2 (the encoder bounds ±2^26 − 1; ring-2 adds ±2).
    """
    occ = cell_counts.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("x"),
    )
    # fan each occupied source to its 18 ring positions, tagged with the
    # IDW weight (×2 integer scaling): ring-1 → 2, ring-2 → 1
    fan = F.array(
        *[
            F.struct(
                (F.col("cell") + F.lit(o).cast("long")).alias("t"),
                F.lit(3 - h).alias("w"),
            )
            for h in (1, 2)
            for o in cells.hex_ring(h)
        ]
    )
    contrib = occ.select(F.explode(fan).alias("f"), "x").select(
        F.col("f.t").alias("_t"),
        F.col("f.w").alias("_w"),
        "x",
    )
    agg = contrib.groupBy("_t").agg(
        F.sum((F.col("_w") == 2).cast("long")).alias("ring1_nbrs"),
        F.sum((F.col("_w") == 1).cast("long")).alias("ring2_nbrs"),
        F.sum(F.col("_w") * F.col("x")).cast("long").alias("w_num"),
        F.sum("_w").cast("long").alias("w_den"),
    )
    gaps = agg.join(
        occ.select(F.col("cell").alias("_t")), "_t", "left_anti"
    ).where(F.col("ring1_nbrs") >= F.lit(3))
    return gaps.select(
        F.col("_t").alias("cell"),
        "ring1_nbrs",
        "ring2_nbrs",
        "w_num",
        "w_den",
        (F.col("w_num") / F.col("w_den")).alias("est"),
    )


def semivariogram_exact(cell_counts: DataFrame) -> DataFrame:
    """Empirical semivariogram over the hex-cell rollup in EXACT integer
    arithmetic (Matheron 1963 estimator, public) — the geostatistics
    primitive that quantifies HOW FAR spatial correlation reaches:

        γ(h) = Σ_{pairs at hex distance h} (x_i − x_j)² / (2·N_h)

    for each lag h = 1..3. Moran's I gives one global clustering
    number, G_i* flags individual cells; the variogram gives the
    *structure* — γ rising toward a sill tells you the practical
    correlation range, which is exactly the number that should pick the
    focal-smoothing radius and the hex resolution upstream.

    Each unordered pair is counted ONCE: the ring-h offset set is closed
    under negation, so the kernel fans only the positive half of
    ``cells.hex_ring(h)`` (3h of the 6h packed deltas) and joins back to
    occupied cells. Output per lag: (h, n_pairs, sse —
    Σ(x_i−x_j)² as exact BIGINT, gamma = sse/(2·n_pairs) — ONE IEEE
    division of exact integers, reproduced bit-for-bit by the oracle).
    Lags with zero pairs are absent.

    Scale posture (100 TB): input is the bounded OCCUPIED-cell rollup;
    one (3·Σh)× explode + ONE equi-join on the BIGINT neighbor id (AQE
    co-partitioned with the fan shuffle) + a ≤3-row rollup. No UDF,
    no geometry, no all-pairs — pair count is bounded by 3·Σh × occupied
    cells, never quadratic.
    """
    occ = cell_counts.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("x"),
    )
    fan = F.array(
        *[
            F.struct(
                (F.col("cell") + F.lit(o).cast("long")).alias("t"),
                F.lit(h).alias("h"),
            )
            for h in range(1, 4)
            for o in cells.hex_ring(h)
            if o > 0
        ]
    )
    pairs = (
        occ.select(F.explode(fan).alias("f"), F.col("x").alias("xi"))
        .select(F.col("f.t").alias("_t"), F.col("f.h").alias("h"), "xi")
        .join(
            occ.select(F.col("cell").alias("_t"), F.col("x").alias("xj")),
            "_t",
        )
    )
    d = F.col("xi") - F.col("xj")
    return (
        pairs.groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(d * d).cast("long").alias("sse"),
        )
        .select(
            "h",
            "n_pairs",
            "sse",
            (F.col("sse") / (F.lit(2) * F.col("n_pairs"))).alias("gamma"),
        )
    )
