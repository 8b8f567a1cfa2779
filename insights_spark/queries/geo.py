"""Spatial queries: PIP country joins, tiles and tile pyramids, cell
families (grid, S2, hex, geohash), kNN and range joins, raster→vector
regions, focal statistics and trajectories."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insights_spark.geo import cells as _cells
from insights_spark.queries import query
from insights_spark.queries._fixtures import (
    _boundary_rows,
    _COUNTRIES,
    _country_case_sql,
    _EV_PTS,
    _points,
    _POINTS_SQL,
    _s2_cells_sql,
    _t,
)
from insights_spark.session import local_df, pin


_CUST_PTS = f"SELECT c_custkey, {_POINTS_SQL.format(k='c_custkey')} FROM customer"

_TILE_XY = """
    greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * {n}.0) AS INT), {nm1})) AS x,
    greatest(0, least(CAST(floor((1.0 - ln(tan(radians(greatest(-85.05112878,
        least(lat, 85.05112878)))) + 1.0 / cos(radians(greatest(-85.05112878,
        least(lat, 85.05112878))))) / pi()) / 2.0 * {n}.0) AS INT), {nm1})) AS y
"""


def _hex_cells_chain_sql(res: int, src: str | None = None,
                         carry: str = "event_id") -> str:
    """CTE chain ``pts → … → hexed`` replicating geo.cells' axial hex
    encode at ``res`` — the bit-exact SQL twin of
    ``cells.hex_udf(res)``. ``src`` is the pts SELECT
    (defaults to the derived event points), ``carry`` the key column(s)
    threaded through to ``hexed(carry…, cell)``. Constants come from the
    kernel itself via repr round-trip."""
    from insights_spark.geo import cells as _cells

    c1 = repr(_cells._SQRT3 / 3.0)
    c2 = repr(2.0 / 3.0)
    size = repr(_cells.hex_edge_deg(res))
    return f"""pts AS ({src or _EV_PTS}),
        hx AS (SELECT {carry},
                      ({c1} * lon - lat / 3.0) / {size} AS qf,
                      ({c2} * lat) / {size} AS rf
               FROM pts),
        cr AS (SELECT {carry}, qf, rf,
                      floor(qf + 0.5) AS rx0,
                      floor(-qf - rf + 0.5) AS ry0,
                      floor(rf + 0.5) AS rz0
               FROM hx),
        fx AS (SELECT {carry}, rx0, ry0, rz0,
                      abs(rx0 - qf) AS dx,
                      abs(ry0 - (-qf - rf)) AS dy,
                      abs(rz0 - rf) AS dz
               FROM cr),
        qr AS (SELECT {carry},
                      CAST(CASE WHEN dx > dy AND dx > dz THEN -ry0 - rz0
                           ELSE rx0 END AS BIGINT) AS q,
                      CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy
                           THEN -rx0 - ry0 ELSE rz0 END AS BIGINT) AS r
               FROM fx),
        hexed AS (SELECT {carry}, {_cells.hex_encode_sql(res)} AS cell
                  FROM qr)"""


def _hex_cnts_sql(res: int) -> str:
    """``pts → … → cnts``: the hex encode chain plus the per-cell count
    (shared by the hex_smooth and cell_clusters oracles)."""
    return f"""{_hex_cells_chain_sql(res)},
        cnts AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
                 FROM hexed GROUP BY 1)"""


def _dp_sql() -> str:
    """Unrolled depth-capped Douglas-Peucker: the same argmax-and-split
    recurrence as geo.track.simplify_tracks, one SQL stage per level
    (kmeans-unroll discipline). Integer millidegree coordinates come
    straight from the key hash (no float round-trip); cross-products are
    HUGEINT so the squared deviation (~1e23) never overflows; the
    argmax tie-break (score DESC, idx ASC) and the strict > gate match
    the kernel exactly. Ordering is (epoch-SECONDS, event_id) — the same
    second-truncated key the Spark side sorts on. Tolerance 20000
    millidegrees, depth 4."""
    eps_milli, depth = 20000, 4
    e2 = eps_milli * eps_milli
    parts = [f"""
        pts AS (SELECT user_id AS u, ts, event_id,
                       mod(event_id * 7919, 360000) - 180000 AS x,
                       mod(event_id * 104729, 170000) - 85000 AS y,
                       {_POINTS_SQL.format(k='event_id')}
                FROM events),
        ord0 AS (SELECT u,
                        row_number() OVER (
                            PARTITION BY u
                            ORDER BY epoch_us(ts) // 1000000, event_id
                        ) - 1 AS idx,
                        x, y, lon, lat
                 FROM pts),
        ends AS (SELECT u, max(idx) AS last FROM ord0 GROUP BY u),
        seg0 AS (SELECT u, 0 AS i, last AS j FROM ends WHERE last >= 2)"""]
    for lv in range(1, depth + 1):
        parts.append(f"""
        cand{lv} AS (
            SELECT s.u, s.i, s.j, p.idx,
                   CASE WHEN b.x = a.x AND b.y = a.y
                        THEN CAST(p.x - a.x AS HUGEINT) * (p.x - a.x)
                             + CAST(p.y - a.y AS HUGEINT) * (p.y - a.y)
                        ELSE (CAST(b.x - a.x AS HUGEINT) * (p.y - a.y)
                              - CAST(b.y - a.y AS HUGEINT) * (p.x - a.x))
                             * (CAST(b.x - a.x AS HUGEINT) * (p.y - a.y)
                                - CAST(b.y - a.y AS HUGEINT) * (p.x - a.x))
                   END AS score,
                   CASE WHEN b.x = a.x AND b.y = a.y
                        THEN CAST({e2} AS HUGEINT)
                        ELSE CAST({e2} AS HUGEINT)
                             * (CAST(b.x - a.x AS HUGEINT) * (b.x - a.x)
                                + CAST(b.y - a.y AS HUGEINT) * (b.y - a.y))
                   END AS thr
            FROM seg{lv - 1} s
            JOIN ord0 p ON p.u = s.u AND p.idx > s.i AND p.idx < s.j
            JOIN ord0 a ON a.u = s.u AND a.idx = s.i
            JOIN ord0 b ON b.u = s.u AND b.idx = s.j),
        split{lv} AS (
            SELECT u, i, j, idx FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY u, i, j ORDER BY score DESC, idx ASC) AS rn
                FROM cand{lv})
            WHERE rn = 1 AND score > thr),
        seg{lv} AS (SELECT u, i, idx AS j FROM split{lv}
                    UNION ALL
                    SELECT u, idx, j FROM split{lv})""")
    kept = ["SELECT u, 0 AS idx FROM ends",
            "SELECT u, last AS idx FROM ends"] + [
        f"SELECT u, idx FROM split{lv}" for lv in range(1, depth + 1)]
    return (
        "WITH " + ",".join(parts)
        + ", kept AS (" + " UNION ".join(kept) + ")"
        + """
        SELECT o.u AS user_id, CAST(o.idx AS INT) AS idx, o.lon, o.lat
        FROM ord0 o JOIN kept k ON k.u = o.u AND k.idx = o.idx"""
    )


tile6 = _TILE_XY.format(n=64, nm1=63)
tile5 = _TILE_XY.format(n=32, nm1=31)

tile5_raster = f"""
        raster AS (SELECT 5 AS z, {tile5}, CAST(count(*) AS BIGINT) AS density
                   FROM pts GROUP BY 1, 2, 3),
        hot AS (SELECT * FROM raster
                WHERE density >= (SELECT avg(density) FROM raster))
    """

case_country = _country_case_sql()

# shared by `knn` (brute force) and `knn_cell_local` (certified-exact
# cell-ring path): both engines produce the identical exact result
knn_sql = f"""
        WITH pts AS ({_CUST_PTS})
        SELECT id, neighbor_id, dist2, CAST(rank AS INT) AS rank FROM (
          SELECT a.c_custkey AS id, b.c_custkey AS neighbor_id,
                 (a.lon - b.lon) * (a.lon - b.lon)
                 + (a.lat - b.lat) * (a.lat - b.lat) AS dist2,
                 row_number() OVER (PARTITION BY a.c_custkey
                                    ORDER BY (a.lon - b.lon) * (a.lon - b.lon)
                                    + (a.lat - b.lat) * (a.lat - b.lat) ASC,
                                    b.c_custkey ASC) AS rank
          FROM pts a JOIN pts b ON a.c_custkey != b.c_custkey)
        WHERE rank <= 3
    """

def _offsets_sql(offsets: list[int]) -> str:
    """DuckDB BIGINT list literal of packed-id deltas."""
    return f"[{', '.join(map(str, offsets))}]::BIGINT[]"


_OFF6 = _offsets_sql(_cells.hex_ring(1))  # the 6 ring-1 neighbours
_OFF7 = _offsets_sql(_cells.hex_ring_offsets(1))  # the cell and its ring 1


@query("flagship_tile_density", headline=True, oracle=f"""
            WITH pts AS ({_EV_PTS})
            SELECT {case_country} AS country, 6 AS z, {tile6}, CAST(count(*) AS BIGINT) AS density
            FROM pts GROUP BY 1, 2, 3, 4
        """)
def _q_flagship_tile_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: events → synthetic points → broadcast PIP country join →
    z6 slippy tiles → density rollup (SURVEY §2.11 + J6 + tile math)."""
    from insights_spark.geo import pip, tiles

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    located = pip.assign_country(pts, _boundary_rows())
    tiled = tiles.with_tile(located, z=6)
    return (
        tiled.groupBy("country", "z", "x", "y")
        .agg(F.count(F.lit(1)).alias("density"))
    )


@query("knn", oracle=knn_sql)
def _q_knn(spark, sf_dir):
    """kNN exact — broadcast + window top-k over customer points."""
    from insights_spark.geo.knn import knn_exact

    pts = _points(_t(spark, sf_dir, "customer").select("c_custkey"), "c_custkey")
    return knn_exact(pts, k=3, id_col="c_custkey")


@query("pip_countries", headline=True, oracle=f"""
            WITH pts AS ({_CUST_PTS})
            SELECT c_custkey, {case_country} AS country FROM pts
        """)
def _q_pip_countries(spark, sf_dir):
    """J6 — broadcast R-tree point-in-polygon with deterministic tie-break."""
    from insights_spark.geo import pip

    pts = _points(_t(spark, sf_dir, "customer").select("c_custkey"), "c_custkey")
    return pip.assign_country(pts, _boundary_rows()).select(
        "c_custkey", "country"
    )


@query("pip_via_cells", oracle=f"""
            WITH pts AS ({_CUST_PTS})
            SELECT c_custkey, {case_country} AS country FROM pts
        """)
def _q_pip_via_cells(spark, sf_dir):
    """J6 again as a CELL EQUI-JOIN: polyfilled padded covers broadcast,
    interior cells skip the exact test, boundary cells run the closed-box
    predicate — same answer as the R-tree path, same oracle SQL."""
    from insights_spark.geo import pip

    pts = _points(_t(spark, sf_dir, "customer").select("c_custkey"), "c_custkey")
    return pip.assign_country_cells(pts, list(_COUNTRIES), "c_custkey").select(
        "c_custkey", "country"
    )


_TILE_PYRAMID_SQL = f"""
            WITH pts AS ({_EV_PTS}),
            z6 AS (SELECT 6 AS z, {tile6}, CAST(count(*) AS BIGINT) AS density
                   FROM pts GROUP BY 1, 2, 3)
            SELECT z, x, y, density FROM z6
            UNION ALL
            SELECT 4 AS z, CAST(floor(x / 4) AS INT) AS x, CAST(floor(y / 4) AS INT) AS y,
                   CAST(sum(density) AS BIGINT) AS density
            FROM z6 GROUP BY 2, 3
        """


@query("tile_pyramid", headline=True, oracle=_TILE_PYRAMID_SQL)
def _q_tile_pyramid(spark, sf_dir):
    """Tile rollup pyramid — z6 base aggregated to z4 (log-depth rollup)."""
    from insights_spark.geo import tiles

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    return tiles.tile_pyramid(pts, [6, 4])


def _z5_raster_thr(spark, sf_dir):
    """The z5 density raster of the raster queries (tile_vectorize /
    tile_regions / tile_regions_star), pinned for this build, and its
    avg-density threshold. The `.first()` is a bounded 1-row aggregate over
    the ≤4^z-row raster, which the query then reads from the pin."""
    from insights_spark.geo import tiles

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    raster = pin(tiles.density_rollup(pts, 5))
    return raster, raster.agg(F.avg("density")).first()[0]


# inverse web-mercator lat of tile-fraction {yf}, sinh in exp-form —
# the exact expression geo/vectorize._merc_lat runs
inv_lat = (
    "round(degrees(atan((exp(pi() * (1.0 - 2.0 * ({yf})))"
    " - exp(-(pi() * (1.0 - 2.0 * ({yf}))))) / 2.0)), 9)"
)


@query("tile_vectorize", headline=True, oracle=f"""
            WITH pts AS ({_EV_PTS}),
            {tile5_raster}
            SELECT z, x, y, density,
                   round(x / 32.0 * 360.0 - 180.0, 9) AS west,
                   {inv_lat.format(yf='(y + 1) / 32.0')} AS south,
                   round((x + 1) / 32.0 * 360.0 - 180.0, 9) AS east,
                   {inv_lat.format(yf='y / 32.0')} AS north
            FROM hot
        """)
def _q_tile_vectorize(spark, sf_dir):
    """Raster→vector half of the north rule's raster↔vector pair: z5
    density raster over events → above-average tiles as lon/lat quad
    bounds (inverse web-mercator; sinh in exp-form and 9-dp rounding on
    BOTH engines so the float comparison is libm-ulp-proof). The
    above-AVERAGE threshold keeps the hot-tile structure stable across
    scale factors."""
    from insights_spark.geo import vectorize

    raster, thr = _z5_raster_thr(spark, sf_dir)
    return vectorize.vectorize_tiles(raster, min_density=thr)


_TILE_REGIONS_SQL = f"""
            WITH RECURSIVE pts AS ({_EV_PTS}),
            {tile5_raster},
            ids AS (SELECT z, x, y, density,
                           CAST(z AS BIGINT) * 4503599627370496
                           + CAST(x AS BIGINT) * 67108864
                           + CAST(y AS BIGINT) AS id
                    FROM hot),
            edges AS (SELECT a.id AS src, b.id AS dst
                      FROM ids a JOIN ids b
                      ON a.z = b.z AND abs(a.x - b.x) + abs(a.y - b.y) = 1),
            reach(src, dst) AS (
                SELECT id, id FROM ids
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            )
            SELECT i.z, i.x, i.y, i.density, c.region_id
            FROM ids i JOIN (SELECT src, MIN(dst) AS region_id
                             FROM reach GROUP BY src) c ON i.id = c.src
        """


@query("tile_regions_star", oracle=_TILE_REGIONS_SQL)
@query("tile_regions", oracle=_TILE_REGIONS_SQL)
def _q_tile_regions(spark, sf_dir):
    """Merged hot-tile regions: 4-adjacency connected components over the
    z5 above-average raster via large-star/small-star contraction
    (geo/vectorize.star_cc_labels — O(log² n) rounds on ANY topology).
    Registered twice: tile_regions_star is the older name of the same
    path. Oracle: DuckDB recursive-CTE transitive closure over the same
    adjacency — region_id is the min tile id of the component on both
    engines."""
    from insights_spark.geo import vectorize

    raster, thr = _z5_raster_thr(spark, sf_dir)
    return vectorize.tile_regions(raster, min_density=thr)


@query("grid_cells", oracle=f"""
            WITH pts AS ({_EV_PTS})
            SELECT CAST(floor((lon + 180.0) * 4) * 4294967296
                        + floor((lat + 90.0) * 4) AS BIGINT) AS cell,
                   CAST(count(*) AS BIGINT) AS n
            FROM pts GROUP BY 1
        """)
def _q_grid_cells(spark, sf_dir):
    """Grid-cell binning (pure-column spatial index primitive)."""
    from insights_spark.geo.cells import grid_cell_col

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    return (
        pts.withColumn("cell", grid_cell_col(F.col("lon"), F.col("lat")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("envelope", oracle=f"""
            WITH pts AS ({_EV_PTS})
            SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM pts
            WHERE lon >= -10.0 AND lon <= 50.0 AND lat >= -5.0 AND lat <= 45.0
            GROUP BY event_type
        """)
def _q_envelope(spark, sf_dir):
    """J9 — ST_CoveredBy as pure bbox column math."""
    pts = _points(_t(spark, sf_dir, "events").select("event_id", "event_type"),
                  "event_id")
    inside = (
        (F.col("lon") >= -10.0) & (F.col("lon") <= 50.0)
        & (F.col("lat") >= -5.0) & (F.col("lat") <= 45.0)
    )
    return pts.filter(inside).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query("theil_sen", headline=True, oracle=f"""
        WITH {_hex_cells_chain_sql(
            0,
            src="SELECT event_id, ts, "
                + _POINTS_SQL.format(k='event_id') + " FROM events",
            carry="event_id, ts",
        )},
        wk0 AS (SELECT cell, CAST(date_trunc('day', ts) AS TIMESTAMP)
                         AS day,
                       CAST(count(*) AS BIGINT) AS cnt,
                       CAST(min(event_id) AS BIGINT) AS mid
                FROM hexed GROUP BY 1, 2),
        wk AS (SELECT cell,
                      date_diff('day', TIMESTAMP '1970-01-01', day) AS t,
                      cnt + CASE WHEN cell % 7 = 0 THEN mid // 1000
                                 ELSE 0 END AS x
               FROM wk0),
        np AS (SELECT cell, CAST(count(*) AS BIGINT) AS npts
               FROM wk GROUP BY 1),
        pairs AS (SELECT a.cell,
                         CAST(b.x - a.x AS BIGINT) AS num,
                         CAST(b.t - a.t AS BIGINT) AS den
                  FROM wk a JOIN wk b
                    ON a.cell = b.cell AND a.t < b.t),
        ranked AS (SELECT cell, num, den,
                          CAST(row_number() OVER (PARTITION BY cell
                               ORDER BY CAST(num AS DOUBLE) / den ASC,
                                        num ASC, den ASC)
                               AS BIGINT) AS rn,
                          CAST(count(*) OVER (PARTITION BY cell)
                               AS BIGINT) AS n_pairs
                   FROM pairs)
        SELECT r.cell, r.n_pairs, r.num AS med_num, r.den AS med_den,
               CAST(r.num AS DOUBLE) / r.den AS slope_per_day
        FROM ranked r JOIN np ON np.cell = r.cell
        WHERE r.rn = (r.n_pairs + 1) // 2 AND np.npts >= 6
    """)
def _q_theil_sen(spark, sf_dir):
    """Theil–Sen robust slope (ops/timeseries.py:theil_sen_slope) per
    res-0 hex cell over the SAME planted-trend daily series as
    mann_kendall — MK detects the trend, Sen estimates its magnitude;
    lower-median pairwise fraction under the engine-exact
    (double, num, den) order."""
    from insights_spark.geo import cells
    from insights_spark.ops.timeseries import theil_sen_slope

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "ts"), "event_id"
    )
    wk = pts.groupBy(
        cells.hex_udf(0)(F.col("lon"), F.col("lat"))
        .alias("cell"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min("event_id").alias("_mid"),
    )
    wk = wk.select(
        "cell", "day",
        (F.col("_cnt") + F.when(
            F.pmod(F.col("cell"), F.lit(7)) == 0,
            F.expr("_mid div 1000"),
        ).otherwise(F.lit(0))).cast("long").alias("n"),
    )
    return theil_sen_slope(wk, ["cell"])


@query("mann_kendall", headline=True, oracle=f"""
        WITH {_hex_cells_chain_sql(
            0,
            src="SELECT event_id, ts, "
                + _POINTS_SQL.format(k='event_id') + " FROM events",
            carry="event_id, ts",
        )},
        wk0 AS (SELECT cell, CAST(date_trunc('day', ts) AS TIMESTAMP)
                         AS day,
                       CAST(count(*) AS BIGINT) AS cnt,
                       CAST(min(event_id) AS BIGINT) AS mid
                FROM hexed GROUP BY 1, 2),
        wk AS (SELECT cell, day,
                      cnt + CASE WHEN cell % 7 = 0 THEN mid // 1000
                                 ELSE 0 END AS n
               FROM wk0),
        s AS (SELECT a.cell,
                     CAST(sum(CASE WHEN b.n > a.n THEN 1
                                   WHEN b.n < a.n THEN -1
                                   ELSE 0 END) AS BIGINT) AS s_stat
              FROM wk a JOIN wk b
                ON a.cell = b.cell AND a.day < b.day
              GROUP BY 1),
        np AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_points
               FROM wk GROUP BY 1),
        ties AS (SELECT cell,
                        CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                          AS tie_corr
                 FROM (SELECT cell, n, CAST(count(*) AS BIGINT) AS t
                       FROM wk GROUP BY 1, 2)
                 GROUP BY 1),
        j AS (SELECT np.cell, n_points, coalesce(s.s_stat, 0) AS s_stat,
                     n_points * (n_points - 1) * (2 * n_points + 5)
                       - tie_corr AS var18
              FROM np JOIN ties USING (cell)
                   LEFT JOIN s USING (cell)
              WHERE n_points >= 6)
        SELECT cell, n_points, s_stat, CAST(var18 AS BIGINT) AS var18,
               CAST(CASE WHEN s_stat > 0 THEN 1
                         WHEN s_stat < 0 THEN -1 ELSE 0 END AS INT)
                 AS trend,
               CAST(CASE WHEN abs(s_stat) >= 1
                          AND 18 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
                              * 625 > 2401 * var18
                         THEN 1 ELSE 0 END AS INT) AS is_sig
        FROM j
    """)
def _q_mann_kendall(spark, sf_dir):
    """Mann–Kendall monotonic trend test (ops/timeseries.py:
    mann_kendall) per res-0 hex cell over daily counts — sign-only S
    statistic, tie-corrected 18·Var, continuity-corrected integer
    significance gate; the distribution-free 'is there a trend at all'
    sibling of cusum's 'when did it shift'."""
    from insights_spark.geo import cells
    from insights_spark.ops.timeseries import mann_kendall

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "ts"), "event_id"
    )
    wk = pts.groupBy(
        cells.hex_udf(0)(F.col("lon"), F.col("lat"))
        .alias("cell"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min("event_id").alias("_mid"),
    )
    # plant a REAL upward trend in cells ≡ 0 (mod 7): event_ids are
    # chronological, so min(event_id)/1000 grows ~10 over the month —
    # both is_sig branches are exercised (pii_scrub planted precedent)
    wk = wk.select(
        "cell", "day",
        (F.col("_cnt") + F.when(
            F.pmod(F.col("cell"), F.lit(7)) == 0,
            F.expr("_mid div 1000"),
        ).otherwise(F.lit(0))).cast("long").alias("n"),
    )
    return mann_kendall(wk, ["cell"], min_points=6)


@query("od_flows", headline=True, oracle=f"""
        WITH {_hex_cells_chain_sql(
            0,
            src="SELECT event_id, user_id, ts, "
                + _POINTS_SQL.format(k='event_id') + " FROM events",
            carry="event_id, user_id, ts",
        )},
        lagged AS (SELECT user_id, cell,
                          lag(cell) OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) AS prev
                   FROM hexed)
        SELECT prev AS cell_from, cell AS cell_to,
               CAST(count(*) AS BIGINT) AS n_moves,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM lagged
        WHERE prev IS NOT NULL AND prev <> cell
        GROUP BY 1, 2
    """)
def _q_od_flows(spark, sf_dir):
    """Origin–destination flow matrix (geo/track.py:od_flows) between
    res-0 hex cells over each user's chronological event points — one
    user-partitioned window lag + ONE (from, to)-keyed rollup with
    exact distinct movers; dwell (same-cell) pairs excluded."""
    from insights_spark.geo.track import od_flows

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    pts = _points(ev, "event_id")
    return od_flows(pts, id_col="event_id")


@query("cusum", headline=True, oracle=f"""
        WITH {_hex_cells_chain_sql(
            0,
            src="SELECT event_id, ts, "
                + _POINTS_SQL.format(k='event_id') + " FROM events",
            carry="event_id, ts",
        )},
        wk AS (SELECT cell, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM hexed GROUP BY 1, 2),
        st AS (SELECT cell, day, n,
                      CAST(row_number() OVER (PARTITION BY cell
                           ORDER BY day) AS BIGINT) AS t,
                      CAST(sum(n) OVER (PARTITION BY cell ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre,
                      CAST(sum(n) OVER (PARTITION BY cell) AS BIGINT)
                        AS total,
                      CAST(count(*) OVER (PARTITION BY cell) AS BIGINT)
                        AS len
               FROM wk),
        cand AS (SELECT cell,
                        {{'negabs': -abs(len * pre - t * total),
                          't_star': t, 'at_wk': day,
                          's_star': len * pre - t * total,
                          'total': total, 'n_points': len}} AS c
                 FROM st WHERE len >= 6)
        SELECT cell, (pick).t_star AS t_star, (pick).at_wk AS at,
               (pick).s_star AS s_star, (pick).total AS total,
               (pick).n_points AS n_points
        FROM (SELECT cell, min(c) AS pick FROM cand GROUP BY cell)
    """)
def _q_cusum(spark, sf_dir):
    """Per-cell CUSUM changepoint (ops/timeseries.py:cusum_changepoint)
    over daily res-0 hex counts: S'_t = T·prefix − t·total exact
    BIGINT, argmax |S'| by one min(struct) — integrates shift evidence
    across the whole series where single-bucket z-tests stay silent."""
    from insights_spark.geo import cells
    from insights_spark.ops.timeseries import cusum_changepoint

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "ts"), "event_id"
    )
    wk = pts.groupBy(
        cells.hex_udf(0)(F.col("lon"), F.col("lat"))
        .alias("cell"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return cusum_changepoint(wk, ["cell"], "day", min_points=6)


@query("bbox_area", oracle="""
            WITH b AS (
              SELECT o_orderkey,
                     mod(o_orderkey * 7919, 340000) / 1000.0 - 170.0 AS min_lon,
                     mod(o_orderkey * 104729, 160000) / 1000.0 - 80.0 AS min_lat
              FROM orders),
            bb AS (SELECT o_orderkey, min_lon, min_lat,
                          min_lon + 0.5 AS max_lon, min_lat + 0.25 AS max_lat
                   FROM b),
            a AS (SELECT o_orderkey,
                         abs((max_lon - min_lon)
                             * cos(radians((greatest(-90.0, least(min_lat, 90.0))
                                   + greatest(-90.0, least(max_lat, 90.0))) / 2.0))
                             * 111.19492664455873
                             * (greatest(-90.0, least(max_lat, 90.0))
                                - greatest(-90.0, least(min_lat, 90.0)))
                             * 111.19492664455873) AS area,
                         (greatest(-90.0, least(min_lat, 90.0))
                          + greatest(-90.0, least(max_lat, 90.0))) / 2.0 AS c_lat_raw
                  FROM bb)
            SELECT o_orderkey, round(area, 4) AS area_km2,
                   round(c_lat_raw, 6) AS c_lat,
                   area < 225.0 AS is_small
            FROM a
        """)
def _q_bbox_area(spark, sf_dir):
    """F13/F14 — bbox centroid + equal-area km² with lat clamping; the
    mega-changeset filter count per bucket. Doubles rounded to 4 dp (cos()
    may differ by 1 ulp between JVM and DuckDB libm)."""
    from insights_spark.geo import bbox

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    b = (
        o.withColumn("min_lon", F.pmod(F.col("o_orderkey") * 7919, F.lit(340000)) / 1000.0 - 170.0)
        .withColumn("min_lat", F.pmod(F.col("o_orderkey") * 104729, F.lit(160000)) / 1000.0 - 80.0)
    ).withColumn("max_lon", F.col("min_lon") + 0.5).withColumn(
        "max_lat", F.col("min_lat") + 0.25
    )
    return b.select(
        "o_orderkey",
        F.round(
            bbox.bbox_area_km2(F.col("min_lon"), F.col("min_lat"),
                               F.col("max_lon"), F.col("max_lat")), 4
        ).alias("area_km2"),
        F.round(bbox.centroid_lat(F.col("min_lat"), F.col("max_lat")), 6).alias("c_lat"),
        (
            bbox.bbox_area_km2(F.col("min_lon"), F.col("min_lat"),
                               F.col("max_lon"), F.col("max_lat"))
            < F.lit(bbox.MEGA_CHANGESET_KM2)
        ).alias("is_small"),
    )


@query("s2_cells", headline=True, oracle=_s2_cells_sql(_EV_PTS))
def _q_s2_cells(spark, sf_dir):
    """S2 level-12 cell rollup. The oracle is a full ANSI-SQL replica of
    the Hilbert construction (see _s2_cells_sql) — 12 unrolled curve steps
    over the public lookup tables, bit-exact vs the numpy kernel."""
    from insights_spark.geo import cells

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    return (
        cells.with_cells(pts)
        .groupBy("s2_l12")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# exact float constants from the hex kernel (repr round-trips doubles)
hx_c1 = repr(_cells._SQRT3 / 3.0)

hx_c2 = repr(2.0 / 3.0)
hx_size = repr(_cells.hex_edge_deg(6))


@query("hex_cells", oracle=f"""
            WITH pts AS ({_EV_PTS}),
            hx AS (SELECT event_id,
                          ({hx_c1} * lon - lat / 3.0) / {hx_size} AS qf,
                          ({hx_c2} * lat) / {hx_size} AS rf
                   FROM pts),
            cr AS (SELECT event_id, qf, rf,
                          floor(qf + 0.5) AS rx0,
                          floor(-qf - rf + 0.5) AS ry0,
                          floor(rf + 0.5) AS rz0
                   FROM hx),
            fx AS (SELECT event_id, rx0, ry0, rz0,
                          abs(rx0 - qf) AS dx,
                          abs(ry0 - (-qf - rf)) AS dy,
                          abs(rz0 - rf) AS dz
                   FROM cr),
            qr AS (SELECT CAST(CASE WHEN dx > dy AND dx > dz THEN -ry0 - rz0
                               ELSE rx0 END AS BIGINT) AS q,
                          CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy
                               THEN -rx0 - ry0 ELSE rz0 END AS BIGINT) AS r
                   FROM fx)
            SELECT {_cells.hex_encode_sql(6)} AS h3_r6,
                   CAST(count(*) AS BIGINT) AS n
            FROM qr GROUP BY 1
        """)
def _q_hex_cells(spark, sf_dir):
    from insights_spark.geo import cells

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    return pts.groupBy(
        cells.hex_udf(6)(F.col("lon"), F.col("lat")).alias("h3_r6")
    ).agg(F.count(F.lit(1)).alias("n"))


@query("hex_smooth", headline=True, oracle=f"""
        WITH {_hex_cnts_sql(1)},
        contrib AS (SELECT cell + off AS t, n
                    FROM cnts, unnest({_OFF7}) AS u(off)),
        ring AS (SELECT t, CAST(sum(n) AS BIGINT) AS ring_sum,
                        CAST(count(*) AS BIGINT) AS ring_cells
                 FROM contrib GROUP BY t)
        SELECT c.cell, c.n, r.ring_sum, r.ring_cells,
               r.ring_sum / 7.0 AS smoothed,
               c.n * (r.ring_cells - 1) >= 2 * (r.ring_sum - c.n) AS is_hot
        FROM cnts c JOIN ring r ON c.cell = r.t
    """)
def _q_hex_smooth(spark, sf_dir):
    """Ring-1 focal smoothing + hotspot flag over the hex res-6 rollup
    (geo/smooth.py). Neighbor ids are pure BIGINT arithmetic on the packed
    axial id, so the oracle replicates the whole pass — encoding, focal
    sum, smoothed mean, integer hotspot gate — bit-for-bit."""
    from insights_spark.geo import cells
    from insights_spark.geo.smooth import hex_focal_smooth

    # res 1, NOT the res-6 rollup res: the derived points sit ~2.5° apart,
    # so finer grids make every ring a singleton (a vacuous fixture);
    # res-1 cells hold ~6 points and rings are genuinely occupied.
    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    counts = pts.groupBy(
        cells.hex_udf(1)(F.col("lon"), F.col("lat")).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    return hex_focal_smooth(counts)


@query("cell_clusters", headline=True, oracle=f"""
        WITH RECURSIVE {_hex_cnts_sql(1)},
        core AS (SELECT cell, n FROM cnts WHERE n >= 8),
        fan AS (SELECT cell AS src, cell + off AS dst
                FROM core, unnest({_OFF6}) AS u(off)),
        edges AS (SELECT fan.src, fan.dst
                  FROM fan JOIN core c2 ON c2.cell = fan.dst),
        reach(src, dst) AS (
            SELECT cell, cell FROM core
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        lab AS (SELECT src AS cell, MIN(dst) AS cluster_id
                FROM reach GROUP BY src),
        borderfan AS (SELECT cell, n, cell + off AS nb
                      FROM cnts, unnest({_OFF6}) AS u(off)
                      WHERE n < 8)
        SELECT core.cell, core.n, 'core' AS role, lab.cluster_id
        FROM core JOIN lab USING (cell)
        UNION ALL
        SELECT b.cell, b.n, 'border' AS role, MIN(l.cluster_id) AS cluster_id
        FROM borderfan b JOIN lab l ON l.cell = b.nb
        GROUP BY b.cell, b.n
    """)
def _q_cell_clusters(spark, sf_dir):
    """Grid DBSCAN over the hex res-1 rollup (geo/cluster.py): core cells
    (n ≥ 8) connected through ring-1 axial adjacency via star-contraction
    CC, border cells attached to the min neighboring cluster, noise
    dropped. Everything after the one point→cell rollup runs on the
    bounded occupied-cell table; the oracle replays adjacency + components
    with a recursive CTE over the same BIGINT neighbor arithmetic."""
    from insights_spark.geo import cells
    from insights_spark.geo.cluster import cell_dbscan

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    counts = pts.groupBy(
        cells.hex_udf(1)(F.col("lon"), F.col("lat")).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    return cell_dbscan(counts, minpts=8)


@query("region_shape", headline=True, oracle=f"""
        WITH RECURSIVE {_hex_cnts_sql(2)},
        fan AS (SELECT cell AS src, cell + off AS dst
                FROM cnts, unnest({_OFF6}) AS u(off)),
        edges AS (SELECT fan.src, fan.dst
                  FROM fan JOIN cnts c2 ON c2.cell = fan.dst),
        reach(src, dst) AS (
            SELECT cell, cell FROM cnts
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        lab AS (SELECT src AS cell, MIN(dst) AS region_id
                FROM reach GROUP BY src),
        deg AS (SELECT src AS cell, count(*) AS d FROM edges GROUP BY src)
        SELECT lab.region_id,
               CAST(count(*) AS BIGINT) AS area_cells,
               CAST(sum(6 - coalesce(deg.d, 0)) AS BIGINT) AS perimeter_edges,
               CAST(sum(cnts.n) AS BIGINT) AS total_n
        FROM cnts JOIN lab USING (cell) LEFT JOIN deg USING (cell)
        GROUP BY lab.region_id
    """)
def _q_region_shape(spark, sf_dir):
    """Per-region area/perimeter/mass over the hex res-2 rollup
    (geo/cluster.py region_shape): ring-1 connected components of ALL
    occupied cells, then integer shape metrics — area = member cells,
    perimeter = Σ(6 − occupied-neighbor degree), total_n = Σ counts. The
    oracle replays adjacency + components with the same recursive CTE as
    cell_clusters plus a degree rollup; compactness P²/A stays with the
    consumer so the engine output is float-free."""
    from insights_spark.geo import cells
    from insights_spark.geo.cluster import region_shape

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    counts = pts.groupBy(
        cells.hex_udf(2)(F.col("lon"), F.col("lat")).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    return region_shape(counts)


@query(
    "st_join",
    headline=True,
    sf1_skip="same quadratic-output shape as within_distance: pair "
    "count grows with point density² at fixed (radius, τ); the row "
    "would time the answer's size, not the plan",
    oracle=f"""
        WITH pts AS (SELECT event_id, ts,
                            {_POINTS_SQL.format(k='event_id')}
                     FROM events)
        SELECT a.event_id AS a, b.event_id AS b,
               (a.lon - b.lon) * (a.lon - b.lon)
               + (a.lat - b.lat) * (a.lat - b.lat) AS dist2,
               abs(epoch_us(a.ts) // 1000000
                   - epoch_us(b.ts) // 1000000) AS dt_s
        FROM pts a JOIN pts b ON a.event_id < b.event_id
        WHERE (a.lon - b.lon) * (a.lon - b.lon)
              + (a.lat - b.lat) * (a.lat - b.lat) <= 9.0
          AND abs(epoch_us(a.ts) // 1000000
                  - epoch_us(b.ts) // 1000000) <= 250000
    """,
)
def _q_st_join(spark, sf_dir):
    """Spatiotemporal proximity pairs (geo/stjoin.py): ≤ 3.0° AND
    ≤ 250000 s apart. Composite (hex cell, ⌊epoch/τ⌋ chunk) shuffle key —
    bucket population is LOCAL density × τ, the property that survives a
    1000× history scale-up where pure-spatial buckets grow unboundedly.
    Oracle is the plain brute-force range join."""
    from insights_spark.geo.stjoin import st_within

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "ts"), "event_id"
    )
    return st_within(
        pts, radius_deg=3.0, tau_seconds=250000, id_col="event_id", rings=2
    )


@query("directional_hull", headline=True, oracle=f"""
        WITH pts AS (SELECT user_id, event_id,
                            mod(event_id * 7919, 360000) - 180000 AS x,
                            mod(event_id * 104729, 170000) - 85000 AS y,
                            {_POINTS_SQL.format(k='event_id')}
                     FROM events),
        dirs(dir_idx, dx, dy) AS (VALUES
            (0, 1, 0), (1, 1, 1), (2, 0, 1), (3, -1, 1),
            (4, -1, 0), (5, -1, -1), (6, 0, -1), (7, 1, -1)),
        scored AS (SELECT user_id, dir_idx, event_id, lon, lat,
                          dx * x + dy * y AS dot
                   FROM pts, dirs)
        SELECT user_id, CAST(dir_idx AS INT) AS dir_idx, event_id, lon, lat
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id, dir_idx
                  ORDER BY dot DESC, event_id ASC) AS rn
              FROM scored)
        WHERE rn = 1
    """)
def _q_directional_hull(spark, sf_dir):
    """BFP 8-direction extreme points per user (geo/track.py
    directional_hull): the decomposable convex-hull approximation — K
    independent integer argmaxes with map-side combine, ties to smallest
    event id via struct-max on (dot, −id)."""
    from insights_spark.geo.track import directional_hull

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "user_id"), "event_id"
    )
    return directional_hull(pts, id_col="event_id")


@query("simplify_tracks", headline=True, oracle=_dp_sql())
def _q_simplify_tracks(spark, sf_dir):
    """Depth-capped Douglas-Peucker per user track (geo/track.py
    simplify_tracks): eps 20°, 4 argmax levels, integer millidegree
    geometry — the oracle unrolls the same 4 levels as SQL stages over
    HUGEINT cross-products (kmeans-unroll discipline)."""
    from insights_spark.geo.track import simplify_tracks

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "user_id", "ts"),
        "event_id",
    )
    return simplify_tracks(pts, eps_milli=20000, id_col="event_id")


@query("move_rose", headline=True, oracle=f"""
        WITH pts AS (SELECT user_id, ts, event_id,
                            mod(event_id * 7919, 360000) - 180000 AS x,
                            mod(event_id * 104729, 170000) - 85000 AS y
                     FROM events),
        l AS (SELECT user_id, x, y,
                     lag(x) OVER w AS px, lag(y) OVER w AS py
              FROM pts
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        m AS (SELECT x - px AS dx, y - py AS dy
              FROM l WHERE px IS NOT NULL),
        s AS (SELECT dx, dy,
                     CASE WHEN dx = 0 AND dy = 0 THEN -1
                          WHEN dy >= 0 AND dx > 0 AND dx > dy THEN 0
                          WHEN dy > 0 AND dx > 0 AND dx <= dy THEN 1
                          WHEN dy > 0 AND dx <= 0 AND -dx < dy THEN 2
                          WHEN dy > 0 AND dx < 0 AND -dx >= dy THEN 3
                          WHEN dy = 0 AND dx < 0 THEN 4
                          WHEN dy < 0 AND dx < 0 AND -dx > -dy THEN 4
                          WHEN dy < 0 AND dx < 0 AND -dx <= -dy THEN 5
                          WHEN dy < 0 AND dx >= 0 AND dx < -dy THEN 6
                          ELSE 7 END AS sector
              FROM m)
        SELECT CAST(sector AS INT) AS sector,
               CAST(count(*) AS BIGINT) AS n_moves,
               CAST(sum(dx * dx + dy * dy) AS BIGINT) AS sum_d2
        FROM s GROUP BY 1
    """)
def _q_move_rose(spark, sf_dir):
    """Octant rose of per-user moves (geo/track.py move_rose): sector =
    ⌊θ/45°⌋ via pure integer sign / |dx| vs |dy| tests (boundaries are
    exactly the 45° rays — no atan2, no libm), 9-row decomposable
    rollup weighted by exact squared milli-degree lengths."""
    from insights_spark.geo.track import move_rose

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "user_id", "ts"),
        "event_id",
    )
    return move_rose(pts, id_col="event_id")


@query("user_tracks", headline=True, oracle=f"""
        WITH pts AS (SELECT event_id, user_id, ts,
                            {_POINTS_SQL.format(k='event_id')}
                     FROM events),
        l AS (SELECT user_id, epoch_us(ts) // 1000000 AS ep, event_id,
                     lon, lat,
                     lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
              FROM pts
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY epoch_us(ts) // 1000000, event_id)),
        legs AS (SELECT user_id, ep, event_id, lon, lat,
                        CASE WHEN plon IS NULL THEN NULL
                             ELSE sqrt((lon - plon) * (lon - plon)
                                       + (lat - plat) * (lat - plat))
                        END AS leg
                 FROM l)
        SELECT user_id, n_points, duration_s, path_len_deg,
               sqrt(((lst).lon - (fst).lon) * ((lst).lon - (fst).lon)
                    + ((lst).lat - (fst).lat) * ((lst).lat - (fst).lat))
                 AS net_disp_deg,
               max_leg_deg
        FROM (SELECT user_id,
                     CAST(count(*) AS BIGINT) AS n_points,
                     max(ep) - min(ep) AS duration_s,
                     list_reduce(list_prepend(0.0::DOUBLE,
                       list_sort(list(leg) FILTER (leg IS NOT NULL))),
                       (a, x) -> a + x) AS path_len_deg,
                     max(leg) AS max_leg_deg,
                     min({{'ep': ep, 'id': event_id,
                           'lon': lon, 'lat': lat}}) AS fst,
                     max({{'ep': ep, 'id': event_id,
                           'lon': lon, 'lat': lat}}) AS lst
              FROM legs GROUP BY user_id)
    """)
def _q_user_tracks(spark, sf_dir):
    """Per-user trajectory summaries (geo/track.py): path length, net
    displacement, longest hop, duration — every double a fixed IEEE
    expression tree, the one order-sensitive sum folded in sorted order
    (bm25 pattern), so the oracle reproduces all of it bit-for-bit."""
    from insights_spark.geo.track import user_tracks

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "user_id", "ts"),
        "event_id",
    )
    return user_tracks(pts, id_col="event_id")


@query("home_cells", headline=True, oracle=f"""
        WITH {_hex_cells_chain_sql(
            1,
            src="SELECT event_id, user_id, "
                + _POINTS_SQL.format(k='event_id') + " FROM events",
            carry="event_id, user_id",
        )},
        per AS (SELECT user_id, cell, CAST(count(*) AS BIGINT) AS n
                FROM hexed GROUP BY 1, 2)
        SELECT user_id, -((pick).negc) AS home_cell, (pick).n AS visits,
               visits_total, n_cells
        FROM (SELECT user_id,
                     max({{'n': n, 'negc': -cell}}) AS pick,
                     CAST(sum(n) AS BIGINT) AS visits_total,
                     CAST(count(*) AS BIGINT) AS n_cells
              FROM per GROUP BY user_id)
    """)
def _q_home_cells(spark, sf_dir):
    """Per-user home cell (geo/track.py:home_cells): most-visited res-1
    hex cell, ties to the smallest cell id via one max(struct) argmax —
    two decomposable keyed shuffles, no window, no self-join."""
    from insights_spark.geo.track import home_cells

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "user_id"), "event_id"
    )
    return home_cells(pts)


# incremental merge == full recompute: the full-pyramid SQL IS the oracle
@query("tile_pyramid_inc", headline=True, oracle=_TILE_PYRAMID_SQL)
def _q_tile_pyramid_inc(spark, sf_dir):
    """Incremental pyramid maintenance (geo/tiles.py:tile_pyramid_merge):
    stored pyramid (event_id ≢ 0 mod 3) ⊕ delta batch (≡ 0) — the oracle
    is the FULL-recompute pyramid SQL, so the green row IS the merge
    theorem pyramid(A∪B) == merge(pyramid(A), pyramid(B))."""
    from insights_spark.geo import tiles

    ev = _t(spark, sf_dir, "events").select("event_id")
    stored = tiles.tile_pyramid(
        _points(ev.filter(F.pmod(F.col("event_id"), F.lit(3)) != 0), "event_id"),
        [6, 4],
    )
    delta = _points(
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 0), "event_id"
    )
    return tiles.tile_pyramid_merge(stored, delta, [6, 4])


@query("trending_cells", headline=True, oracle=f"""
        WITH {_hex_cells_chain_sql(
            1,
            src="SELECT event_id, ts, "
                + _POINTS_SQL.format(k='event_id') + " FROM events",
            carry="event_id, ts",
        )},
        per AS (SELECT cell,
                       least(20, greatest(0,
                         (1706745600 - epoch_us(ts) // 1000000) // 259200))
                         AS bkt,
                       CAST(count(*) AS BIGINT) AS n
                FROM hexed GROUP BY 1, 2)
        SELECT cell, CAST(sum(n) AS BIGINT) AS n_events,
               sum(n * pow(0.5, bkt)) AS score
        FROM per GROUP BY cell
    """)
def _q_trending_cells(spark, sf_dir):
    """Time-decayed per-cell activity (geo/smooth.py:decayed_cell_scores),
    halflife 3 d, now = 2024-02-01: every weight is a power of two and
    every partial sum an exact dyadic rational, so the float sum is
    order-free and the oracle bit-exact with NO sorted fold."""
    from insights_spark.geo.smooth import decayed_cell_scores

    pts = _points(
        _t(spark, sf_dir, "events").select("event_id", "ts"), "event_id"
    )
    return decayed_cell_scores(
        pts, res=1, halflife_s=259200, now_epoch_s=1706745600
    )


@query("frontier_cells", headline=True, oracle=f"""
        WITH {_hex_cnts_sql(1)},
        fan AS (SELECT cell, n, cell + off AS nb
                FROM cnts, unnest({_OFF6}) AS u(off))
        SELECT f.cell, f.n, CAST(count(*) AS BIGINT) AS empty_neighbors
        FROM fan f LEFT JOIN cnts o ON o.cell = f.nb
        WHERE o.cell IS NULL
        GROUP BY 1, 2
    """)
def _q_frontier_cells(spark, sf_dir):
    """Mapping-frontier cells (geo/smooth.py:frontier_cells): occupied
    res-1 cells with ≥ 1 empty ring-1 neighbor — one 6× explode + one
    anti-join on the BIGINT neighbor id, all on the bounded cell rollup."""
    from insights_spark.geo import cells
    from insights_spark.geo.smooth import frontier_cells

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    counts = pts.groupBy(
        cells.hex_udf(1)(F.col("lon"), F.col("lat")).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    return frontier_cells(counts)


_offw = ", ".join(
    f"({o}::BIGINT, {3 - h}::BIGINT)" for h in (1, 2) for o in _cells.hex_ring(h)
)


@query("idw_fill", headline=True, oracle=f"""
        WITH {_hex_cnts_sql(1)},
        offs AS (SELECT * FROM (VALUES {_offw}) AS t(off, w)),
        fan AS (SELECT c.cell + o.off AS t, o.w AS w, c.n
                FROM cnts c, offs o),
        agg AS (SELECT t,
                       CAST(sum(CASE WHEN w = 2 THEN 1 ELSE 0 END)
                            AS BIGINT) AS ring1_nbrs,
                       CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS ring2_nbrs,
                       CAST(sum(w * n) AS BIGINT) AS w_num,
                       CAST(sum(w) AS BIGINT) AS w_den
                FROM fan GROUP BY 1)
        SELECT a.t AS cell, ring1_nbrs, ring2_nbrs, w_num, w_den,
               CAST(w_num AS DOUBLE) / w_den AS est
        FROM agg a LEFT JOIN cnts o ON o.cell = a.t
        WHERE o.cell IS NULL AND ring1_nbrs >= 3
    """)
def _q_idw_fill(spark, sf_dir):
    """IDW gap-fill (geo/smooth.py:idw_fill): inverse-distance-weighted
    estimate at EMPTY res-1 cells from occupied ring-1 (weight 2) and
    ring-2 (weight 1) neighbors — one 18× explode + ONE target-keyed
    shuffle + one left_anti on the same key, all on the bounded cell
    rollup; est is one IEEE division of two exact BIGINTs."""
    from insights_spark.geo import cells
    from insights_spark.geo.smooth import idw_fill

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    counts = pts.groupBy(
        cells.hex_udf(1)(F.col("lon"), F.col("lat")).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    return idw_fill(counts)


_vario = ", ".join(
    f"({o}::BIGINT, {h}::BIGINT)"
    for h in (1, 2, 3)
    for o in _cells.hex_ring(h)
    if o > 0
)


@query("semivariogram", headline=True, oracle=f"""
        WITH {_hex_cnts_sql(1)},
        offs AS (SELECT * FROM (VALUES {_vario}) AS t(off, h)),
        pairs AS (SELECT o.h, a.n AS xi, b.n AS xj
                  FROM cnts a JOIN offs o ON true
                       JOIN cnts b ON b.cell = a.cell + o.off)
        SELECT h, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum((xi - xj) * (xi - xj)) AS BIGINT) AS sse,
               CAST(sum((xi - xj) * (xi - xj)) AS DOUBLE)
                   / (2 * count(*)) AS gamma
        FROM pairs GROUP BY 1
    """)
def _q_semivariogram(spark, sf_dir):
    """Empirical semivariogram (geo/smooth.py:semivariogram_exact):
    per-lag γ(h) for h=1..3 over the res-1 cell rollup — positive-packed
    half-offset fan (9×) + ONE equi-join on the neighbor id + a 3-row
    rollup; sse exact BIGINT, gamma one IEEE division."""
    from insights_spark.geo import cells
    from insights_spark.geo.smooth import semivariogram_exact

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    counts = pts.groupBy(
        cells.hex_udf(1)(F.col("lon"), F.col("lat")).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    return semivariogram_exact(counts)


@query("knn_join", headline=True, oracle=f"""
        WITH q AS ({_CUST_PTS}),
        c AS (SELECT event_id, {_POINTS_SQL.format(k='event_id')} FROM events),
        d AS (SELECT q.c_custkey AS id, c.event_id AS neighbor_id,
                     (q.lon - c.lon) * (q.lon - c.lon)
                     + (q.lat - c.lat) * (q.lat - c.lat) AS dist2
              FROM q, c),
        r AS (SELECT id, neighbor_id, dist2,
                     row_number() OVER (PARTITION BY id
                       ORDER BY dist2 ASC, neighbor_id ASC) AS rank
              FROM d)
        SELECT id, neighbor_id, dist2, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 3
    """)
def _q_knn_join(spark, sf_dir):
    """Two-table certified-exact kNN join (geo/knn.py:knn_join): each
    customer's 3 nearest events — the lookup generalization of the
    self-join kNN; equal ids across tables are distinct entities, and
    the auto-res pick tracks CANDIDATE density. Oracle = brute-force
    window over the full cross product."""
    from insights_spark.geo.knn import knn_join

    cust = _points(
        _t(spark, sf_dir, "customer").select("c_custkey"), "c_custkey"
    )
    ev = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    return knn_join(cust, ev, k=3, q_id="c_custkey", c_id="event_id", rings=2)


@query("zonal_stats", headline=True, oracle=f"""
        WITH pts AS ({_EV_PTS}),
        zoned AS (SELECT event_id, lon, lat,
                         {_country_case_sql()} AS zone
                  FROM pts),
        t AS (SELECT zone, {tile6}
              FROM zoned WHERE zone IS NOT NULL),
        per AS (SELECT zone, x, y, CAST(count(*) AS BIGINT) AS density
                FROM t GROUP BY 1, 2, 3)
        SELECT zone, CAST(count(*) AS BIGINT) AS n_tiles,
               CAST(sum(density) AS BIGINT) AS n_points,
               max(density) AS max_density,
               CAST(sum(density) AS BIGINT) / CAST(count(*) AS BIGINT)
                 AS mean_density
        FROM per GROUP BY zone
    """)
def _q_zonal_stats(spark, sf_dir):
    """Zonal statistics (geo/tiles.py:zonal_tile_stats): per-country
    summary of the z6 tile-density raster — PIP zone assignment composed
    with the tile rollup, the classic raster × vector product."""
    from insights_spark.geo import pip
    from insights_spark.geo.tiles import zonal_tile_stats

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    zoned = pip.assign_country(pts, _boundary_rows())
    return zonal_tile_stats(zoned, z=6, zone_col="country")


@query("tile_diff", headline=True, oracle=f"""
        WITH pts AS (SELECT event_id, ts,
                            {_POINTS_SQL.format(k='event_id')} FROM events),
        t AS (SELECT 6 AS z, {tile6},
                     CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                          THEN -1 ELSE 1 END AS w
              FROM pts)
        SELECT z, x, y,
               CAST(sum(CASE WHEN w < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_old,
               CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_new,
               CAST(sum(w) AS BIGINT) AS delta
        FROM t GROUP BY 1, 2, 3
        HAVING sum(w) != 0
    """)
def _q_tile_diff(spark, sf_dir):
    """Per-tile change detection (geo/tiles.py:tile_diff): first half of
    January vs the rest — one signed-weight union + one keyed rollup,
    never a full-outer join of two rollups."""
    from insights_spark.geo.tiles import tile_diff

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    pts = _points(ev, "event_id")
    cut = "2024-01-15 00:00:00"
    return tile_diff(
        pts.filter(F.col("ts") < cut),
        pts.filter(F.col("ts") >= cut),
        z=6,
    )


@query("knn_cell_local", headline=True, oracle=knn_sql)
def _q_knn_cell_local(spark, sf_dir):
    """Cell-local kNN in certified-exact mode: first pass is the hex-cell
    ring join; queries whose k-th distance can't be certified inside the
    ring-coverage radius re-run exactly. Output therefore equals knn_exact
    and shares the `knn` oracle SQL."""
    from insights_spark.geo.knn import knn_cell_local

    # res=None → density-matched auto pick (auto_cell_res): at sf0.1 it
    # lands on the hand-tuned res 2 (cert radius 2.5·edge ≈ 3.57°,
    # 14995/15000 first-pass certifications); at sf1's 10× density it steps
    # finer, keeping ring-join pairs ∝ n instead of ∝ n·density (the 21×
    # sf1 tail the r4 scale-step measured). Certified-exact output is
    # res-invariant, so the oracle is untouched by the pick.
    pts = _points(_t(spark, sf_dir, "customer").select("c_custkey"), "c_custkey")
    return knn_cell_local(pts, k=3, id_col="c_custkey", res=None, rings=2)


@query("geohash_cells", headline=True, oracle=f"""
        WITH pts AS ({_EV_PTS})
        SELECT {_cells.geohash_sql('lon', 'lat', 5)} AS gh,
               CAST(count(*) AS BIGINT) AS n
        FROM pts GROUP BY 1
    """)
def _q_geohash_cells(spark, sf_dir):
    """Fourth cell family — geohash (base-32 lon/lat bit interleave, public
    spec): pure unrolled-shift column math, codegen'd, no UDF; the oracle
    runs the IDENTICAL integer arithmetic (geo.cells.geohash_sql). Rollup
    per cell mirrors the hex/S2 query shapes."""
    from insights_spark.geo.cells import geohash_col

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    return (
        pts.select(geohash_col(F.col("lon"), F.col("lat"), 5).alias("gh"))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# hex polyfill constants (res 2): center spacing h=1.5·s, w=√3·s —
# identical literals to geo.cells.hex_cover_bbox via repr round-trip
_hcov_s = _cells.hex_edge_deg(2)

hcov_h, hcov_w = repr(1.5 * _hcov_s), repr(_cells._SQRT3 * _hcov_s)

hcov_countries = ", ".join(
    f"('{n}', {x0!r}, {y0!r}, {x1!r}, {y1!r})"
    for n, _p, x0, y0, x1, y1 in _COUNTRIES
)


@query("hex_cover", oracle=f"""
            WITH c AS (SELECT * FROM (VALUES {hcov_countries})
                       t(country, lon0, lat0, lon1, lat1)),
            rs AS (SELECT country, lon0, lon1, r FROM c,
                   UNNEST(generate_series(
                       CAST(ceil(lat0 / {hcov_h}) AS BIGINT),
                       CAST(floor(lat1 / {hcov_h}) AS BIGINT))) AS u(r)),
            qs AS (SELECT country, q, r FROM rs,
                   UNNEST(generate_series(
                       CAST(ceil(lon0 / {hcov_w} - r / 2.0) AS BIGINT),
                       CAST(floor(lon1 / {hcov_w} - r / 2.0) AS BIGINT))) AS u(q))
            SELECT country, {_cells.hex_encode_sql(2)} AS cell
            FROM qs
        """)
def _q_hex_cover(spark, sf_dir):
    """Polygon→cells polyfill (the inverse of point→cell binning): hex
    cells at res 2 whose centers lie inside each synthetic country bbox —
    pure sequence()/explode column math, oracle = DuckDB generate_series
    over the identical axial-center ranges."""
    from insights_spark.geo import cells

    boxes = local_df(
        spark,
        [(n, x0, y0, x1, y1) for n, _p, x0, y0, x1, y1 in _COUNTRIES],
        "country string, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    return cells.hex_cover_bbox(boxes, 2).select("country", "cell")


@query(
    "within_distance",
    headline=True,
    sf1_skip="result pair set grows ~quadratically in point "
    "density at fixed radius — the OUTPUT is 100× at 10× data; a bench "
    "row would time the answer's size, not the plan",
    oracle=f"""
            WITH pts AS ({_EV_PTS})
            SELECT a.event_id AS a, b.event_id AS b,
                   (a.lon - b.lon) * (a.lon - b.lon)
                   + (a.lat - b.lat) * (a.lat - b.lat) AS dist2
            FROM pts a JOIN pts b ON a.event_id < b.event_id
            WHERE (a.lon - b.lon) * (a.lon - b.lon)
                  + (a.lat - b.lat) * (a.lat - b.lat) <= 9.0
        """,
)
def _q_within_distance(spark, sf_dir):
    """Certified-exact spatial range join (kNN's sibling): all event point
    pairs within 3° planar distance via the cell+ring bucketed join —
    cert_radius(res,rings) ≥ radius guarantees candidate completeness, so
    the bucketed join + filter IS exact (oracle: brute-force n² in SQL).

    Fixture is deliberately NON-vacuous: the events lattice has 90 true
    pairs at sf0.001 and 20,500 at sf0.01 for radius 3.0, so the oracle
    exercises the completeness guarantee, not just absence of false
    positives (round-2 verdict: radius 2.0 over customers matched 0==0)."""
    from insights_spark.geo.knn import within_distance

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    # rings=2 → finest certifying res is 2 (cert 3.57° ≥ 3.0): 2.6× smaller
    # buckets than the rings=1 default (res=1, edge 3.78°), measured 25%
    # faster at sf0.1 — replication ×19 is cheaper than ×7 on fat cells
    return within_distance(pts.withColumnRenamed("event_id", "id"), 3.0, rings=2)


@query(
    "ripley_k",
    headline=True,
    sf1_skip="aggregated output is 3 rows but the enumerated "
    "candidate volume inside the certified join is ∝ density² at fixed "
    "radii (the K statistic's own definition: ~100× pairs at 10× data); "
    "production shrinks the radius set with density, which the "
    "radii_deg parameter exposes",
    oracle=f"""
            WITH pts AS ({_EV_PTS}),
            d AS (
                SELECT (a.lon - b.lon) * (a.lon - b.lon)
                       + (a.lat - b.lat) * (a.lat - b.lat) AS dist2
                FROM pts a JOIN pts b ON a.event_id < b.event_id
            ),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts),
            agg AS (
                SELECT CAST(coalesce(sum((dist2 <= 1.0)::int), 0) AS BIGINT) AS p1,
                       CAST(coalesce(sum((dist2 <= 4.0)::int), 0) AS BIGINT) AS p2,
                       CAST(coalesce(sum((dist2 <= 9.0)::int), 0) AS BIGINT) AS p3
                FROM d
            )
            SELECT CAST(1000 AS BIGINT) AS r_milli, n.n_points, agg.p1 AS pairs FROM agg, n
            UNION ALL
            SELECT CAST(2000 AS BIGINT), n.n_points, agg.p2 FROM agg, n
            UNION ALL
            SELECT CAST(3000 AS BIGINT), n.n_points, agg.p3 FROM agg, n
        """,
)
def _q_ripley_k(spark, sf_dir):
    """Ripley's K pair-count curve over the events point lattice at radii
    1°/2°/3°: one certified cell+ring join at the LARGEST radius feeds all
    bands via conditional aggregation (oracle: brute-force n² in SQL).
    Shares within_distance's non-vacuous fixture; the synthetic lattice's
    minimum pair spacing is ~1.7°, so the curve shows the classic
    dispersed→clustered shape: (1°: 0, 2°: 1,577, 3°: 20,500 pairs at
    sf0.01) — the zero band is the real K-statistic answer at that radius,
    and both non-zero bands exercise the completeness certificate."""
    from insights_spark.geo.knn import ripley_k

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    return ripley_k(pts.withColumnRenamed("event_id", "id"), [1.0, 2.0, 3.0])


@query("nn_distance_hist", headline=True, oracle="""
            WITH pts AS (SELECT event_id,
                                mod(event_id * 7919, 360000) - 180000 AS x,
                                mod(event_id * 104729, 170000) - 85000 AS y
                         FROM events),
            nnd AS (SELECT a.event_id AS id,
                           min((a.x - b.x) * (a.x - b.x)
                               + (a.y - b.y) * (a.y - b.y)) AS d2
                    FROM pts a JOIN pts b ON a.event_id <> b.event_id
                    GROUP BY 1)
            SELECT CAST(length(CAST(d2 AS VARCHAR)) AS INT) AS band,
                   CAST(count(*) AS BIGINT) AS n_points,
                   CAST(min(d2) AS BIGINT) AS min_d2,
                   CAST(max(d2) AS BIGINT) AS max_d2
            FROM nnd GROUP BY 1
        """)
def _q_nn_distance_hist(spark, sf_dir):
    """Clark-Evans NN-distance histogram (geo/knn.py nn_distance_hist):
    certified-exact k=1 search, distances recomputed in integer milli
    arithmetic and banded by decimal digit count (floor(log10)+1 without
    libm) — the local companion to ripley_k's global pair curve."""
    from insights_spark.geo.knn import nn_distance_hist

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    return nn_distance_hist(pts.withColumnRenamed("event_id", "id"))


@query("cube_rollup", headline=True, oracle=f"""
        WITH pts AS (
          SELECT event_id, {_POINTS_SQL.format(k="event_id")} FROM events),
        loc AS (
          SELECT {_country_case_sql()} AS country,
                 greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 16.0)
                                        AS INT), 15)) AS x
          FROM pts)
        SELECT country, CAST(x AS BIGINT) AS x,
               CAST(GROUPING(country, x) AS INT) AS gid,
               CAST(count(*) AS BIGINT) AS density
        FROM loc GROUP BY ROLLUP (country, x)
    """)
def _q_cube_rollup(spark, sf_dir):
    """OLAP ROLLUP over the flagship's located events: tile-density
    totals at (country, z-tile), per-country subtotals, and the grand
    total in ONE pass — Spark's native `rollup()` compiles to a single
    Expand + aggregation (no per-level re-scan), the same shape DuckDB's
    ROLLUP produces. grouping_id disambiguates NULL-as-subtotal from
    NULL-as-value (events outside every country)."""
    from insights_spark.geo import pip, tiles

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    located = tiles.with_tile(pip.assign_country(pts, _boundary_rows()), z=4)
    return (
        located.rollup("country", "x")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("density"),
        )
        .select("country", F.col("x").cast("long").alias("x"), "gid", "density")
    )


@query("geofence_dwell", headline=True, oracle=f"""
            WITH pts AS (
              SELECT event_id, user_id, ts,
                     {_POINTS_SQL.format(k="event_id")}
              FROM events),
            loc AS (
              SELECT event_id, user_id, ts,
                     {_country_case_sql()} AS country
              FROM pts),
            runs AS (
              SELECT user_id, ts, event_id, country,
                     CASE WHEN lag(country) OVER w IS DISTINCT FROM country
                          THEN 1 ELSE 0 END AS nw
              FROM loc
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            r2 AS (
              SELECT *, sum(nw) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS run
              FROM runs),
            seg AS (
              SELECT user_id, country, run,
                     epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell
              FROM r2 WHERE country IS NOT NULL GROUP BY 1, 2, 3)
            SELECT user_id, country, CAST(count(*) AS BIGINT) AS n_visits,
                   CAST(sum(dwell) AS BIGINT) AS dwell_us
            FROM seg GROUP BY 1, 2
        """)
def _q_geofence_dwell(spark, sf_dir):
    """Geofence dwell (geo × sessions composition): events → synthetic
    points → broadcast PIP country join (flagship's J6 kernel) → per-user
    gaps-and-islands on region CHANGES (ops/sessions.py dwell_segments)
    → per (user, country) visit counts + total observed dwell in exact
    integer microseconds. Leaving a region (including to no-region NULL)
    ends the visit."""
    from insights_spark.geo import pip
    from insights_spark.ops.sessions import dwell_segments

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    pts = _points(ev, "event_id")
    located = pip.assign_country(pts, _boundary_rows())
    return dwell_segments(located, region_col="country").select(
        "user_id", "country", "n_visits", "dwell_us"
    )


@query("hot_changesets", oracle=f"""
            WITH cs AS (
              SELECT o_orderkey AS id,
                     CASE WHEN mod(o_orderkey, 3) = 0 THEN '#hotosm-project fix'
                          ELSE 'routine edit' END AS comment,
                     mod(o_orderkey * 7919, 340000) / 1000.0 - 170.0 AS min_lon,
                     mod(o_orderkey * 104729, 160000) / 1000.0 - 80.0 AS min_lat
              FROM orders),
            c AS (SELECT id, comment,
                         (min_lon + (min_lon + 1.0)) / 2.0 AS lon,
                         (min_lat + (min_lat + 0.25)) / 2.0 AS lat
                  FROM cs)
            SELECT id, {_country_case_sql()} AS country
            FROM c WHERE lower(comment) LIKE '%hotosm%'
        """)
def _q_hot_changesets(spark, sf_dir):
    """J8/X6 — hot_changeset materialized view: '%hotosm%' filter, then
    country by centroid-in-polygon (geo.bbox.hot_changesets_with_country).
    Bbox widths (1.0, 0.25) keep centroids off the synthetic polygon edges;
    centroid = (min+max)/2 written identically in the oracle so both engines
    evaluate the same IEEE expression tree."""
    from insights_spark.geo.bbox import hot_changesets_with_country

    o = _t(spark, sf_dir, "orders")
    return hot_changesets_with_country(
        _hot_cs_input(o), _boundary_rows()).select("id", "country")


def _hot_cs_input(o, batch: bool = False):
    """Changeset fixture for the hot_changesets family. ``batch=False`` is
    the v1 table (hot iff id≡0 mod 3); ``batch=True`` derives the v2
    refresh batch: bboxes shift north 0.125° and the comment is re-derived
    (hot iff id even) — so vs the stored MV the batch contains updates
    (id≡0 mod 21, even), inserts (even, ≢0 mod 3) and deletes (odd, ≡0
    mod 3). All constants are exact dyadics; the float expression trees
    are written identically in the oracle."""
    ok = F.col("o_orderkey")
    min_lat = F.pmod(ok * 104729, F.lit(160000)) / 1000.0 - 80.0
    if batch:
        min_lat = min_lat + 0.125
        hot = F.pmod(ok, F.lit(2)) == 0
    else:
        hot = F.pmod(ok, F.lit(3)) == 0
    return (
        o.select(
            ok.alias("id"),
            F.create_map(
                F.lit("comment"),
                F.when(hot, F.lit("#hotosm-project fix"))
                .otherwise(F.lit("routine edit")),
            ).alias("tags"),
            (F.pmod(ok * 7919, F.lit(340000)) / 1000.0 - 170.0).alias("min_lon"),
            min_lat.alias("min_lat"),
        )
        .withColumn("max_lon", F.col("min_lon") + 1.0)
        .withColumn("max_lat", F.col("min_lat") + 0.25)
    )


# FULL recompute over the effective post-batch table: ids ≡0 mod 7
# take the v2 comment rule (hot iff even) and the 0.125°-shifted
# bbox; everything else keeps v1. The Spark side never recomputes
# the untouched rows — equality here IS the incremental-refresh
# theorem (delete-then-insert on touched ids == recompute).
@query("hot_changesets_inc", headline=True, oracle=f"""
            WITH cs AS (
              SELECT o_orderkey AS id,
                     CASE WHEN mod(o_orderkey, 7) = 0 THEN
                            CASE WHEN mod(o_orderkey, 2) = 0
                                 THEN '#hotosm-project fix'
                                 ELSE 'routine edit' END
                          ELSE
                            CASE WHEN mod(o_orderkey, 3) = 0
                                 THEN '#hotosm-project fix'
                                 ELSE 'routine edit' END
                     END AS comment,
                     mod(o_orderkey * 7919, 340000) / 1000.0 - 170.0 AS min_lon,
                     CASE WHEN mod(o_orderkey, 7) = 0
                          THEN (mod(o_orderkey * 104729, 160000) / 1000.0 - 80.0) + 0.125
                          ELSE mod(o_orderkey * 104729, 160000) / 1000.0 - 80.0
                     END AS min_lat
              FROM orders),
            c AS (SELECT id, comment,
                         (min_lon + (min_lon + 1.0)) / 2.0 AS lon,
                         (min_lat + (min_lat + 0.25)) / 2.0 AS lat
                  FROM cs)
            SELECT id, {_country_case_sql()} AS country
            FROM c WHERE lower(comment) LIKE '%hotosm%'
        """)
def _q_hot_changesets_inc(spark, sf_dir):
    """X6 incremental (reference refresh = full recompute,
    advanced-queries.md:235-261) — stored MV built from the v1 changesets,
    then a refresh batch (ids ≡0 mod 7, v2: bbox shifted, comment
    re-derived) applied via geo.bbox.hot_changesets_incremental:
    delete-then-insert on touched ids, PIP on the batch only. The oracle is
    the FULL recompute over the effective post-batch table, pinning the
    merge theorem incremental == full."""
    from insights_spark.geo.bbox import (hot_changesets_incremental,
                                         hot_changesets_with_country)

    o = _t(spark, sf_dir, "orders")
    stored = hot_changesets_with_country(
        _hot_cs_input(o), _boundary_rows()).select("id", "country")
    batch = _hot_cs_input(o, batch=True).filter(
        F.pmod(F.col("id"), F.lit(7)) == 0)
    return hot_changesets_incremental(stored, batch, _boundary_rows())


@query("way_meters", oracle="""
            SELECT o_orderkey AS way_id, CAST(1 AS BIGINT) AS way_version,
                   CAST(1
                        + (mod(o_custkey * 31, 100) <=
                           (SELECT max(c_custkey) FROM customer))::int
                        + (mod(o_custkey * 7, 100) <=
                           (SELECT max(c_custkey) FROM customer))::int AS INT) AS n_pts,
                   TRUE AS len_ok
            FROM orders
        """)
def _q_way_meters(spark, sf_dir):
    """A2/U3/F15 — construct_way_geometry (explode nds → as-of node join →
    ordered collect) + geodesic length. Vincenty itself has no ANSI-SQL
    equivalent, so the oracle checks what SQL CAN express exactly: the
    resolved vertex count per way, plus a haversine BAND on the geodesic
    length — an independent Spark-column great-circle length must bracket
    the Vincenty meters within ±1% (WGS84 vs mean-radius sphere differ by
    at most ~0.56%). The oracle emits the same row set with len_ok=TRUE, so
    a regression that returns garbage meters (or NaN) flips len_ok and
    fails the hash. Exact arc values are pinned by pytest against known
    WGS84 distances (tests/test_geo.py)."""
    from insights_spark.geo.length import construct_way_geometry, linestring_length_udf

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    nodes = _points(cust, "c_custkey").select(
        F.col("c_custkey").alias("id"),
        F.lit(1).cast("long").alias("version"),
        F.lit("1990-01-01 00:00:00").cast("timestamp_ntz").alias("timestamp"),
        "lat",
        "lon",
    )
    o = _t(spark, sf_dir, "orders")
    ways = o.select(
        F.col("o_orderkey").alias("id"),
        F.lit(1).cast("long").alias("version"),
        F.col("o_orderdate").alias("timestamp"),
        F.array(
            F.col("o_custkey"),
            F.pmod(F.col("o_custkey") * 31, F.lit(100)),
            F.pmod(F.col("o_custkey") * 7, F.lit(100)),
        ).alias("nds"),
    )
    geom = construct_way_geometry(ways, nodes)

    R = 6371008.8  # mean-radius sphere (same R as the Vincenty fallback)
    def _hav_seg(p1, p2):
        phi1, phi2 = F.radians(p1[1]), F.radians(p2[1])
        dphi, dlam = phi2 - phi1, F.radians(p2[0] - p1[0])
        h = F.sin(dphi / 2) ** 2 + F.cos(phi1) * F.cos(phi2) * F.sin(dlam / 2) ** 2
        return 2 * R * F.asin(F.sqrt(h))

    c = F.col("coords")
    hav = F.when(
        F.size(c) >= 2,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.size(c) - 1),
                lambda i: _hav_seg(F.element_at(c, i), F.element_at(c, i + 1)),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    ).otherwise(F.lit(0.0))
    vinc = linestring_length_udf()(c)
    return geom.select(
        "way_id",
        "way_version",
        F.size(c).alias("n_pts"),
        F.when(hav == 0.0, vinc == 0.0)
        .otherwise((vinc >= hav * 0.99) & (vinc <= hav * 1.01))
        .alias("len_ok"),
    )


# Moran's I: hex encode chain + 6-direction BIGINT neighbor join +
# exact deviation algebra (HUGEINT products → DECIMAL(38,0)); offsets
# are dq·2^28 + dr for the axial ring-1 set.
@query("moran_i", headline=True, oracle=f"""
        WITH {_hex_cnts_sql(1)},
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                       CAST(sum(n) AS BIGINT) AS s_tot FROM cnts),
        base AS (SELECT cell, n_cells * n - s_tot AS dev FROM cnts, tot),
        fan AS (SELECT dev, cell + d AS nb FROM base,
                (SELECT unnest({_OFF6}) AS d)),
        pr AS (SELECT CAST(count(*) AS BIGINT) AS w_pairs,
                      CAST(COALESCE(sum(f.dev::HUGEINT * b.dev::HUGEINT), 0)
                           AS DECIMAL(38,0)) AS num
               FROM fan f JOIN base b ON f.nb = b.cell),
        dn AS (SELECT CAST(COALESCE(sum(dev::HUGEINT * dev::HUGEINT), 0)
                           AS DECIMAL(38,0)) AS den FROM base)
        SELECT t.n_cells, pr.w_pairs, pr.num, dn.den FROM tot t, pr, dn
    """)
def _q_moran_i(spark, sf_dir):
    """Global Moran's I spatial autocorrelation over the hex res-1 rollup
    (geo/smooth.py:moran_i_exact) — exact integer quadruple
    (n_cells, w_pairs, num, den); the oracle replays the encode, the
    6-direction BIGINT neighbor join, and the deviation algebra with
    HUGEINT products. Res 1 for the same fixture reason as hex_smooth:
    finer grids make every cell a singleton with no occupied neighbors."""
    from insights_spark.geo import cells
    from insights_spark.geo.smooth import moran_i_exact

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    counts = pts.groupBy(
        cells.hex_udf(1)(F.col("lon"), F.col("lat")).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    return moran_i_exact(counts)


# Getis-Ord G_i*: the hex chain carries the exact integer weight
# w = floor(value) (floor-then-cast is exact in both engines; a bare
# double->BIGINT cast would truncate in Spark but ROUND in DuckDB);
# ring fan-out replays cells.hex_ring_offsets(1), ring 1 incl. self; the
# z>1.96 test is the same integer cross-multiplication, HUGEINT products
# vs Spark DECIMAL(38,0).
_go_src = ("SELECT event_id, CAST(floor(value) AS BIGINT) AS w, "
           + _POINTS_SQL.format(k="event_id") + " FROM events")

_go_num = "(n_cells * ring_wx - ring_w * s_tot)"


@query("getis_ord", headline=True, oracle=f"""
        WITH {_hex_cells_chain_sql(1, src=_go_src, carry="event_id, w")},
        cnts AS (SELECT cell, CAST(sum(w) AS BIGINT) AS n
                 FROM hexed GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                       CAST(sum(n) AS BIGINT) AS s_tot,
                       CAST(sum(n * n) AS BIGINT) AS q_tot FROM cnts),
        fan AS (SELECT n AS xj, cell + d AS target FROM cnts,
                (SELECT unnest({_OFF7}) AS d)),
        ring AS (SELECT target AS cell, CAST(count(*) AS BIGINT) AS ring_w,
                        CAST(sum(xj) AS BIGINT) AS ring_wx
                 FROM fan GROUP BY 1),
        j AS (SELECT c.cell, c.n AS x, r.ring_w, r.ring_wx,
                     t.n_cells, t.s_tot, t.q_tot
              FROM cnts c JOIN ring r USING (cell), tot t)
        SELECT cell, x, ring_w, ring_wx,
               CAST({_go_num} AS BIGINT) AS gi_num,
               CAST(({_go_num} > 0) AND
                    (625::HUGEINT * (n_cells - 1)
                         * {_go_num}::HUGEINT * {_go_num}::HUGEINT
                     > 2401::HUGEINT
                         * (n_cells * q_tot - s_tot * s_tot)::HUGEINT
                         * (n_cells * ring_w - ring_w * ring_w)::HUGEINT)
                    AS INT) AS is_hot
        FROM j
    """)
def _q_getis_ord(spark, sf_dir):
    """Per-cell Getis-Ord G_i* hotspot flags (geo/smooth.py:
    getis_ord_exact) — the LOCAL sibling of moran_i: which hex cells are
    significantly hot at z > 1.96, decided by an exact integer
    cross-multiplied significance test (no sqrt, no floats). Cells are
    weighted by floor(value) — floor is exact in both engines, and raw
    counts on this hash-spread fixture are TOO uniform to light any cell
    (measured: 0/1721 hot) while the value surface yields 46/1721 ≈ the
    2.5% a z>1.96 tail should pass, keeping the flag non-vacuous (pii
    precedent). Same res-1 fixture reasoning as hex_smooth/moran_i."""
    from insights_spark.geo import cells
    from insights_spark.geo.smooth import getis_ord_exact

    pts = _points(_t(spark, sf_dir, "events").select("event_id", "value"),
                  "event_id")
    counts = pts.groupBy(
        cells.hex_udf(1)(F.col("lon"), F.col("lat")).alias("cell")
    ).agg(F.sum(F.floor(F.col("value"))).cast("long").alias("n"))
    return getis_ord_exact(counts)


# quad compaction: both levels unrolled; z7 xy from the shared
# slippy-map mapping, x/y widened to BIGINT to match Spark's `div`.
@query("quad_compact", headline=True, oracle=f"""
        WITH pts AS ({_EV_PTS}),
        t7raw AS (SELECT DISTINCT {_TILE_XY.format(n=128, nm1=127)} FROM pts),
        t7 AS (SELECT CAST(7 AS INTEGER) AS z, CAST(x AS BIGINT) AS x,
                      CAST(y AS BIGINT) AS y FROM t7raw),
        p6 AS (SELECT CAST(6 AS INTEGER) AS z, x // 2 AS x, y // 2 AS y
               FROM t7 GROUP BY 2, 3 HAVING count(*) = 4),
        k7 AS (SELECT t.z, t.x, t.y FROM t7 t
               LEFT JOIN p6 ON p6.x = t.x // 2 AND p6.y = t.y // 2
               WHERE p6.x IS NULL),
        p5 AS (SELECT CAST(5 AS INTEGER) AS z, x // 2 AS x, y // 2 AS y
               FROM p6 GROUP BY 2, 3 HAVING count(*) = 4),
        k6 AS (SELECT t.z, t.x, t.y FROM p6 t
               LEFT JOIN p5 ON p5.x = t.x // 2 AND p5.y = t.y // 2
               WHERE p5.x IS NULL)
        SELECT z, x, y FROM k7
        UNION ALL SELECT z, x, y FROM k6
        UNION ALL SELECT z, x, y FROM p5
    """)
def _q_quad_compact(spark, sf_dir):
    """Quadtree compaction of the occupied z7 tile set, two levels
    (geo/tiles.py:compact_tile_cover). z7 tiles are ~2.8° — at the
    fixture's ~2.57° point lattice sibling groups complete and compaction
    genuinely fires (finer z: isolated tiles, vacuous). Integer-only key
    arithmetic; the oracle unrolls both levels."""
    from insights_spark.geo.tiles import compact_tile_cover, with_tile

    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    t7 = (
        with_tile(pts, 7)
        .select("z", F.col("x").cast("long").alias("x"),
                F.col("y").cast("long").alias("y"))
        .distinct()
    )
    return compact_tile_cover(t7)
