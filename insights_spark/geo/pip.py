"""Broadcast point-in-polygon join — the engine's flagship custom operator.

Replaces the reference's per-row correlated subquery
``(SELECT g.name_en FROM boundaries g WHERE ST_CONTAINS(...) LIMIT 1)``
(reference: osmh.py:113-122, updater.py:54-66) — a nested-loop PIP executed
inside every INSERT — with one vectorized broadcast stage:

  boundaries (small dim) → prepared numpy polygon index, broadcast to every
  executor → scalar pandas UDF over (lon, lat): per Arrow batch, candidate
  polygons are pruned by bbox, the exact edge-inclusive ray-cast test runs
  as numpy array ops. No shuffle of the fact table, no per-row Python, and
  only two double columns ever cross the JVM↔Python boundary.

Determinism: the reference's arbitrary ``LIMIT 1`` becomes a documented
tie-break — candidates are tested in (priority DESC, name_en ASC) order and
the first cover wins (SURVEY §2 J6). Points on a shared border therefore go
to the higher-priority country, stably.

Scale posture: the polygon set (countries) is a few MB — broadcast, built
once per executor (lazy singleton). The fact side streams through in Arrow
batches; cost is O(points_in_bbox × edges) per polygon, and the bbox prune
plus cell-cover prefilter keep the candidate set per point tiny. Polygons
crossing the antimeridian must be pre-split into two lobes (the synth
fixtures include one).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

from ..session import local_df

_EPS = 1e-12


class PolygonIndex:
    """Prepared polygon set: rings as numpy arrays + bboxes, priority-ordered.

    Physical note (measured, see BENCH.md): a coarse-grid candidate
    prefilter (cell → candidate entries) was implemented and benchmarked at
    200 polygons × 2000 edges × 100k points — it came out 2.5× SLOWER than
    this plain priority sweep, because the sweep batches every bbox-hit
    point into ONE vectorized covers() call per polygon while the grid
    fragments points into many small per-candidate-set calls. The bbox
    masks themselves are trivially cheap (E vectorized compares per batch),
    so the sweep is the design that scales; a prefilter only pays off once
    the entry count reaches tens of thousands (admin-level-8 boundaries),
    at which point cells should be classified interior/boundary so interior
    hits skip the exact test entirely.
    """

    def __init__(self, boundary_rows: list[dict]):
        # deterministic candidate order: priority DESC, name_en ASC
        rows = sorted(
            boundary_rows, key=lambda r: (not bool(r.get("priority")), r["name_en"])
        )
        self.names: list[str] = []
        self.polys: list[list[np.ndarray]] = []  # per entry: list of rings (n,2)
        self.bboxes: list[tuple[float, float, float, float]] = []
        for r in rows:
            for poly in r["polygons"]:
                rings = [
                    np.asarray(ring, dtype=np.float64)
                    for ring in poly
                    if len(ring) >= 4  # a closed ring needs ≥3 distinct points
                ]
                if not rings:
                    continue
                xs = np.concatenate([g[:, 0] for g in rings])
                ys = np.concatenate([g[:, 1] for g in rings])
                self.names.append(r["name_en"])
                self.polys.append(rings)
                self.bboxes.append((xs.min(), ys.min(), xs.max(), ys.max()))

    @staticmethod
    def _ring_crossings(lon, lat, ring):
        """Crossing-parity + on-edge mask for a batch of points vs one ring."""
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        px = lon[:, None]
        py = lat[:, None]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        cross = np.where(cond, px < xint, False)
        parity = cross.sum(axis=1) % 2 == 1
        # edge-inclusive (covers semantics): colinear + within segment bbox
        d = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        scale = np.maximum(np.abs(x2 - x1), np.abs(y2 - y1)) + 1.0
        on_line = np.abs(d) <= _EPS * scale
        in_seg = (
            (px >= np.minimum(x1, x2) - _EPS)
            & (px <= np.maximum(x1, x2) + _EPS)
            & (py >= np.minimum(y1, y2) - _EPS)
            & (py <= np.maximum(y1, y2) + _EPS)
        )
        on_edge = (on_line & in_seg).any(axis=1)
        return parity, on_edge

    def covers(self, lon: np.ndarray, lat: np.ndarray, entry: int) -> np.ndarray:
        """Edge-inclusive even-odd test of points vs polygon `entry`."""
        parity = np.zeros(lon.shape, dtype=np.int64)
        on_edge = np.zeros(lon.shape, dtype=bool)
        for ring in self.polys[entry]:
            p, e = self._ring_crossings(lon, lat, ring)
            parity += p
            on_edge |= e
        return (parity % 2 == 1) | on_edge

    def _locate_entries(self, lon, lat, out, unresolved, entries) -> None:
        """Test `entries` (priority-ordered) against the unresolved points."""
        for e in entries:
            if not unresolved.any():
                return
            bx0, by0, bx1, by1 = self.bboxes[e]
            cand = (
                unresolved
                & (lon >= bx0 - _EPS) & (lon <= bx1 + _EPS)
                & (lat >= by0 - _EPS) & (lat <= by1 + _EPS)
            )
            if not cand.any():
                continue
            idx = np.nonzero(cand)[0]
            hit = self.covers(lon[idx], lat[idx], e)
            hit_idx = idx[hit]
            out[hit_idx] = self.names[e]
            unresolved[hit_idx] = False

    def locate(self, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
        """First-covering polygon name per point (priority order), else None."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        out = np.full(lon.shape, None, dtype=object)
        unresolved = np.isfinite(lon) & np.isfinite(lat)
        self._locate_entries(lon, lat, out, unresolved, range(len(self.names)))
        return out


def _broadcast_index(spark, boundary_rows: list[dict]):
    return spark.sparkContext.broadcast(PolygonIndex(boundary_rows))


def assign_country(
    df: DataFrame,
    boundary_rows: list[dict],
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Attach the covering boundary name to every row (None when outside).

    Implemented as a SCALAR pandas UDF over (lon, lat) only: just two
    double columns cross the JVM↔Python boundary, never the full row — a
    mapInPandas formulation would drag map/array columns through Arrow
    object conversion and dominate the stage at scale. The country column
    of the input (if present) is replaced — this is the engine's version
    of the reference's ingest-time enrichment.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    bc = _broadcast_index(spark, boundary_rows)

    @pandas_udf(StringType())
    def _locate(lon: pd.Series, lat: pd.Series) -> pd.Series:
        index: PolygonIndex = bc.value
        lo = pd.to_numeric(lon, errors="coerce").to_numpy(np.float64, na_value=np.nan)
        la = pd.to_numeric(lat, errors="coerce").to_numpy(np.float64, na_value=np.nan)
        return pd.Series(index.locate(lo, la), index=lon.index, dtype=object)

    return df.withColumn("country", _locate(F.col(lon_col), F.col(lat_col)))


def assign_country_cells(df: DataFrame, boxes: list[tuple], id_col: str) -> DataFrame:
    """Bbox-country assignment as a CELL EQUI-JOIN — the bucketed
    alternative physical strategy to ``assign_country``'s broadcast
    R-tree, same answer (the driver oracle is shared with the CASE path).

    ``boxes``: [(name, priority, lon0, lat0, lon1, lat1)]; closed-box
    containment, tie-break priority DESC then name ASC (the reference's
    deterministic ordering). ``id_col`` must uniquely key ``df`` rows (the
    winner is resolved by aggregation on it).

    Plan: each box is polyfilled (``hex_cover_bbox``) over a one-cell-
    padded bbox — padding ≥ the hex circumradius guarantees every point
    inside the box lands in a COVERED cell, so the equi-join on the
    point's cell id misses nothing. Cells whose center sits a full
    circumradius INSIDE the box are interior: any point binned to them is
    provably contained, no exact test. Boundary cells run the closed-box
    predicate. The cover is dim-sized (≤ cover cells × boxes) and
    broadcast; the fact side shuffles only for the winner aggregation on
    ``id_col`` — at warehouse scale this is the strategy that co-partitions
    with other cell-keyed joins, where the R-tree UDF stays CPU-bound.
    """
    from pyspark.sql import functions as F

    from . import cells

    spark = df.sparkSession
    # strictly ≥ circumradius: conservative on both sides
    pad = cells.hex_edge_deg(2) * 1.001
    bx = local_df(
        spark,
        boxes,
        "country string, priority boolean, lon0 double, lat0 double, "
        "lon1 double, lat1 double",
    ).select(
        "country", "priority", "lon0", "lat0", "lon1", "lat1",
        (F.col("lon0") - F.lit(pad)).alias("clon0"),
        (F.col("lat0") - F.lit(pad)).alias("clat0"),
        (F.col("lon1") + F.lit(pad)).alias("clon1"),
        (F.col("lat1") + F.lit(pad)).alias("clat1"),
    )
    cover = cells.hex_cover_bbox(
        bx, 2, lon0="clon0", lat0="clat0", lon1="clon1", lat1="clat1"
    )
    clon, clat = cells.hex_center_col(F.col("cell"), 2)
    cover = cover.withColumn(
        "_interior",
        (clon >= F.col("lon0") + F.lit(pad))
        & (clon <= F.col("lon1") - F.lit(pad))
        & (clat >= F.col("lat0") + F.lit(pad))
        & (clat <= F.col("lat1") - F.lit(pad)),
    ).select("cell", "country", "priority", "lon0", "lat0", "lon1", "lat1",
             "_interior")

    pts = df.withColumn(
        "_cell", cells.hex_udf(2)(F.col("lon"), F.col("lat"))
    )
    cand = pts.join(F.broadcast(cover), pts["_cell"] == cover["cell"])
    hit = F.col("_interior") | (
        (F.col("lon") >= F.col("lon0"))
        & (F.col("lon") <= F.col("lon1"))
        & (F.col("lat") >= F.col("lat0"))
        & (F.col("lat") <= F.col("lat1"))
    )
    winners = (
        cand.filter(hit)
        .groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    F.when(F.col("priority"), 0).otherwise(1).alias("p"),
                    F.col("country").alias("c"),
                )
            ).alias("_w")
        )
        .select(id_col, F.col("_w.c").alias("country"))
    )
    return df.join(winners, id_col, "left")
