"""Geodesic length on the WGS84 ellipsoid + way-geometry reconstruction.

Covers the reference's ``ST_Length(construct_geometry(...)::geography)``
(reference: changesetStats.py:68-86) — meters of highway added/modified per
changeset. ``construct_geometry`` is *referenced but never defined* in the
reference repo (SURVEY §2.10 U3); the engine owns the spec:

    rebuild a way's LINESTRING from the latest version of each of its nodes
    visible at the way's own timestamp (as-of semantics), in nds order,
    then measure its geodesic length.

pyproj/GeographicLib are unavailable here, so the kernel is a vectorized
numpy Vincenty inverse (WGS84), with a haversine fallback for the rare
non-convergent (near-antipodal) pair — accuracy ~1e-6 relative vs PostGIS
geography for real-world segments, validated against known distances in
tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..ops.latest import top_k

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_WGS84_B = _WGS84_A * (1.0 - _WGS84_F)


def vincenty_m(lon1, lat1, lon2, lat2):
    """Vectorized Vincenty inverse distance (meters) on WGS84."""
    lon1, lat1, lon2, lat2 = (np.asarray(a, dtype=np.float64) for a in (lon1, lat1, lon2, lat2))
    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1 - _WGS84_F) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - _WGS84_F) * np.tan(np.radians(lat2)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    converged = np.zeros(L.shape, dtype=bool)
    sinSigma = np.zeros_like(L)
    cosSigma = np.ones_like(L)
    sigma = np.zeros_like(L)
    cosSqAlpha = np.ones_like(L)
    cos2SigmaM = np.zeros_like(L)
    for _ in range(50):
        sinLam, cosLam = np.sin(lam), np.cos(lam)
        sinSigma = np.sqrt(
            (cosU2 * sinLam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) ** 2
        )
        cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
        sigma = np.arctan2(sinSigma, cosSigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sinAlpha = np.where(sinSigma != 0, cosU1 * cosU2 * sinLam / sinSigma, 0.0)
        cosSqAlpha = 1.0 - sinAlpha ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            cos2SigmaM = np.where(
                cosSqAlpha != 0, cosSigma - 2 * sinU1 * sinU2 / cosSqAlpha, 0.0
            )
        C = _WGS84_F / 16 * cosSqAlpha * (4 + _WGS84_F * (4 - 3 * cosSqAlpha))
        lamPrev = lam
        lam = L + (1 - C) * _WGS84_F * sinAlpha * (
            sigma
            + C * sinSigma * (cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM ** 2))
        )
        converged = np.abs(lam - lamPrev) < 1e-12
        if converged.all():
            break

    uSq = cosSqAlpha * (_WGS84_A ** 2 - _WGS84_B ** 2) / _WGS84_B ** 2
    A = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    B = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    deltaSigma = (
        B
        * sinSigma
        * (
            cos2SigmaM
            + B
            / 4
            * (
                cosSigma * (-1 + 2 * cos2SigmaM ** 2)
                - B
                / 6
                * cos2SigmaM
                * (-3 + 4 * sinSigma ** 2)
                * (-3 + 4 * cos2SigmaM ** 2)
            )
        )
    )
    dist = _WGS84_B * A * (sigma - deltaSigma)

    # haversine fallback (mean-radius sphere) for non-convergent pairs
    if not converged.all():
        R = 6371008.8
        p1, p2 = np.radians(lat1), np.radians(lat2)
        dphi = p2 - p1
        dlam = np.radians(lon2 - lon1)
        h = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlam / 2) ** 2
        hav = 2 * R * np.arcsin(np.sqrt(h))
        dist = np.where(converged, dist, hav)

    # coincident points
    same = (lon1 == lon2) & (lat1 == lat2)
    return np.where(same, 0.0, dist)


def linestring_length_udf():
    """pandas UDF: array<array<double>> of [lon,lat] vertices → meters."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def _len(coords: pd.Series) -> pd.Series:
        out = np.zeros(len(coords))
        # flatten all segments in the batch into one vectorized vincenty call
        seg_lon1, seg_lat1, seg_lon2, seg_lat2, owners = [], [], [], [], []
        for i, cs in enumerate(coords):
            if cs is None or len(cs) < 2:
                continue
            arr = np.asarray([list(c) for c in cs], dtype=np.float64)
            seg_lon1.append(arr[:-1, 0])
            seg_lat1.append(arr[:-1, 1])
            seg_lon2.append(arr[1:, 0])
            seg_lat2.append(arr[1:, 1])
            owners.append(np.full(len(arr) - 1, i))
        if owners:
            d = vincenty_m(
                np.concatenate(seg_lon1), np.concatenate(seg_lat1),
                np.concatenate(seg_lon2), np.concatenate(seg_lat2),
            )
            np.add.at(out, np.concatenate(owners), d)
        return pd.Series(out)

    return _len


def construct_way_geometry(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Rebuild way linestrings from node history (engine-owned U3 spec).

    ways:  element_history rows with type='way' (id, version, timestamp, nds)
    nodes: element_history rows with type='node' (id, version, timestamp, lat, lon)

    For each (way id, version): explode nds with position → join node
    versions → keep the latest node version with node.timestamp <= way
    .timestamp (as-of) → collect
    vertices in nds order. Ways whose nodes are unresolved keep NULL
    vertices filtered out; <2 resolved vertices → empty geometry (length 0).

    Scale: the node side is shuffled once on node id (sort-merge); the
    as-of dedup is a window inside the join result — no driver loops.
    """
    w = ways.select(
        F.col("id").alias("way_id"),
        F.col("version").alias("way_version"),
        F.col("timestamp").alias("way_ts"),
        F.posexplode("nds").alias("pos", "node_id"),
    )
    n = nodes.select(
        F.col("id").alias("node_id"),
        F.col("version").alias("node_version"),
        F.col("timestamp").alias("node_ts"),
        "lat",
        "lon",
    ).filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())

    j = w.join(n, "node_id", "left")
    j = j.filter(F.col("node_ts").isNull() | (F.col("node_ts") <= F.col("way_ts")))
    resolved = top_k(
        j, ["way_id", "way_version", "pos"], [F.desc_nulls_last("node_version")]
    ).select("way_id", "way_version", "way_ts", "pos", "lon", "lat")
    return (
        resolved.filter(F.col("lon").isNotNull())
        .groupBy("way_id", "way_version")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", F.array("lon", "lat").alias("pt")))
            ).alias("_ordered")
        )
        .select(
            "way_id",
            "way_version",
            F.transform(F.col("_ordered"), lambda s: s["pt"]).alias("coords"),
        )
    )


def way_length_m(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """(way_id, way_version, length_m) — geodesic meters per way."""
    geom = construct_way_geometry(ways, nodes)
    return geom.select(
        "way_id", "way_version", linestring_length_udf()(F.col("coords")).alias("length_m")
    )
