"""Changeset-bbox operators: centroid, equal-area size, envelope cover.

Covers SURVEY §2.8 F10/F13/F14 and §2.3 J8/J9 plus the §1.2 physical-design
columns (`h3_cells`/`s2_cells` covers for bbox rows):

- centroid: ST_Centroid of the bbox envelope = midpoint column math
  (advanced-queries.md:251).
- area_km2: the reference filters mega-changesets with
  ``ST_Area(ST_Transform(geom, 3410)) < 225e6`` m² (README.md:77) and warns
  about out-of-range latitudes (README.md:78). Engine: cosine-corrected
  equirectangular area — exact enough for a threshold filter — with lat
  clamped to ±90 first, as the reference's warning demands.
- hot_changesets_with_country: the hot_changeset materialized view's
  centroid-in-polygon enrichment (advanced-queries.md:249-252) using the
  same broadcast PIP kernel as element enrichment (J8 ≡ J6 on centroids).
- the hex cell cover of bbox rows (the spatial-index column) is the
  column-form ``geo.cells.hex_cover_bbox``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_KM_PER_DEG = 111.19492664455873  # mean radius arc length per degree
MEGA_CHANGESET_KM2 = 225.0  # README.md:77 threshold: 225e6 m²


def clamp_lat(lat: Column) -> Column:
    """Out-of-range latitudes exist in real data (README.md:78) — clamp."""
    return F.greatest(F.lit(-90.0), F.least(lat, F.lit(90.0)))


def centroid_lon(min_lon: Column, max_lon: Column) -> Column:
    return (min_lon + max_lon) / 2.0


def centroid_lat(min_lat: Column, max_lat: Column) -> Column:
    return (clamp_lat(min_lat) + clamp_lat(max_lat)) / 2.0


def bbox_area_km2(min_lon: Column, min_lat: Column,
                  max_lon: Column, max_lat: Column) -> Column:
    """Cosine-corrected equirectangular bbox area in km²."""
    lat0 = clamp_lat(min_lat)
    lat1 = clamp_lat(max_lat)
    mid = F.radians((lat0 + lat1) / 2.0)
    w = (max_lon - min_lon) * F.cos(mid) * EARTH_KM_PER_DEG
    h = (lat1 - lat0) * EARTH_KM_PER_DEG
    return F.abs(w * h)


def with_centroid(changesets: DataFrame) -> DataFrame:
    return changesets.withColumn(
        "centroid_lon", centroid_lon(F.col("min_lon"), F.col("max_lon"))
    ).withColumn("centroid_lat", centroid_lat(F.col("min_lat"), F.col("max_lat")))


def hot_changesets_with_country(changesets: DataFrame,
                                boundary_rows: list[dict]) -> DataFrame:
    """X6/J8 — the hot_changeset materialized view: '%hotosm%' changesets
    with country assigned by centroid-in-polygon (deterministic tie-break,
    replacing the reference's LIMIT 1)."""
    from ..ops.hashtags import hot_changesets
    from .pip import assign_country

    hot = with_centroid(hot_changesets(changesets))
    return assign_country(hot, boundary_rows,
                          lon_col="centroid_lon", lat_col="centroid_lat")


def hot_changesets_incremental(stored_mv: DataFrame, batch: DataFrame,
                               boundary_rows: list[dict]) -> DataFrame:
    """X6 incremental — refresh the hot_changeset MV from a batch of
    new/updated changesets WITHOUT a full recompute (the reference refreshes
    this view by recomputing it end-to-end: advanced-queries.md:235-261).

    Delete-then-insert keyed on changeset id, the same MERGE shape as the
    S12 sink (runtime.sinks): every id present in ``batch`` is dropped from
    the stored MV — which covers bbox updates, country flips AND hashtag
    removals (a changeset whose new comment no longer matches simply never
    re-enters) — then the batch ALONE runs the hot filter + centroid PIP
    and the survivors are appended. The expensive stage (PIP) touches only
    batch rows; the stored side is one id-keyed anti-join with the touched
    id set broadcast (a refresh batch is small relative to the MV by
    construction). Correctness: country assignment is per-row, so
    incremental == full recompute exactly — the registered oracle IS the
    full recompute over the post-batch table."""
    touched = batch.select("id").distinct()
    kept = stored_mv.join(F.broadcast(touched), "id", "left_anti")
    fresh = hot_changesets_with_country(batch, boundary_rows).select(
        "id", "country")
    return kept.select("id", "country").unionByName(fresh)
