"""Tests: boundary rows with holes in the PIP kernel, bbox area
(F13/F14), hot_changeset centroid PIP (J8/X6)."""

from __future__ import annotations

from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

from insights_spark.geo import bbox, pip

# Kenya as two polygons (lon, lat rings, closed): a mainland outer ring,
# and an island whose second ring is a hole
KENYA = {
    "name_en": "Kenya",
    "polygons": [
        [[[33.9, -4.7], [37.0, -4.7], [37.0, 4.6], [33.9, 4.6], [33.9, -4.7]]],
        [[[40.0, -2.0], [41.0, -2.0], [41.0, -1.0], [40.0, -1.0], [40.0, -2.0]],
         [[40.4, -1.8], [40.6, -1.8], [40.6, -1.6], [40.4, -1.6], [40.4, -1.8]]],
    ],
}


def test_poly_rows_work_in_pip_kernel():
    idx = pip.PolygonIndex([KENYA])
    got = idx.locate(np.array([35.0, 40.5, 40.2, 0.0]),
                     np.array([0.0, -1.7, -1.5, 50.0]))
    # 35,0 in main polygon; 40.5,-1.7 inside the HOLE → None; 40.2,-1.5 in
    # island but outside hole; far point None
    assert list(got) == ["Kenya", None, "Kenya", None]


def test_bbox_area_and_mega_filter(spark):
    df = spark.createDataFrame(
        [
            (1, 36.80, -1.30, 36.93, -1.17),          # ~200 km²
            (2, -30.0, -20.0, 30.0, 20.0),            # mega
            (3, 10.0, -95.0, 10.5, -94.5),            # out-of-range lat — clamped
            (4, None, None, None, None),              # null bbox
        ],
        "id long, min_lon double, min_lat double, max_lon double, max_lat double",
    )
    area = {r["id"]: r["a"] for r in df.select(
        "id", bbox.bbox_area_km2(F.col("min_lon"), F.col("min_lat"),
                                 F.col("max_lon"), F.col("max_lat")).alias("a")
    ).collect()}
    assert 180 < area[1] < 230
    assert area[2] > 1e7
    assert area[1] < bbox.MEGA_CHANGESET_KM2 < area[2]  # the F14 cut
    assert area[3] == 0.0  # both latitudes clamp to -90: a zero-height box
    assert area[4] is None


def test_hot_changesets_with_country(spark):
    from insights_spark import synth

    T = datetime(2021, 8, 5)
    cs = spark.createDataFrame(
        [
            (1, 7, T, -1.3, -1.2, 36.8, 36.9, {"comment": "#hotosm-project-1 go"}),
            (2, 7, T, -1.3, -1.2, 36.8, 36.9, {"comment": "nothing"}),
            (3, 7, T, 50.0, 51.0, 0.0, 1.0, {"hashtags": "#hotosm-x"}),
        ],
        "id long, user_id long, created_at timestamp_ntz, min_lat double,"
        "max_lat double, min_lon double, max_lon double, tags map<string,string>",
    )
    got = {r["id"]: r["country"] for r in
           bbox.hot_changesets_with_country(cs, synth.gen_boundaries()).collect()}
    assert got == {1: "Kenya", 3: None}  # 2 filtered (not hot)


def test_hot_changesets_incremental_matches_full(spark):
    """Incremental MV refresh (delete-then-insert on touched ids, PIP on
    the batch only) == full recompute over the post-batch table — with all
    three refresh cases non-vacuous: an update (id 1 moves country), an
    insert (id 2 gains the hashtag), a delete (id 3 loses it)."""
    from insights_spark import synth

    T = datetime(2021, 8, 5)
    schema = (
        "id long, user_id long, created_at timestamp_ntz, min_lat double,"
        "max_lat double, min_lon double, max_lon double, tags map<string,string>"
    )
    v1 = spark.createDataFrame(
        [
            (1, 7, T, -1.3, -1.2, 36.8, 36.9, {"comment": "#hotosm-1"}),  # hot, Kenya
            (2, 7, T, -1.3, -1.2, 36.8, 36.9, {"comment": "meh"}),        # not hot
            (3, 7, T, -1.3, -1.2, 36.8, 36.9, {"comment": "#hotosm-3"}),  # hot
            (4, 7, T, -1.3, -1.2, 36.8, 36.9, {"comment": "#hotosm-4"}),  # untouched
        ],
        schema,
    )
    batch = spark.createDataFrame(
        [
            (1, 7, T, 50.0, 51.0, 0.0, 1.0, {"comment": "#hotosm-1 moved"}),
            (2, 7, T, -1.3, -1.2, 36.8, 36.9, {"comment": "#hotosm-2 now"}),
            (3, 7, T, -1.3, -1.2, 36.8, 36.9, {"comment": "hashtag gone"}),
        ],
        schema,
    )
    bnd = synth.gen_boundaries()
    stored = bbox.hot_changesets_with_country(v1, bnd).select("id", "country")
    inc = {(r["id"], r["country"]) for r in
           bbox.hot_changesets_incremental(stored, batch, bnd).collect()}
    full_input = v1.filter(~F.col("id").isin([1, 2, 3])).unionByName(batch)
    full = {(r["id"], r["country"]) for r in
            bbox.hot_changesets_with_country(full_input, bnd)
            .select("id", "country").collect()}
    assert inc == full
    assert {i for i, _ in inc} == {1, 2, 4}  # 3 deleted, 2 inserted
    assert dict(inc)[1] is None  # moved off Kenya (update took effect)
