"""Geo kernel tests (SURVEY §5 item 4): PIP vs brute force + known points,
tiles vs pure-Python slippy math, S2/hex properties, kNN cell-local vs
brute force, geodesic length vs known arcs."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from insights_spark import synth
from insights_spark.geo import cells, knn, length, pip, tiles


# ---------------------------------------------------------------- PIP

def test_pip_known_points_and_tiebreak(spark):
    rows = synth.gen_boundaries()
    df = spark.createDataFrame(
        [(1, 36.0, 0.0), (2, 40.0, 5.0), (3, 121.0, 7.0), (4, 179.5, -17.0),
         (5, -179.0, -17.0), (6, -55.0, -8.0), (7, 37.0, 0.0), (8, 0.0, 50.0),
         (9, None, None)],
        "id long, lon double, lat double",
    )
    got = {r["id"]: r["country"] for r in pip.assign_country(df, rows).collect()}
    assert got == {1: "Kenya", 2: "Somalia", 3: "Philippines", 4: "Fiji",
                   5: "Fiji", 6: "Triland", 7: "Kenya", 8: None, 9: None}


def test_pip_agrees_with_bruteforce_random(spark):
    """Pruned kernel == brute force (every polygon tested) on random points."""
    rows = synth.gen_boundaries()
    idx = pip.PolygonIndex(rows)
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 3000)
    lat = rng.uniform(-90, 90, 3000)
    fast = idx.locate(lon, lat)
    brute = np.full(lon.shape, None, dtype=object)
    for i in range(len(lon)):
        for e in range(len(idx.names)):
            if idx.covers(lon[i : i + 1], lat[i : i + 1], e)[0]:
                brute[i] = idx.names[e]
                break
    assert (fast == brute).all()
    assert sum(x is not None for x in fast) > 0


def test_pip_country_enrichment_on_extracted_nodes(spark, pages):
    from insights_spark import extract

    nodes = extract.extract_elements(pages).filter(
        (F.col("type") == "node") & F.col("lat").isNotNull()
    )
    enriched = pip.assign_country(nodes, synth.gen_boundaries())
    per = {r["country"]: r["n"] for r in
           enriched.groupBy("country").agg(F.count("*").alias("n")).collect()}
    # hot box is inside Kenya — ~30% of nodes land there
    assert per.get("Kenya", 0) > 0


# ---------------------------------------------------------------- cells

def test_s2_hierarchy_and_determinism():
    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 5000)
    lat = rng.uniform(-89.9, 89.9, 5000)
    c12 = cells.s2_cell_id(lon, lat, 12)
    c10 = cells.s2_cell_id(lon, lat, 10)
    p = cells.s2_parent(cells.s2_parent(c12))
    assert np.array_equal(p, c10)
    assert np.array_equal(cells.s2_cell_id(lon, lat, 12), c12)
    faces = sorted(set((c12.view(np.uint64) >> np.uint64(61)).astype(int)))
    assert faces == [0, 1, 2, 3, 4, 5]


def test_with_cells_spark(spark):
    df = spark.createDataFrame(
        [(1, 36.8, -1.28), (2, 36.800001, -1.280001), (3, -74.0, 40.7), (4, None, None)],
        "id long, lon double, lat double",
    )
    out = {r["id"]: (r["s2_l12"], r["h3_r8"]) for r in cells.with_cells(df).collect()}
    assert out[1][0] == out[2][0] and out[1][1] == out[2][1]  # near points share
    assert out[1][0] != out[3][0]
    assert out[4] == (None, None)
    # matches the driver-side kernel exactly
    assert out[1][0] == int(cells.s2_cell_id(np.array([36.8]), np.array([-1.28]), 12)[0])
    assert out[1][1] == int(cells.hex_cell_id(np.array([36.8]), np.array([-1.28]), 8)[0])


# ---------------------------------------------------------------- tiles

def _ref_tile(lon, lat, z):
    """Pure-Python slippy-map reference math (osm wiki formula)."""
    lat = max(-tiles.MAX_MERC_LAT, min(lat, tiles.MAX_MERC_LAT))
    n = 2 ** z
    x = int((lon + 180.0) / 360.0 * n)
    r = math.radians(lat)
    y = int((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.pi) / 2.0 * n)
    return max(0, min(x, n - 1)), max(0, min(y, n - 1))


def test_tile_assignment_matches_reference_math(spark):
    pts = [(i, -180.0 + i * 7.37, -85.0 + (i * 3.1) % 170) for i in range(48)]
    pts += [(100, 0.0, 0.0), (101, -180.0, 85.05112878), (102, 179.999, -89.9),
            (103, 10.0, 95.0)]  # out-of-range lat clamps
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    for z in (6, 8, 12):
        got = {r["id"]: (r["x"], r["y"]) for r in tiles.with_tile(df, z).collect()}
        for pid, lon, lat in pts:
            assert got[pid] == _ref_tile(lon, lat, z), (pid, z)


def test_tile_pyramid_sums_preserved(spark):
    rng = np.random.default_rng(11)
    pts = [(int(i), float(a), float(b)) for i, (a, b) in
           enumerate(zip(rng.uniform(-170, 170, 400), rng.uniform(-80, 80, 400)))]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    pyr = tiles.tile_pyramid(df, [4, 6, 8]).collect()
    by_z = {}
    for r in pyr:
        by_z[r["z"]] = by_z.get(r["z"], 0) + r["density"]
    assert by_z[4] == by_z[6] == by_z[8] == 400


# ---------------------------------------------------------------- kNN

def test_knn_exact_vs_cell_local(spark):
    rng = np.random.default_rng(5)
    # clustered points so k-ring locality holds (res 6 cells ~ 0.2 deg)
    centers = [(36.8, -1.28), (36.9, -1.3), (36.85, -1.2)]
    pts = []
    i = 0
    for cx, cy in centers:
        for _ in range(40):
            pts.append((i, cx + rng.normal(0, 0.01), cy + rng.normal(0, 0.01)))
            i += 1
    df = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in pts],
        "id long, lon double, lat double",
    )
    exact = {(r["id"], r["rank"]): r["neighbor_id"]
             for r in knn.knn_exact(df, k=3).collect()}
    local = {(r["id"], r["rank"]): r["neighbor_id"]
             for r in knn.knn_cell_local(df, k=3, res=6, rings=1).collect()}
    assert exact == local


def test_hex_ring_col_matches_ring_ids(spark):
    """The JVM ring fan (cells.hex_ring_col = packed-id addition) must
    produce exactly hex_ring_ids per row, and NULL cells must fan to no
    rows after explode (the old UDF's [] semantics)."""
    pts = [(36.8, -1.28), (-120.0, 45.0), (0.0005, 0.0005), (179.9, -84.9)]
    df = spark.createDataFrame([(float(a), float(b)) for a, b in pts],
                               "lon double, lat double")
    for res, rings in ((1, 1), (2, 2), (6, 1)):
        enc = df.withColumn(
            "cell", cells.hex_udf(res, use_h3=False)(F.col("lon"), F.col("lat"))
        )
        got = enc.select(
            "cell", cells.hex_ring_col("cell", rings).alias("ring")
        ).collect()
        for r in got:
            assert r["ring"] == cells.hex_ring_ids(int(r["cell"]), rings)
    ndf = spark.createDataFrame([(None,)], "cell long")
    assert ndf.select(
        F.explode(cells.hex_ring_col("cell", 1)).alias("x")
    ).count() == 0


def test_auto_cell_res_tracks_density(spark):
    """auto_cell_res steps FINER as density grows (10× points in the same
    box must not pick a coarser res), and knn_cell_local(res=None) stays
    certified-exact — the res pick shapes the plan, never the answer."""
    import numpy as np

    rng = np.random.default_rng(11)

    def mk(n):
        return spark.createDataFrame(
            [(int(i), float(10 + rng.uniform(0, 5)), float(rng.uniform(0, 5)))
             for i in range(n)],
            "id long, lon double, lat double",
        )

    small, big = mk(300), mk(3000)
    r_small = knn.auto_cell_res(small, k=3)
    r_big = knn.auto_cell_res(big, k=3)
    assert r_big >= r_small
    assert r_big > 0          # 3000 pts in a 5°box must not stay at res 0

    exact = {(r["id"], r["rank"]): r["neighbor_id"]
             for r in knn.knn_exact(small, k=3).collect()}
    auto = {(r["id"], r["rank"]): r["neighbor_id"]
            for r in knn.knn_cell_local(small, k=3, res=None, rings=2).collect()}
    assert auto == exact


def test_nn_cell_res_tracks_full_density(spark):
    """nn_cell_res measures density on the FULL dataset: 10× the points in
    the same box must step the picked resolution FINER. (The r5 capped
    hash sample estimated the density of the SAMPLE, so 10× data read the
    same density, pinned the res, and made the certified join's pair work
    ~quadratic — judge-measured 17.3× wall at 10× data.)"""
    def mk(n):
        return spark.range(n).select(
            (F.pmod(F.col("id") * 7919, F.lit(5000)) / 1000.0).alias("lon"),
            (F.pmod(F.col("id") * 104729, F.lit(5000)) / 1000.0).alias("lat"),
        )

    r_small = knn.nn_cell_res(mk(3000))
    r_big = knn.nn_cell_res(mk(30000))
    assert r_big > r_small, (r_small, r_big)


def test_knn_certified_exact_covers_sparse_points(spark):
    """Two far-apart clusters + one isolated point: the isolated point finds
    nothing in the ring-bounded pass (exact=False), but certified-exact mode
    recovers the full brute-force answer — for EVERY point, not just dense
    ones — via the broadcast fallback over uncertified queries."""
    pts = [(0, 0.0, 0.0)]  # isolated
    pts += [(i, 35.0 + i * 0.001, 10.0) for i in range(1, 6)]
    pts += [(i, -40.0 + i * 0.001, -30.0) for i in range(6, 11)]
    df = spark.createDataFrame([(int(a), float(b), float(c)) for a, b, c in pts],
                               "id long, lon double, lat double")
    fine = knn.knn_cell_local(df, k=2, res=6, rings=1, exact=False)
    assert fine.filter(F.col("id") == 0).count() == 0  # isolated finds nothing
    cert = knn.knn_cell_local(df, k=2, res=6, rings=1)
    exact = {(r["id"], r["rank"]): r["neighbor_id"]
             for r in knn.knn_exact(df, k=2).collect()}
    got = {(r["id"], r["rank"]): r["neighbor_id"] for r in cert.collect()}
    assert got == exact


def test_knn_cert_radius_geometry():
    """cert_radius(res, 1) must be ≤ the true minimal distance from a cell
    point to outside its 1-ring: verified empirically by sampling — no point
    within the radius of a query may land outside the query cell's ring."""
    res = 4
    s = cells.hex_edge_deg(res)
    rad = knn.cert_radius_deg(res, 1)
    rng = np.random.default_rng(11)
    qs = rng.uniform([-50, -40], [50, 40], size=(300, 2))
    for qlon, qlat in qs:
        qcell = cells.hex_cell_id(np.array([qlon]), np.array([qlat]), res)[0]
        ring = set(cells.hex_ring_ids(int(qcell), 1))
        # sample points on a circle of radius slightly under cert
        ang = rng.uniform(0, 2 * np.pi, 24)
        plon = qlon + np.cos(ang) * rad * 0.999
        plat = qlat + np.sin(ang) * rad * 0.999
        pcells = cells.hex_cell_id(plon, plat, res)
        assert all(int(c) in ring for c in pcells), (qlon, qlat, s)


def test_knn_deterministic_ties(spark):
    # four corners equidistant from center: ties broken by neighbor_id asc
    df = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, -1.0, 0.0), (3, 0.0, 1.0), (4, 0.0, -1.0)],
        "id long, lon double, lat double",
    )
    rows = [r for r in knn.knn_exact(df, k=4).collect() if r["id"] == 0]
    assert [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4]


# ---------------------------------------------------------------- length

def test_way_length_and_construct_geometry(spark):
    from datetime import datetime

    T = datetime(2021, 8, 5)
    T2 = datetime(2021, 8, 6)
    nodes = spark.createDataFrame(
        [
            (1, "node", 1, T, 0.0, 0.0),
            (1, "node", 2, T2, 0.5, 0.5),   # after way ts → ignored (as-of)
            (2, "node", 1, T, 0.0, 1.0),
            (3, "node", 1, T, 0.0, 2.0),
        ],
        "id long, type string, version long, timestamp timestamp_ntz, lat double, lon double",
    )
    ways = spark.createDataFrame(
        [(10, "way", 1, datetime(2021, 8, 5, 12), [1, 2, 3])],
        "id long, type string, version long, timestamp timestamp_ntz, nds array<long>",
    )
    out = length.way_length_m(ways, nodes).collect()
    assert len(out) == 1
    # two 1-degree lon segments at equator = 2 * 111319.49 m
    assert abs(out[0]["length_m"] - 2 * 111319.4907932264) < 0.01

    geom = length.construct_way_geometry(ways, nodes).collect()[0]
    assert [list(c) for c in geom["coords"]] == [[0.0, 0.0], [1.0, 0.0], [2.0, 0.0]]


def test_tile_bounds_roundtrip(spark):
    """Raster→vector→raster identity: the center of every tile's vector
    bounds rasterizes back to the same tile (z=0..12, pseudo-random
    tiles)."""
    from insights_spark.geo import vectorize

    rows = []
    for z in (0, 1, 5, 8, 12):
        n = 2 ** z
        for s in range(17):
            rows.append((z, (s * 7919) % n, (s * 104729) % n, 1))
    df = spark.createDataFrame(rows, "z int, x int, y int, density long")
    bounds = vectorize.with_tile_bounds(df)
    by_z = {}
    for r in bounds.collect():
        assert r["west"] < r["east"] and r["south"] < r["north"]
        by_z.setdefault(r["z"], []).append(r)
    assert sum(len(v) for v in by_z.values()) == len(rows)
    for z, rs in by_z.items():
        centers = spark.createDataFrame(
            [((r["west"] + r["east"]) / 2, (r["south"] + r["north"]) / 2,
              r["x"], r["y"]) for r in rs],
            "lon double, lat double, ex int, ey int",
        )
        for t in tiles.with_tile(centers, z).collect():
            assert (t["x"], t["y"]) == (t["ex"], t["ey"]), (z, t)


def test_vectorize_and_wkt(spark):
    from insights_spark.geo import vectorize

    df = spark.createDataFrame(
        [(2, 1, 1, 10), (2, 3, 0, 1)], "z int, x int, y int, density long"
    )
    out = vectorize.quad_wkt(
        vectorize.vectorize_tiles(df, min_density=5)
    ).collect()
    assert len(out) == 1
    r = out[0]
    # z2 tile (1,1): west=-90, east=0; y=1 → north=66.51..., south=0
    assert r["west"] == -90.0 and r["east"] == 0.0
    assert abs(r["north"] - 66.513260443) < 1e-8 and r["south"] == 0.0
    body = r["wkt"].removeprefix("POLYGON((").removesuffix("))")
    pts = [tuple(float(v) for v in p.split(" ")) for p in body.split(", ")]
    assert pts[0] == pts[-1] == (r["west"], r["south"])
    assert (r["east"], r["north"]) in pts and len(pts) == 5


def test_tile_regions_matches_union_find(spark):
    """tile_regions (star contraction) == python union-find on a fixture
    with an L-shaped blob, a 1xN snake (worst-case diameter), a singleton,
    and two blobs touching only diagonally (must NOT merge: 4-adjacency)."""
    from insights_spark.geo import vectorize

    coords = (
        [(10, 10), (10, 11), (10, 12), (11, 12)]          # L blob
        + [(20, y) for y in range(5, 13)]                  # snake, diameter 8
        + [(0, 0)]                                         # singleton
        + [(30, 30), (31, 31)]                             # diagonal: 2 regions
    )
    df = spark.createDataFrame(
        [(8, x, y, 7) for x, y in coords], "z int, x int, y int, density long"
    )
    got = {}
    for r in vectorize.tile_regions(df, min_density=1).collect():
        got.setdefault(r["region_id"], set()).add((r["x"], r["y"]))

    parent = {c: c for c in coords}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for x, y in coords:
        for nx, ny in ((x + 1, y), (x, y + 1)):
            if (nx, ny) in parent:
                parent[find((x, y))] = find((nx, ny))
    want = {}
    for c in coords:
        want.setdefault(find(c), set()).add(c)
    assert sorted(got.values(), key=min) == sorted(want.values(), key=min)
    # region ids are the min tile id of each component
    for rid, members in got.items():
        ids = [(8 << 52) + (x << 26) + y for x, y in members]
        assert rid == min(ids)
    # threshold filters: density 7 < 100 → empty result, loop terminates
    assert vectorize.tile_regions(df, min_density=100).count() == 0


def test_within_distance_matches_bruteforce(spark):
    """Certified range join == numpy brute force, across radii that force
    different auto-selected resolutions."""
    from insights_spark.geo import knn as knn_mod

    rng = np.random.default_rng(7)
    lons = rng.uniform(-170, 170, 300)
    lats = rng.uniform(-80, 80, 300)
    df = spark.createDataFrame(
        [(i, float(lons[i]), float(lats[i])) for i in range(300)],
        "id long, lon double, lat double",
    )
    for radius in (1.0, 3.0):
        got = {(r["a"], r["b"]) for r in
               knn_mod.within_distance(df, radius).collect()}
        d2 = (lons[:, None] - lons[None, :]) ** 2 + (lats[:, None] - lats[None, :]) ** 2
        want = {(a, b) for a in range(300) for b in range(a + 1, 300)
                if d2[a, b] <= radius * radius}
        assert got == want, f"radius {radius}"
    # auto-res picks the finest covering resolution
    assert knn_mod.cert_radius_deg(1, 1) >= 3.0 > knn_mod.cert_radius_deg(2, 1)
    with pytest.raises(ValueError):
        knn_mod.within_distance(df, 1.0, res=8)     # cert radius too small
    with pytest.raises(ValueError):
        knn_mod.within_distance(df, 1e6, rings=1)   # impossible radius


def test_ripley_k_matches_bruteforce(spark):
    """Pair-count curve == numpy brute force; one join at max radius feeds
    every band; no-pairs case yields zero counts, not an empty frame."""
    from insights_spark.geo import knn as knn_mod

    rng = np.random.default_rng(11)
    lons = rng.uniform(-170, 170, 250)
    lats = rng.uniform(-80, 80, 250)
    df = spark.createDataFrame(
        [(i, float(lons[i]), float(lats[i])) for i in range(250)],
        "id long, lon double, lat double",
    )
    radii = [0.5, 1.5, 3.0]
    got = {r["r_milli"]: (r["n_points"], r["pairs"])
           for r in knn_mod.ripley_k(df, radii).collect()}
    d2 = (lons[:, None] - lons[None, :]) ** 2 + (lats[:, None] - lats[None, :]) ** 2
    for r in radii:
        want = sum(1 for a in range(250) for b in range(a + 1, 250)
                   if d2[a, b] <= r * r)
        assert got[int(round(r * 1000))] == (250, want), f"radius {r}"
    assert got[1500][1] >= got[500][1]  # cumulative bands
    # two points further apart than every radius → three rows of zeros
    tiny = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 50.0, 50.0)], "id long, lon double, lat double")
    zero = {r["r_milli"]: r["pairs"]
            for r in knn_mod.ripley_k(tiny, [1.0, 2.0]).collect()}
    assert zero == {1000: 0, 2000: 0}
    with pytest.raises(ValueError):
        knn_mod.ripley_k(df, [])
    with pytest.raises(ValueError):
        knn_mod.ripley_k(df, [3.0], res=8)  # cert radius too small


def test_hex_cover_bbox(spark):
    """Polyfill == python enumeration of centers-in-box; every cover
    cell's center bins back to itself (exact inverse of hex_cell_id)."""
    box = (60.0005, -10.0005, 100.0005, 30.0005)
    df = spark.createDataFrame([("A", *box)],
                               "name string, lon0 double, lat0 double, lon1 double, lat1 double")
    res = 2
    got = {r["cell"] for r in cells.hex_cover_bbox(df, res).collect()}
    s = cells.hex_edge_deg(res)
    h, w = 1.5 * s, cells._SQRT3 * s
    want = set()
    for r_ in range(math.ceil(box[1] / h), math.floor(box[3] / h) + 1):
        for q_ in range(math.ceil(box[0] / w - r_ / 2.0),
                        math.floor(box[2] / w - r_ / 2.0) + 1):
            want.add(cells.hex_encode(res, q_, r_))
    assert got == want and len(got) > 100
    for c in list(got)[:50]:
        lon, lat = cells.hex_center(c)
        assert box[0] <= lon <= box[2] and box[1] <= lat <= box[3]
        rebinned = cells.hex_cell_id(np.array([lon]), np.array([lat]), res,
                                     use_h3=False)[0]
        assert int(rebinned) == c
    # degenerate box → empty cover, no error
    empty = spark.createDataFrame([("E", 10.0, 20.0, 10.5, 19.0)],
                                  "name string, lon0 double, lat0 double, lon1 double, lat1 double")
    assert cells.hex_cover_bbox(empty, res).count() == 0


def test_pip_via_cells_matches_rtree(spark):
    """The cell-equi-join PIP strategy == the broadcast R-tree kernel on
    random points over overlapping prioritized boxes (incl. edge-sitting
    points exercising the closed-box boundary cells)."""
    boxes = [
        ("Aztlan", True, 60.0005, -10.0005, 100.0005, 30.0005),
        ("Westland", True, -150.0005, -60.0005, -30.0005, 20.0005),
        ("Eastland", False, 0.0005, -20.0005, 90.0005, 60.0005),
        ("Northia", False, -29.9995, 30.0005, -0.0005, 79.9995),
    ]
    rows = [
        {"name_en": n, "admin_level": 2, "tags": {}, "priority": p,
         "polygons": [[[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]]}
        for n, p, x0, y0, x1, y1 in boxes
    ]
    rng = np.random.default_rng(13)
    pts = [(i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 2000), rng.uniform(-85, 85, 2000)))]
    pts += [(9001, 60.0005, -10.0005), (9002, 100.0005, 30.0005),
            (9003, 0.0005, 60.0005), (9004, -29.9995, 79.9995)]  # corners
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    want = {r["id"]: r["country"] for r in pip.assign_country(df, rows).collect()}
    got = {r["id"]: r["country"] for r in
           pip.assign_country_cells(df, boxes, "id").collect()}
    assert got == want
    assert sum(v is not None for v in got.values()) > 200
    assert got[9001] == "Aztlan" and got[9003] == "Eastland"


def test_tile_regions_multi_z_isolation(spark):
    """A pyramid-style input with the same (x, y) at two zoom levels must
    NOT merge across z — adjacency is per-level."""
    from insights_spark.geo import vectorize

    rows = [(4, 5, 5, 3), (4, 5, 6, 3), (5, 5, 5, 3), (5, 6, 5, 3)]
    df = spark.createDataFrame(rows, "z int, x int, y int, density long")
    got = {}
    for r in vectorize.tile_regions(df, min_density=1).collect():
        got.setdefault(r["region_id"], set()).add((r["z"], r["x"], r["y"]))
    comps = sorted(got.values(), key=lambda s: sorted(s))
    assert comps == [{(4, 5, 5), (4, 5, 6)}, {(5, 5, 5), (5, 6, 5)}]


def test_tile_regions_nonconvergence_raises(spark):
    """A sweep cap too small for the component diameter must raise, not
    return silently partial region ids (ADVICE r2); a cap below one sweep
    is rejected up front."""
    import pytest

    from insights_spark.geo import vectorize

    ids = list(range(1, 9))
    snake_edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "id long, nbr_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        vectorize.star_cc_labels(snake_edges, max_sweeps=1, collect_cap=0)
    snake = spark.createDataFrame(
        [(8, 20, y, 7) for y in range(5, 13)], "z int, x int, y int, density long"
    )
    with pytest.raises(ValueError):
        vectorize.tile_regions(snake, min_density=1, max_sweeps=0)


@pytest.mark.extras
def test_real_h3_parity_gate():
    """When the optional h3 package is importable, the use_h3=True branch
    must uphold the same structural invariants as the axial path: valid
    resolution, deterministic encode, co-located points share a cell,
    distant points don't, and ring sizes match the hexagonal 1+3k(k+1)
    law the axial hex_ring_ids generator produces. (Skipped in sandboxes
    without h3 — the import-gated branch must not bit-rot unchecked.)"""
    import numpy as np
    import pytest

    h3 = pytest.importorskip("h3")
    from insights_spark.geo import cells

    lon = np.array([13.4050, 13.4051, -74.0060, 151.2093])
    lat = np.array([52.5200, 52.5201, 40.7128, -33.8688])
    for res in (2, 8):
        got = cells.hex_cell_id(lon, lat, res, use_h3=True)
        again = cells.hex_cell_id(lon, lat, res, use_h3=True)
        assert (got == again).all()
        for c in got.view(np.uint64):
            assert h3.get_resolution(h3.int_to_str(int(c))) == res
        ax = cells.hex_cell_id(lon, lat, res, use_h3=False)
        # co-located Berlin pair binned together by BOTH paths at res 2;
        # the three far-apart cities all distinct in both
        if res == 2:
            assert got[0] == got[1] and ax[0] == ax[1]
        assert len({int(c) for c in got[1:]}) == 3
        assert len({int(c) for c in ax[1:]}) == 3
    # ring-size law: axial k-ring == canonical hex disk size == H3 grid_disk
    h3_cell = h3.latlng_to_cell(52.52, 13.405, 8)
    ax_cell = int(cells.hex_cell_id(np.array([13.405]), np.array([52.52]), 8,
                                    use_h3=False)[0])
    for k in (1, 2, 3):
        assert len(cells.hex_ring_ids(ax_cell, k)) == 1 + 3 * k * (k + 1)
        assert len(h3.grid_disk(h3_cell, k)) == 1 + 3 * k * (k + 1)


def test_star_cc_sweep_count_on_snake(spark):
    """The point of star contraction: a diameter-64 snake must converge in
    FAR fewer than 64 rounds (O(log² n) guarantee — observed ≤ 8)."""
    from insights_spark.geo import vectorize

    ids = list(range(1, 65))
    edges = spark.createDataFrame(
        [(a, b) for a, b in zip(ids, ids[1:])] + [(b, a) for a, b in zip(ids, ids[1:])],
        "id long, nbr_id long",
    )
    # collect_cap=0 forces the DISTRIBUTED contraction (the default would
    # take the bounded driver union-find fast path on 63 edges)
    labels, sweeps = vectorize.star_cc_labels(edges, max_sweeps=12,
                                              collect_cap=0)
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == {i: 1 for i in ids}
    assert sweeps <= 8, sweeps

    # the union-find fast path must produce identical labels
    fast, fsweeps = vectorize.star_cc_labels(edges, max_sweeps=12)
    assert fsweeps == 0
    assert {r["id"]: r["label"] for r in fast.collect()} == got


def test_geohash_known_vectors_and_sql_parity(spark):
    """geohash_col matches canonical published geohashes, and the SQL
    replica (the oracle's arithmetic) agrees with the column path on a
    lon/lat sweep including boundary clamps."""
    import duckdb

    from insights_spark.geo import cells

    vecs = [(-5.6, 42.6, 5, "ezs42"), (13.361389, 38.115556, 7, "sqc8b49"),
            (-74.0060, 40.7128, 6, "dr5reg"), (0.0, 0.0, 5, "s0000")]
    df = spark.createDataFrame(
        [(lon, lat, p) for lon, lat, p, _ in vecs], "lon double, lat double, p int"
    )
    for lon, lat, p, want in vecs:
        got = (
            df.filter((F.col("lon") == lon) & (F.col("lat") == lat))
            .select(cells.geohash_col(F.col("lon"), F.col("lat"), p).alias("g"))
            .first()["g"]
        )
        assert got == want, (lon, lat, got, want)

    sweep = [(x * 17.3 - 180.0, y * 8.9 - 90.0) for x in range(21) for y in range(21)]
    sdf = spark.createDataFrame(sweep, "lon double, lat double")
    spark_gh = [r["g"] for r in sdf.select(
        cells.geohash_col(F.col("lon"), F.col("lat"), 6).alias("g")).collect()]
    con = duckdb.connect()
    duck_gh = [con.execute(
        f"SELECT {cells.geohash_sql(repr(lon), repr(lat), 6)}").fetchone()[0]
        for lon, lat in sweep]
    assert spark_gh == duck_gh


def test_hex_focal_smooth_brute_force(spark):
    """Ring-1 focal sums match a python brute force over random occupied
    cells, including cluster interiors (7 occupied neighbors), edges, and
    isolated cells (ring_cells == 1, is_hot trivially true)."""
    import random

    from insights_spark.geo.cells import hex_encode, hex_ring_ids
    from insights_spark.geo.smooth import hex_focal_smooth

    rng = random.Random(41)
    occupied = {}
    # a dense blob + scattered singletons so every ring_cells regime occurs
    for dq in range(-2, 3):
        for dr in range(-2, 3):
            occupied[hex_encode(6, dq, dr)] = rng.randint(1, 50)
    for _ in range(40):
        occupied[hex_encode(6, rng.randint(-40, 40), rng.randint(-40, 40))] = (
            rng.randint(1, 50)
        )
    df = spark.createDataFrame(
        [(c, n) for c, n in occupied.items()], "cell long, n long"
    )
    got = {
        r["cell"]: r
        for r in hex_focal_smooth(df, cell_col="cell", cnt_col="n").collect()
    }
    assert set(got) == set(occupied)
    for c, n in occupied.items():
        ring = [x for x in hex_ring_ids(c, 1) if x in occupied]
        want_sum = sum(occupied[x] for x in ring)
        r = got[c]
        assert r["n"] == n
        assert r["ring_sum"] == want_sum, c
        assert r["ring_cells"] == len(ring)
        assert r["smoothed"] == want_sum / 7.0
        assert r["is_hot"] == (n * (len(ring) - 1) >= 2 * (want_sum - n))
    iso = [r for r in got.values() if r["ring_cells"] == 1]
    dense = [r for r in got.values() if r["ring_cells"] == 7]
    assert iso and dense  # both regimes actually exercised
    assert all(r["is_hot"] for r in iso)


def test_nn_distance_hist_bruteforce(spark):
    """Digit-banded NN histogram == numpy brute force (exact integer
    recompute of the certified search's choice); duplicate points give a
    d2=0 → band 1 row; a two-point set yields one mutual band."""
    from insights_spark.geo.knn import nn_distance_hist

    rng = np.random.default_rng(17)
    xm = rng.integers(-170000, 170000, 200)
    ym = rng.integers(-80000, 80000, 200)
    xm[7], ym[7] = xm[3], ym[3]          # planted duplicate pair
    df = spark.createDataFrame(
        [(i, int(xm[i]) / 1000.0, int(ym[i]) / 1000.0) for i in range(200)],
        "id long, lon double, lat double",
    )
    got = {r["band"]: (r["n_points"], r["min_d2"], r["max_d2"])
           for r in nn_distance_hist(df, res=2).collect()}
    d2 = (xm[:, None] - xm[None, :]) ** 2 + (ym[:, None] - ym[None, :]) ** 2
    np.fill_diagonal(d2, np.iinfo(np.int64).max)
    nn = d2.min(axis=1)
    want = {}
    for v in nn:
        b = len(str(int(v)))
        n, mn, mx = want.get(b, (0, None, None))
        want[b] = (n + 1, v if mn is None else min(mn, v),
                   v if mx is None else max(mx, v))
    assert got == want
    assert got[1] == (2, 0, 0)           # the duplicate pair
    two = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.003, 0.004)], "id long, lon double, lat double")
    assert {r["band"]: (r["n_points"], r["min_d2"], r["max_d2"])
            for r in nn_distance_hist(two, res=2).collect()} == {2: (2, 25, 25)}


def test_move_rose_sectors(spark):
    """Every octant, every 45° boundary ray, and the still bucket pinned
    by hand: boundary rays belong to the half-open sector ABOVE them
    (⌊θ/45°⌋), zero-length moves land in sector −1."""
    from datetime import datetime

    from insights_spark.geo.track import move_rose

    # one user walks a star: each move is (dx, dy) in millidegrees
    moves = [
        ((3, 1), 0), ((1, 1), 1), ((1, 3), 1), ((0, 1), 2), ((-1, 3), 2),
        ((-1, 1), 3), ((-1, 0), 4), ((-3, -1), 4), ((-1, -1), 5),
        ((0, -1), 6), ((1, -3), 6), ((1, -1), 7), ((1, 0), 0), ((0, 0), -1),
    ]
    rows, x, y = [], 0, 0
    rows.append((1, datetime(2024, 1, 1, 0, 0, 0), 0, 0.0, 0.0))
    for i, ((dx, dy), _) in enumerate(moves):
        x += dx
        y += dy
        rows.append((1, datetime(2024, 1, 1, 0, 0, i + 1), i + 1,
                     x / 1000.0, y / 1000.0))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, id long, lon double, lat double")
    got = {r["sector"]: (r["n_moves"], r["sum_d2"])
           for r in move_rose(df).collect()}
    want = {}
    for (dx, dy), sec in moves:
        n, s2 = want.get(sec, (0, 0))
        want[sec] = (n + 1, s2 + dx * dx + dy * dy)
    assert got == want
    assert set(got) == {-1, 0, 1, 2, 3, 4, 5, 6, 7}


def test_directional_hull_semantics(spark):
    """Every emitted point is a true hull vertex of its group; every
    brute-force hull vertex extreme along one of the 8 sampled directions
    is emitted; ties break to the smallest id; singleton groups emit the
    same point for all 8 directions."""
    from insights_spark.geo.track import HULL_DIRS, directional_hull

    rng = np.random.default_rng(13)
    rows = []
    for u in (1, 2):
        for i in range(40):
            rows.append((u, u * 100 + i,
                         float(rng.integers(-170000, 170000)) / 1000.0,
                         float(rng.integers(-80000, 80000)) / 1000.0))
    rows.append((3, 300, 5.0, 5.0))                   # singleton group
    rows.append((4, 400, 1.0, 1.0))                   # exact tie on a dup
    rows.append((4, 401, 1.0, 1.0))
    df = spark.createDataFrame(rows, "user_id long, id long, lon double, lat double")
    got = {(r["user_id"], r["dir_idx"]): r["id"]
           for r in directional_hull(df).collect()}
    pts = {}
    for u, i, lo, la in rows:
        pts.setdefault(u, []).append((i, round(lo * 1000), round(la * 1000)))
    for u, members in pts.items():
        for d, (dx, dy) in enumerate(HULL_DIRS):
            best = max(members, key=lambda m: (dx * m[1] + dy * m[2], -m[0]))
            assert got[(u, d)] == best[0], (u, d)
    assert len(got) == 4 * 8
    assert all(got[(3, d)] == 300 for d in range(8))
    assert all(got[(4, d)] == 400 for d in range(8))  # tie -> min id


def test_simplify_tracks_semantics(spark):
    """Depth-capped DP pinned on hand cases: collinear tracks keep only
    endpoints (strict >), the classic bump keeps its apex, a degenerate
    closed loop falls back to point distance, the depth cap binds on a
    zigzag, short tracks pass through, and input row order is irrelevant
    (the (ts, id) sort is the track order)."""
    from datetime import datetime

    from insights_spark.geo.track import simplify_tracks

    def mk(rows):  # rows: (user, second, id, lon_milli, lat_milli)
        return spark.createDataFrame(
            [(u, datetime(2024, 1, 1, 0, 0, s), i, xm / 1000.0, ym / 1000.0)
             for (u, s, i, xm, ym) in rows],
            "user_id long, ts timestamp, id long, lon double, lat double",
        )

    def got(df, eps, depth=4):
        return {
            (r["user_id"], r["idx"]) for r in
            simplify_tracks(df, eps_milli=eps, max_depth=depth).collect()
        }

    # collinear: interior deviation is exactly 0, strict > drops it all
    coll = mk([(1, s, s, 1000 * s, 2000 * s) for s in range(5)])
    assert got(coll, eps=0) == {(1, 0), (1, 4)}
    # classic bump: apex (idx 2) survives, flat shoulders don't
    bump = mk([(1, 0, 0, 0, 0), (1, 1, 1, 2000, 10), (1, 2, 2, 4000, 3000),
               (1, 3, 3, 6000, -10), (1, 4, 4, 8000, 0)])
    assert got(bump, eps=500, depth=1) == {(1, 0), (1, 2), (1, 4)}
    # closed loop (A == B): chord degenerates to point distance from A
    loop = mk([(1, 0, 0, 0, 0), (1, 1, 1, 5000, 0), (1, 2, 2, 0, 0)])
    assert got(loop, eps=4999) == {(1, 0), (1, 1), (1, 2)}
    assert got(loop, eps=5000) == {(1, 0), (1, 2)}       # strict >
    # depth cap: zigzag needs two levels to keep both teeth
    zig = mk([(1, 0, 0, 0, 0), (1, 1, 1, 1000, 8000), (1, 2, 2, 2000, 0),
              (1, 3, 3, 3000, -8000), (1, 4, 4, 4000, 0)])
    d1 = got(zig, eps=500, depth=1)
    d2 = got(zig, eps=500, depth=2)
    # level 1 keeps tooth idx1 (tie 8|8 -> smallest idx); level 2 adds
    # tooth idx3; idx2 is collinear with the teeth and never survives
    assert d1 == {(1, 0), (1, 1), (1, 4)}
    assert d2 == {(1, 0), (1, 1), (1, 3), (1, 4)}
    # 1- and 2-point tracks pass through; row order never matters
    short = mk([(7, 0, 0, 0, 0), (8, 0, 0, 0, 0), (8, 1, 1, 9000, 9000)])
    assert got(short, eps=1) == {(7, 0), (8, 0), (8, 1)}
    shuffled = mk([(1, 3, 3, 6000, -10), (1, 0, 0, 0, 0), (1, 4, 4, 8000, 0),
                   (1, 2, 2, 4000, 3000), (1, 1, 1, 2000, 10)])
    assert got(shuffled, eps=500, depth=1) == {(1, 0), (1, 2), (1, 4)}
    with pytest.raises(ValueError):
        simplify_tracks(coll, eps_milli=1, max_depth=0)
    with pytest.raises(ValueError):
        simplify_tracks(coll, eps_milli=-1)


def test_region_shape_brute_force(spark):
    """Region shape metrics match a python union-find brute force, plus
    hand-pinned shapes: isolated cell (A=1, P=6), domino (A=2, P=10), and
    a 7-cell flower (A=7, P=18 — the center contributes zero boundary)."""
    import random

    from insights_spark.geo.cells import hex_encode, hex_ring_ids
    from insights_spark.geo.cluster import region_shape

    rng = random.Random(47)
    counts = {hex_encode(6, 100, 100): 3}                      # isolated
    for q, r in [(200, 200), (201, 200)]:                      # domino
        counts[hex_encode(6, q, r)] = 2
    for off_q, off_r in [(0, 0), (1, 0), (-1, 0), (0, 1),     # flower
                         (0, -1), (1, -1), (-1, 1)]:
        counts[hex_encode(6, 300 + off_q, 300 + off_r)] = 1
    for _ in range(80):                                        # background
        counts.setdefault(
            hex_encode(6, rng.randint(-15, 15), rng.randint(-15, 15)),
            rng.randint(1, 9),
        )

    parent = {c: c for c in counts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    deg = {}
    for c in counts:
        nbs = [nb for nb in hex_ring_ids(c, 1) if nb != c and nb in counts]
        deg[c] = len(nbs)
        for nb in nbs:
            ra, rb = find(c), find(nb)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for c, n in counts.items():
        root = min(x for x in counts if find(x) == find(c))
        a, p, t = want.get(root, (0, 0, 0))
        want[root] = (a + 1, p + 6 - deg[c], t + n)

    df = spark.createDataFrame(
        [(c, n) for c, n in counts.items()], "cell long, n long"
    )
    got = {
        r["region_id"]: (r["area_cells"], r["perimeter_edges"], r["total_n"])
        for r in region_shape(df).collect()
    }
    assert got == want
    assert got[hex_encode(6, 100, 100)] == (1, 6, 3)
    assert got[hex_encode(6, 200, 200)] == (2, 10, 4)
    assert got[min(hex_encode(6, 300 + dq, 300 + dr)
                   for dq, dr in [(0, 0), (1, 0), (-1, 0), (0, 1),
                                  (0, -1), (1, -1), (-1, 1)])] == (7, 18, 7)
    # empty input → empty frame, not a crash
    empty = spark.createDataFrame([], "cell long, n long")
    assert region_shape(empty).count() == 0


def test_cell_dbscan_brute_force(spark):
    """Grid DBSCAN matches a python union-find brute force on a fixture
    exercising every regime: a multi-cell core blob, two blobs joined by
    a core bridge, an isolated core (singleton cluster), border cells —
    including one adjacent to TWO clusters (min-cluster tie rule) — and
    pure noise (absent from the output)."""
    import random

    from insights_spark.geo.cells import hex_encode, hex_ring_ids
    from insights_spark.geo.cluster import cell_dbscan

    rng = random.Random(43)
    minpts = 5
    counts = {}
    # blob A: 3 adjacent cores; blob B: 2 cores, 4 cells away; a border
    # cell adjacent to both when bridged
    for q, r in [(0, 0), (1, 0), (0, 1)]:
        counts[hex_encode(6, q, r)] = 5 + rng.randint(0, 9)
    for q, r in [(3, 0), (4, 0)]:
        counts[hex_encode(6, q, r)] = 5 + rng.randint(0, 9)
    counts[hex_encode(6, 2, 0)] = 2          # border touching A and B
    counts[hex_encode(6, 20, 20)] = 99       # isolated core
    counts[hex_encode(6, -20, 5)] = 1        # pure noise
    for _ in range(60):                      # random background
        counts.setdefault(
            hex_encode(6, rng.randint(-15, 15), rng.randint(-15, 15)),
            rng.randint(1, 12),
        )

    # brute force: union-find over core adjacency, then border attach
    core = {c for c, n in counts.items() if n >= minpts}
    parent = {c: c for c in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for c in core:
        for nb in hex_ring_ids(c, 1):
            if nb != c and nb in core:
                ra, rb = find(c), find(nb)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    label = {c: min(x for x in core if find(x) == find(c)) for c in core}
    want = {c: (counts[c], "core", label[c]) for c in core}
    for c, n in counts.items():
        if c in core:
            continue
        nb_labels = [label[x] for x in hex_ring_ids(c, 1) if x != c and x in core]
        if nb_labels:
            want[c] = (n, "border", min(nb_labels))

    df = spark.createDataFrame(
        [(c, n) for c, n in counts.items()], "cell long, n long"
    )
    got = {
        r["cell"]: (r["n"], r["role"], r["cluster_id"])
        for r in cell_dbscan(df, minpts=minpts).collect()
    }
    assert got == want
    # every regime actually present in the fixture
    roles = [v[1] for v in got.values()]
    assert roles.count("core") >= 6 and roles.count("border") >= 1
    assert len(counts) > len(got)  # noise dropped
    assert len({v[2] for v in got.values() if v[1] == "core"}) >= 3


def test_st_within_brute_force(spark):
    """Space-time pairs match a python brute force on random points with
    random times — including pairs that straddle chunk boundaries (tau
    chosen so boundary-crossing pairs exist) — and the coverage guard
    raises when the radius exceeds the ring certificate."""
    import itertools
    import random
    from datetime import datetime, timedelta

    import pytest as _pytest

    from insights_spark.geo.stjoin import st_within

    rng = random.Random(47)
    t0 = datetime(2024, 1, 1)
    rows = [
        (i,
         rng.uniform(-30.0, 30.0),
         rng.uniform(-20.0, 20.0),
         t0 + timedelta(seconds=rng.randint(0, 200000)))
        for i in range(250)
    ]
    radius, tau = 4.0, 40000
    want = set()
    for (i, xi, yi, ti), (j, xj, yj, tj) in itertools.combinations(rows, 2):
        a, b = min(i, j), max(i, j)
        d2 = (xi - xj) ** 2 + (yi - yj) ** 2
        dt = abs(int(ti.timestamp()) - int(tj.timestamp()))
        if d2 <= radius * radius and dt <= tau:
            want.add((a, b))
    assert len(want) > 50  # non-trivial fixture
    # chunk-straddling pairs present: some pair crosses a tau boundary
    assert any(
        int(rows[a][3].timestamp()) // tau != int(rows[b][3].timestamp()) // tau
        for a, b in want
    )
    df = spark.createDataFrame(
        rows, "id long, lon double, lat double, ts timestamp"
    )
    got = {(r["a"], r["b"])
           for r in st_within(df, radius, tau, rings=2).collect()}
    assert got == want
    with _pytest.raises(ValueError):
        st_within(df, radius_deg=50.0, tau_seconds=tau, rings=1, res=5)


def test_user_tracks_hand_computed(spark):
    """Track summaries pinned by hand: a 3-4-5 triangle walk, a
    single-point track, and a timestamp tie broken by id."""
    import math
    from datetime import datetime

    from insights_spark.geo.track import user_tracks

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: (0,0) -> (3,0) -> (3,4): legs 3 and 4, net = 5
        (10, 1, t(0), 0.0, 0.0),
        (11, 1, t(10), 3.0, 0.0),
        (12, 1, t(20), 3.0, 4.0),
        # user 2: single point
        (20, 2, t(5), 7.0, 7.0),
        # user 3: tie at t(0) -> id order decides; legs 1 then 1
        (32, 3, t(0), 1.0, 0.0),   # second by id
        (31, 3, t(0), 0.0, 0.0),   # first by id
        (33, 3, t(9), 2.0, 0.0),
    ]
    got = {
        r["user_id"]: r
        for r in user_tracks(
            spark.createDataFrame(
                rows, "id long, user_id long, ts timestamp, lon double, lat double"
            )
        ).collect()
    }
    u1 = got[1]
    assert (u1["n_points"], u1["duration_s"]) == (3, 20)
    assert u1["path_len_deg"] == 3.0 + 4.0
    assert u1["net_disp_deg"] == math.sqrt(9.0 + 16.0)
    assert u1["max_leg_deg"] == 4.0
    u2 = got[2]
    assert (u2["n_points"], u2["duration_s"], u2["path_len_deg"],
            u2["net_disp_deg"], u2["max_leg_deg"]) == (1, 0, 0.0, 0.0, None)
    u3 = got[3]
    assert (u3["n_points"], u3["path_len_deg"], u3["net_disp_deg"]) == (3, 2.0, 2.0)


def test_home_cells_argmax_and_ties(spark):
    """Most-visited cell wins; an exact visit tie goes to the SMALLER
    cell id; totals count every visit and distinct cell."""
    from insights_spark.geo import cells
    from insights_spark.geo.track import home_cells
    from pyspark.sql import functions as F

    A = (10.0, 10.0)   # far apart -> guaranteed distinct res-1 cells
    B = (-120.0, -40.0)
    rows = (
        [(1, *A)] * 3 + [(1, *B)]           # user 1: A wins 3-1
        + [(2, *A)] * 2 + [(2, *B)] * 2     # user 2: tie -> min cell id
    )
    df = spark.createDataFrame(rows, "user_id long, lon double, lat double")
    cell_of = {
        (r["lon"], r["lat"]): r["c"]
        for r in df.select(
            "lon", "lat",
            cells.hex_udf(1, use_h3=False)(F.col("lon"), F.col("lat")).alias("c"),
        ).distinct().collect()
    }
    ca, cb = cell_of[A], cell_of[B]
    assert ca != cb
    got = {r["user_id"]: r for r in home_cells(df, res=1).collect()}
    u1 = got[1]
    assert (u1["home_cell"], u1["visits"], u1["visits_total"], u1["n_cells"]) \
        == (ca, 3, 4, 2)
    u2 = got[2]
    assert (u2["home_cell"], u2["visits"]) == (min(ca, cb), 2)


def test_tile_pyramid_merge_equals_full(spark):
    """Merge theorem: pyramid(stored pts) ⊕ delta == pyramid(all), for a
    random 80/20 split — exact integer equality per (z, x, y)."""
    import numpy as np

    from insights_spark.geo import tiles

    rng = np.random.default_rng(13)
    pts = [(int(i), float(a), float(b)) for i, (a, b) in enumerate(
        zip(rng.uniform(-170, 170, 500), rng.uniform(-80, 80, 500)))]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    old = df.filter("id % 5 != 0")
    delta = df.filter("id % 5 = 0")
    full = {(r["z"], r["x"], r["y"]): r["density"]
            for r in tiles.tile_pyramid(df, [6, 4]).collect()}
    merged = {(r["z"], r["x"], r["y"]): r["density"]
              for r in tiles.tile_pyramid_merge(
                  tiles.tile_pyramid(old, [6, 4]), delta, [6, 4]).collect()}
    assert merged == full


def test_decayed_cell_scores_hand_buckets(spark):
    """Bucket math and dyadic exactness pinned by hand: fresh events weigh
    1.0, one-halflife-old weigh 0.5, ancient clamp to 2^-max, future
    clamp to bucket 0 — and the score equals the exact fraction."""
    from datetime import datetime, timezone

    from insights_spark.geo.smooth import decayed_cell_scores

    now = 1_700_000_000
    hl = 1000

    def at(off_s):
        return datetime.fromtimestamp(now - off_s, tz=timezone.utc).replace(
            tzinfo=None
        )

    # all points at one location -> one cell
    rows = [
        (at(0), 1.0, 1.0),       # bucket 0 -> 1.0
        (at(999), 1.0, 1.0),     # still bucket 0
        (at(1000), 1.0, 1.0),    # bucket 1 -> 0.5
        (at(2500), 1.0, 1.0),    # bucket 2 -> 0.25
        (at(10**9), 1.0, 1.0),   # ancient -> clamp bucket 3 (max)
        (at(-50), 1.0, 1.0),     # future -> clamp bucket 0
    ]
    df = spark.createDataFrame(rows, "ts timestamp, lon double, lat double")
    out = decayed_cell_scores(
        df, res=1, halflife_s=hl, now_epoch_s=now, max_buckets=3
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 6
    assert r["score"] == 1.0 + 1.0 + 0.5 + 0.25 + 0.125 + 1.0


def test_frontier_cells_brute_force(spark):
    """Frontier = occupied cells with >=1 empty axial neighbor, counted
    exactly; a fully-enclosed interior cell is absent."""
    import random

    from insights_spark.geo.cells import hex_encode, hex_ring_ids
    from insights_spark.geo.smooth import frontier_cells

    rng = random.Random(53)
    counts = {}
    # 3x3 blob -> its center has all 6 neighbors occupied (interior)
    for dq in range(-1, 2):
        for dr in range(-1, 2):
            counts[hex_encode(6, dq, dr)] = rng.randint(1, 9)
    for _ in range(25):
        counts.setdefault(
            hex_encode(6, rng.randint(-12, 12), rng.randint(-12, 12)),
            rng.randint(1, 9),
        )
    want = {}
    for c, n in counts.items():
        empties = sum(
            1 for nb in hex_ring_ids(c, 1) if nb != c and nb not in counts
        )
        if empties:
            want[c] = (n, empties)
    df = spark.createDataFrame(
        [(c, n) for c, n in counts.items()], "cell long, n long"
    )
    got = {r["cell"]: (r["n"], r["empty_neighbors"])
           for r in frontier_cells(df).collect()}
    assert got == want
    assert hex_encode(6, 0, 0) not in got       # interior cell excluded
    assert len(got) < len(counts)


def test_round4_geo_ops_survive_garbage_inputs(spark):
    """Malformed-input probe for the round-4 geo operators: NULL
    coordinates, NULL timestamps, empty tables — well-formed results,
    never a crash."""
    from datetime import datetime

    from insights_spark.geo.cluster import cell_dbscan
    from insights_spark.geo.smooth import (
        decayed_cell_scores,
        frontier_cells,
        hex_focal_smooth,
    )
    from insights_spark.geo.stjoin import st_within
    from insights_spark.geo.track import home_cells, user_tracks

    empty_cells = spark.createDataFrame([], "cell long, n long")
    assert hex_focal_smooth(empty_cells).count() == 0
    assert frontier_cells(empty_cells).count() == 0
    assert cell_dbscan(empty_cells, minpts=3).count() == 0

    pts = spark.createDataFrame(
        [(1, 1, None, None, datetime(2024, 1, 1)),
         (2, 1, 5.0, 5.0, None),
         (3, 2, 5.0, 5.0, datetime(2024, 1, 1))],
        "id long, user_id long, lon double, lat double, ts timestamp",
    )
    # NULL lon/lat or ts degrade per-row (NULL cell / NULL leg), no crash
    assert user_tracks(pts).count() == 2
    assert home_cells(pts).count() == 2
    assert st_within(pts, 1.0, 100, rings=1).count() == 0
    assert decayed_cell_scores(
        pts, res=1, halflife_s=100, now_epoch_s=1704067200
    ).count() >= 1


def test_knn_join_two_table_exact(spark):
    """Two-table kNN == python brute force on random tables, including a
    far-away sparse query (certification fallback path) and an id shared
    across both tables (must NOT self-exclude: the co-located candidate
    with the query's own id is its rank-1 neighbor)."""
    import numpy as np

    from insights_spark.geo.knn import knn_join

    rng = np.random.default_rng(17)
    qs = [(int(i), float(10 + rng.uniform(0, 3)), float(rng.uniform(0, 3)))
          for i in range(40)]
    qs.append((99, -150.0, -60.0))            # isolated -> fallback
    qs.append((777, 20.0, 20.0))              # id 777 also in cands
    cs = [(int(i), float(10 + rng.uniform(0, 3)), float(rng.uniform(0, 3)))
          for i in range(120)]
    cs.append((777, 20.0, 20.0))              # same id, same spot
    qdf = spark.createDataFrame(qs, "id long, lon double, lat double")
    cdf = spark.createDataFrame(cs, "id long, lon double, lat double")

    want = {}
    for qi, qx, qy in qs:
        ds = sorted(
            ((qx - cx) ** 2 + (qy - cy) ** 2, ci) for ci, cx, cy in cs
        )
        want.update({(qi, r + 1): ci for r, (_, ci) in enumerate(ds[:3])})
    got = {(r["id"], r["rank"]): r["neighbor_id"]
           for r in knn_join(qdf, cdf, k=3, rings=2).collect()}
    assert got == want
    assert got[(777, 1)] == 777               # shared id kept at dist 0
    assert (99, 3) in got                     # fallback produced full top-k


def test_zonal_tile_stats_hand_computed(spark):
    """Zonal stats pinned by hand: two zones with known tile layouts, a
    NULL zone dropped, exact mean as one integer division."""
    from insights_spark.geo.tiles import zonal_tile_stats

    # z=1: tiles are 180°×~worldhalf quadrants — pick coords with known
    # tiles: lon<0 -> x=0, lon>0 -> x=1; lat>0 -> y=0, lat<0 -> y=1
    rows = [
        ("A", -90.0, 40.0), ("A", -91.0, 41.0), ("A", -92.0, 42.0),  # tile(0,0)×3
        ("A", 90.0, -40.0),                                          # tile(1,1)×1
        ("B", 90.0, 40.0),                                           # tile(1,0)×1
        (None, 0.0, 0.0),
        ("C", None, 1.0),
    ]
    df = spark.createDataFrame(rows, "zone string, lon double, lat double")
    got = {r["zone"]: (r["n_tiles"], r["n_points"], r["max_density"],
                       r["mean_density"])
           for r in zonal_tile_stats(df, z=1).collect()}
    assert got == {"A": (2, 4, 3, 2.0), "B": (1, 1, 1, 1.0)}


def test_tile_diff_hand_computed(spark):
    """Change detection pinned by hand at z=1 quadrants: grown, shrunk,
    appeared, disappeared, and unchanged (dropped) tiles."""
    from insights_spark.geo.tiles import tile_diff

    # quadrants: (x,y) = (lon<0 ? 0 : 1, lat>0 ? 0 : 1)
    old = [(-10.0, 10.0)] * 3 + [(10.0, 10.0)] * 2 + [(-10.0, -10.0)]
    new = [(-10.0, 10.0)] * 1 + [(10.0, 10.0)] * 2 + [(10.0, -10.0)] * 4
    odf = spark.createDataFrame(old, "lon double, lat double")
    ndf = spark.createDataFrame(new, "lon double, lat double")
    got = {(r["x"], r["y"]): (r["n_old"], r["n_new"], r["delta"])
           for r in tile_diff(odf, ndf, z=1).collect()}
    assert got == {
        (0, 0): (3, 1, -2),   # shrunk
        (0, 1): (1, 0, -1),   # disappeared
        (1, 1): (0, 4, 4),    # appeared
    }                          # (1,0) unchanged 2==2 -> absent


def test_moran_i_hand_cases(spark):
    """Moran's I integer quadruple on hand lattices: a 2-cell hot/cold
    pair is perfectly anti-correlated (num = -den·w/n? no — exact values
    pinned by hand below); uniform counts have zero deviation."""
    from insights_spark.geo.smooth import moran_i_exact

    enc = 1 * (1 << 56)

    def cell(q, r):
        return enc + (q + (1 << 26)) * (1 << 28) + (r + (1 << 26))

    # two adjacent cells, counts 3 and 1: n_cells=2, S=4,
    # dev = (2*3-4, 2*1-4) = (2, -2); w_pairs=2 (directed both ways),
    # num = 2*(2*-2) = -8, den = 4+4 = 8  → I = (2/2)*(-8/8) = -1
    df = spark.createDataFrame(
        [(cell(0, 0), 3), (cell(1, 0), 1)], "cell long, n long")
    r = moran_i_exact(df).collect()[0]
    assert (r["n_cells"], r["w_pairs"]) == (2, 2)
    assert int(r["num"]) == -8 and int(r["den"]) == 8

    # uniform counts: all deviations zero → num = den = 0
    df2 = spark.createDataFrame(
        [(cell(0, 0), 5), (cell(1, 0), 5), (cell(0, 1), 5)],
        "cell long, n long")
    r2 = moran_i_exact(df2).collect()[0]
    assert int(r2["num"]) == 0 and int(r2["den"]) == 0
    assert r2["w_pairs"] == 6  # triangle: 3 undirected adjacencies × 2

    # isolated cells: no pairs → w_pairs 0, num 0 (coalesced), den > 0
    df3 = spark.createDataFrame(
        [(cell(0, 0), 1), (cell(10, 10), 9)], "cell long, n long")
    r3 = moran_i_exact(df3).collect()[0]
    assert r3["w_pairs"] == 0 and int(r3["num"]) == 0 and int(r3["den"]) > 0


def test_compact_tile_cover_hand_cases(spark):
    """4 siblings collapse to the parent; 3 siblings survive; a full
    4×4 block collapses two levels to the grandparent; every input tile
    is represented exactly once by itself or one ancestor."""
    full_block = [(2, x, y) for x in range(4) for y in range(4)]  # → (0,0,0)
    sibs3 = [(2, 4, 0), (2, 5, 0), (2, 4, 1)]                     # stay at z2
    lone4 = [(2, 6, 2), (2, 7, 2), (2, 6, 3), (2, 7, 3)]          # → (1,3,1)
    df = spark.createDataFrame(full_block + sibs3 + lone4, "z int, x long, y long")
    got = {(r["z"], r["x"], r["y"])
           for r in tiles.compact_tile_cover(df, levels=2).collect()}
    assert got == {(0, 0, 0), (1, 3, 1), (2, 4, 0), (2, 5, 0), (2, 4, 1)}


def test_dp_simplify_properties(spark):
    """Douglas–Peucker invariants: endpoints preserved, output ⊆ input
    (order kept), idempotent, every dropped vertex within tol of the
    simplified chain, collinear chains collapse to the endpoints, and
    short/NULL inputs pass through."""
    from insights_spark.geo.simplify import _dp_mask, dp_simplify_udf

    line = [{"lon": float(x), "lat": 0.0} for x in range(10)]       # collinear
    zig = [{"lon": 0.0, "lat": 0.0}, {"lon": 1.0, "lat": 2.0},
           {"lon": 2.0, "lat": 0.0}, {"lon": 3.0, "lat": 2.0},
           {"lon": 4.0, "lat": 0.0}]
    wiggle = [{"lon": 0.0, "lat": 0.0}, {"lon": 1.0, "lat": 0.004},
              {"lon": 2.0, "lat": -0.003}, {"lon": 3.0, "lat": 0.0}]
    df = spark.createDataFrame(
        [(1, line), (2, zig), (3, wiggle), (4, None), (5, line[:2])],
        "way_id long, pts array<struct<lon:double,lat:double>>")
    simp = dp_simplify_udf(0.01)
    got = {r["way_id"]: r["s"] for r in
           df.select("way_id", simp("pts").alias("s")).collect()}

    assert [(p["lon"], p["lat"]) for p in got[1]] == [(0.0, 0.0), (9.0, 0.0)]
    assert len(got[2]) == 5                      # big zigzag: nothing dropped
    assert len(got[3]) == 2                      # sub-tol wiggles removed
    assert got[4] is None and len(got[5]) == 2   # passthroughs

    # idempotence + subset + deviation bound, numpy-level (brute force)
    rng = np.random.RandomState(7)
    xs = np.cumsum(rng.rand(60))
    ys = rng.rand(60) * 0.5
    tol = 0.1
    m1 = _dp_mask(xs, ys, tol)
    kx, ky = xs[m1], ys[m1]
    m2 = _dp_mask(kx, ky, tol)
    assert m2.all()  # idempotent: nothing else to drop
    # every original vertex within tol of its bracketing simplified segment
    kept_idx = np.flatnonzero(m1)
    for a, b in zip(kept_idx[:-1], kept_idx[1:]):
        dx, dy = xs[b] - xs[a], ys[b] - ys[a]
        seg2 = dx * dx + dy * dy
        for i in range(a + 1, b):
            cross = (xs[i] - xs[a]) * dy - (ys[i] - ys[a]) * dx
            assert cross * cross <= seg2 * tol * tol + 1e-12


def test_getis_ord_hand_and_brute_force(spark):
    """G_i* integer columns and the exact z>1.96 flag vs a python brute
    force (fractions-exact, independent code path) over a lattice with a
    spike, a dense uniform blob, and isolated singletons — plus the hand
    case: a lone spike above a flat floor is hot, the floor is not."""
    import random
    from fractions import Fraction

    from insights_spark.geo.cells import hex_encode, hex_ring_ids
    from insights_spark.geo.smooth import getis_ord_exact

    # hand case: 7x7 flat floor of 1s with a 100-spike in the middle.
    # (a 5x5 floor is NOT enough: the spike inflates the global s so much
    # its own z is only ~1.6 — the statistic is self-damping on tiny n)
    occupied = {}
    for dq in range(-3, 4):
        for dr in range(-3, 4):
            occupied[hex_encode(6, dq, dr)] = 1
    spike = hex_encode(6, 0, 0)
    occupied[spike] = 100
    df = spark.createDataFrame(
        [(c, n) for c, n in occupied.items()], "cell long, n long")
    got = {r["cell"]: r for r in getis_ord_exact(df).collect()}
    assert got[spike]["is_hot"] == 1
    corner = hex_encode(6, -3, -3)
    assert got[corner]["is_hot"] == 0

    # brute force on a mixed random surface
    rng = random.Random(43)
    occupied = {}
    for dq in range(-2, 3):
        for dr in range(-2, 3):
            occupied[hex_encode(6, dq, dr)] = rng.randint(1, 60)
    for _ in range(30):
        occupied[hex_encode(6, rng.randint(-40, 40), rng.randint(-40, 40))] = (
            rng.randint(1, 60)
        )
    df = spark.createDataFrame(
        [(c, n) for c, n in occupied.items()], "cell long, n long")
    got = {r["cell"]: r for r in getis_ord_exact(df).collect()}
    assert set(got) == set(occupied)

    n = len(occupied)
    s = sum(occupied.values())
    q = sum(v * v for v in occupied.values())
    for c, x in occupied.items():
        # hex_ring_ids already includes the cell itself (the G_i* star)
        ring = [y for y in hex_ring_ids(c, 1) if y in occupied]
        w_i = len(ring)
        wx = sum(occupied[y] for y in ring)
        r = got[c]
        assert (r["x"], r["ring_w"], r["ring_wx"]) == (x, w_i, wx)
        gi_num = n * wx - w_i * s
        assert r["gi_num"] == gi_num
        # exact rational z² compare, fractions so no float rounding
        lhs = Fraction(gi_num * gi_num * (n - 1))
        rhs = Fraction(49, 25) ** 2 * (n * q - s * s) * (n * w_i - w_i * w_i)
        want_hot = 1 if (gi_num > 0 and lhs > rhs) else 0
        assert r["is_hot"] == want_hot, (c, gi_num, lhs, rhs)


def test_idw_fill_brute_force(spark):
    """IDW gap-fill vs a Fraction-exact brute force over axial hex
    distance: est = (2*sum_ring1 + sum_ring2) / (2*c1 + c2), only EMPTY
    cells with >= min_ring1 occupied immediate neighbors."""
    import random
    from fractions import Fraction

    from insights_spark.geo.cells import hex_decode, hex_encode
    from insights_spark.geo.smooth import idw_fill

    rng = random.Random(57)
    counts = {}
    # ring of 6 around an EMPTY center -> classic hole, est = exact mean
    for dq, dr in [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]:
        counts[hex_encode(6, dq, dr)] = rng.randint(1, 9)
    # scattered noise incl. cells whose gaps have ring-2-only support
    for _ in range(30):
        counts.setdefault(
            hex_encode(6, rng.randint(-10, 10), rng.randint(-10, 10)),
            rng.randint(1, 9),
        )

    def hexdist(a, b):
        _, qa, ra = hex_decode(a)
        _, qb, rb = hex_decode(b)
        dq, dr = qa - qb, ra - rb
        return (abs(dq) + abs(dr) + abs(dq + dr)) // 2

    min_ring1 = 3
    want = {}
    qs = [hex_decode(c)[1] for c in counts]
    rs = [hex_decode(c)[2] for c in counts]
    for q in range(min(qs) - 2, max(qs) + 3):
        for r in range(min(rs) - 2, max(rs) + 3):
            t = hex_encode(6, q, r)
            if t in counts:
                continue
            ring1 = [c for c in counts if hexdist(t, c) == 1]
            ring2 = [c for c in counts if hexdist(t, c) == 2]
            if len(ring1) < min_ring1:
                continue
            num = 2 * sum(counts[c] for c in ring1) + sum(
                counts[c] for c in ring2
            )
            den = 2 * len(ring1) + len(ring2)
            want[t] = (len(ring1), len(ring2), num, den,
                       Fraction(num, den))
    assert want, "fixture must produce at least one gap"

    df = spark.createDataFrame(
        [(c, n) for c, n in counts.items()], "cell long, n long"
    )
    got = {
        r["cell"]: (r["ring1_nbrs"], r["ring2_nbrs"], r["w_num"],
                    r["w_den"], r["est"])
        for r in idw_fill(df, min_ring1=min_ring1).collect()
    }
    assert set(got) == set(want)
    for cell, (c1, c2, num, den, frac) in want.items():
        g1, g2, gnum, gden, gest = got[cell]
        assert (g1, g2, gnum, gden) == (c1, c2, num, den)
        assert gest == num / den  # the ONE IEEE division, bit-pinned
    # the enclosed center is a gap with all 6 ring-1 neighbors
    center = hex_encode(6, 0, 0)
    assert center in got and got[center][0] == 6
    # empty input -> empty output, no crash
    empty = spark.createDataFrame([], "cell long, n long")
    assert idw_fill(empty).count() == 0


def test_semivariogram_brute_force(spark):
    """Matheron semivariogram vs an all-pairs Fraction brute force:
    per-lag pair counts, exact SSE, and the one-IEEE-division gamma;
    every unordered pair counted exactly once."""
    import random
    from fractions import Fraction

    from insights_spark.geo.cells import hex_decode, hex_encode
    from insights_spark.geo.smooth import semivariogram_exact

    rng = random.Random(61)
    counts = {}
    # smooth gradient field -> gamma must RISE with lag (non-vacuous)
    for q in range(-4, 5):
        for r in range(-4, 5):
            if rng.random() < 0.8:
                counts[hex_encode(6, q, r)] = 10 * (q + 5) + r + 5

    def hexdist(a, b):
        _, qa, ra = hex_decode(a)
        _, qb, rb = hex_decode(b)
        dq, dr = qa - qb, ra - rb
        return (abs(dq) + abs(dr) + abs(dq + dr)) // 2

    max_h = 3
    want = {}
    cells_l = sorted(counts)
    for i, a in enumerate(cells_l):
        for b in cells_l[i + 1:]:
            h = hexdist(a, b)
            if 1 <= h <= max_h:
                n, s = want.get(h, (0, 0))
                want[h] = (n + 1, s + (counts[a] - counts[b]) ** 2)
    assert set(want) == {1, 2, 3}

    df = spark.createDataFrame(
        [(c, n) for c, n in counts.items()], "cell long, x long"
    )
    got = {
        r["h"]: (r["n_pairs"], r["sse"], r["gamma"])
        for r in semivariogram_exact(
            df, cnt_col="x", max_h=max_h
        ).collect()
    }
    assert set(got) == set(want)
    for h, (n, s) in want.items():
        gn, gs, gg = got[h]
        assert (gn, gs) == (n, s)
        assert gg == s / (2 * n)            # bit-pinned single division
        assert Fraction(s, 2 * n) > 0
    # spatial correlation: variance grows with lag on a gradient field
    assert got[1][2] < got[2][2] < got[3][2]
    # empty + singleton inputs -> no pairs, no crash
    empty = spark.createDataFrame([], "cell long, x long")
    assert semivariogram_exact(empty, cnt_col="x").count() == 0
    one = spark.createDataFrame([(hex_encode(6, 0, 0), 5)],
                                "cell long, x long")
    assert semivariogram_exact(one, cnt_col="x").count() == 0


def test_od_flows_brute_force(spark):
    """OD matrix vs hand-computed moves: dwell excluded, direction
    preserved, ts ties ordered by id, exact distinct movers."""
    from datetime import datetime

    from insights_spark.geo.cells import hex_center
    from insights_spark.geo.track import od_flows

    # three res-0 cell centers, far apart
    from insights_spark.geo.cells import hex_encode

    ca, cb, cc = (hex_encode(0, 0, 0), hex_encode(0, 3, 0),
                  hex_encode(0, 0, 3))
    la, lb, lc = hex_center(ca), hex_center(cb), hex_center(cc)
    t = lambda m: datetime(2024, 5, 1, 0, m)
    rows = [
        # user 1: A -> B -> B (dwell) -> C
        (1, t(0), 1, *la), (1, t(1), 2, *lb), (1, t(2), 3, *lb),
        (1, t(3), 4, *lc),
        # user 2: A -> B, and a ts TIE at t(5) ordered by id: B -> A
        (2, t(4), 5, *la), (2, t(5), 6, *lb), (2, t(5), 7, *la),
        # user 3: single point, no moves
        (3, t(6), 8, *lc),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, id long, lon double, lat double"
    )
    got = {
        (r["cell_from"], r["cell_to"]): (r["n_moves"], r["n_users"])
        for r in od_flows(df, res=0, id_col="id").collect()
    }
    assert got == {
        (ca, cb): (2, 2),          # users 1 and 2
        (cb, cc): (1, 1),          # user 1
        (cb, ca): (1, 1),          # user 2's tie resolved by id order
    }
    empty = spark.createDataFrame(
        [], "user_id long, ts timestamp, id long, lon double, lat double")
    assert od_flows(empty, res=0, id_col="id").count() == 0
