"""Property-based tests (hypothesis) for the pure numpy kernels —
no SparkSession, so these run in milliseconds and explore the input space
the example-based tests can't."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from insights_spark.geo import cells, length, pip

lons = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
lats = st.floats(min_value=-89.9, max_value=89.9, allow_nan=False)


@given(lons, lats)
@settings(max_examples=200, deadline=None)
def test_s2_hierarchy_property(lon, lat):
    c12 = cells.s2_cell_id(np.array([lon]), np.array([lat]), 12)[0]
    c8 = cells.s2_cell_id(np.array([lon]), np.array([lat]), 8)[0]
    p = c12
    for _ in range(4):
        p = cells.s2_parent(np.array([p]))[0]
    assert p == c8
    assert cells.s2_level(c12) == 12 and cells.s2_level(c8) == 8


@given(lons, lats)
@settings(max_examples=200, deadline=None)
def test_hex_center_roundtrip(lon, lat):
    c = int(cells.hex_cell_id(np.array([lon]), np.array([lat]), 6)[0])
    clon, clat = cells.hex_center(c)
    # the center of a cell maps back to the same cell
    assert int(cells.hex_cell_id(np.array([clon]), np.array([clat]), 6)[0]) == c
    # and the point is within ~2 cell diameters of its cell center
    size = cells.hex_edge_deg(6)
    assert abs(clon - lon) < 4 * size and abs(clat - lat) < 4 * size


@given(lons, lats, lons, lats)
@settings(max_examples=100, deadline=None)
def test_vincenty_metric_properties(lon1, lat1, lon2, lat2):
    d = length.vincenty_m([lon1], [lat1], [lon2], [lat2])[0]
    d_rev = length.vincenty_m([lon2], [lat2], [lon1], [lat1])[0]
    assert np.isfinite(d) and d >= 0.0
    assert abs(d - d_rev) <= 1e-6 * max(d, 1.0)  # symmetry
    assert d <= 20_037_508.0 * 1.01  # never exceeds half circumference (+1%)
    if (lon1, lat1) == (lon2, lat2):
        assert d == 0.0


@given(st.lists(st.tuples(lons, lats), min_size=3, max_size=8), lons, lats)
@settings(max_examples=100, deadline=None)
def test_pip_edge_inclusive_vertices(poly_pts, qlon, qlat):
    """Every polygon VERTEX is covered by its own polygon (edge-inclusive),
    and locate() never crashes on arbitrary query points."""
    ring = [[x, y] for x, y in poly_pts] + [[poly_pts[0][0], poly_pts[0][1]]]
    idx = pip.PolygonIndex(
        [{"name_en": "P", "priority": False, "polygons": [[ring]]}]
    )
    xs = np.array([p[0] for p in poly_pts])
    ys = np.array([p[1] for p in poly_pts])
    got = idx.locate(xs, ys)
    assert all(g == "P" for g in got)
    idx.locate(np.array([qlon]), np.array([qlat]))  # no crash


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_poly_hash_np_matches_python(s):
    from insights_spark.text.dedup import BASE, MOD, SEED, poly_hash_np

    h = SEED
    for ch in s:
        h = (h * BASE + ord(ch)) % MOD
    got = poly_hash_np([s])[0]
    assert got == h


# --- parser dual-path parity ------------------------------------------------

_ELEM_COUNTER = [0]


def _elem_xml(rng) -> str:
    _ELEM_COUNTER[0] += 1
    i = _ELEM_COUNTER[0]
    kind = rng.choice(["node", "way", "relation"])
    v = rng.randint(1, 4)
    if kind == "node":
        return f'<node id="{i}" lat="{rng.randint(-80,80)}" lon="{rng.randint(-170,170)}" version="{v}" changeset="{rng.randint(1,9)}"/>'
    if kind == "way":
        nds = "".join(f'<nd ref="{rng.randint(1,50)}"/>' for _ in range(rng.randint(0, 3)))
        return f'<way id="{i}" version="{v}">{nds}<tag k="k{rng.randint(0,3)}" v="x"/></way>'
    mem = "".join(
        f'<member type="{rng.choice(["node","way"])}" ref="{rng.randint(1,50)}" role=""/>'
        for _ in range(rng.randint(0, 2))
    )
    return f'<relation id="{i}" version="{v}">{mem}</relation>'


def _tree_xml(rng, depth: int) -> str:
    parts = []
    for _ in range(rng.randint(0, 3)):
        roll = rng.random()
        if roll < 0.5 or depth >= 3:
            parts.append(_elem_xml(rng))
        else:
            tag = rng.choice(["create", "modify", "delete", "group", "junk"])
            parts.append(f"<{tag}>{_tree_xml(rng, depth + 1)}</{tag}>")
    return "".join(parts)


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=150, deadline=None)
def test_parser_paths_agree_on_random_trees(seed):
    """fromstring-walk == iterparse on arbitrary nesting of elements,
    action wrappers, and unknown containers (identical rows, identical
    order) — the dual-path parity invariant, fuzzed."""
    import random

    from insights_spark import ref_parser

    rng = random.Random(seed)
    _ELEM_COUNTER[0] = 0
    doc = f"<osm>{_tree_xml(rng, 0)}</osm>".encode()
    small = ref_parser.parse_element_page(doc)
    orig = ref_parser._STREAM_PARSE_BYTES
    try:
        ref_parser._STREAM_PARSE_BYTES = 0
        large = ref_parser.parse_element_page(doc)
    finally:
        ref_parser._STREAM_PARSE_BYTES = orig
    assert small == large


@given(st.integers(0, 10_000_000))
@settings(max_examples=200, deadline=None)
def test_geohash_prefix_nesting_property(seed):
    """Geohash's defining property: the precision-p hash of a point is a
    PREFIX of its precision-(p+1) hash (cells nest lexicographically) —
    this is what makes prefix filters spatial containment."""
    import numpy as np

    from insights_spark.geo.cells import geohash_sql
    import duckdb

    rng = np.random.default_rng(seed)
    lon = float(rng.uniform(-180, 180))
    lat = float(rng.uniform(-90, 90))
    con = duckdb.connect()
    h = [
        con.execute(f"SELECT {geohash_sql(repr(lon), repr(lat), p)}").fetchone()[0]
        for p in (4, 5, 6)
    ]
    assert h[1].startswith(h[0]) and h[2].startswith(h[1])


def test_star_cc_random_graphs_match_union_find(spark):
    """star_cc_labels == python union-find on random sparse graphs (mix of
    chains, cliques, isolated pairs — seeds cover varying densities)."""
    import numpy as np

    from insights_spark.geo.vectorize import star_cc_labels

    for seed in (1, 7, 42):
        rng = np.random.default_rng(seed)
        n = 60
        m = int(rng.integers(20, 90))
        edges = [(int(rng.integers(0, n)), int(rng.integers(0, n))) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        want = {}
        nodes_in_edges = {x for e in edges for x in e}
        for x in nodes_in_edges:
            want.setdefault(find(x), set()).add(x)
        want_sets = sorted((tuple(sorted(v)) for v in want.values()))

        df = spark.createDataFrame(edges, "id long, nbr_id long")
        # cover BOTH physical paths: the distributed star contraction
        # (collect_cap=0) and the bounded driver union-find fast path
        for cap in (0, 300_000):
            labels = star_cc_labels(df, max_sweeps=20, collect_cap=cap)
            got = {}
            for r in labels.collect():
                got.setdefault(r["label"], set()).add(r["id"])
            got_sets = sorted((tuple(sorted(v)) for v in got.values()))
            assert got_sets == want_sets, (seed, cap)
        # label is the component minimum
        for lab, members in got.items():
            assert lab == min(members)


def test_sessionize_random_streams_match_bruteforce(spark):
    """sessionize == python gaps-and-islands on random event streams
    (random users, duplicate timestamps included)."""
    import numpy as np
    from datetime import datetime, timedelta

    from insights_spark.ops.sessions import sessionize

    for seed in (3, 11):
        rng = np.random.default_rng(seed)
        rows = []
        for eid in range(120):
            uid = int(rng.integers(1, 6))
            ts = datetime(2024, 1, 1) + timedelta(
                minutes=int(rng.integers(0, 3000))
            )
            rows.append((eid, uid, ts))
        gap_min = 45.0
        by_user = {}
        for eid, uid, ts in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
            by_user.setdefault(uid, []).append((ts, eid))
        want = {}
        for uid, evs in by_user.items():
            idx = 0
            prev = None
            for ts, eid in evs:
                if prev is None or (ts - prev).total_seconds() > gap_min * 60:
                    idx += 1
                want[(uid, idx)] = want.get((uid, idx), 0) + 1
                prev = ts
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp_ntz"
        )
        got = {(r["user_id"], r["session_idx"]): r["n_events"]
               for r in sessionize(ev, gap_minutes=gap_min).collect()}
        assert got == want, seed
