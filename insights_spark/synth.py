"""Deterministic synthetic fixture generator (seed-stable, no wall clock).

Generates the `pages` source table (FIXTURES.md §1) with embedded OSM XML
payloads, plus `boundaries` polygons and the `hashtag` registry. The golden
`text` column is produced by the pinned oracle parser (ref_parser), so the
fixtures carry their own extraction ground truth.

Edge cases included per FIXTURES.md:
- changeset with no bbox; comment with multiple <text> children (last wins);
  hashtags in both `comment` and `hashtags` tags; one mega-changeset
  (>225e6 m² equal-area bbox, reference README.md:77); one changeset with
  min_lat = -95.0 (out-of-range lat, README.md:78).
- node id reused as a way id (UNIQUE(id,version,type), queries.py:50);
  ≥3 versions for some (type,id); ways whose nds[0] resolves to a fixture
  node; a relation whose first member is a way; delete-rule rows
  (osmh.py:448-461); one hot H3-style cell holding ~30% of nodes.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from xml.sax.saxutils import quoteattr

from . import ref_parser

BASE_TS = datetime(2021, 8, 5, 0, 0, 0)

EDITORS = ["JOSM/1.5", "iD 2.20.2", "Potlatch 2", "StreetComplete 34.0", "RapiD 1.1"]
HASHTAG_POOL = [
    "#hotosm-project-11224",
    "#hotosm-project-1",
    "#missingmaps",
    "#missingmapshour",
    "#osmke",
    "#MapLesotho",
]
PLACE_VALUES = ["country", "state", "city", "town", "village", "hamlet", "locality"]
USERS = [(i, f"mapper_{i:03d}") for i in range(1, 41)]

# Hot cell: ~30% of nodes land in this small box (skew knob).
HOT_BOX = (36.80, -1.30, 36.93, -1.17)  # (lon0, lat0, lon1, lat1) — Nairobi-ish
WORLD_BOX = (-179.5, -84.5, 179.5, 84.5)


def _iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _attr(k: str, v) -> str:
    return f" {k}={quoteattr(str(v))}" if v is not None else ""


# ---------------------------------------------------------------------------
# changeset-dump pages
# ---------------------------------------------------------------------------

def _changeset_xml(rng: random.Random, cs_id: int, seq: int) -> str:
    uid, user = rng.choice(USERS)
    created = BASE_TS + timedelta(minutes=seq, seconds=rng.randrange(60))
    closed = created + timedelta(minutes=rng.randrange(1, 120))
    special = cs_id % 97
    if special == 11:  # no-bbox changeset (null bbox path, README.md:95)
        bbox = (None, None, None, None)
    elif special == 23:  # mega-changeset (README.md:77)
        bbox = (-30.0, -20.0, 30.0, 20.0)
    elif special == 31:  # out-of-range lat (README.md:78)
        bbox = (10.0, -95.0, 10.5, -94.5)
    else:
        lon0 = round(rng.uniform(-179.0, 178.0), 7)
        lat0 = round(rng.uniform(-84.0, 83.0), 7)
        bbox = (lon0, lat0, round(lon0 + rng.uniform(0.001, 0.9), 7),
                round(lat0 + rng.uniform(0.001, 0.9), 7))
    tags = {}
    if rng.random() < 0.85:
        hts = rng.sample(HASHTAG_POOL, rng.randrange(1, 3))
        # exercise both delimiter classes (changesetmd.py:75-77)
        tags["comment"] = f"{' '.join(hts)} mapping {rng.choice(['roads','buildings'])}"
        if rng.random() < 0.6:
            tags["hashtags"] = ";".join(hts)
    if rng.random() < 0.9:
        tags["created_by"] = rng.choice(EDITORS)
    if rng.random() < 0.4:
        tags["source"] = rng.choice(["Bing", "Maxar", "survey"])
    if rng.random() < 0.2:
        tags["building"] = "yes"
    if rng.random() < 0.2:
        tags["locale"] = rng.choice(["en", "de", "fr", "sw"])

    parts = [
        f"<changeset{_attr('id', cs_id)}{_attr('uid', uid)}"
        f"{_attr('created_at', _iso(created))}{_attr('closed_at', _iso(closed))}"
        f"{_attr('open', 'false' if rng.random() < 0.95 else 'true')}"
        f"{_attr('num_changes', rng.randrange(1, 500))}{_attr('user', user)}"
        f"{_attr('min_lon', bbox[0])}{_attr('min_lat', bbox[1])}"
        f"{_attr('max_lon', bbox[2])}{_attr('max_lat', bbox[3])}>"
    ]
    for k, v in tags.items():
        parts.append(f"<tag k={quoteattr(k)} v={quoteattr(v)}/>")
    if rng.random() < 0.25:
        parts.append("<discussion>")
        for _ in range(rng.randrange(1, 3)):
            cuid, cuser = rng.choice(USERS)
            cdate = closed + timedelta(hours=rng.randrange(1, 48))
            parts.append(
                f"<comment{_attr('uid', cuid)}{_attr('user', cuser)}"
                f"{_attr('date', _iso(cdate))}>"
            )
            # multiple <text> children — last one wins (changesetmd.py:125-127)
            n_text = 2 if rng.random() < 0.3 else 1
            for t in range(n_text):
                parts.append(f"<text>comment {cs_id} rev{t}</text>")
            parts.append("</comment>")
        parts.append("</discussion>")
    parts.append("</changeset>")
    return "".join(parts)


# ---------------------------------------------------------------------------
# element-history / osc-diff pages
# ---------------------------------------------------------------------------

def _point(rng: random.Random) -> tuple[float, float]:
    box = HOT_BOX if rng.random() < 0.30 else WORLD_BOX
    return (round(rng.uniform(box[0], box[2]), 7), round(rng.uniform(box[1], box[3]), 7))


def _element_xml(rng: random.Random, base_id: int, seq: int, wrap: bool,
                 cs_id: int | None = None) -> str:
    """One page's worth of nodes/ways/relations, optionally .osc-wrapped.

    All elements of a page share one changeset id (mirrors replication
    batches); `cs_id` references a changeset emitted by an earlier
    changeset-dump page so campaign rollups join non-trivially."""
    out: list[str] = []
    node_ids: list[int] = []
    ts0 = BASE_TS + timedelta(minutes=seq)
    cs_id = cs_id if cs_id is not None else 9000 + seq

    def emit(body: str, action: str):
        if wrap:
            out.append(f"<{action}>{body}</{action}>")
        else:
            out.append(body)

    # nodes: some with 3 versions (latest-version window, advanced-queries.md:129)
    for i in range(rng.randrange(8, 16)):
        nid = base_id + i
        node_ids.append(nid)
        n_versions = 3 if i % 5 == 0 else 1
        lon, lat = _point(rng)
        for v in range(1, n_versions + 1):
            uid, _ = rng.choice(USERS)
            tags = ""
            if rng.random() < 0.5:
                k = rng.choice(["building", "amenity", "highway", "place", "name"])
                val = rng.choice(PLACE_VALUES) if k == "place" else (
                    rng.choice(["yes", "school", "residential", "clinic"]))
                tags = f"<tag k={quoteattr(k)} v={quoteattr(val)}/>"
            drop_lat = (i % 11 == 7 and v == n_versions)  # delete rule: missing lat
            body = (
                f"<node{_attr('id', nid)}{_attr('version', v)}"
                f"{_attr('timestamp', _iso(ts0 + timedelta(seconds=v * 30)))}"
                f"{_attr('uid', uid)}{_attr('changeset', cs_id)}"
                f"{'' if drop_lat else _attr('lat', lat)}"
                f"{'' if drop_lat else _attr('lon', lon)}>{tags}</node>"
            )
            emit(body, "delete" if (wrap and drop_lat) else
                 ("create" if v == 1 else "modify"))

    # ways: first nd resolves to a fixture node (propagation, advanced-queries.md:167)
    way_ids: list[int] = []
    for i in range(rng.randrange(3, 7)):
        wid = base_id + 500 + i
        if i == 0:
            wid = node_ids[0]  # id reused across types (queries.py:50)
        way_ids.append(wid)
        nds = rng.sample(node_ids, min(len(node_ids), rng.randrange(2, 6)))
        k = rng.choice(["building", "highway"])
        val = "yes" if k == "building" else rng.choice(["residential", "primary"])
        empty = i % 9 == 4  # no nds + no tags → delete (osmh.py:455-457)
        nd_xml = "" if empty else "".join(f"<nd ref='{n}'/>" for n in nds)
        tag_xml = "" if empty else f"<tag k={quoteattr(k)} v={quoteattr(val)}/>"
        body = (
            f"<way{_attr('id', wid)}{_attr('version', rng.choice([1, 1, 2]))}"
            f"{_attr('timestamp', _iso(ts0 + timedelta(seconds=600 + i)))}"
            f"{_attr('uid', rng.choice(USERS)[0])}{_attr('changeset', cs_id)}>"
            f"{nd_xml}{tag_xml}</way>"
        )
        emit(body, "delete" if (wrap and empty) else "create")

    # relations: first member is a way (two-hop propagation, advanced-queries.md:203)
    for i in range(rng.randrange(1, 3)):
        rid = base_id + 900 + i
        empty = i % 4 == 3
        mem_xml = "" if empty else (
            f"<member type='way' ref='{rng.choice(way_ids)}' role='outer'/>"
            f"<member type='node' ref='{rng.choice(node_ids)}' role=''/>"
        )
        tag_xml = "" if empty else "<tag k='type' v='multipolygon'/>"
        body = (
            f"<relation{_attr('id', rid)}{_attr('version', 1)}"
            f"{_attr('timestamp', _iso(ts0 + timedelta(seconds=900 + i)))}"
            f"{_attr('uid', rng.choice(USERS)[0])}{_attr('changeset', cs_id)}>"
            f"{mem_xml}{tag_xml}</relation>"
        )
        emit(body, "delete" if (wrap and empty) else "create")
    return "".join(out)


# ---------------------------------------------------------------------------
# pages table
# ---------------------------------------------------------------------------

def gen_pages(n_pages: int = 60) -> list[dict]:
    """Generate pages rows: url, warc_ts, html(binary), text(golden), lang."""
    rows = []
    next_cs = 100
    next_el = 10_000
    for seq in range(n_pages):
        rng = random.Random(42 * 1_000_003 + seq)
        r = seq % 3
        if r == 0:
            kind = "changeset-dump"
            n = rng.randrange(5, 12)
            inner = []
            for _ in range(n):
                inner.append(_changeset_xml(rng, next_cs, seq))
                next_cs += 1
            xml = f"<osm version='0.6'>{''.join(inner)}</osm>"
        else:
            kind = "element-history" if r == 1 else "osc-diff"
            wrap = r == 2
            root = "osmChange" if wrap else "osm"
            # reference an already-emitted dump changeset so campaign
            # rollups (stats ⋈ changesets) join non-trivially
            cs_ref = 100 + (seq * 13) % max(next_cs - 100, 1)
            xml = (
                f"<{root} version='0.6'>"
                f"{_element_xml(rng, next_el, seq, wrap, cs_id=cs_ref)}</{root}>"
            )
            next_el += 1000
        url = f"https://example.org/osm/{kind}/{seq:09d}"
        html = (
            f"<html><head><title>osm {kind} {seq}</title></head>"
            f"<body><pre>{xml}</pre></body></html>"
        )
        # payload handed to the parser is the embedded XML; the html wrapper
        # is boilerplate the extractor strips by locating the <pre> block.
        golden = ref_parser.extract_page(url, xml.encode("utf-8"))
        lang = rng.choices(["en", "de", "fr", "sw"], weights=[95, 2, 2, 1])[0]
        rows.append(
            {
                "url": url,
                "warc_ts": BASE_TS + timedelta(minutes=seq),
                "html": html.encode("utf-8"),
                "text": golden["text"],
                "lang": lang,
            }
        )
    return rows


# ---------------------------------------------------------------------------
# boundaries (FIXTURES.md §5): synthetic country polygons incl. a
# MULTIPOLYGON, an adjacent shared-edge pair, and an antimeridian crosser.
# ---------------------------------------------------------------------------

def gen_boundaries() -> list[dict]:
    def rect(lon0, lat0, lon1, lat1):
        return [[[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1], [lon0, lat0]]]

    return [
        # adjacent pair sharing the lon=37.0 edge (PIP tie-break test)
        {"name_en": "Kenya", "admin_level": 2, "tags": {"ISO": "KE"},
         "polygons": [rect(33.9, -4.7, 37.0, 4.6)], "priority": True},
        {"name_en": "Somalia", "admin_level": 2, "tags": {"ISO": "SO"},
         "polygons": [rect(37.0, -1.7, 51.4, 12.0)], "priority": False},
        # MULTIPOLYGON: two islands
        {"name_en": "Philippines", "admin_level": 2, "tags": {"ISO": "PH"},
         "polygons": [rect(117.0, 5.0, 122.0, 10.0), rect(120.0, 12.0, 126.0, 19.0)],
         "priority": False},
        # antimeridian crosser, split into two lobes (lon-lat order)
        {"name_en": "Fiji", "admin_level": 2, "tags": {"ISO": "FJ"},
         "polygons": [rect(176.8, -19.2, 180.0, -16.0), rect(-180.0, -19.2, -178.2, -16.0)],
         "priority": False},
        # a non-rectangular polygon (triangle) for ray-casting generality
        {"name_en": "Triland", "admin_level": 2, "tags": {},
         "polygons": [[[[-60.0, -10.0], [-50.0, -10.0], [-55.0, 0.0], [-60.0, -10.0]]]],
         "priority": False},
    ]


def pages_df(spark, n_pages: int = 60):
    from .schemas import PAGES
    from .session import local_df

    rows = [tuple(p[f] for f in PAGES.names) for p in gen_pages(n_pages)]
    return local_df(spark, rows, PAGES)


# ---------------------------------------------------------------------------
# independent page generation — for benchmarks. Same page content
# machinery, but id allocation is stride-based (page seq × fixed stride)
# instead of sequential, so every page generates without the pages before it.
# ---------------------------------------------------------------------------

_CS_STRIDE = 16  # max changesets per dump page < stride


def gen_page_dist(seq: int, seed: int = 42) -> dict:
    """Generate ONE page independently of all others (parallel-safe)."""
    rng = random.Random(seed * 1_000_003 + seq)
    r = seq % 3
    if r == 0:
        kind = "changeset-dump"
        base_cs = 100 + (seq // 3) * _CS_STRIDE
        n = rng.randrange(5, 12)
        inner = [_changeset_xml(rng, base_cs + j, seq) for j in range(n)]
        xml = f"<osm version='0.6'>{''.join(inner)}</osm>"
    else:
        kind = "element-history" if r == 1 else "osc-diff"
        wrap = r == 2
        root = "osmChange" if wrap else "osm"
        # reference a changeset from dump page 0 (exists for every seq ≥ 1)
        n0 = random.Random(seed * 1_000_003).randrange(5, 12)
        cs_ref = 100 + (seq * 13) % n0
        base_el = 10_000 + seq * 1000
        xml = (
            f"<{root} version='0.6'>"
            f"{_element_xml(rng, base_el, seq, wrap, cs_id=cs_ref)}</{root}>"
        )
    url = f"https://example.org/osm/{kind}/{seq:09d}"
    html = (
        f"<html><head><title>osm {kind} {seq}</title></head>"
        f"<body><pre>{xml}</pre></body></html>"
    )
    golden = ref_parser.extract_page(url, xml.encode("utf-8"))
    lang = rng.choices(["en", "de", "fr", "sw"], weights=[95, 2, 2, 1])[0]
    return {
        "url": url,
        "warc_ts": BASE_TS + timedelta(minutes=seq),
        "html": html.encode("utf-8"),
        "text": golden["text"],
        "lang": lang,
    }
