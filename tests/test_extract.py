"""Extraction golden tests — the byte-identical per-url invariant.

The distributed mapInPandas extraction must reproduce, byte-for-byte, the
text the pinned single-process oracle parser produces (SURVEY §5 item 3).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from insights_spark import extract, ref_parser


def _bundled(pages, col):
    """One array of the changeset-bundle kernel the pipeline runs, exploded
    to one row per record — as jobs.pipeline.run sinks it."""
    return (extract.extract_changeset_bundles(pages)
            .select(F.explode(col).alias("r")).select("r.*"))


def test_extracted_text_byte_identical(spark, pages, pages_rows):
    got = {r["url"]: r["extracted_text"] for r in extract.extract_text(pages).collect()}
    want = {r["url"]: r["text"] for r in pages_rows}
    assert set(got) == set(want)
    for url in want:
        assert got[url] == want[url], f"text mismatch for {url}"


def test_changeset_rows_match_oracle(spark, pages, pages_rows):
    df = _bundled(pages, "changesets")
    rows = {r["id"]: r for r in df.collect()}
    want = []
    for p in pages_rows:
        if "/changeset-dump/" in p["url"]:
            cs, _ = ref_parser.parse_changeset_page(extract.payload_of(p["html"]))
            want.extend(cs)
    assert len(rows) == len(want)
    for w in want:
        g = rows[w["id"]]
        assert g["user_name"] == w["user_name"]
        assert g["num_changes"] == w["num_changes"]
        assert dict(g["tags"]) == w["tags"]
        assert g["min_lat"] == w["min_lat"]  # None-safe: both None or equal floats
        assert g["created_at"] == w["created_at"]
        assert g["open"] == w["open"]


def test_comment_last_text_wins(spark, pages, pages_rows):
    df = _bundled(pages, "comments")
    got = sorted(
        (r["comment_changeset_id"], r["comment_user_id"], r["comment_text"])
        for r in df.collect()
    )
    want = []
    for p in pages_rows:
        if "/changeset-dump/" in p["url"]:
            _, cm = ref_parser.parse_changeset_page(extract.payload_of(p["html"]))
            want.extend(
                (c["comment_changeset_id"], c["comment_user_id"], c["comment_text"])
                for c in cm
            )
    assert got == sorted(want)
    # the multi-<text> fixture exists and the LAST text won: "rev1" only ever
    # appears as the second <text> child (synth emits rev0 then rev1)
    assert any(t.endswith("rev1") for _, _, t in got)


def test_element_action_rules(spark, pages):
    """osmh.py:448-461 rules + osc wrapper actions (osmh.py:324-380)."""
    df = extract.extract_elements(pages).cache()
    rows = df.collect()
    assert rows
    for r in rows:
        if r["type"] == "node" and r["lat"] is None:
            assert r["action"] == "delete"
        if r["type"] == "way" and not r["nds"] and not r["tags"]:
            assert r["action"] == "delete"
        if r["type"] == "relation" and not r["members"] and not r["tags"]:
            assert r["action"] == "delete"
        if (
            r["action"] not in ("delete",)
            and r["version"] == 1
        ):
            assert r["action"] == "create"
    # id reused across node and way types (queries.py:50 uniqueness model)
    by_id: dict[int, set[str]] = {}
    for r in rows:
        by_id.setdefault(r["id"], set()).add(r["type"])
    assert any(len(ts) > 1 for ts in by_id.values())
    # versioned rows exist (≥3 versions for some node)
    from collections import Counter

    c = Counter((r["type"], r["id"]) for r in rows)
    assert max(c.values()) >= 3


def test_fused_enriched_matches_staged_pipeline(spark, pages):
    """extract_elements_enriched (one Python crossing) must equal the staged
    extract → assign_country → with_cells pipeline row-for-row."""
    from insights_spark import synth
    from insights_spark.geo import cells, pip

    rows_b = synth.gen_boundaries()
    staged = cells.with_cells(
        pip.assign_country(extract.extract_elements(pages), rows_b)
    )
    fused = extract.extract_elements_enriched(pages, rows_b)

    def key(r):
        return (r["type"], r["id"], r["version"])

    a = {key(r): (r["country"], r["s2_l12"], r["h3_r8"], r["lat"], r["changeset"])
         for r in staged.collect()}
    b = {key(r): (r["country"], r["s2_l12"], r["h3_r8"], r["lat"], r["changeset"])
         for r in fused.collect()}
    assert a == b and len(a) > 0


def test_unique_key_id_version_type(spark, pages):
    df = extract.extract_elements(pages)
    n = df.count()
    k = df.select("id", "version", "type").distinct().count()
    assert n == k


def test_parser_root_tag_edge_payloads():
    """Dual-path parity on edge payloads: root IS an element; root is an
    action wrapper; deep nesting must not blow the recursion limit."""
    # root itself a node → one row, derived action (v=3 → modify, ST6)
    rows = ref_parser.parse_element_page(
        b'<node id="7" lat="1.5" lon="2.5" version="3" changeset="9"/>'
    )
    assert len(rows) == 1 and rows[0]["id"] == 7 and rows[0]["action"] == "modify"

    # root-level wrapper → children stamped with the action
    rows = ref_parser.parse_element_page(
        b'<create><node id="1" lat="0" lon="0" version="1"/>'
        b'<way id="2" version="1"><nd ref="1"/></way></create>'
    )
    assert [r["action"] for r in rows] == ["create", "create"]

    # 50k-deep nesting: iterative walk, no RecursionError
    deep = b"<a>" * 50000 + b'<node id="5" lat="0" lon="0" version="1"/>' \
        + b"</a>" * 50000
    rows = ref_parser.parse_element_page(b"<osm>" + deep + b"</osm>")
    assert len(rows) == 1 and rows[0]["id"] == 5


def test_parser_small_large_paths_agree():
    """The fromstring walk and the iterparse stream must emit identical rows
    in identical order for the same document."""
    doc = (
        b'<osmChange><create><node id="1" lat="1" lon="1" version="1"/></create>'
        b'<modify><way id="2" version="2"><nd ref="1"/><tag k="highway" v="x"/></way>'
        b"</modify>"
        b'<delete><relation id="3" version="1"><member type="way" ref="2" role=""/>'
        b"</relation></delete>"
        b'<node id="4" lat="2" lon="2" version="1"/></osmChange>'
    )
    small = ref_parser.parse_element_page(doc)
    orig = ref_parser._STREAM_PARSE_BYTES
    try:
        ref_parser._STREAM_PARSE_BYTES = 0  # force the iterparse path
        large = ref_parser.parse_element_page(doc)
    finally:
        ref_parser._STREAM_PARSE_BYTES = orig
    assert small == large
    # wrapped elements take the wrapper action; the bare v=1 node derives
    # 'create' (ST6)
    assert [r["action"] for r in small] == ["create", "modify", "delete", "create"]


def test_null_and_garbage_payloads_skip(spark):
    """Web-scale posture: NULL html (failed fetch), empty bytes, and
    undecodable garbage all take the skip-and-count path in every
    extractor — never an exception (regression: payload_of crashed on
    NULL before round 4)."""
    bad = spark.createDataFrame(
        [
            (1, "https://x/changeset-dump/a", b"<not-xml"),
            (2, "https://x/changeset-dump/b", b""),
            (3, "https://x/changeset-dump/c", None),
            (4, "https://x/changeset-dump/d", b"\xff\xfe garbage \x00bytes"),
            (5, "https://x/element-history/e", None),
        ],
        "page_id long, url string, html binary",
    )
    assert _bundled(bad, "changesets").count() == 0
    assert _bundled(bad, "comments").count() == 0
    assert extract.extract_elements(bad).count() == 0
    assert extract.payload_of(None) == b""
    assert extract.payload_of(b"") == b""
