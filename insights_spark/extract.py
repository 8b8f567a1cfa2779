"""Distributed OSM-XML extraction over the `pages` table.

Spark-first shape (reference: the single-threaded loops at
changesetmd.py:105-166 and osmh.py:410-535 become one partition-parallel
stage): `pages` scan (url predicate pushed to parquet) → `mapInPandas`
Arrow-batched parse → typed output tables. No per-row Python UDFs — Python
runs once per Arrow batch; inside a batch the XML parse itself is C-backed
(ElementTree's C accelerator) with `elem.clear()` streaming discipline.

The per-url extraction semantics are pinned by `insights_spark.ref_parser`
(byte-identical `text` invariant from BASELINE.json input_hint).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from . import ref_parser
from .schemas import CHANGESET_COMMENTS, CHANGESETS, ELEMENT_HISTORY

EXTRACTED_TEXT = StructType(
    [
        StructField("url", StringType(), False),
        StructField("extracted_text", StringType(), True),
    ]
)

_PRE_OPEN = b"<pre>"
_PRE_CLOSE = b"</pre>"


def payload_of(html: bytes | None) -> bytes:
    """Strip the HTML boilerplate: the OSM XML payload lives in <pre>…</pre>.

    NULL/empty payloads yield b"" — the skip-and-count path, same as a page
    with no <pre> block (a fetch that returned no body must not kill the job).
    """
    if not html:
        return b""
    html = bytes(html)
    start = html.find(_PRE_OPEN)
    end = html.rfind(_PRE_CLOSE)
    if start == -1 or end == -1:
        return b""
    return html[start + len(_PRE_OPEN) : end]


def _batch_extract(pdf: pd.DataFrame) -> list[dict]:
    """Parse one Arrow batch; malformed payloads are skipped, never fatal.

    At web scale some fraction of pages is always garbage — a single bad
    payload must not kill the job (the reference had the same posture: its
    loaders skip what they can't parse). Skipped urls surface through
    lineage row-count deltas (rows_in vs rows_out), not exceptions.
    """
    import xml.etree.ElementTree as ET

    out = []
    for url, html in zip(pdf["url"], pdf["html"]):
        payload = payload_of(html)
        if not payload:
            continue
        try:
            out.append((url, ref_parser.extract_page(url, payload)))
        except ET.ParseError:
            continue
    return out


def _batch_extract_changesets(pdf: pd.DataFrame) -> tuple[list[dict], list[dict]]:
    """Records-only changeset parse of one Arrow batch (no canonical text)."""
    import xml.etree.ElementTree as ET

    changesets: list[dict] = []
    comments: list[dict] = []
    for _url, html in zip(pdf["url"], pdf["html"]):
        payload = payload_of(html)
        if not payload:
            continue
        try:
            cs, cm = ref_parser.parse_changeset_page(payload)
        except ET.ParseError:
            continue
        changesets.extend(cs)
        comments.extend(cm)
    return changesets, comments


def _batch_extract_elements(pdf: pd.DataFrame) -> list[dict]:
    """Records-only element parse of one Arrow batch (no canonical text).

    The ingest hot path needs element rows, not the byte-identical canonical
    text — reconstructing that text (extract_text's invariant) costs ~40% of
    the batch and would be thrown away here. Same skip-bad-payloads posture
    as _batch_extract.
    """
    import xml.etree.ElementTree as ET

    rows: list[dict] = []
    for _url, html in zip(pdf["url"], pdf["html"]):
        payload = payload_of(html)
        if not payload:
            continue
        try:
            rows.extend(ref_parser.parse_element_page(payload))
        except ET.ParseError:
            continue
    return rows


def _columnar(rows: list[dict], cols: list[str]) -> pd.DataFrame:
    """list-of-dicts → DataFrame via column lists (skips pandas' much slower
    per-dict nested_data_to_arrays path)."""
    if not rows:
        return pd.DataFrame(columns=cols)
    return pd.DataFrame({c: [r[c] for r in rows] for c in cols}, columns=cols)


def extract_changeset_bundles(pages: DataFrame) -> DataFrame:
    """pages → changesets (reference table osm_changeset, queries.py:6-20)
    and their discussion comments (queries.py:21-27), from ONE parse pass
    over the changeset-dump pages: one row per Arrow batch with both
    outputs as array columns (changesets: array<struct>, comments:
    array<struct>). A pipeline that sinks both tables persists this bundle
    and explodes each array — one parse, two tables.
    """
    schema = StructType(
        [
            StructField("changesets", ArrayType(CHANGESETS), True),
            StructField("comments", ArrayType(CHANGESET_COMMENTS), True),
        ]
    )
    cs_cols = [f.name for f in CHANGESETS.fields]
    cm_cols = [f.name for f in CHANGESET_COMMENTS.fields]
    src = pages.filter(F.col("url").contains("/changeset-dump/")).select("url", "html")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cs, cm = _batch_extract_changesets(pdf)
            yield pd.DataFrame(
                {
                    "changesets": [[tuple(r[c] for c in cs_cols) for r in cs]],
                    "comments": [[tuple(r[c] for c in cm_cols) for r in cm]],
                }
            )

    return src.mapInPandas(gen, schema)


def extract_elements(pages: DataFrame) -> DataFrame:
    """pages → element_history rows (queries.py:34-51) with the derived-action
    rules of osmh.py:448-461 / .osc wrapper actions of osmh.py:324-380."""
    src = pages.filter(
        F.col("url").contains("/element-history/") | F.col("url").contains("/osc-diff/")
    ).select("url", "html")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in ELEMENT_HISTORY.fields]
        for pdf in batches:
            yield _columnar(_batch_extract_elements(pdf), cols)

    return src.mapInPandas(gen, ELEMENT_HISTORY)


def extract_elements_enriched(pages: DataFrame, boundary_rows: list[dict]) -> DataFrame:
    """Fused ingest kernel: parse + country PIP + S2/hex cells in ONE
    JVM↔Python crossing.

    Running extraction, PIP and cell encoding as separate UDF stages moves
    every element row across the Arrow boundary three times; at 100 TB the
    exchange dominates the (cheap, numpy) enrichment math. This kernel
    parses each Arrow batch and immediately enriches it with the broadcast
    polygon index and the vectorized cell encoders before yielding — one
    crossing, same results as extract_elements → assign_country →
    with_cells (pinned by tests).
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    from .geo.cells import hex_cell_id, s2_cell_id
    from .geo.pip import PolygonIndex

    bc = pages.sparkSession.sparkContext.broadcast(PolygonIndex(boundary_rows))
    schema = StructType(
        ELEMENT_HISTORY.fields
        + [StructField("s2_l12", LongType(), True), StructField("h3_r8", LongType(), True)]
    )
    cols = [f.name for f in schema.fields]
    src = pages.filter(
        F.col("url").contains("/element-history/") | F.col("url").contains("/osc-diff/")
    ).select("url", "html")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index: PolygonIndex = bc.value
        base_cols = [f.name for f in ELEMENT_HISTORY.fields]
        for pdf in batches:
            out = _columnar(_batch_extract_elements(pdf), base_cols)
            if len(out):
                lon = pd.to_numeric(out["lon"], errors="coerce").to_numpy(
                    np.float64, na_value=np.nan
                )
                lat = pd.to_numeric(out["lat"], errors="coerce").to_numpy(
                    np.float64, na_value=np.nan
                )
                out["country"] = index.locate(lon, lat)
                ok = np.isfinite(lon) & np.isfinite(lat)
                s2 = np.zeros(len(out), dtype=object)
                hx = np.zeros(len(out), dtype=object)
                s2[:] = None
                hx[:] = None
                if ok.any():
                    s2[ok] = s2_cell_id(lon[ok], lat[ok], 12)
                    hx[ok] = hex_cell_id(lon[ok], lat[ok], 8)
                out["s2_l12"] = s2
                out["h3_r8"] = hx
            else:
                out["s2_l12"] = pd.Series(dtype=object)
                out["h3_r8"] = pd.Series(dtype=object)
            yield out[cols]

    return src.mapInPandas(gen, schema)


def extract_text(pages: DataFrame) -> DataFrame:
    """pages → (url, extracted_text): the byte-identical per-url invariant."""
    src = pages.select("url", "html")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                {"url": url, "extracted_text": rec["text"]}
                for url, rec in _batch_extract(pdf)
            ]
            yield pd.DataFrame(rows, columns=["url", "extracted_text"])

    return src.mapInPandas(gen, EXTRACTED_TEXT)
