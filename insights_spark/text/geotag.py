"""Gazetteer geotagging — the operator that ties the two halves of this
engine together: web documents on one side, the spatial stack on the
other. A document mentioning a known place name gets assigned to that
place; the assignment can then flow into every geo rollup (cells, tiles,
country insights) exactly like an extracted changeset does (reference
joins elements to country polygons — ops/country.py is the coordinate
version, this is the TEXT version of the same join).

Plan shape: tokens explode → broadcast join against the (always small)
gazetteer BEFORE the doc-keyed rollup — identical pruning discipline to
bm25's query-term join: shuffle volume is O(place-name mentions), not
O(corpus tokens). Ambiguity (several places mentioned) resolves to the
MINIMUM country name — a deterministic, oracle-reproducible tie rule;
``n_mentions`` keeps the evidence count. Docs mentioning nothing are
absent (geotag is an enrichment, not a guess).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .quality import tokens


def geotag_documents(docs: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """(doc_id, country, n_mentions) for every doc with ≥ 1 gazetteer
    hit. ``gazetteer``: (tok: lowercase place token, country: canonical
    name) — assumed small, broadcast."""
    tok = docs.select(
        F.col("doc_id"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    return (
        tok.join(F.broadcast(gazetteer), "tok")
        .groupBy("doc_id")
        .agg(
            F.min("country").alias("country"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )
