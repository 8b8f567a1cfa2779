"""Way/relation geometry + country propagation self-joins (J7).

Reference: ways and relations are loaded with NULL lat/lon/country
(osmh.py:287,307 TODO) and later repaired by batch UPDATEs that copy the
location of the way's FIRST node (``nds[1]``, advanced-queries.md:167-199)
resp. the relation's FIRST member (``members[1]``,
advanced-queries.md:203-230, two-hop when the member is a way).

Engine shape: build a latest-version node dimension once, then two hash
joins — no per-row UPDATEs, no driver loops. Join keys are element ids
(long), shuffle-partitioned; the node dim can be broadcast when small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin
from .latest import latest_version

_PROPAGATED = ("lat", "lon", "country")


def propagate_way_locations(elements: DataFrame) -> DataFrame:
    """Fill way lat/lon/country from the latest version of nds[0]'s node."""
    # project the dim to its 5 narrow columns BEFORE the window: the
    # latest-version shuffle otherwise carries the full element width
    # (tags map, nds/members arrays) only to drop it afterwards
    nodes_dim = (
        latest_version(
            elements.filter(F.col("type") == "node")
            .select("id", "version", *_PROPAGATED),
            ("id",),
        )
        .select(
            F.col("id").alias("_nid"),
            *[F.col(c).alias(f"_n_{c}") for c in _PROPAGATED],
        )
    )
    # try_element_at: Postgres nds[1] yields NULL on empty arrays (the
    # delete-rule ways have nds = []); ANSI element_at would throw.
    ways = elements.filter(F.col("type") == "way").withColumn(
        "_first_nd", F.try_element_at("nds", F.lit(1))
    )
    filled = (
        ways.join(nodes_dim, ways["_first_nd"] == nodes_dim["_nid"], "left")
        .select(
            *[
                F.coalesce(F.col(c), F.col(f"_n_{c}")).alias(c)
                if c in _PROPAGATED
                else F.col(c)
                for c in elements.columns
            ]
        )
    )
    others = elements.filter(F.col("type") != "way")
    return others.unionByName(filled)


def propagate_relation_locations(elements: DataFrame) -> DataFrame:
    """Fill relation lat/lon/country from its first member.

    Two-hop (advanced-queries.md:203-230): member type 'node' joins nodes
    directly; member type 'way' joins ways (which must have been propagated
    first — run propagate_way_locations before this)."""
    dim = (
        latest_version(
            elements.filter(F.col("type").isin("node", "way"))
            .select("type", "id", "version", *_PROPAGATED),
            ("type", "id"),
        )
        .select(
            F.col("type").alias("_mtype"),
            F.col("id").alias("_mid"),
            *[F.col(c).alias(f"_m_{c}") for c in _PROPAGATED],
        )
    )
    rels = (
        elements.filter(F.col("type") == "relation")
        .withColumn("_first", F.try_element_at("members", F.lit(1)))
    )
    filled = (
        rels.join(
            dim,
            (rels["_first"]["type"] == dim["_mtype"])
            & (rels["_first"]["ref"] == dim["_mid"]),
            "left",
        )
        .select(
            *[
                F.coalesce(F.col(c), F.col(f"_m_{c}")).alias(c)
                if c in _PROPAGATED
                else F.col(c)
                for c in elements.columns
            ]
        )
    )
    others = elements.filter(F.col("type") != "relation")
    return others.unionByName(filled)


def propagate_locations(elements: DataFrame) -> DataFrame:
    """Full propagation pass: ways from nodes, then relations from both.

    Both passes consume their input three times (dimension build, the
    filtered fact side, and the pass-through union branch); without
    pinning, Spark re-executes the upstream plan per branch — for the
    ingest pipeline that means re-parsing every page up to 9×. Persisting
    input and intermediate is the local analogue of the reference's
    load-then-UPDATE staging (element_history lands first, propagation
    reads it back)."""
    elements = pin(elements)
    mid = pin(propagate_way_locations(elements))
    return propagate_relation_locations(mid)
