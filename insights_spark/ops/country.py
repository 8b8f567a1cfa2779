"""Country-level building insights (A10) + mapathon report queries.

Reference: advanced-queries.md:137-155 — per (country, month-end) count of
distinct building way/relation ids in their latest version strictly before
the month timestamp; the TM variant additionally requires the element's
changeset to be a hot (hotosm) changeset. The reference runs one correlated
UPDATE per country per year; the engine computes every (country, month)
pair in one DAG per month-end (or a small loop over month-ends, each a
single shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .latest import latest_version
from .tags import tag_exists


def building_counts_asof(
    elements: DataFrame,
    by_month,
    hot_changeset_ids: DataFrame | None = None,
) -> DataFrame:
    """(country, building_count[, tm_building_count]) as-of one timestamp.

    Semantics pinned to the reference: latest version per (type,id) is
    computed over ALL rows with timestamp < by_month (no tag/country filter
    inside the max()), THEN the building/type/country predicates apply to
    that latest row.
    """
    latest = latest_version(elements, ("type", "id"), cutoff=F.lit(by_month))
    b = latest.filter(
        tag_exists(F.col("tags"), "building")
        & F.col("type").isin("way", "relation")
        & F.col("country").isNotNull()
    )
    out = b.groupBy("country").agg(F.countDistinct("id").alias("building_count"))
    if hot_changeset_ids is not None:
        tm = (
            b.join(
                F.broadcast(hot_changeset_ids.select(F.col("id").alias("changeset"))),
                "changeset",
                "left_semi",
            )
            .groupBy("country")
            .agg(F.countDistinct("id").alias("tm_building_count"))
        )
        out = out.join(tm, "country", "left").na.fill({"tm_building_count": 0})
    return out.withColumn("by_month", F.lit(by_month).cast("timestamp_ntz"))


def country_insights(elements: DataFrame, months: list) -> DataFrame:
    """The full country_insights table: one row per (country, by_month).

    The reference runs one correlated UPDATE per country per year
    (advanced-queries.md:130-155); the engine unions one as-of snapshot per
    month-end — each snapshot is a single shuffle, and months are
    independent jobs a scheduler can run in parallel. (A single-DAG variant
    would explode elements × months before the window; at 100 TB the
    per-month loop is the cheaper plan because the as-of filter prunes the
    scan to timestamp < month, which Parquet skips on.)
    """
    if not months:
        raise ValueError("country_insights requires at least one month-end")
    out = None
    for m in months:
        snap = building_counts_asof(elements, m)
        out = snap if out is None else out.unionByName(snap)
    return out


def mapathon_tag_action_report(
    elements: DataFrame, changeset_ids: DataFrame
) -> DataFrame:
    """advanced-queries.md:19-30 — per (tag key, action) counts for the
    changesets of one mapathon: semi-join elements ⋉ filtered changesets
    (J1), explode tags (P8), groupBy key+action (A4)."""
    scoped = elements.join(
        F.broadcast(changeset_ids.select(F.col("id").alias("changeset"))),
        "changeset",
        "left_semi",
    )
    return (
        scoped.select("id", "action", F.explode("tags").alias("key", "value"))
        .groupBy("key", "action")
        .agg(F.countDistinct("id").alias("features"))
    )


def mapathon_user_report(
    elements: DataFrame, changesets: DataFrame, changeset_ids: DataFrame
) -> DataFrame:
    """advanced-queries.md:53-75 — the detailed per-user mapathon report:
    uid | username | key | action | features. Semi-join elements against
    the mapathon's changesets (J1), explode tags (P8), group by
    (uid, key, action) with countDistinct id (A4), then resolve the
    username via the correlated-LIMIT-1 replacement (J4): the reference's
    ``(SELECT c.user_name FROM osm_changeset c WHERE c.user_id = t.uid
    LIMIT 1)`` has no ORDER BY, so the engine pins the deterministic rule —
    the username on the user's highest changeset id wins.

    Plan shape: one shuffle for the rollup, one small shuffle for the
    username dimension (bounded by distinct users), broadcast-joined back.
    """
    from .latest import scalar_pick

    scoped = elements.join(
        F.broadcast(changeset_ids.select(F.col("id").alias("changeset"))),
        "changeset",
        "left_semi",
    )
    per_user = (
        scoped.select("uid", "id", F.col("action"),
                      F.explode("tags").alias("key", "value"))
        .groupBy("uid", "key", "action")
        .agg(F.countDistinct("id").alias("features"))
    )
    names = scalar_pick(
        changesets.select(F.col("user_id").alias("uid"), "user_name", "id"),
        ("uid",), "user_name", "id",
    ).withColumnRenamed("user_name", "username")
    return per_user.join(F.broadcast(names), "uid", "left").select(
        "uid", "username", "key", "action", "features"
    )
