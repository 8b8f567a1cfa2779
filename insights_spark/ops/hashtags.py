"""Hashtag campaign statistics: calendar bucketing + one-pass rollups.

Reference semantics (hashtags.py): per hashtag, per period type
(w/m/q/y), compute building/highway/amenity/place sums (via
all_changesets_stats join) and distinct contributors, over changesets
matching the exact 4-pattern filter. The reference loops
hashtag × period × metric-group issuing one SQL each (hashtags.py:162-349);
the engine computes ALL hashtags × ALL periods of one frequency in a single
DataFrame DAG: broadcast the hashtag registry, theta-join on the match
predicate, bucket by calendar column math, aggregate once.

Calendar anchors are bespoke (SURVEY §2.8 F6/F7) — tested against goldens:
- weekly buckets anchor at FRIDAY NOON (hashtags.py:165-177): walk back to
  weekday()==4, add 12h — NOT date_trunc('week').
- monthly/quarterly/yearly anchor at first-of-month/quarter({1,4,7,10})/
  Jan-1 midnight — equivalent to date_trunc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tags import tag_get


def week_start(ts: Column) -> Column:
    """Latest Friday-noon ≤ ts (F6). Pure column math:
    shift back 12h, walk the date back to Friday, re-add 12h."""
    shifted = ts - F.expr("INTERVAL 12 HOURS")
    d = F.to_date(shifted)
    # Spark dayofweek: Sun=1..Sat=7, Friday=6
    back = F.pmod(F.dayofweek(d) - F.lit(6), F.lit(7))
    friday = F.date_sub(d, back)
    return friday.cast("timestamp_ntz") + F.expr("INTERVAL 12 HOURS")


def period_start(ts: Column, freq: str) -> Column:
    """Bucket start for freq in {'w','m','q','y'}."""
    if freq == "w":
        return week_start(ts)
    trunc = {"m": "month", "q": "quarter", "y": "year"}[freq]
    # date_trunc returns TIMESTAMP (ltz) even for NTZ input; cast back so
    # bucket boundaries are wall-clock-stable under any session timezone
    return F.date_trunc(trunc, ts).cast("timestamp_ntz")


def period_end(start: Column, freq: str) -> Column:
    """Exclusive period end (the reference stores [start, end] pairs)."""
    if freq == "w":
        return start + F.expr("INTERVAL 7 DAYS")
    n = {"m": 1, "q": 3, "y": 12}[freq]
    return F.add_months(F.to_date(start), n).cast("timestamp_ntz")


def hashtag_match_col(tags: Column, name: Column) -> Column:
    """P4 4-pattern filter with the hashtag name as a COLUMN — enables the
    one-pass broadcast theta-join over the whole registry."""
    comment = F.lower(tag_get(tags, "comment"))
    hashtags = F.lower(tag_get(tags, "hashtags"))
    h = F.lower(name)
    return (
        F.like(comment, F.concat(F.lit("%#"), h, F.lit(" %")))
        | F.like(hashtags, F.concat(F.lit("%#"), h, F.lit(";%")))
        | F.like(comment, F.concat(F.lit("%#"), h))
        | F.like(hashtags, F.concat(F.lit("%#"), h))
    )


def matched_changesets(changesets: DataFrame, hashtags: DataFrame) -> DataFrame:
    """changesets ⋈θ broadcast(hashtag registry) on the 4-pattern match.

    The registry is tiny (campaign list) → broadcast nested-loop is the
    right physical plan; the fact side never shuffles.
    """
    h = F.broadcast(
        hashtags.select(
            F.col("id").alias("hashtag_id"), F.col("name").alias("hashtag_name")
        )
    )
    return changesets.join(h, hashtag_match_col(F.col("tags"), F.col("hashtag_name")))


def first_last_used(changesets: DataFrame, hashtags: DataFrame) -> DataFrame:
    """A6 — min/max created_at per hashtag under the 4-pattern filter
    (reference hashtags.py:60-111)."""
    return (
        matched_changesets(changesets, hashtags)
        .groupBy("hashtag_id", "hashtag_name")
        .agg(
            F.min("created_at").alias("first_used"),
            F.max("created_at").alias("last_used"),
        )
    )


def hashtag_period_stats(
    changesets: DataFrame,
    cs_stats: DataFrame,
    hashtags: DataFrame,
    freq: str,
) -> DataFrame:
    """A7 — one-pass campaign rollup for one period frequency.

    Output: hashtag_id, type, start_date, end_date, total_new_buildings,
    total_uq_contributors, total_new_road_meters, total_new_amenity,
    total_modified_amenity, total_new_places, total_modified_places.

    Physical shape: broadcast registry theta-join (no fact shuffle) →
    equi-join stats on changeset id (AQE picks broadcast when the matched
    side is small) → single groupBy(hashtag, period).
    """
    m = matched_changesets(changesets, hashtags).select(
        "hashtag_id",
        F.col("id").alias("cs_id"),
        F.col("user_id"),
        period_start(F.col("created_at"), freq).alias("start_date"),
    )
    joined = m.join(cs_stats, m["cs_id"] == cs_stats["changeset"], "left")
    out = joined.groupBy("hashtag_id", "start_date").agg(
        F.sum("added_buildings").alias("total_new_buildings"),
        F.countDistinct("user_id").alias("total_uq_contributors"),
        F.sum("added_highway_meters").alias("total_new_road_meters"),
        F.sum("added_amenity").alias("total_new_amenity"),
        F.sum("modified_amenity").alias("total_modified_amenity"),
        F.sum("added_places").alias("total_new_places"),
        F.sum("modified_places").alias("total_modified_places"),
    )
    return out.select(
        "hashtag_id",
        F.lit(freq).alias("type"),
        F.col("start_date"),
        period_end(F.col("start_date"), freq).alias("end_date"),
        # reference coalesces NULL aggregates to 0 (hashtags.py:128,152-157)
        F.coalesce("total_new_buildings", F.lit(0)).alias("total_new_buildings"),
        F.coalesce("total_uq_contributors", F.lit(0)).alias("total_uq_contributors"),
        F.coalesce("total_new_road_meters", F.lit(0.0)).alias("total_new_road_meters"),
        F.coalesce("total_new_amenity", F.lit(0)).alias("total_new_amenity"),
        F.coalesce("total_modified_amenity", F.lit(0)).alias("total_modified_amenity"),
        F.coalesce("total_new_places", F.lit(0)).alias("total_new_places"),
        F.coalesce("total_modified_places", F.lit(0)).alias("total_modified_places"),
    )


def update_first_last_used(
    changesets: DataFrame, registry: DataFrame
) -> DataFrame:
    """A6 incremental — refresh the registry's first/last_used columns.

    Reference (hashtags.py:60-111): hashtags with no first_used get a full
    min/max scan; hashtags that already have one only recompute last_used
    over ``created_at >= last_used`` (the watermark). The engine computes
    BOTH cases in one pass: the full min/max per hashtag is cheap once the
    matched set is built, and the merge picks
        first_used = coalesce(old.first_used, new.first)
        last_used  = greatest(old.last_used, new.last).
    Returns the registry with refreshed columns (same schema).
    """
    fresh = first_last_used(changesets, registry).select(
        F.col("hashtag_id").alias("id"),
        F.to_date("first_used").alias("_new_first"),
        F.to_date("last_used").alias("_new_last"),
    )
    merged = registry.join(fresh, "id", "left")
    return merged.select(
        *[c for c in registry.columns if c not in ("first_used", "last_used")],
        F.coalesce("first_used", "_new_first").alias("first_used"),
        F.greatest("last_used", "_new_last").alias("last_used"),
    )


def hot_changesets(changesets: DataFrame) -> DataFrame:
    """X6 — the `hot_changeset` materialized view
    (reference advanced-queries.md:235-261): changesets whose comment or
    hashtags tag contains 'hotosm' (case-insensitive)."""
    comment = F.lower(tag_get(F.col("tags"), "comment"))
    hashtags = F.lower(tag_get(F.col("tags"), "hashtags"))
    return changesets.filter(
        comment.like("%hotosm%") | hashtags.like("%hotosm%")
    )
