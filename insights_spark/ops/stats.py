"""Per-changeset conditional-aggregate battery — `all_changesets_stats`.

Reference semantics (changesetStats.py:59-108, SURVEY §2.4 A1/A2): over
non-delete element-history rows, GROUP BY changeset with ten conditional
counters plus two geodesic-length sums. The reference drives this as a
Python loop over 50,000-id chunks issuing one INSERT..SELECT each (and has
an off-by-one in the 10k repair pass); the engine computes it as ONE
shuffle — partial aggregation map-side absorbs mega-changesets (every
counter is a decomposable SUM), and AQE handles the skew that remains.

Null semantics match Postgres: a predicate over a missing tag value is
NULL, `(NULL)::int` is NULL, and SUM skips NULLs — Spark's three-valued
logic and null-skipping SUM behave identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geo.length import way_length_m
from ..session import pin
from .tags import tag_exists, tag_get

# exact 7-value place list (reference changesetStats.py:87-92)
PLACE_VALUES = (
    "isolated_dwelling", "hamlet", "village", "neighbourhood",
    "suburb", "town", "city",
)


def _cnt(pred: Column) -> Column:
    return F.sum(pred.cast("int"))


def changeset_stats(elements: DataFrame) -> DataFrame:
    """elements (element_history rows) → one stats row per changeset.

    One groupBy: map-side partial aggregation collapses a mega-changeset
    to one partial row per map task before the shuffle, so no explicit
    salting is needed (SURVEY §4 X10); AQE handles the rest.
    """
    e = elements.filter(F.col("action") != "delete")
    t = F.col("tags")
    ty = F.col("type")
    act = F.col("action")

    building = tag_exists(t, "building")
    amenity = tag_exists(t, "amenity")
    highway = tag_exists(t, "highway")
    place_in = tag_get(t, "place").isin(*PLACE_VALUES)
    way_rel = ty.isin("way", "relation")
    way_node = ty.isin("way", "node")

    preds = {
        "added_buildings": building & way_rel & (act == "create"),
        "modified_buildings": building & way_rel & (act == "modify"),
        "added_amenity": amenity & way_node & (act == "create"),
        "modified_amenity": amenity & way_node & (act == "modify"),
        "added_highway": highway & (act == "create"),
        "modified_highway": highway & (act == "modify"),
        "added_places": place_in & way_node & (act == "create"),
        "modified_places": place_in & way_node & (act == "modify"),
    }
    return e.groupBy("changeset").agg(
        *[_cnt(p).alias(name) for name, p in preds.items()]
    )


def changeset_stats_with_meters(elements: DataFrame) -> DataFrame:
    """Full battery incl. added/modified_highway_meters (A2).

    The geodesic CASE-sum over ``construct_geometry`` becomes: reconstruct
    highway way/relation geometries once (way_length_m — one node-history
    join), then join lengths back by (id, version) and sum per changeset.
    The reference recomputed the geometry per chunk per run; here the
    length table is a reusable intermediate.
    """
    counts = changeset_stats(elements)

    hw = elements.filter(
        (F.col("action") != "delete")
        & tag_exists(F.col("tags"), "highway")
        & F.col("type").isin("way", "relation")
    )
    nodes = elements.filter(F.col("type") == "node")
    lengths = way_length_m(
        hw.select("id", "type", "version", "timestamp", "nds"), nodes
    )
    meters = (
        hw.join(
            lengths,
            (hw["id"] == lengths["way_id"]) & (hw["version"] == lengths["way_version"]),
            "left",
        )
        .groupBy("changeset")
        .agg(
            F.sum(
                F.when(F.col("action") == "create", F.coalesce("length_m", F.lit(0.0)))
                .otherwise(0.0)
            ).alias("added_highway_meters"),
            F.sum(
                F.when(F.col("action") == "modify", F.coalesce("length_m", F.lit(0.0)))
                .otherwise(0.0)
            ).alias("modified_highway_meters"),
        )
    )
    return counts.join(meters, "changeset", "left").na.fill(
        {"added_highway_meters": 0.0, "modified_highway_meters": 0.0}
    )


def missed_changesets(elements: DataFrame, stats: DataFrame) -> DataFrame:
    """J3 — repair anti-join (reference changesetStats.py:221-243):
    distinct element changesets LEFT JOIN stats, keep those with no stats
    row. The reference then loops one INSERT per missed id
    (changesetStats.py:246-290); the engine recomputes the whole missed
    set in one set-based pass, which the reference's own comment wishes
    for (changesetStats.py:287)."""
    recent = elements.select("changeset").distinct()
    return recent.join(stats.select("changeset"), "changeset", "left_anti")


def approx_distinct_gate(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """A3 at scale — HyperLogLog++ count-distinct with a built-in exactness
    gate, the ann_ivf pattern applied to cardinality: the sketch answer is
    approximate BY DESIGN (so no cross-engine value can be pinned), so the
    query emits the EXACT count plus a boolean `within_bounds` asserting
    the sketch landed inside 5% (5× the requested 1% rsd — HLL++ error
    is well inside 3σ there). The oracle reproduces the
    exact count and TRUE; a broken sketch (or a silent change in Spark's
    HLL parameters) flips the boolean and fails the hash.

    Why it exists: exact countDistinct shuffles every distinct value; the
    sketch is a fixed ~KB per group, mergeable (partial aggregation
    map-side, and across incremental pipeline batches via
    `approx_count_distinct` over unioned sketches at 100 TB). The exact
    leg here is the CERTIFICATE, priced at test scale — production calls
    drop it and keep only the sketch column.
    """
    gb = list(group_cols or [])
    out = df.groupBy(*gb).agg(
        F.countDistinct(col).alias("n_exact"),
        F.approx_count_distinct(col, rsd=0.01).alias("_n_approx"),
    )
    err = F.abs(F.col("_n_approx") - F.col("n_exact")) / F.col("n_exact")
    return out.select(
        *gb,
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (err <= F.lit(0.05)).alias("within_bounds"),
    )


def approx_quantile_gate(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile SKETCH with a built-in exactness certificate — the
    approx_distinct_gate pattern for percentiles: emits the EXACT
    interpolated percentile (bit-matchable against DuckDB quantile_cont,
    proven in the lang_quality_median oracle) plus `within_bounds` =
    relative gap between `percentile_approx` (KLL-style rank sketch,
    mergeable, bounded memory) and the exact median ≤ 5%.

    At 100 TB the exact percentile is a full sort per group; the sketch is
    the production path (fixed memory, partial-aggregable map-side, and
    mergeable across incremental batches). The exact leg here is the
    certificate, priced at test scale.
    """
    gb = list(group_cols or [])
    out = df.groupBy(*gb).agg(
        F.expr(f"percentile({col}, 0.5)").alias("exact_q"),
        F.expr(f"percentile_approx({col}, 0.5, 10000)").alias("_approx_q"),
    )
    denom = F.greatest(F.abs(F.col("exact_q")), F.lit(1e-12))
    return out.select(
        *gb,
        F.col("exact_q").cast("double").alias("exact_q"),
        (
            (F.abs(F.col("_approx_q") - F.col("exact_q")) / denom)
            <= F.lit(0.05)
        ).alias("within_bounds"),
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Winsorized robust statistics per group in EXACT integer arithmetic
    (winsorization per Tukey/Dixon, public) — the outlier-resistant
    aggregate a profiling layer wants next to the raw mean, with the
    percentile defined RANK-EXACTLY so two engines cannot disagree:

        k_q = max(1, ⌈q·n/100⌉),  p_q = the k_q-th smallest value, q ∈ {5, 95}

    (type-1/lower quantile; the value at a rank is well-defined under
    ties regardless of tie order). Values are quantized to integer
    1/100 units (lossless on 2-decimal money-style columns), the
    winsorized sum clamps each value into [p_5, p_95] before an exact
    BIGINT sum — no float accumulation anywhere; the winsorized MEAN is
    the consumer's one division.

    Output: (group, n, lo_cents, hi_cents, wins_sum_cents).

    Scale posture: one group-keyed window (rank + count share it) + one
    broadcast-back of the 2-row-per-group percentile table + one
    decomposable rollup — skew bounded by the hottest single group, the
    same posture as every per-group window in the suite.
    """
    from pyspark.sql.window import Window

    v = (
        df.select(
            F.col(group_col).alias("grp"),
            F.round(F.col(value_col) * 100).cast("long").alias("_v"),
        )
        .where(F.col("_v").isNotNull())
    )
    w = Window.partitionBy("grp").orderBy("_v")
    ranked = pin(v.select(
        "grp", "_v",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("_n"),
    ))
    k_lo = F.greatest(F.lit(1), F.ceil(F.col("_n") * 5 / 100))
    k_hi = F.greatest(F.lit(1), F.ceil(F.col("_n") * 95 / 100))
    bounds = (
        ranked.where((F.col("_rn") == k_lo) | (F.col("_rn") == k_hi))
        .groupBy("grp")
        .agg(F.min("_v").alias("lo_cents"), F.max("_v").alias("hi_cents"))
    )
    return (
        ranked.join(F.broadcast(bounds), "grp")
        .groupBy("grp")
        .agg(
            F.max("_n").cast("long").alias("n"),
            F.min("lo_cents").cast("long").alias("lo_cents"),
            F.min("hi_cents").cast("long").alias("hi_cents"),
            F.sum(
                F.greatest(F.col("lo_cents"), F.least(F.col("hi_cents"), F.col("_v")))
            ).cast("long").alias("wins_sum_cents"),
        )
        .withColumnRenamed("grp", group_col)
    )
