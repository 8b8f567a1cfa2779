"""Gap-filled time-bucket rollups — the `time_bucket_gapfill` shape.

A monitoring consumer of the warehouse ("edits per week per type",
"docs ingested per day per source") needs EXPLICIT ZERO rows for empty
buckets: a chart, an anomaly detector, or a week-over-week diff that
only sees occupied buckets silently interpolates over outages — the
exact signal it exists to catch. Dedicated time-series engines ship
this as a first-class operator (TimescaleDB's ``time_bucket_gapfill``,
public API); relational engines make you build the bucket spine
yourself. This is the Spark-first build:

1. rollup: ONE keyed shuffle, fully decomposable (map-side combine);
2. spine: distinct keys × ``sequence(min_bucket, max_bucket, step)``
   exploded — bounded by |keys| × |buckets|, both orders of magnitude
   below the fact table (that asymmetry is the whole design: the spine
   is dimension-sized, never fact-sized);
3. left join spine ← rollup with ``coalesce(n, 0)`` — two
   dimension-sized inputs, AQE broadcasts the smaller side.

The global [min, max] bucket bounds ride a one-row aggregate broadcast
back via the crossJoin-one-row idiom (text/freq.py precedent) — no
driver round-trip, no collect in the plan.

Cross-engine exactness: ``date_trunc`` buckets are ISO Monday-start in
both Spark and DuckDB; counts are integers. No float anywhere.

At 100 TB: the fact scan feeds one decomposable rollup (partial aggs
absorb hot keys — the measured r4 salting result); the spine explode is
driver-free column arithmetic over a dimension-sized frame. Nothing in
the plan grows with history except the single rollup shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def gapfill_counts(df: DataFrame) -> DataFrame:
    """Per-(key, week) row counts with zero-filled gaps.

    Output: (event_type, bucket_start timestamp, n_events bigint) — one row
    for EVERY (observed key, week) pair between the global min and max
    occupied week, zeros where the key was silent. Rows with NULL ts
    or NULL key are excluded (they have no place on the spine).
    """
    facts = df.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    bk = F.date_trunc("week", F.col("ts"))

    rollup = facts.groupBy(
        F.col("event_type"), bk.alias("bucket_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))

    bounds = facts.agg(
        F.date_trunc("week", F.min("ts")).alias("_b0"),
        F.date_trunc("week", F.max("ts")).alias("_b1"),
    )
    spine = (
        facts.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))  # one-row bounds, broadcast NLJ
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("_b0"), F.col("_b1"), F.expr("interval 7 days"))
            ).alias("bucket_start"),
        )
    )
    return (
        spine.join(rollup, ["event_type", "bucket_start"], "left")
        .select(
            "event_type",
            "bucket_start",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


def anomaly_buckets(df: DataFrame) -> DataFrame:
    """Volume-spike detection over the gap-filled series: flag every
    (event_type, week) whose count exceeds 4 × the type's median
    weekly count — the alert a monitoring consumer actually pages on.

    Runs on ``gapfill_counts`` output BY CONSTRUCTION: computing the
    median over occupied buckets only would inflate it for bursty keys
    (a key active 1 week in 50 would read median = its burst, hiding
    the spike) — the zero rows are load-bearing, which is why this
    operator exists here and not as a one-line groupBy on the facts.

    Exactness: the median is Spark's exact interpolated ``percentile``
    == DuckDB ``quantile_cont`` (the lang_quality_median precedent);
    ``4·median`` and the ``>`` compare are single exact IEEE ops on
    both engines. No libm, no reassociated float sums.

    Scale: one decomposable rollup (inside gapfill), one dimension-sized
    median agg per key, one broadcast join back onto the spine. The
    percentile state is bounded by buckets-per-key, not facts.
    """
    filled = gapfill_counts(df)
    med = filled.groupBy("event_type").agg(
        F.expr("percentile(n_events, 0.5)").alias("median_n"))
    return (
        filled.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "bucket_start",
            "n_events",
            "median_n",
            (F.col("n_events").cast("double")
             > F.lit(4.0) * F.col("median_n")).alias("is_spike"),
        )
    )


def build_distinct_sketches(
    df: DataFrame,
    keys: tuple[str, ...],
    value_col: str,
) -> DataFrame:
    """Per-key HyperLogLog++ sketches for distinct counting — the
    RE-AGGREGATABLE rollup primitive: store one ~2^12-register
    sketch per fine-grained key (cell × week, source × day, ...) and any
    coarser distinct count comes from merging sketches, never from
    re-scanning raw data. That is the pattern that makes "monthly unique
    editors per country" affordable at 100 TB: the raw fact table is
    touched once at build time; every subsequent rollup is
    sketch-count-sized.

    Exactly one decomposable shuffle (hll_sketch_agg combines map-side).
    Output: (keys..., sketch binary). Estimates are register-max based,
    so they are partitioning- and order-independent (pytest-pinned).
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(12)).alias("sketch")
    )


def merge_distinct_sketches(
    sketches: DataFrame,
    rollup_keys: tuple[str, ...],
) -> DataFrame:
    """Merge stored sketches to a coarser grain: (rollup_keys...,
    est_distinct). Union of HLL sketches is register-wise max — lossless
    with respect to the sketch (merged == direct-build on the unioned
    raw data, exactly), so rollups never compound error."""
    return (
        sketches.groupBy(*rollup_keys)
        .agg(F.hll_union_agg("sketch").alias("_m"))
        .select(
            *rollup_keys,
            F.hll_sketch_estimate("_m").cast("bigint").alias("est_distinct"),
        )
    )


def rolling_active_sketches(events: DataFrame) -> DataFrame:
    """DAU + trailing-7-day active users per day from HLL sketches —
    the DAU/WAU board without ever re-scanning raw events: the fact
    table is touched ONCE (one day-keyed sketch build); every trailing
    window is a register-max merge of ≤ 7 stored sketches.

    The naive alternatives both fail at scale: count_distinct OVER a
    RANGE frame holds per-user state per day, and a day×window re-scan
    reads the raw table 7 times. Here each day's sketch contributes to
    its next 7 target days via a bounded sequence-explode (7 rows per
    day — dimension-sized), one
    groupBy merges. Merge is lossless wrt the sketch (register max), so
    the trailing estimate EQUALS a direct build over the window's raw
    union — pytest-pinned.

    Output: (day date, dau_est, wactive_est) for days present in the
    data (trailing windows anchored on observed days only).
    """
    by_day = events.select(
        F.col("ts").cast("date").alias("day"), F.col("user_id").alias("u")
    )
    sk = by_day.groupBy("day").agg(
        F.hll_sketch_agg("u").alias("sketch")
    )
    contrib = sk.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        F.col("day"), "sketch",
    ).select(F.date_add(F.col("day"), F.col("off")).alias("tday"), "sketch")
    wactive = contrib.groupBy("tday").agg(
        F.hll_union_agg("sketch").alias("_m")
    ).select(
        F.col("tday").alias("day"),
        F.hll_sketch_estimate("_m").cast("bigint").alias("wactive_est"),
    )
    dau = sk.select(
        "day", F.hll_sketch_estimate("sketch").cast("bigint").alias("dau_est")
    )
    return dau.join(wactive, "day").select("day", "dau_est", "wactive_est")


def cusum_changepoint(
    counts: DataFrame,
    key_cols: list,
    order_col: str = "week",
    min_points: int = 8,
) -> DataFrame:
    """Per-key CUSUM changepoint estimate over an ordered count series,
    in EXACT integer arithmetic (Page 1954 cumulative-sum test; the
    argmax-|S| changepoint estimator is the classic offset-CUSUM form,
    public). Answers "WHEN did this cell's activity level shift?" —
    the sequential sibling of anomaly_buckets (which asks "is this
    single bucket off?") and trending (recent-vs-past ratio): CUSUM
    integrates evidence across the whole series, so a modest persistent
    step that no single-bucket z-test flags still peaks sharply.

    For each key's observed series x_1..x_T (ordered by ``order_col``,
    t = 1-based rank): S_t = Σ_{i≤t} (x_i − x̄). Multiplying through by
    T clears the rational mean — S'_t = T·prefix_t − t·total, an exact
    BIGINT both engines derive identically. Output per key with ≥
    ``min_points`` observations:

    - ``t_star``, ``at`` — the argmax of |S'_t| (1-based rank and the
      ``order_col`` value there); ties break to the SMALLEST t via one
      min(struct) argmax (no window re-scan, the home_cells idiom)
    - ``s_star`` — signed S'_{t*}; > 0 means the early segment sits
      ABOVE the series mean (a step DOWN after ``at``), < 0 a step UP
    - ``total``, ``n_points`` — series sum and length (consumers
      recover the unscaled CUSUM as s_star / n_points)

    Scale posture (100 TB): one decomposable (key, bucket) rollup
    upstream (the caller's — e.g. the weekly cell rollup), then ONE
    key-partitioned window pass (rank + prefix + the two per-key
    aggregates ride the same sort) and ONE min(struct) groupBy — no
    global window, no self-join, skew bounded by the longest single
    series (series length = weeks of history, inherently small).
    """
    from pyspark.sql.window import Window

    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(F.asc(order_col))
    wall = Window.partitionBy(*keys)
    x = F.col("n").cast("long")
    base = (
        counts.withColumn("_t", F.row_number().over(w).cast("long"))
        .withColumn("_prefix", F.sum(x).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_total", F.sum(x).over(wall))
        .withColumn("_len", F.count(F.lit(1)).over(wall).cast("long"))
    )
    s = F.col("_len") * F.col("_prefix") - F.col("_t") * F.col("_total")
    cand = base.where(F.col("_len") >= F.lit(min_points)).select(
        *key_cols,
        F.struct(
            (-F.abs(s)).alias("_negabs"),
            F.col("_t").alias("t_star"),
            F.col(order_col).alias("at"),
            s.alias("s_star"),
            F.col("_total").alias("total"),
            F.col("_len").alias("n_points"),
        ).alias("_c"),
    )
    m = cand.groupBy(*key_cols).agg(F.min("_c").alias("_m"))
    return m.select(
        *key_cols,
        F.col("_m.t_star").alias("t_star"),
        F.col("_m.at").alias("at"),
        F.col("_m.s_star").alias("s_star"),
        F.col("_m.total").alias("total"),
        F.col("_m.n_points").alias("n_points"),
    )


def mann_kendall(counts: DataFrame, key_cols: list, min_points: int = 8) -> DataFrame:
    """Per-key Mann–Kendall monotonic trend test in EXACT integer
    arithmetic (Mann 1945 / Kendall 1975, public; the standard trend
    detector for environmental and spatio-temporal series). CUSUM asks
    "when did the level shift?"; Mann–Kendall asks "is there a
    monotonic trend at all, and which way?" — robust to outliers and
    distribution-free, because it only uses SIGNS of pairwise
    differences:

        S = Σ_{i<j} sign(x_j − x_i)

    with the tie-corrected variance (×18 to stay integral):

        18·Var(S) = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)

    and the continuity-corrected z-test |S| ≥ 1, z = (|S|−1)/√Var >
    49/25 = 1.96 squared into the integer gate

        18·(|S|−1)²·25² > 49²·var18.

    Output per key with ≥ ``min_points`` observations: (key…, n_points,
    s_stat, var18, trend ∈ {−1,0,1}, is_sig ∈ {0,1}). No sqrt, no
    float, bit-identical across engines.

    Scale posture (100 TB): input is the bounded per-(key, bucket)
    rollup; the pair stage is ONE key-keyed self-equi-join whose output
    is Σ_k T_k² — bounded by SERIES LENGTH squared (buckets of history,
    ~10²–10³), never by the fact table; tie groups are one (key, value)
    rollup. Three keyed shuffles total, all decomposable.
    """
    base = counts.select(
        *key_cols,
        F.col("day").alias("_o"),
        F.col("n").cast("long").alias("_x"),
    )
    a = base.select(*key_cols, F.col("_o").alias("_oa"),
                    F.col("_x").alias("_xa"))
    b = base.select(*key_cols, F.col("_o").alias("_ob"),
                    F.col("_x").alias("_xb"))
    pairs = a.join(b, key_cols).where(F.col("_oa") < F.col("_ob"))
    s_df = pairs.groupBy(*key_cols).agg(
        F.sum(F.signum(F.col("_xb") - F.col("_xa")).cast("long"))
        .alias("s_stat"),
    )
    n_df = base.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"))
    ties = (
        base.groupBy(*key_cols, "_x")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .groupBy(*key_cols)
        .agg(F.sum(
            F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
        ).alias("_tie_corr"))
    )
    j = (
        n_df.join(s_df, key_cols)
        .join(ties, key_cols)
        .where(F.col("n_points") >= F.lit(min_points))
    )
    n = F.col("n_points")
    var18 = n * (n - 1) * (2 * n + 5) - F.col("_tie_corr")
    absm1 = F.abs(F.col("s_stat")) - 1
    sig = (
        (F.abs(F.col("s_stat")) >= 1)
        & (F.lit(18) * absm1 * absm1 * F.lit(25 * 25)
           > F.lit(49 * 49) * var18)
    )
    return j.select(
        *key_cols,
        "n_points",
        "s_stat",
        var18.cast("long").alias("var18"),
        F.signum(F.col("s_stat")).cast("int").alias("trend"),
        sig.cast("int").alias("is_sig"),
    )


def theil_sen_slope(counts: DataFrame, key_cols: list) -> DataFrame:
    """Per-key Theil–Sen slope — the robust trend MAGNITUDE companion to
    ``mann_kendall`` (Theil 1950 / Sen 1968, public; MK answers "is
    there a trend", Sen answers "how steep"): the median of all pairwise
    slopes (x_j − x_i)/(t_j − t_i), insensitive to up to ~29% outliers
    where least squares is wrecked by one.

    Exactness contract: t is epoch DAYS of ``day`` (integer), so
    every pairwise slope is the exact rational num/den (den > 0). The
    median is the LOWER median of the N = T(T−1)/2 fractions under the
    order (num/den AS DOUBLE, num, den) — the double quotient is
    computed identically by both engines, and the (num, den) tiebreak
    makes the order total, so the picked FRACTION is engine-exact
    (no averaging of the two middle elements on even N — averaging
    would leave the rational domain). Output: (key…, n_pairs, med_num,
    med_den, slope_per_day — ONE IEEE division of the exact pair).

    Scale posture (100 TB): same bounded shape as mann_kendall — ONE
    key-keyed self-equi-join (Σ T² pairs, bounded by series length²),
    ONE key-partitioned window sort of those pairs (per-key rows ≤
    ~10³), ONE filter on the middle rank. Never fact-sized.
    """
    from pyspark.sql.window import Window

    base = counts.select(
        *key_cols,
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long").alias("_t"),
        F.col("n").cast("long").alias("_x"),
    )
    a = base.select(*key_cols, F.col("_t").alias("_ta"),
                    F.col("_x").alias("_xa"))
    b = base.select(*key_cols, F.col("_t").alias("_tb"),
                    F.col("_x").alias("_xb"))
    pairs = (
        a.join(b, key_cols)
        .where(F.col("_ta") < F.col("_tb"))
        .select(
            *key_cols,
            (F.col("_xb") - F.col("_xa")).alias("num"),
            (F.col("_tb") - F.col("_ta")).alias("den"),
        )
    )
    n_df = base.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_npts"))
    w = Window.partitionBy(*key_cols).orderBy(
        (F.col("num") / F.col("den")).asc(), F.col("num").asc(),
        F.col("den").asc(),
    )
    ranked = (
        pairs.withColumn("_rn", F.row_number().over(w).cast("long"))
        .withColumn(
            "_np",
            F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
            .cast("long"),
        )
    )
    med = ranked.where(F.col("_rn") == F.expr("(_np + 1) div 2"))
    return (
        med.join(n_df, key_cols)
        .where(F.col("_npts") >= F.lit(6))
        .select(
            *key_cols,
            F.col("_np").alias("n_pairs"),
            F.col("num").alias("med_num"),
            F.col("den").alias("med_den"),
            (F.col("num") / F.col("den")).alias("slope_per_day"),
        )
    )
