"""Per-user event-stream analytics: sessionization, funnels, cohorts,
dwell, transitions, cadence — the gaps-and-islands / lag-window family.

A web-scale training-data pipeline needs user/session rollups (session
boundaries feed both analytics and per-session document grouping). The
reference has no session operator (its closest shape is the chunked
driver loop, insights.py:1-40); this is engine-native. Everything here
shares ONE cost envelope: windows and joins keyed on the user partition,
no global shuffle, skew bounded by the busiest single user:

Sessionization (:func:`sessionize`): classic gaps-and-islands —
``lag(ts) OVER (PARTITION BY user ORDER BY ts)`` → new-session flag when
the gap exceeds the timeout → running SUM of flags = session index →
one groupBy((user, session_idx)). Two window passes + one aggregation,
ALL partitioned by user_id: no global shuffle, no driver state, skew
bounded by the busiest single user (AQE splits beyond that).

Exactly SQL-expressible (lag/sum windows), so the driver oracle pins the
full semantics including tie handling: ties on ts order by the event id
so both engines see the same lag sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(events: DataFrame, gap_minutes: float = 30.0) -> DataFrame:
    """One row per (user, session): session_idx (1-based, chronological),
    session_start, session_end, n_events.

    A new session starts when the gap since the previous event of the SAME
    user exceeds ``gap_minutes`` (strict >; an exactly-gap-sized pause
    stays in-session, matching the SQL oracle's comparison). The gap test
    is interval arithmetic (``ts - prev > INTERVAL n SECONDS``): exact
    integer microseconds on both engines — no epoch floats, no timezone
    interpretation of TIMESTAMP_NTZ.
    """
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_us = int(round(float(gap_minutes) * 60.0 * 1_000_000))
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (
            (F.col("ts") - prev_ts)
            > F.expr(f"INTERVAL {gap_us} MICROSECONDS")
        )
    ).cast("int")
    sess = (
        events.select("user_id", "ts", "event_id")
        .withColumn("_new", is_new)
        .withColumn("session_idx", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return (
        sess.groupBy(F.col("user_id"), "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


def rolling_user_activity(
    events: DataFrame,
    window_seconds: float = 3600.0,
) -> DataFrame:
    """Trailing-window activity per event: for every event, how many
    events the SAME user produced in the preceding `window_seconds`
    (inclusive of now) — the RANGE-frame window family (sliding count,
    no fixed bucketing like the tumbling tile/period rollups).

    Frame semantics are VALUE-based (RANGE, not ROWS): all events with
    equal timestamps fall in or out of the frame together, so the result
    is deterministic regardless of tie order — no tiebreaker needed.
    ORDER BY is epoch seconds as a double (micros/1e6 — the identical
    IEEE value DuckDB's epoch() computes), because Spark range frames
    need a numeric sort key. One user-keyed shuffle, like sessionize.
    """
    sec = F.col("ts").cast("timestamp").cast("double")
    # pyspark rangeBetween takes integer bounds (cast to the double order
    # key at plan time); fractional window lengths would need an expr frame
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-int(window_seconds), 0)
    )
    return events.select(
        # the alias projects a copy of the window's partition key; without
        # it the window's input projection (and so the plan) changes
        F.col("user_id").alias("user_id"),
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing"),
    )


def funnel_steps(
    events: DataFrame,
    steps: tuple[str, ...],
    max_gap_hours: float | None = None,
) -> DataFrame:
    """Ordered conversion funnel: one row per step with how many users
    reached it, greedy earliest-completion matching.

    Step 1 matches each user's EARLIEST event of type steps[0]; step k
    matches the earliest event of type steps[k-1] STRICTLY after the
    user's matched step k-1 (and within max_gap_hours of it, if set).
    Greedy-earliest is the standard funnel semantics (any other matching
    reaches no more users: an earlier step-k match only widens what can
    follow it).

    Plan shape: k-1 filtered scans of the event table, each pre-shrunk by
    predicate pushdown (type equality reaches the Parquet scan), joined to
    the previous step's (user, ts) aggregate on the user key — the
    surviving-user set shrinks monotonically, so every join after the
    first is against a smaller right side and AQE broadcasts it once it
    fits. No window over all events, no per-user state: at 100 TB this is
    k-1 user-keyed joins, each smaller than the last.

    Output: (step int 1-based, event_type, users bigint, conversion
    double = users / step-1 users).
    """
    from functools import reduce

    def summary(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("users")).select(
            F.lit(idx).alias("step"), F.lit(name).alias("event_type"), "users"
        )

    cur = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("_t"))
    )
    outs = [summary(cur, 1, steps[0])]
    for idx, name in enumerate(steps[1:], start=2):
        nxt = events.filter(F.col("event_type") == name).select(
            "user_id", F.col("ts").alias("_ts")
        )
        cond = F.col("_ts") > F.col("_t")
        if max_gap_hours is not None:
            gap_us = int(round(float(max_gap_hours) * 3600.0 * 1_000_000))
            cond = cond & (
                F.col("_ts") <= F.col("_t") + F.expr(f"INTERVAL {gap_us} MICROSECONDS")
            )
        cur = (
            nxt.join(cur.select("user_id", "_t"), "user_id")
            .filter(cond)
            .groupBy("user_id")
            .agg(F.min("_ts").alias("_t"))
        )
        outs.append(summary(cur, idx, name))
    u = reduce(DataFrame.unionByName, outs)
    base_w = Window.orderBy(F.lit(1))  # k rows total: global frame is fine
    base = F.max("users").over(base_w).cast("double")
    # NULL (not a crash) when nobody entered the funnel — ANSI sessions
    # turn 0/0 into DIVIDE_BY_ZERO otherwise
    return u.withColumn(
        "conversion",
        F.when(base > 0, F.col("users").cast("double") / base),
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users grouped by first-signup week; for
    each cohort and week offset k, how many were active (ANY event) in
    cohort_week + k, and what fraction of the cohort that is.

    Plan shape: one user-keyed groupBy (first signup), one user-keyed
    join back to events (co-partitioned with the groupBy output — AQE
    reuses the exchange), a distinct on (cohort, user, week) to collapse
    per-week multiplicity, then a (cohort, offset)-keyed count-distinct.
    The wide fact table is touched ONCE; everything downstream is
    user- or cohort-keyed aggregation. Output is weeks × offsets rows —
    tiny at any input scale (linear scan, bounded output).

    Weeks are date_trunc('week') — Monday-aligned in both Spark and
    standard SQL engines, so offsets are exact integer day-diffs / 7.

    Output: (cohort_week timestamp, week_offset int, active_users,
    cohort_size, retention double).
    """
    su = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("_signup_ts"))
        .select(
            F.col("user_id").alias("_u"),
            F.date_trunc("week", F.col("_signup_ts")).alias("cohort_week"),
        )
    )
    act = (
        events.select(F.col("user_id").alias("_u"), F.col("ts"))
        .join(su, "_u")
        .select(
            "cohort_week",
            "_u",
            F.date_trunc("week", F.col("ts")).alias("_aw"),
        )
        .filter(F.col("_aw") >= F.col("cohort_week"))
        .distinct()
    )
    sizes = su.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    ret = (
        act.withColumn(
            "week_offset",
            (
                F.datediff(F.col("_aw").cast("date"), F.col("cohort_week").cast("date"))
                / 7
            ).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col("_u")).cast("bigint").alias("active_users"))
    )
    return ret.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "active_users",
        "cohort_size",
        (F.col("active_users").cast("double") / F.col("cohort_size").cast("double")
         ).alias("retention"),
    )


def dwell_segments(df: DataFrame, region_col: str = "region") -> DataFrame:
    """Geofence dwell rollup: per (user, region), how many separate VISITS
    (maximal runs of consecutive same-region events in the user's
    timeline) and the total observed dwell time inside.

    Gaps-and-islands on region CHANGES (same machinery as sessionize,
    different break predicate): lag(region) per user → change flag →
    running sum = visit id → one groupBy. Rows outside every region
    (NULL) still participate in run-breaking — leaving a region ends the
    visit — and are dropped only from the output. Observed dwell of a
    visit = last event ts − first event ts within the run (exact integer
    microseconds; a one-event visit dwells 0). Everything is keyed on the
    user partition: one window shuffle + one aggregation, same cost
    envelope as sessionize at any scale.

    Output: (user_id, region, n_visits, dwell_us).
    """
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag(region_col).over(w)
    changed = (
        prev.isNull() & F.col(region_col).isNotNull()
    ) | ~(prev.eqNullSafe(F.col(region_col)))
    runs = (
        df.select("user_id", "ts", "event_id", region_col)
        .withColumn("_new", changed.cast("int"))
        .withColumn(
            "_run",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        runs.filter(F.col(region_col).isNotNull())
        .groupBy(F.col("user_id"), region_col, "_run")
        .agg(
            # NTZ→LTZ cast is value-identity under the engine's pinned UTC
            # session timezone (session.py:56; rolling_user_activity
            # precedent) — unix_micros only accepts LTZ
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).alias("_dwell_us")
        )
        .groupBy("user_id", region_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_visits"),
            F.sum("_dwell_us").cast("bigint").alias("dwell_us"),
        )
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition counts over per-user event streams:
    for each (current type → next type) pair, how often it occurs and
    its probability among the current type's outgoing transitions — the
    clickstream model behind next-action prediction and funnel design.

    One lag window per user (same shuffle as sessionize), one pair
    rollup; the probability is a single division of two BIGINT counts
    (total via a window over the TYPE-PAIR rollup, whose cardinality is
    |types|² — a few dozen rows, not data-sized). Last events of each
    user have no successor and drop out.

    Output: (cur, nxt, n, p).
    """
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_nxt", F.lead("event_type").over(w))
        .filter(F.col("_nxt").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), F.col("_nxt").alias("nxt"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = Window.partitionBy("cur")
    return pairs.select(
        "cur", "nxt", "n",
        (F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
         ).alias("p"),
    )


def event_gap_stats(events: DataFrame) -> DataFrame:
    """Activity-cadence profile: per event type, the median and p90 of
    the gap (seconds) since the SAME user's previous event of that type
    — the inter-arrival distribution behind session-timeout tuning and
    bot detection (machine traffic has freakishly tight, regular gaps).

    One lag window per (user, type) — same key family as sessionize —
    then a per-type exact percentile rollup (interpolated `percentile`
    == quantile_cont, the lang_quality_median parity rule; percentile
    state is bounded per type, and |types| is small by definition for
    this rollup to make sense). Gaps are exact integer microseconds
    converted with one division by 1e6 — identical IEEE doubles on both
    engines. First events per (user, type) have no gap and drop out.

    Output: (event_type, n_gaps, p50_gap_s, p90_gap_s).
    """
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    prev = F.lag("ts").over(w)
    gaps = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn(
            "_gap_s",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
            ).cast("double")
            / F.lit(1000000.0),
        )
        .filter(F.col("_gap_s").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.expr("percentile(_gap_s, 0.5)").alias("p50_gap_s"),
        F.expr("percentile(_gap_s, 0.9)").alias("p90_gap_s"),
    )


def covered_time(events: DataFrame) -> DataFrame:
    """Interval-UNION length per user — "how many seconds was the user
    actually active?" when each event opens a 600-second activity
    interval: overlapping intervals must count once (the classic
    interval-coalescing problem; Σ min(gap, window) over the time-sorted
    stream is the closed form, no merge loop needed).

    With events sorted by (epoch, id) per user, event i covers
    ``min(next_epoch − epoch, 600)`` NEW seconds (its window up to
    where the next event's window takes over), and the last event covers
    the full window — so the union is ONE lead() window away, exact
    integer seconds. Duplicate timestamps contribute 0 (fully shadowed),
    which is what union semantics demand. The companion
    ``peak concurrency`` (sweep-line) answers "how MANY intervals at
    once"; this answers "how LONG was anything open".

    Output: (user_id, n_events, covered_s). One user-partitioned window
    + one decomposable rollup; skew bounded by the busiest user.
    """
    pts = events.select(
        F.col("user_id"),
        F.col("ts").cast("timestamp").cast("long").alias("_ep"),
        F.col("event_id").alias("_id"),
    )
    w = Window.partitionBy("user_id").orderBy("_ep", "_id")
    nxt = F.lead("_ep").over(w)
    contrib = F.when(
        nxt.isNull(), F.lit(600)
    ).otherwise(F.least(nxt - F.col("_ep"), F.lit(600)))
    return (
        pts.withColumn("_c", contrib)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("_c").cast("long").alias("covered_s"),
        )
    )
