"""Relational and time-series queries: the ops/ builders (latest
version, campaign stats, sessions, SCD2, sketches), inline relational
builders, and the runtime/table-format builders (salting, layout, table
snapshots, constraints, profiles)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insights_spark.queries import query
from insights_spark.queries._fixtures import (
    _EV_PTS,
    _points,
    _s2_cells_sql,
    _t,
)


_CONDITIONAL_BATTERY_SQL = """
            SELECT l_orderkey,
                   CAST(sum((l_quantity > 25)::int) AS BIGINT) AS qty_gt25,
                   CAST(sum((l_discount > 0.05)::int) AS BIGINT) AS disc_gt5,
                   CAST(sum((l_tax > 0.04 AND l_returnflag = 'R')::int) AS BIGINT) AS taxed_returns,
                   CAST(sum((l_returnflag IN ('A','N'))::int) AS BIGINT) AS flag_an,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem GROUP BY l_orderkey
        """


@query("conditional_battery", headline=True, oracle=_CONDITIONAL_BATTERY_SQL)
def _q_conditional_battery(spark, sf_dir):
    """A1/P5/P7 — conditional-sum battery, GROUP BY order key."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.sum((F.col("l_quantity") > 25).cast("int")).alias("qty_gt25"),
        F.sum((F.col("l_discount") > 0.05).cast("int")).alias("disc_gt5"),
        F.sum(((F.col("l_tax") > 0.04) & (F.col("l_returnflag") == "R")).cast("int")
              ).alias("taxed_returns"),
        F.sum(F.col("l_returnflag").isin("A", "N").cast("int")).alias("flag_an"),
        F.count(F.lit(1)).alias("n"),
    )


_SEMI_JOIN_SQL = """
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(l_linenumber) AS BIGINT) AS sum_line
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderstatus = 'O' AND o_totalprice > 1000)
            GROUP BY l_returnflag
        """


@query("semi_join", headline=True, oracle=_SEMI_JOIN_SQL)
def _q_semi_join(spark, sf_dir):
    """J1 — IN-subquery semi-join lineitem ⋉ filtered orders."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 1000)
    )
    return (
        li.join(F.broadcast(o.select(F.col("o_orderkey").alias("l_orderkey"))),
                "l_orderkey", "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_linenumber").alias("sum_line"))
    )


@query("anti_join", oracle="""
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
            FROM orders o
            LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity > 49) l
              ON o.o_orderkey = l.l_orderkey
            WHERE l.l_orderkey IS NULL
            GROUP BY o_orderstatus
        """)
def _q_anti_join(spark, sf_dir):
    """J3 — left-outer + IS NULL ⇒ anti-join (missed-changeset repair shape)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return (
        o.join(li.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("latest_event", headline=True, oracle="""
            SELECT user_id, event_id, event_type, value FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                         ORDER BY ts DESC) AS rn
              FROM events) WHERE rn = 1
        """)
def _q_latest_event(spark, sf_dir):
    """J5 — latest-version window dedup (latest event per user)."""
    from insights_spark.ops.latest import latest_version

    ev = _t(spark, sf_dir, "events")
    return latest_version(
        ev, keys=("user_id",), version_col="ts", cutoff_col="ts", cutoff=None
    ).select("user_id", "event_id", "event_type", "value")


@query("latest_event_asof", oracle="""
            SELECT user_id, event_id, event_type FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                         ORDER BY ts DESC) AS rn
              FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1
        """)
def _q_latest_event_asof(spark, sf_dir):
    """J5 as-of — latest event per user strictly before a cutoff."""
    from insights_spark.ops.latest import latest_version

    ev = _t(spark, sf_dir, "events")
    # NTZ literal: a naive-datetime lit would be TIMESTAMP_LTZ and shift
    # under a non-UTC driver session timezone
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    return latest_version(
        ev, keys=("user_id",), version_col="ts", cutoff_col="ts", cutoff=cutoff
    ).select("user_id", "event_id", "event_type")


@query("scalar_pick", oracle="""
            SELECT c_nationkey, c_name FROM (
              SELECT c_nationkey, c_name,
                     row_number() OVER (PARTITION BY c_nationkey
                                        ORDER BY c_custkey DESC) AS rn
              FROM customer) WHERE rn = 1
        """)
def _q_scalar_pick(spark, sf_dir):
    """J4 — deterministic scalar-subquery replacement (max-key value pick)."""
    from insights_spark.ops.latest import scalar_pick

    c = _t(spark, sf_dir, "customer")
    return scalar_pick(c, ("c_nationkey",), "c_name", "c_custkey")


@query("tokenize", oracle="""
            SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
              SELECT trim(unnest(string_split_regex(lower(text), '\\s+'))) AS token
              FROM documents)
            WHERE token LIKE 's%' GROUP BY token
        """)
def _q_tokenize(spark, sf_dir):
    """P9/F17/A9 — regexp split → trim → prefix filter → distinct counts."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"))
        .select(F.trim(F.col("tok")).alias("token"))
        .filter(F.col("token").startswith("s"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("pattern_filter", oracle="""
            SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
            WHERE lower(text) LIKE '% merge %' OR lower(text) LIKE 'merge %'
               OR lower(text) LIKE '% merge' OR lower(text) = 'merge'
            GROUP BY lang
        """)
def _q_pattern_filter(spark, sf_dir):
    """P3/P4 — multi-pattern LIKE disjunction with word-boundary anchors."""
    d = _t(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    m = (
        t.like("% merge %") | t.like("merge %") | t.like("% merge") | (t == "merge")
    )
    return d.filter(m).groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


@query("json_props", oracle="""
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
            FROM events
            WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
            GROUP BY event_type
        """)
def _q_json_props(spark, sf_dir):
    """P1/P2 — key-exists + typed value access on a map-ish column (the
    events.props JSON stands in for hstore tags)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull() & (F.col("k") >= 50))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


@query("month_rollup", headline=True, oracle="""
            SELECT date_trunc('month', ts)::TIMESTAMP AS month,
                   date_trunc('quarter', ts)::TIMESTAMP AS quarter,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS users,
                   max(value) AS max_value, min(value) AS min_value
            FROM events GROUP BY 1, 2, 3
        """)
def _q_month_rollup(spark, sf_dir):
    """F7/A3/A5 — calendar month buckets + exact aggregates."""
    ev = _t(spark, sf_dir, "events")
    return (
        # cast back to NTZ: date_trunc yields LTZ, which would shift values
        # under a non-UTC driver session timezone
        ev.withColumn("month", F.date_trunc("month", F.col("ts")).cast("timestamp_ntz"))
        .withColumn("quarter", F.date_trunc("quarter", F.col("ts")).cast("timestamp_ntz"))
        .groupBy("month", "quarter", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
        )
    )


@query("friday_weeks", headline=True, oracle="""
            WITH s AS (SELECT *, (ts - INTERVAL 12 HOURS)::DATE AS d FROM events),
            w AS (SELECT *, d - CAST(mod(dayofweek(d) - 5 + 7, 7) AS INT) AS friday FROM s)
            SELECT friday::TIMESTAMP + INTERVAL 12 HOURS AS week_start,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS users
            FROM w GROUP BY 1
        """)
def _q_friday_weeks(spark, sf_dir):
    """F6 — Friday-noon week anchoring (NOT date_trunc('week'))."""
    from insights_spark.ops.hashtags import week_start

    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("week_start", week_start(F.col("ts")))
        .groupBy("week_start")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("users"))
    )


@query("editors_concat", oracle="""
            SELECT user_id,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type) || ',' AS editors
            FROM events GROUP BY user_id
        """)
def _q_editors_concat(spark, sf_dir):
    """U2 — sorted distinct concat with trailing separator."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat(
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))), F.lit(",")
        ).alias("editors")
    )


@query("regional_revenue", headline=True, oracle="""
        SELECT n_name,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS revenue_e4,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
             JOIN orders   ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN supplier ON l_suppkey = s_suppkey
                          AND c_nationkey = s_nationkey
             JOIN nation   ON s_nationkey = n_nationkey
             JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """)
def _q_regional_revenue(spark, sf_dir):
    """TPC-H Q5-shape star query (local-supplier volume): region →
    nation → customer ⋈ supplier (same nation) → orders (1-year window)
    → lineitem, revenue per nation. The Catalyst join-planning
    showcase: three broadcast-able dims, the fact join last, ONE
    nation-keyed rollup. Revenue is the EXACT integer
    Σ price_cents·(100 − disc_pct) in 10⁻⁴-dollar units — both engines
    round the identical doubles to the identical integers, so the sum
    is order-free and bit-equal (float Σ p·(1−d) would reorder under
    shuffle)."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, (li["l_suppkey"] == s["s_suppkey"])
              & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return j.groupBy("n_name").agg(
        F.sum(rev).cast("long").alias("revenue_e4"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@query("concurrency", headline=True, oracle="""
        WITH l AS (
          SELECT user_id, ts, event_id,
                 lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS prev_ts
          FROM events),
        f AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_ts IS NULL
                        OR ts - prev_ts > INTERVAL 21600 SECONDS
                      THEN 1 ELSE 0 END AS is_new
          FROM l),
        s AS (
          SELECT user_id, ts,
                 sum(is_new) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS session_idx
          FROM f),
        sess AS (SELECT user_id, session_idx,
                        min(ts) AS session_start, max(ts) AS session_end
                 FROM s GROUP BY user_id, session_idx),
        b AS (SELECT session_start AS t, 1 AS ds, 0 AS de FROM sess
              UNION ALL
              SELECT session_end, 0, 1 FROM sess),
        g AS (SELECT t, CAST(sum(ds) AS BIGINT) AS n_starts,
                     CAST(sum(de) AS BIGINT) AS n_ends
              FROM b GROUP BY 1),
        c AS (SELECT t, n_starts, n_ends,
                     sum(n_starts) OVER (ORDER BY t ASC
                                         ROWS UNBOUNDED PRECEDING) AS cs,
                     sum(n_ends) OVER (ORDER BY t ASC
                                       ROWS UNBOUNDED PRECEDING) AS ce
              FROM g)
        SELECT t, n_starts, n_ends,
               CAST(cs - (ce - n_ends) AS BIGINT) AS concurrent,
               CAST(cs - ce AS BIGINT) AS concurrent_after
        FROM c
    """)
def _q_concurrency(spark, sf_dir):
    """Peak-concurrency sweep (ops/intervals.py:concurrency_sweep) over
    the 6 h-gap session intervals: boundary rollup (one decomposable
    shuffle, bounded by distinct instants) + BOTH running sums on the
    shared two-phase prefix scan — closed-interval concurrent and
    half-open concurrent_after, all integer."""
    from insights_spark.ops.intervals import concurrency_sweep
    from insights_spark.ops.sessions import sessionize

    sess = sessionize(_t(spark, sf_dir, "events"), gap_minutes=360.0)
    return concurrency_sweep(sess)


@query("winsorized_stats", headline=True, oracle="""
        WITH v AS (SELECT event_type AS grp,
                          CAST(round(value * 100) AS BIGINT) AS vv
                   FROM events WHERE value IS NOT NULL),
        r AS (SELECT grp, vv,
                     row_number() OVER (PARTITION BY grp ORDER BY vv) AS rn,
                     count(*) OVER (PARTITION BY grp) AS n
              FROM v),
        b AS (SELECT grp, min(vv) AS lo_cents, max(vv) AS hi_cents
              FROM r
              WHERE rn = greatest(1, CAST(ceil(n * 5 / 100.0) AS BIGINT))
                 OR rn = greatest(1, CAST(ceil(n * 95 / 100.0) AS BIGINT))
              GROUP BY grp)
        SELECT r.grp AS event_type,
               CAST(max(r.n) AS BIGINT) AS n,
               CAST(min(b.lo_cents) AS BIGINT) AS lo_cents,
               CAST(min(b.hi_cents) AS BIGINT) AS hi_cents,
               CAST(sum(greatest(b.lo_cents, least(b.hi_cents, r.vv)))
                    AS BIGINT) AS wins_sum_cents
        FROM r JOIN b USING (grp)
        GROUP BY 1
    """)
def _q_winsorized_stats(spark, sf_dir):
    """Winsorized robust stats per event_type (ops/stats.py): rank-exact
    type-1 percentiles (k = max(1, ceil(q·n)) — well-defined under ties),
    integer-cents clamp + exact BIGINT sum; the winsorized mean division
    stays with the consumer."""
    from insights_spark.ops.stats import winsorized_stats

    return winsorized_stats(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )


@query("union_distinct", oracle="""
            SELECT DISTINCT trim(token) AS token FROM (
              SELECT unnest(string_split_regex(lower(text), '[\\s,;]')) AS token
              FROM documents
              UNION ALL
              SELECT unnest(string_split_regex(lower(text), '[\\s;,.@]')) AS token
              FROM documents)
            WHERE trim(token) LIKE 't%'
        """)
def _q_union_distinct(spark, sf_dir):
    """U1/A9 — distinct union of two differently-tokenized sources (the
    hashtag-vocabulary shape: two delimiter classes → union → dedup)."""
    d = _t(spark, sf_dir, "documents")
    a = d.select(F.explode(F.split(F.lower("text"), r"[\s,;]")).alias("token"))
    b = d.select(F.explode(F.split(F.lower("text"), r"[\s;,.@]")).alias("token"))
    return (
        a.union(b)
        .select(F.trim("token").alias("token"))
        .filter(F.col("token").startswith("t"))
        .distinct()
    )


@query("topk", oracle="""
            SELECT CAST(rank AS INT) AS rank, o_orderkey, o_totalprice FROM (
              SELECT o_orderkey, o_totalprice,
                     row_number() OVER (ORDER BY o_totalprice DESC,
                                        o_orderkey ASC) AS rank
              FROM orders) WHERE rank <= 10
        """)
def _q_topk(spark, sf_dir):
    """O1-O4 — deterministic top-k: rank by (totalprice desc, key asc).

    Shape matters at scale: `orderBy(...).limit(k)` compiles to
    TakeOrderedAndProject — each partition keeps its local top-k, the
    driver merges k×partitions rows. The rank window then runs over the
    already-taken k-row result (k rows on one task, bounded by construction).
    The old shape — row_number over a global unpartitioned window — shuffled
    EVERY row to one partition (round-2 verdict #3)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    top = (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "o_orderkey", "o_totalprice"
    )


@query("covered_time", headline=True, oracle="""
        WITH e AS (SELECT user_id,
                          epoch_us(ts) // 1000000 AS ep,
                          event_id
                   FROM events),
        l AS (SELECT user_id, ep,
                     lead(ep) OVER (PARTITION BY user_id
                                    ORDER BY ep, event_id) AS nep
              FROM e)
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN nep IS NULL THEN 600
                             ELSE least(nep - ep, 600) END) AS BIGINT)
                 AS covered_s
        FROM l GROUP BY 1
    """)
def _q_covered_time(spark, sf_dir):
    """Interval-union active time per user (ops/sessions.py covered_time):
    each event opens a 600 s window, overlaps count once — the closed
    form Σ min(gap, window) over the (ts, id)-sorted stream, one lead()
    window + one rollup, exact integer seconds."""
    from insights_spark.ops.sessions import covered_time

    return covered_time(_t(spark, sf_dir, "events"))


@query("sessionize", headline=True, oracle="""
        WITH l AS (
          SELECT user_id, ts, event_id,
                 lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS prev_ts
          FROM events),
        f AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_ts IS NULL
                        OR ts - prev_ts > INTERVAL 21600 SECONDS
                      THEN 1 ELSE 0 END AS is_new
          FROM l),
        s AS (
          SELECT user_id, ts,
                 sum(is_new) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS session_idx
          FROM f)
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               min(ts) AS session_start, max(ts) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, session_idx
    """)
def _q_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization over the event stream (6 h timeout):
    lag → new-session flag → running sum → per-session rollup, all windows
    PARTITIONED BY user (no global shuffle; skew bounded by the busiest
    user). Ties on ts are ordered by event_id so Spark and the SQL oracle
    see identical lag sequences."""
    from insights_spark.ops.sessions import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_minutes=360.0)


@query("asof_join", headline=True, oracle="""
        WITH snaps AS (
          SELECT user_id, ts, max(event_id) AS snap_id
          FROM events WHERE mod(event_id, 10) = 0
          GROUP BY user_id, ts)
        SELECT e.event_id, e.user_id, e.ts, s.snap_id
        FROM events e
        ASOF LEFT JOIN snaps s
          ON e.user_id = s.user_id AND s.ts <= e.ts
    """)
def _q_asof_join(spark, sf_dir):
    """Generic two-table AS-OF join (ops.latest.asof_join): every event
    matched to the user's latest profile snapshot at-or-before its
    timestamp. One union + one window pass per key — never a correlated
    per-row scan. Oracle: DuckDB's NATIVE `ASOF LEFT JOIN` — two
    independent implementations of the operator must agree exactly."""
    from insights_spark.ops.latest import asof_join, scalar_pick

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    snaps = scalar_pick(
        ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == 0)
        .select("user_id", "ts", F.col("event_id").alias("snap_id")),
        ("user_id", "ts"), "snap_id", "snap_id",
    )
    return asof_join(
        ev, snaps, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["snap_id"],
    )


@query("interval_join", oracle="""
        WITH iv AS (
          SELECT event_id, ts AS start_ts,
                 ts + to_minutes(mod(event_id, 7) + 1) AS end_ts
          FROM events)
        SELECT l.event_id AS a, r.event_id AS b
        FROM iv l JOIN iv r
          ON mod(l.event_id, 2) = 0 AND mod(r.event_id, 2) = 1
         AND l.start_ts <= r.end_ts AND r.start_ts <= l.end_ts
    """)
def _q_interval_join(spark, sf_dir):
    """Temporal interval-overlap join (the time-domain within_distance):
    even-id event intervals × odd-id event intervals, chunk-bucketed
    equi-join + exact overlap verify — never the all-pairs theta-join.
    Interval length = (event_id mod 7 + 1) minutes; chunk auto-picked at
    the median interval span (one cheap mergeable agg — r3 verdict #6),
    explicit override retained in the API. Oracle: the plain brute-force
    range join (bucketing AND chunk choice must be result-invisible)."""
    from insights_spark.ops.intervals import interval_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.make_dt_interval(
            mins=F.pmod(F.col("event_id"), F.lit(7)) + 1
        )).alias("end_ts"),
    )
    left = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    right = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    return interval_join(
        left, right,
        left_cols=("event_id", "start_ts", "end_ts"),
        right_cols=("event_id", "start_ts", "end_ts"),
    ).select("a", "b")


@query("rolling_activity", oracle="""
        SELECT user_id, event_id, ts,
               CAST(count(*) OVER (
                 PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 21600.0 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_trailing
        FROM events
    """)
def _q_rolling_activity(spark, sf_dir):
    """RANGE-frame sliding window: per event, the same user's event count
    in the trailing 6 h (value-based frame → tie-order-independent, no
    tiebreaker needed). One user-keyed shuffle."""
    from insights_spark.ops.sessions import rolling_user_activity

    return rolling_user_activity(
        _t(spark, sf_dir, "events"), window_seconds=6 * 3600.0
    )


@query("semi_join_salted", oracle=_SEMI_JOIN_SQL)
def _q_semi_join_salted(spark, sf_dir):
    """J1 through the EXPLICIT skew path (runtime.skew.salted_join_skewed):
    fact side salted, dim side replicated per salt, left_semi on
    (key, salt) — one hot orderkey spreads over 16 tasks. Shares the
    semi_join oracle byte-for-byte: pure physical rewrite."""
    from insights_spark.runtime.skew import salted_join_skewed

    li = _t(spark, sf_dir, "lineitem")
    o = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 1000))
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        salted_join_skewed(
            li, o, "l_orderkey",
            salt_source_cols=["l_linenumber", "l_partkey"], how="left_semi",
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_linenumber").alias("sum_line"))
    )


@query("approx_quantile", oracle="""
        SELECT lang, quantile_cont(n_chars, 0.5) AS exact_q,
               TRUE AS within_bounds
        FROM documents GROUP BY lang
    """)
def _q_approx_quantile(spark, sf_dir):
    """Quantile sketch + exactness certificate per language: exact
    interpolated median of n_chars (bit-matches DuckDB quantile_cont) and
    within_bounds = sketch within 5% of it."""
    from insights_spark.ops.stats import approx_quantile_gate

    return approx_quantile_gate(
        _t(spark, sf_dir, "documents"), "n_chars", ["lang"], q=0.5
    )


@query("approx_distinct", oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
               TRUE AS within_bounds
        FROM lineitem GROUP BY l_returnflag
    """)
def _q_approx_distinct(spark, sf_dir):
    """A3 at scale — HLL++ count-distinct with the built-in exactness gate
    (the ann_ivf pattern for cardinality): emits the exact count plus
    within_bounds = |sketch − exact|/exact ≤ 5%, so a broken sketch flips
    the boolean and fails the hash while the approximate value itself
    never needs cross-engine pinning."""
    from insights_spark.ops.stats import approx_distinct_gate

    return approx_distinct_gate(
        _t(spark, sf_dir, "lineitem"), "l_partkey", ["l_returnflag"]
    )


@query("explode_map", oracle="""
            SELECT key, value, CAST(count(*) AS BIGINT) AS n FROM (
              SELECT 'lang' AS key, lang AS value FROM documents
              UNION ALL
              SELECT 'source' AS key, source AS value FROM documents)
            GROUP BY key, value
        """)
def _q_explode_map(spark, sf_dir):
    """P8 — each(tags): explode a map column into (key, value) rows."""
    d = _t(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return (
        d.select(F.explode(m).alias("key", "value"))
        .groupBy("key", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("country_insights", oracle="""
            WITH el AS (
              SELECT l_orderkey AS id,
                     l_linenumber::BIGINT * 1000000000000
                       + l_partkey * 1000000 + l_suppkey AS version,
                     CASE WHEN mod(l_orderkey, 4) = 0 THEN 'node'
                          WHEN mod(l_orderkey, 4) = 1 THEN 'relation'
                          ELSE 'way' END AS type,
                     l_shipdate AS ts,
                     mod(l_partkey, 3) = 0 AS has_building,
                     CASE WHEN mod(l_suppkey, 5) = 4 THEN NULL
                          ELSE 'C' || mod(l_suppkey, 5)::VARCHAR END AS country
              FROM lineitem),
            latest AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY type, id
                           ORDER BY version DESC) AS rn
                FROM el WHERE ts < TIMESTAMP '1997-01-01') WHERE rn = 1)
            SELECT country,
                   CAST(count(DISTINCT id) AS BIGINT) AS building_count,
                   TIMESTAMP '1997-01-01 00:00:00' AS by_month
            FROM latest
            WHERE has_building AND type IN ('way', 'relation')
              AND country IS NOT NULL
            GROUP BY country
        """)
def _q_country_insights(spark, sf_dir):
    """A10 — per-country building counts as-of a cutoff: latest version per
    (type, id) strictly before the month (J5 as-of), THEN the building/type/
    country predicates, count distinct ids (ops.country.building_counts_asof)."""
    from insights_spark.ops.country import building_counts_asof

    li = _t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    els = li.select(
        k.alias("id"),
        # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        # fold partkey/suppkey in so the latest-version pick is deterministic
        (
            F.col("l_linenumber").cast("long") * F.lit(1000000000000)
            + F.col("l_partkey") * F.lit(1000000)
            + F.col("l_suppkey")
        ).alias("version"),
        F.when(F.pmod(k, F.lit(4)) == 0, F.lit("node"))
        .when(F.pmod(k, F.lit(4)) == 1, F.lit("relation"))
        .otherwise(F.lit("way"))
        .alias("type"),
        F.col("l_shipdate").alias("timestamp"),
        F.when(
            F.pmod(F.col("l_partkey"), F.lit(3)) == 0,
            F.create_map(F.lit("building"), F.lit("yes")),
        )
        .otherwise(F.create_map().cast("map<string,string>"))
        .alias("tags"),
        F.when(F.pmod(F.col("l_suppkey"), F.lit(5)) == 4, F.lit(None).cast("string"))
        .otherwise(
            F.concat(F.lit("C"), F.pmod(F.col("l_suppkey"), F.lit(5)).cast("string"))
        )
        .alias("country"),
    )
    return building_counts_asof(els, "1997-01-01 00:00:00")


def _build_elements_with_changeset(spark, sf_dir):
    """The country_insights element fixture + a changeset column (l_partkey)
    so the Tasking-Manager semi-join has something to key on."""
    li = _t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return li.select(
        k.alias("id"),
        (
            F.col("l_linenumber").cast("long") * F.lit(1000000000000)
            + F.col("l_partkey") * F.lit(1000000)
            + F.col("l_suppkey")
        ).alias("version"),
        F.when(F.pmod(k, F.lit(4)) == 0, F.lit("node"))
        .when(F.pmod(k, F.lit(4)) == 1, F.lit("relation"))
        .otherwise(F.lit("way"))
        .alias("type"),
        F.col("l_shipdate").alias("timestamp"),
        F.col("l_partkey").alias("changeset"),
        F.when(
            F.pmod(F.col("l_partkey"), F.lit(3)) == 0,
            F.create_map(F.lit("building"), F.lit("yes")),
        )
        .otherwise(F.create_map().cast("map<string,string>"))
        .alias("tags"),
        F.when(F.pmod(F.col("l_suppkey"), F.lit(5)) == 4, F.lit(None).cast("string"))
        .otherwise(
            F.concat(F.lit("C"), F.pmod(F.col("l_suppkey"), F.lit(5)).cast("string"))
        )
        .alias("country"),
    )


@query("unpivot_counts", headline=True, oracle="""
        WITH u AS (SELECT DISTINCT user_id FROM events),
        t AS (SELECT * FROM (VALUES ('click'), ('view'), ('purchase'),
                                    ('signup'), ('error')) v(et)),
        c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2)
        SELECT u.user_id, t.et AS event_type,
               CAST(coalesce(c.n, 0) AS BIGINT) AS n
        FROM u CROSS JOIN t
        LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.et
    """)
def _q_unpivot_counts(spark, sf_dir):
    """Unpivot (melt) surface — the inverse reshape of pivot_counts:
    wide per-user type counts back to long (user_id, event_type, n) via
    DataFrame.unpivot, zero-count cells preserved (the round trip is
    lossless, unlike re-aggregating raw events which drops absent
    pairs). Map-only on the wide table."""
    wide = _q_pivot_counts(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        wide.unpivot(
            "user_id", [f"n_{t}" for t in types], "metric", "n"
        )
        .select(
            "user_id",
            F.expr("substring(metric, 3)").alias("event_type"),
            F.col("n").cast("bigint").alias("n"),
        )
    )


@query("event_gaps", headline=True, oracle="""
        WITH g AS (
          SELECT event_type,
                 (epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id)))::DOUBLE / 1000000.0 AS gap_s
          FROM events)
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
               quantile_cont(gap_s, 0.5) AS p50_gap_s,
               quantile_cont(gap_s, 0.9) AS p90_gap_s
        FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
    """)
def _q_event_gaps(spark, sf_dir):
    """Inter-arrival cadence per event type (ops/sessions.py
    event_gap_stats): per-(user, type) lag window → exact interpolated
    p50/p90 of gap seconds — session-timeout tuning / bot-cadence
    profiling. Gap = integer µs / 1e6, identical doubles both engines."""
    from insights_spark.ops.sessions import event_gap_stats

    return event_gap_stats(_t(spark, sf_dir, "events"))


@query("pivot_counts", headline=True, oracle="""
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_error
        FROM events GROUP BY user_id
    """)
def _q_pivot_counts(spark, sf_dir):
    """Pivot surface: per-user event counts spread into one column per
    event type (`groupBy().pivot(values pinned)`) — pinning the pivot
    values keeps the plan a single pass with NO distinct-values pre-query
    (the two-job surprise of unpinned pivot). Oracle = conditional
    aggregation, which is exactly what pivot compiles to."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
          for t in types],
    )


@query("rolling_active", headline=True, oracle=None)
def _q_rolling_active(spark, sf_dir):
    """Trailing-7-day active users per day from stored per-day HLL
    sketches (ops/timeseries.py rolling_active_sketches): one raw scan,
    bounded sequence-explode contribution join, register-max merges —
    never a distinct over a range window, never a window_days× re-scan.
    Rows-only driver check (HLL internals engine-specific); the
    lossless-merge equality is pytest-pinned."""
    from insights_spark.ops.timeseries import rolling_active_sketches

    return rolling_active_sketches(_t(spark, sf_dir, "events"), 7)


@query("event_transitions", headline=True, oracle="""
        WITH p AS (
          SELECT event_type AS cur,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nxt
          FROM events),
        g AS (
          SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
          FROM p WHERE nxt IS NOT NULL GROUP BY cur, nxt)
        SELECT cur, nxt, n,
               CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE) AS p
        FROM g
    """)
def _q_event_transitions(spark, sf_dir):
    """First-order clickstream transition matrix (ops/sessions.py
    event_transitions): per-user lag window → (cur, nxt) pair rollup →
    probability as one division over the |types|²-row pair table. Ties
    on ts break by event_id on both engines."""
    from insights_spark.ops.sessions import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


@query("scd2_lookup", headline=True, oracle="""
        WITH el AS (
          SELECT l_orderkey AS id,
                 l_linenumber::BIGINT * 1000000000000
                   + l_partkey * 1000000 + l_suppkey AS version,
                 CASE WHEN mod(l_orderkey, 4) = 0 THEN 'node'
                      WHEN mod(l_orderkey, 4) = 1 THEN 'relation'
                      ELSE 'way' END AS type,
                 l_shipdate AS ts
          FROM lineitem),
        seq AS (
          SELECT *, row_number() OVER (PARTITION BY type, id
                                       ORDER BY ts, version) AS sq
          FROM el),
        scd AS (
          SELECT type, id, version, ts AS valid_from,
                 lead(ts) OVER (PARTITION BY type, id ORDER BY sq)
                   AS valid_to
          FROM seq),
        f AS (
          SELECT CASE WHEN mod(o_orderkey, 4) = 0 THEN 'node'
                      WHEN mod(o_orderkey, 4) = 1 THEN 'relation'
                      ELSE 'way' END AS type,
                 o_orderkey AS id, o_orderdate AS ts
          FROM orders)
        SELECT f.type, f.id, f.ts, s.version AS asof_version
        FROM f LEFT JOIN scd s
          ON f.type = s.type AND f.id = s.id
         AND f.ts >= s.valid_from
         AND (s.valid_to IS NULL OR f.ts < s.valid_to)
    """)
def _q_scd2_lookup(spark, sf_dir):
    """SCD2 as-of enrichment (ops/latest.py scd2_lookup): every order
    probes the element dimension at its order date — ONE key equi-join
    + [valid_from, valid_to) range filter instead of a window over
    version history; at most one interval matches (gapless TIME-ordered
    tiling), and keys with no version as of the probe keep NULL.

    The fixture's composite version is NOT time-ordered (an out-of-order
    history — scd2_merge's splice case), so the dimension build first
    normalizes to a per-key (ts, version) rank: intervals only tile the
    timeline when the interval order IS time order. Probing the
    version-ordered build instead fans out (measured: 18.7k rows from
    15k probes) — that ordering contract is the lookup's precondition."""
    from insights_spark.ops.latest import scd2_intervals, scd2_lookup

    els = _build_elements_with_changeset(spark, sf_dir)
    w = Window.partitionBy("type", "id").orderBy("timestamp", "version")
    seq = els.withColumn("seq", F.row_number().over(w))
    dim = scd2_intervals(seq, version_col="seq").select(
        "type", "id", "version", "valid_from", "valid_to"
    )
    k = F.col("o_orderkey")
    facts = _t(spark, sf_dir, "orders").select(
        F.when(F.pmod(k, F.lit(4)) == 0, F.lit("node"))
        .when(F.pmod(k, F.lit(4)) == 1, F.lit("relation"))
        .otherwise(F.lit("way"))
        .alias("type"),
        k.alias("id"),
        F.col("o_orderdate").alias("ts"),
    )
    return scd2_lookup(facts, dim, keys=("type", "id"), attrs=("version",)
                       ).select("type", "id", "ts",
                                F.col("version").alias("asof_version"))


@query("check_constraints", headline=True, oracle="""
        SELECT 'not_null' AS rule, 'o_orderkey' AS col,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS violations,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
                    AS INT) AS passed
        FROM orders
        UNION ALL
        SELECT 'unique', 'o_orderkey',
               CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
               CAST(count(o_orderkey) = count(DISTINCT o_orderkey) AS INT)
        FROM orders
        UNION ALL
        SELECT 'range', 'o_totalprice',
               CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0.0 OR o_totalprice > 1e9)
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0.0 OR o_totalprice > 1e9)
                             THEN 1 ELSE 0 END) = 0 AS INT)
        FROM orders
        UNION ALL
        SELECT 'range', 'o_custkey',
               CAST(sum(CASE WHEN o_custkey IS NOT NULL
                              AND (o_custkey < 0 OR o_custkey > 10)
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN o_custkey IS NOT NULL
                              AND (o_custkey < 0 OR o_custkey > 10)
                             THEN 1 ELSE 0 END) = 0 AS INT)
        FROM orders
        UNION ALL
        SELECT 'accepted', 'o_orderstatus',
               CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END) = 0 AS INT)
        FROM orders
        UNION ALL
        SELECT 'ref', 'l_orderkey',
               CAST((SELECT count(*) FROM lineitem l
                     WHERE l.l_orderkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                    AS BIGINT),
               CAST((SELECT count(*) FROM lineitem l
                     WHERE l.l_orderkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                    = 0 AS INT)
    """)
def _q_check_constraints(spark, sf_dir):
    """Declarative data-quality gate (runtime/profile.py
    check_constraints): not-null / range / accepted-values / unique in
    ONE aggregation pass (conditional sums + count-distinct share the
    shuffle), plus a referential-integrity anti-join of lineitem order
    keys against orders. The range rule on o_custkey is planted to FAIL
    (violations > 0) so the gate is non-vacuous."""
    from insights_spark.runtime.profile import check_constraints

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    rules = [
        {"rule": "not_null", "col": "o_orderkey"},
        {"rule": "unique", "col": "o_orderkey"},
        {"rule": "range", "col": "o_totalprice", "lo": 0.0, "hi": 1e9},
        {"rule": "range", "col": "o_custkey", "lo": 0, "hi": 10},
        {"rule": "accepted", "col": "o_orderstatus",
         "values": ["O", "F", "P"]},
    ]
    base = check_constraints(o, rules)
    ref = check_constraints(
        li, [{"rule": "ref", "col": "l_orderkey", "other": o,
              "other_col": "o_orderkey"}]
    )
    return base.unionByName(ref)


@query("snapshot_diff", headline=True, oracle="""
        WITH s100 AS (
          SELECT doc_id, n_chars FROM documents WHERE mod(doc_id, 2) = 0),
        s200 AS (
          SELECT doc_id,
                 CASE WHEN mod(doc_id, 3) = 0 THEN n_chars + 1000
                      ELSE n_chars END AS n_chars
          FROM documents
          WHERE mod(doc_id, 2) = 0 OR mod(doc_id, 3) = 0)
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
               CASE WHEN a.doc_id IS NULL THEN 'insert'
                    WHEN b.doc_id IS NULL THEN 'delete'
                    WHEN a.n_chars IS DISTINCT FROM b.n_chars THEN 'update'
                    END AS change,
               a.n_chars AS old_n_chars, b.n_chars AS new_n_chars
        FROM s100 a FULL OUTER JOIN s200 b ON a.doc_id = b.doc_id
        WHERE CASE WHEN a.doc_id IS NULL THEN 'insert'
                   WHEN b.doc_id IS NULL THEN 'delete'
                   WHEN a.n_chars IS DISTINCT FROM b.n_chars THEN 'update'
                   END IS NOT NULL
    """)
def _q_snapshot_diff(spark, sf_dir):
    """Snapshot CDC (runtime/tablefmt.py snapshot_diff): the change feed
    between the fixture's append (ts=100) and merge (ts=200) commits —
    inserts are the odd mod-3 docs the merge brought in, updates are the
    evens∩mod-3 rows it bumped by 1000 chars; unchanged keys are absent
    (output is change-sized). One full-outer key join over two
    time-travel reads."""
    from insights_spark.runtime.tablefmt import snapshot_diff

    t = _snapshot_table_fixture(spark, sf_dir, "cdc")
    return snapshot_diff(
        t, ["doc_id"], from_ts=100, to_ts=200, compare_cols=["n_chars"]
    )


_hist_bucket = "1 + " + " + ".join(
    f"(o_totalprice > bs[{k}])::INT" for k in range(1, 8)
)


@query("equi_depth_hist", headline=True, oracle=f"""
        WITH b AS (
          SELECT quantile_cont(o_totalprice,
                   [{", ".join(str(k / 8) for k in range(1, 8))}]) AS bs,
                 CAST(min(o_totalprice) AS DOUBLE) AS glo,
                 CAST(max(o_totalprice) AS DOUBLE) AS ghi
          FROM orders WHERE o_totalprice IS NOT NULL),
        c AS (
          SELECT CAST({_hist_bucket} AS INT) AS bucket
          FROM orders, b WHERE o_totalprice IS NOT NULL),
        g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
              FROM c GROUP BY bucket)
        SELECT g.bucket,
               CAST(CASE WHEN g.bucket = 1 THEN b.glo
                         ELSE b.bs[g.bucket - 1] END AS DOUBLE) AS lo,
               CAST(CASE WHEN g.bucket = 8 THEN b.ghi
                         ELSE b.bs[g.bucket] END AS DOUBLE) AS hi,
               g.n
        FROM g, b
    """)
def _q_equi_depth_hist(spark, sf_dir):
    """Equal-population histogram of order totals (runtime/profile.py
    equi_depth_histogram): exact interpolated percentile boundaries
    (percentile == quantile_cont parity), branch-free bucket rule
    1 + Σ[v > bound], two passes (bounds agg broadcast back + one
    groupBy). approx=True is the t-digest scale path, same shape."""
    from insights_spark.runtime.profile import equi_depth_histogram

    return equi_depth_histogram(_t(spark, sf_dir, "orders"), "o_totalprice", 8)


@query("sketch_rollup", headline=True, oracle=None)
def _q_sketch_rollup(spark, sf_dir):
    """Re-aggregatable distinct-count sketches (ops/timeseries.py): weekly
    HLL++ user sketches per event_type, merged to ALL-TIME estimates
    without re-scanning raw events — the 100 TB rollup pattern. Output
    pairs the merged estimate with the exact distinct and a within-5%%
    flag. HLL internals are engine-specific, so this is a rows-only
    driver check; the lossless-merge / partitioning-invariance /
    parquet-roundtrip properties are pytest-pinned."""
    from insights_spark.ops.timeseries import (
        build_distinct_sketches,
        merge_distinct_sketches,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "wk", F.date_trunc("week", F.col("ts"))
    )
    sk = build_distinct_sketches(ev, ("event_type", "wk"), "user_id")
    est = merge_distinct_sketches(sk, ("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "est_distinct",
        "exact_distinct",
        (
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).cast("int").alias("within_5pct"),
    )


@query("scd2_merge", headline=True, oracle="""
            WITH el AS (
              SELECT l_orderkey AS id,
                     l_linenumber::BIGINT * 1000000000000
                       + l_partkey * 1000000 + l_suppkey AS version,
                     CASE WHEN mod(l_orderkey, 4) = 0 THEN 'node'
                          WHEN mod(l_orderkey, 4) = 1 THEN 'relation'
                          ELSE 'way' END AS type,
                     l_shipdate AS ts
              FROM lineitem)
            SELECT type, id, version,
                   ts AS valid_from,
                   lead(ts) OVER (PARTITION BY type, id ORDER BY version)
                     AS valid_to,
                   CASE WHEN lead(ts) OVER (PARTITION BY type, id
                                            ORDER BY version) IS NULL
                        THEN 1 ELSE 0 END AS is_current
            FROM el
        """)
def _q_scd2_merge(spark, sf_dir):
    """Incremental SCD2 maintenance (ops/latest.py scd2_merge): the stored
    dimension is built from pre-1996 versions, then the 1996+ versions
    apply as a batch — untouched keys pass through, touched keys rebuild
    from the table's own rows (valid_from IS the version timestamp). The
    oracle is the FULL recompute over all versions: the merge theorem,
    same discipline as hot_changesets_inc. The ts split does NOT respect
    version order per key, so this exercises the out-of-order splice path,
    not just append-at-the-end."""
    from insights_spark.ops.latest import scd2_intervals, scd2_merge

    els = _build_elements_with_changeset(spark, sf_dir)
    cols = ("type", "id", "version", "valid_from", "valid_to", "is_current")
    # NOT persisted (r6 cold-cache A/B): scd2_merge reads the dimension on
    # both its anti-join and semi-join branches, but materializing the
    # 60k-row window output costs more than letting the two branches share
    # the exchange (cold min-of-4 interleaved: plain 2.43 s vs persisted
    # 2.84 s — in production the dimension IS a stored table, so neither
    # side pays the rebuild)
    base = scd2_intervals(els.filter(F.col("timestamp") < "1996-01-01")) \
        .select(*cols)
    batch = els.filter(F.col("timestamp") >= "1996-01-01").select(
        "type", "id", "version", "timestamp"
    )
    return scd2_merge(base, batch).withColumn(
        "is_current", F.col("is_current").cast("int")
    )


@query("cohort_retention", headline=True, oracle="""
            WITH su AS (
              SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort_week
              FROM events WHERE event_type = 'signup' GROUP BY user_id),
            act AS (
              SELECT DISTINCT su.cohort_week, su.u,
                     date_trunc('week', e.ts) AS aw
              FROM events e JOIN su ON e.user_id = su.u
              WHERE date_trunc('week', e.ts) >= su.cohort_week),
            sizes AS (
              SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
              FROM su GROUP BY cohort_week),
            ret AS (
              SELECT cohort_week,
                     CAST(date_diff('day', CAST(cohort_week AS DATE),
                                    CAST(aw AS DATE)) / 7 AS INT)
                       AS week_offset,
                     CAST(count(DISTINCT u) AS BIGINT) AS active_users
              FROM act GROUP BY 1, 2)
            SELECT r.cohort_week, r.week_offset, r.active_users,
                   s.cohort_size,
                   CAST(r.active_users AS DOUBLE)
                     / CAST(s.cohort_size AS DOUBLE) AS retention
            FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
        """)
def _q_cohort_retention(spark, sf_dir):
    """Weekly signup-cohort retention (ops/sessions.py cohort_retention):
    first-signup week per user → distinct (cohort, user, activity-week) →
    (cohort, offset) count-distinct, joined to cohort sizes. One pass over
    the fact table; everything downstream user-/cohort-keyed."""
    from insights_spark.ops.sessions import cohort_retention

    r = cohort_retention(_t(spark, sf_dir, "events"))
    # DuckDB's date_trunc('week') yields DATE; align the bucket type
    return r.withColumn("cohort_week", F.col("cohort_week").cast("date"))


@query("column_profile", headline=True, oracle="""
            SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                   NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str,
                   CAST(min(o_orderkey) AS DOUBLE) AS min_num,
                   CAST(max(o_orderkey) AS DOUBLE) AS max_num FROM orders
            UNION ALL
            SELECT 'o_custkey', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_custkey) AS BIGINT),
                   NULL, NULL, CAST(min(o_custkey) AS DOUBLE),
                   CAST(max(o_custkey) AS DOUBLE) FROM orders
            UNION ALL
            SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                   min(o_orderstatus), max(o_orderstatus), NULL::DOUBLE,
                   NULL::DOUBLE FROM orders
            UNION ALL
            SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_totalprice) AS BIGINT),
                   NULL, NULL, CAST(min(o_totalprice) AS DOUBLE),
                   CAST(max(o_totalprice) AS DOUBLE) FROM orders
            UNION ALL
            SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_orderdate) AS BIGINT),
                   CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR),
                   NULL::DOUBLE, NULL::DOUBLE FROM orders
            UNION ALL
            SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT),
                   min(o_orderpriority), max(o_orderpriority), NULL::DOUBLE,
                   NULL::DOUBLE FROM orders
        """)
def _q_column_profile(spark, sf_dir):
    """Post-ingest data-quality profile of the orders table: per-column
    null/distinct counts and min/max in ONE aggregation pass (exact
    distincts compile to a single Expand+shuffle; runtime/profile.py has
    the approx=True HLL path for 100 TB). Numeric min/max stay DOUBLE —
    exact value comparison, no cross-engine string formatting."""
    from insights_spark.runtime.profile import column_profile

    # fan the single-row-group scan out (r6): the exact multi-column
    # count-distinct compiles to Expand (rows x #cols) INSIDE the scan
    # stage, which otherwise runs on the one task holding the row group
    return column_profile(
        _t(spark, sf_dir, "orders")
        .repartition(spark.sparkContext.defaultParallelism)
    )


@query("funnel_steps", headline=True, oracle="""
            WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t
                AND e.ts <= s1.t + INTERVAL 72 HOUR
              GROUP BY e.user_id),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t
                AND e.ts <= s2.t + INTERVAL 72 HOUR
              GROUP BY e.user_id),
            u AS (
              SELECT 1 AS step, 'view' AS event_type,
                     CAST(count(*) AS BIGINT) AS users FROM s1
              UNION ALL
              SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
              UNION ALL
              SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
            SELECT step, event_type, users,
                   CAST(users AS DOUBLE) / CAST(max(users) OVER () AS DOUBLE)
                     AS conversion
            FROM u
        """)
def _q_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase within 72 h,
    greedy earliest-completion): k-1 user-keyed joins against a
    monotonically shrinking survivor set — no all-events window, no
    per-user state (ops/sessions.py funnel_steps). The dependent-minimum
    chain (step k's min ts depends on step k-1's) is what plain
    conditional aggregation can't express in one pass."""
    from insights_spark.ops.sessions import funnel_steps

    ev = _t(spark, sf_dir, "events")
    return funnel_steps(ev, ("view", "click", "purchase"), max_gap_hours=72)


@query("scd2_intervals", headline=True, oracle="""
            WITH el AS (
              SELECT l_orderkey AS id,
                     l_linenumber::BIGINT * 1000000000000
                       + l_partkey * 1000000 + l_suppkey AS version,
                     CASE WHEN mod(l_orderkey, 4) = 0 THEN 'node'
                          WHEN mod(l_orderkey, 4) = 1 THEN 'relation'
                          ELSE 'way' END AS type,
                     l_shipdate AS ts
              FROM lineitem)
            SELECT type, id, version,
                   ts AS valid_from,
                   lead(ts) OVER (PARTITION BY type, id ORDER BY version)
                     AS valid_to,
                   CASE WHEN lead(ts) OVER (PARTITION BY type, id
                                            ORDER BY version) IS NULL
                        THEN 1 ELSE 0 END AS is_current
            FROM el
        """)
def _q_scd2(spark, sf_dir):
    """SCD Type-2 validity intervals over element history: one window per
    (type, id) ordered by version turns the reference's query-time as-of
    window (latest_version, advanced-queries.md latest-state CTEs) into a
    materialized [valid_from, valid_to) dimension — the standard warehouse
    twin. Same element fixture as country_insights; linear output (one row
    per input version)."""
    from insights_spark.ops.latest import scd2_intervals

    els = _build_elements_with_changeset(spark, sf_dir)
    return scd2_intervals(els).select(
        "type", "id", "version",
        F.col("valid_from").alias("valid_from"),
        F.col("valid_to").alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )


@query("country_insights_tm", oracle="""
            WITH el AS (
              SELECT l_orderkey AS id,
                     l_linenumber::BIGINT * 1000000000000
                       + l_partkey * 1000000 + l_suppkey AS version,
                     CASE WHEN mod(l_orderkey, 4) = 0 THEN 'node'
                          WHEN mod(l_orderkey, 4) = 1 THEN 'relation'
                          ELSE 'way' END AS type,
                     l_shipdate AS ts,
                     l_partkey AS changeset,
                     mod(l_partkey, 3) = 0 AS has_building,
                     CASE WHEN mod(l_suppkey, 5) = 4 THEN NULL
                          ELSE 'C' || mod(l_suppkey, 5)::VARCHAR END AS country
              FROM lineitem),
            latest AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY type, id
                           ORDER BY version DESC) AS rn
                FROM el WHERE ts < TIMESTAMP '1997-01-01') WHERE rn = 1),
            b AS (SELECT * FROM latest
                  WHERE has_building AND type IN ('way', 'relation')
                    AND country IS NOT NULL),
            hot AS (SELECT p_partkey AS hid FROM part WHERE mod(p_partkey, 3) = 0)
            SELECT country,
                   CAST(count(DISTINCT id) AS BIGINT) AS building_count,
                   CAST(count(DISTINCT CASE WHEN hid IS NOT NULL THEN id END)
                        AS BIGINT) AS tm_building_count,
                   TIMESTAMP '1997-01-01 00:00:00' AS by_month
            FROM b LEFT JOIN hot ON b.changeset = hot.hid
            GROUP BY country
        """)
def _q_country_insights_tm(spark, sf_dir):
    """A10 TM variant — the reference's tm_building_count column
    (advanced-queries.md:144-150): same as-of building count, plus the
    `changeset IN (SELECT id FROM hot_changeset)` condition on the LATEST
    row's changeset, as a broadcast semi-join inside building_counts_asof.
    The hot set here is the '#hotosm'-rule subset of the part keyspace
    (every third key), mirroring the hot_changesets materialized view."""
    from insights_spark.ops.country import building_counts_asof

    els = _build_elements_with_changeset(spark, sf_dir)
    hot = (
        _t(spark, sf_dir, "part")
        .filter(F.pmod(F.col("p_partkey"), F.lit(3)) == 0)
        .select(F.col("p_partkey").alias("id"))
    )
    return building_counts_asof(els, "1997-01-01 00:00:00", hot_changeset_ids=hot)


@query("first_last_used", oracle="""
            WITH cs AS (
              SELECT o_orderkey AS id, o_orderdate AS created_at,
                     'fix #camp' || mod(o_orderkey, 4)::VARCHAR ||
                     CASE WHEN mod(o_orderkey, 3) = 0 THEN ' work' ELSE '' END
                       AS comment
              FROM orders),
            reg AS (SELECT * FROM (VALUES
                      (1, 'camp0', NULL::DATE, NULL::DATE),
                      (2, 'camp1', DATE '1990-01-01', DATE '1994-06-15'),
                      (3, 'camp2', NULL::DATE, NULL::DATE))
                    t(id, name, first_used, last_used)),
            fresh AS (SELECT reg.id,
                             CAST(min(created_at) AS DATE) AS nf,
                             CAST(max(created_at) AS DATE) AS nl
                      FROM cs JOIN reg
                        ON lower(comment) LIKE '%#' || name || ' %'
                        OR lower(comment) LIKE '%#' || name
                      GROUP BY reg.id)
            SELECT CAST(reg.id AS BIGINT) AS id, name,
                   coalesce(reg.first_used, fresh.nf) AS first_used,
                   greatest(reg.last_used, fresh.nl) AS last_used
            FROM reg LEFT JOIN fresh ON reg.id = fresh.id
        """)
def _q_first_last_used(spark, sf_dir):
    """A6 — first/last-used refresh THROUGH the incremental path
    (reference hashtags.py:60-111): the registry arrives with camp1's
    first/last already set (the watermark case) and camp0/camp2 unset (the
    full-scan case); update_first_last_used merges
    first = coalesce(old, min(created_at)), last = greatest(old, max).
    The oracle replays the identical merge in SQL, so BOTH branches of the
    incremental rule are hash-pinned. (Incremental == full-recompute
    equivalence is additionally pytest-pinned in tests/test_ops.py.)"""
    import datetime

    from insights_spark.ops.hashtags import update_first_last_used

    o = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    changesets = o.select(
        ok.alias("id"),
        F.col("o_orderdate").alias("created_at"),
        F.create_map(
            F.lit("comment"),
            F.concat(
                F.lit("fix #camp"),
                F.pmod(ok, F.lit(4)).cast("string"),
                F.when(F.pmod(ok, F.lit(3)) == 0, F.lit(" work")).otherwise(F.lit("")),
            ),
        ).alias("tags"),
    )
    reg = spark.createDataFrame(
        [
            (1, "camp0", None, None),
            # pre-existing watermark: first_used must stay 1990-01-01, and
            # last_used only moves if the fresh max exceeds 1994-06-15
            (2, "camp1", datetime.date(1990, 1, 1), datetime.date(1994, 6, 15)),
            (3, "camp2", None, None),
        ],
        "id long, name string, first_used date, last_used date",
    )
    return update_first_last_used(changesets, reg)


@query("conditional_battery_salted", oracle=_CONDITIONAL_BATTERY_SQL)
def _q_conditional_battery_salted(spark, sf_dir):
    """A1 via the EXPLICIT two-level salted aggregate (SURVEY §4 X10,
    runtime.skew.salted_agg): partial agg on (key, salt), final re-SUM on
    key. Shares conditional_battery's oracle byte-for-byte — the skew
    machinery must be a pure physical rewrite."""
    from insights_spark.runtime.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    aggs = {
        "qty_gt25": F.sum((F.col("l_quantity") > 25).cast("int")),
        "disc_gt5": F.sum((F.col("l_discount") > 0.05).cast("int")),
        "taxed_returns": F.sum(
            ((F.col("l_tax") > 0.04) & (F.col("l_returnflag") == "R")).cast("int")
        ),
        "flag_an": F.sum(F.col("l_returnflag").isin("A", "N").cast("int")),
        "n": F.count(F.lit(1)),
    }
    return salted_agg(
        li, ["l_orderkey"], aggs, salt_source_cols=["l_linenumber", "l_partkey"],
        buckets=16,
    )


@query("propagate_ways", oracle="""
            WITH nd AS (
              SELECT c_custkey AS id,
                CASE WHEN mod(c_custkey, 2) = 0
                     THEN mod((c_custkey + 1000000) * 7919, 360000) / 1000.0 - 180.0
                     ELSE mod(c_custkey * 7919, 360000) / 1000.0 - 180.0 END AS lon,
                CASE WHEN mod(c_custkey, 2) = 0
                     THEN mod((c_custkey + 1000000) * 104729, 170000) / 1000.0 - 85.0
                     ELSE mod(c_custkey * 104729, 170000) / 1000.0 - 85.0 END AS lat,
                CASE WHEN mod(c_custkey, 2) = 0
                     THEN 'M' || mod(c_custkey, 5)::VARCHAR
                     ELSE 'N' || mod(c_custkey, 5)::VARCHAR END AS country
              FROM customer)
            SELECT o_orderkey AS id,
                   CASE WHEN mod(o_orderkey, 50) = 0 THEN NULL ELSE nd.lon END AS lon,
                   CASE WHEN mod(o_orderkey, 50) = 0 THEN NULL ELSE nd.lat END AS lat,
                   CASE WHEN mod(o_orderkey, 7) = 0 THEN 'OWN'
                        WHEN mod(o_orderkey, 50) = 0 THEN NULL
                        ELSE nd.country END AS country
            FROM orders LEFT JOIN nd ON o_custkey = nd.id
        """)
def _q_propagate_ways(spark, sf_dir):
    """J7 — way location propagation: latest-version node dim (two node
    versions; even ids get a v2 at shifted coordinates) joined on nds[0];
    empty-nds ways stay NULL; a way's own non-NULL country wins (coalesce)."""
    from insights_spark.ops.propagate import propagate_way_locations

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    n1 = _points(cust, "c_custkey").select(
        F.col("c_custkey").alias("id"),
        F.lit("node").alias("type"),
        F.lit(1).cast("long").alias("version"),
        F.col("lat"),
        F.col("lon"),
        F.concat(
            F.lit("N"), F.pmod(F.col("c_custkey"), F.lit(5)).cast("string")
        ).alias("country"),
        F.lit(None).cast("array<bigint>").alias("nds"),
    )
    c2 = cust.filter(F.pmod(F.col("c_custkey"), F.lit(2)) == 0).withColumn(
        "k2", F.col("c_custkey") + F.lit(1000000)
    )
    n2 = _points(c2, "k2").select(
        F.col("c_custkey").alias("id"),
        F.lit("node").alias("type"),
        F.lit(2).cast("long").alias("version"),
        F.col("lat"),
        F.col("lon"),
        F.concat(
            F.lit("M"), F.pmod(F.col("c_custkey"), F.lit(5)).cast("string")
        ).alias("country"),
        F.lit(None).cast("array<bigint>").alias("nds"),
    )
    o = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    ways = o.select(
        ok.alias("id"),
        F.lit("way").alias("type"),
        F.lit(1).cast("long").alias("version"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
        F.when(F.pmod(ok, F.lit(7)) == 0, F.lit("OWN"))
        .otherwise(F.lit(None).cast("string"))
        .alias("country"),
        F.when(F.pmod(ok, F.lit(50)) == 0, F.array().cast("array<bigint>"))
        .otherwise(F.array(F.col("o_custkey")))
        .alias("nds"),
    )
    els = n1.unionByName(n2).unionByName(ways)
    return (
        propagate_way_locations(els)
        .filter(F.col("type") == "way")
        .select("id", "lon", "lat", "country")
    )


@query("campaign_rollup", oracle="""
            WITH cs AS (
              SELECT o_orderkey AS id, o_custkey AS user_id,
                     o_orderdate AS created_at,
                     'fix #camp' || mod(o_orderkey, 4)::VARCHAR ||
                     CASE WHEN mod(o_orderkey, 3) = 0 THEN ' work' ELSE '' END
                       AS comment
              FROM orders),
            reg AS (SELECT * FROM (VALUES (1, 'camp0'), (2, 'camp1'), (3, 'camp2'))
                    t(hashtag_id, hashtag_name)),
            m AS (SELECT hashtag_id, cs.id AS cs_id, user_id,
                         date_trunc('month', created_at)::TIMESTAMP AS start_date
                  FROM cs JOIN reg
                    ON lower(comment) LIKE '%#' || hashtag_name || ' %'
                    OR lower(comment) LIKE '%#' || hashtag_name),
            st AS (SELECT o_orderkey AS changeset,
                          mod(o_orderkey, 10) AS added_buildings,
                          mod(o_orderkey, 7)::DOUBLE AS added_highway_meters,
                          mod(o_orderkey, 5) AS added_amenity,
                          mod(o_orderkey, 4) AS modified_amenity,
                          mod(o_orderkey, 3) AS added_places,
                          mod(o_orderkey, 2) AS modified_places
                   FROM orders WHERE mod(o_orderkey, 11) != 0)
            SELECT CAST(hashtag_id AS BIGINT) AS hashtag_id, 'm' AS type,
                   start_date,
                   start_date + INTERVAL 1 MONTH AS end_date,
                   CAST(coalesce(sum(added_buildings), 0) AS BIGINT) AS total_new_buildings,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS total_uq_contributors,
                   coalesce(sum(added_highway_meters), 0.0) AS total_new_road_meters,
                   CAST(coalesce(sum(added_amenity), 0) AS BIGINT) AS total_new_amenity,
                   CAST(coalesce(sum(modified_amenity), 0) AS BIGINT) AS total_modified_amenity,
                   CAST(coalesce(sum(added_places), 0) AS BIGINT) AS total_new_places,
                   CAST(coalesce(sum(modified_places), 0) AS BIGINT) AS total_modified_places
            FROM m LEFT JOIN st ON m.cs_id = st.changeset
            GROUP BY hashtag_id, start_date
        """)
def _q_campaign_rollup(spark, sf_dir):
    """A7/J2/P4/F7 — one-pass hashtag campaign rollup for monthly periods:
    broadcast registry theta-join on the 4-pattern match, left join to the
    per-changeset stats battery (some changesets lack stats → coalesce 0),
    groupBy(hashtag, month) (ops.hashtags.hashtag_period_stats)."""
    from insights_spark.ops.hashtags import hashtag_period_stats

    o = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    changesets = o.select(
        ok.alias("id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("created_at"),
        F.create_map(
            F.lit("comment"),
            F.concat(
                F.lit("fix #camp"),
                F.pmod(ok, F.lit(4)).cast("string"),
                # exercise both comment patterns: '%#h %' and trailing '%#h'
                F.when(F.pmod(ok, F.lit(3)) == 0, F.lit(" work")).otherwise(F.lit("")),
            ),
        ).alias("tags"),
    )
    reg = spark.createDataFrame(
        [(1, "camp0"), (2, "camp1"), (3, "camp2")], "id long, name string"
    )
    stats = o.filter(F.pmod(ok, F.lit(11)) != 0).select(
        ok.alias("changeset"),
        F.pmod(ok, F.lit(10)).cast("int").alias("added_buildings"),
        F.pmod(ok, F.lit(7)).cast("double").alias("added_highway_meters"),
        F.pmod(ok, F.lit(5)).cast("int").alias("added_amenity"),
        F.pmod(ok, F.lit(4)).cast("int").alias("modified_amenity"),
        F.pmod(ok, F.lit(3)).cast("int").alias("added_places"),
        F.pmod(ok, F.lit(2)).cast("int").alias("modified_places"),
    )
    return hashtag_period_stats(changesets, stats, reg, "m")


@query("mapathon_report", oracle="""
            WITH ids AS (SELECT o_orderkey FROM orders
                         WHERE o_orderstatus = 'F' AND o_totalprice > 150000),
            el AS (SELECT l_orderkey * 10 + l_linenumber AS id,
                          CASE WHEN mod(l_linenumber, 3) = 0 THEN 'create'
                               WHEN mod(l_linenumber, 3) = 1 THEN 'modify'
                               ELSE 'delete' END AS action,
                          l_partkey
                   FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM ids)),
            kv AS (SELECT id, action, 'building' AS key FROM el
                   WHERE mod(l_partkey, 3) = 0
                   UNION ALL
                   SELECT id, action, 'highway' AS key FROM el
                   WHERE mod(l_partkey, 5) = 0)
            SELECT key, action, CAST(count(DISTINCT id) AS BIGINT) AS features
            FROM kv GROUP BY key, action
        """)
def _q_mapathon_report(spark, sf_dir):
    """J1/P8/A4 — mapathon tag/action report: semi-join elements against the
    filtered changeset set, explode the tag map, countDistinct features per
    (key, action) (ops.country.mapathon_tag_action_report)."""
    from insights_spark.ops.country import mapathon_tag_action_report

    li = _t(spark, sf_dir, "lineitem")
    els = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("changeset"),
        F.when(F.pmod(F.col("l_linenumber"), F.lit(3)) == 0, F.lit("create"))
        .when(F.pmod(F.col("l_linenumber"), F.lit(3)) == 1, F.lit("modify"))
        .otherwise(F.lit("delete"))
        .alias("action"),
        F.map_filter(
            F.create_map(
                F.lit("building"),
                F.when(F.pmod(F.col("l_partkey"), F.lit(3)) == 0, F.lit("yes")),
                F.lit("highway"),
                F.when(
                    F.pmod(F.col("l_partkey"), F.lit(5)) == 0, F.lit("residential")
                ),
            ),
            lambda k, v: v.isNotNull(),
        ).alias("tags"),
    )
    ids = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000))
        .select(F.col("o_orderkey").alias("id"))
    )
    return mapathon_tag_action_report(els, ids)


@query("mapathon_user_report", oracle="""
            WITH ids AS (SELECT o_orderkey FROM orders
                         WHERE o_orderstatus = 'F' AND o_totalprice > 150000),
            el AS (SELECT l_orderkey * 10 + l_linenumber AS id,
                          mod(l_suppkey, 23) AS uid,
                          CASE WHEN mod(l_linenumber, 3) = 0 THEN 'create'
                               WHEN mod(l_linenumber, 3) = 1 THEN 'modify'
                               ELSE 'delete' END AS action,
                          l_partkey
                   FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM ids)),
            kv AS (SELECT id, uid, action, 'building' AS key FROM el
                   WHERE mod(l_partkey, 3) = 0
                   UNION ALL
                   SELECT id, uid, action, 'highway' AS key FROM el
                   WHERE mod(l_partkey, 5) = 0),
            names AS (SELECT uid, user_name AS username FROM (
                        SELECT mod(o_orderkey, 23) AS uid,
                               'user_' || mod(o_orderkey, 23)::VARCHAR || '_'
                                 || o_orderkey::VARCHAR AS user_name,
                               row_number() OVER (PARTITION BY mod(o_orderkey, 23)
                                                  ORDER BY o_orderkey DESC) AS rn
                        FROM orders) WHERE rn = 1)
            SELECT kv.uid, username, key, action,
                   CAST(count(DISTINCT id) AS BIGINT) AS features
            FROM kv LEFT JOIN names ON kv.uid = names.uid
            GROUP BY 1, 2, 3, 4
        """)
def _q_mapathon_user_report(spark, sf_dir):
    """Reference advanced-queries.md:53-75 — detailed per-user mapathon
    report uid|username|key|action|features: the A4 rollup grouped by uid,
    with the correlated LIMIT-1 username lookup replaced by the
    deterministic J4 scalar pick (username on the user's max changeset id)."""
    from insights_spark.ops.country import mapathon_user_report

    li = _t(spark, sf_dir, "lineitem")
    els = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("changeset"),
        F.pmod(F.col("l_suppkey"), F.lit(23)).alias("uid"),
        F.when(F.pmod(F.col("l_linenumber"), F.lit(3)) == 0, F.lit("create"))
        .when(F.pmod(F.col("l_linenumber"), F.lit(3)) == 1, F.lit("modify"))
        .otherwise(F.lit("delete"))
        .alias("action"),
        F.map_filter(
            F.create_map(
                F.lit("building"),
                F.when(F.pmod(F.col("l_partkey"), F.lit(3)) == 0, F.lit("yes")),
                F.lit("highway"),
                F.when(
                    F.pmod(F.col("l_partkey"), F.lit(5)) == 0, F.lit("residential")
                ),
            ),
            lambda k, v: v.isNotNull(),
        ).alias("tags"),
    )
    o = _t(spark, sf_dir, "orders")
    changesets = o.select(
        F.col("o_orderkey").alias("id"),
        F.pmod(F.col("o_orderkey"), F.lit(23)).alias("user_id"),
        F.concat(
            F.lit("user_"), F.pmod(F.col("o_orderkey"), F.lit(23)).cast("string"),
            F.lit("_"), F.col("o_orderkey").cast("string"),
        ).alias("user_name"),
    )
    ids = o.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
    ).select(F.col("o_orderkey").alias("id"))
    return mapathon_user_report(els, changesets, ids)


@query("propagate_relations", oracle="""
            WITH nd AS (
              SELECT c_custkey AS id,
                     mod(c_custkey * 7919, 360000) / 1000.0 - 180.0 AS lon,
                     mod(c_custkey * 104729, 170000) / 1000.0 - 85.0 AS lat,
                     'N' || mod(c_custkey, 5)::VARCHAR AS country
              FROM customer),
            wy AS (
              SELECT o_orderkey AS id, nd.lon, nd.lat,
                     CASE WHEN mod(o_orderkey, 7) = 0 THEN 'OWN'
                          ELSE nd.country END AS country
              FROM orders LEFT JOIN nd ON o_custkey = nd.id)
            SELECT p_partkey AS id,
                   CASE WHEN mod(p_partkey, 3) = 0 THEN n2.lon
                        WHEN mod(p_partkey, 3) = 1 THEN w2.lon
                        ELSE NULL END AS lon,
                   CASE WHEN mod(p_partkey, 3) = 0 THEN n2.lat
                        WHEN mod(p_partkey, 3) = 1 THEN w2.lat
                        ELSE NULL END AS lat,
                   CASE WHEN mod(p_partkey, 11) = 0 THEN 'ROWN'
                        WHEN mod(p_partkey, 3) = 0 THEN n2.country
                        WHEN mod(p_partkey, 3) = 1 THEN w2.country
                        ELSE NULL END AS country
            FROM part
            LEFT JOIN nd n2 ON mod(p_partkey, 100) = n2.id AND mod(p_partkey, 3) = 0
            LEFT JOIN wy w2 ON mod(p_partkey, 200) = w2.id AND mod(p_partkey, 3) = 1
        """)
def _q_propagate_relations(spark, sf_dir):
    """J7 two-hop — relation location propagation from the first member
    (reference advanced-queries.md:203-230): node members resolve directly;
    way members resolve through the way's OWN propagated location (ways
    first, then relations); empty-member relations stay NULL; a relation's
    own non-NULL country wins (coalesce)."""
    from insights_spark.ops.propagate import (
        propagate_relation_locations, propagate_way_locations,
    )

    member_t = "array<struct<type:string,ref:bigint>>"
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    nodes = _points(cust, "c_custkey").select(
        F.col("c_custkey").alias("id"),
        F.lit("node").alias("type"),
        F.lit(1).cast("long").alias("version"),
        F.col("lat"), F.col("lon"),
        F.concat(F.lit("N"), F.pmod(F.col("c_custkey"), F.lit(5)).cast("string"))
        .alias("country"),
        F.lit(None).cast("array<bigint>").alias("nds"),
        F.lit(None).cast(member_t).alias("members"),
    )
    o = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    ways = o.select(
        ok.alias("id"),
        F.lit("way").alias("type"),
        F.lit(1).cast("long").alias("version"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
        F.when(F.pmod(ok, F.lit(7)) == 0, F.lit("OWN"))
        .otherwise(F.lit(None).cast("string")).alias("country"),
        F.array(F.col("o_custkey")).cast("array<bigint>").alias("nds"),
        F.lit(None).cast(member_t).alias("members"),
    )
    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    rels = p.select(
        pk.alias("id"),
        F.lit("relation").alias("type"),
        F.lit(1).cast("long").alias("version"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
        F.when(F.pmod(pk, F.lit(11)) == 0, F.lit("ROWN"))
        .otherwise(F.lit(None).cast("string")).alias("country"),
        F.lit(None).cast("array<bigint>").alias("nds"),
        F.when(
            F.pmod(pk, F.lit(3)) == 0,
            F.array(F.struct(
                F.lit("node").alias("type"),
                F.pmod(pk, F.lit(100)).cast("bigint").alias("ref"),
            )),
        )
        .when(
            F.pmod(pk, F.lit(3)) == 1,
            F.array(F.struct(
                F.lit("way").alias("type"),
                F.pmod(pk, F.lit(200)).cast("bigint").alias("ref"),
            )),
        )
        .otherwise(F.array().cast(member_t))
        .alias("members"),
    )
    els = nodes.unionByName(ways).unionByName(rels)
    out = propagate_relation_locations(propagate_way_locations(els))
    return (
        out.filter(F.col("type") == "relation")
        .select("id", "lon", "lat", "country")
    )


def _snapshot_table_fixture(spark, sf_dir, tag):
    """Build a SnapshotTable (runtime/tablefmt.py) from `documents` with a
    3-commit history — the catalog-lane fixture shared by the tablefmt
    queries. Commits: (1) append evens ts=100, (2) MERGE keep_last of the
    mod-3 docs with n_chars+1000 ts=200 (updates evens∩mod3, inserts odd
    mod3 — keep_first would give a DIFFERENT answer, so the oracle pins the
    precedence rule), (3) overwrite with a 1-row tombstone ts=300 (so
    time-travel reads must survive a logically-destroyed table)."""
    import hashlib
    import shutil

    from insights_spark.runtime.tablefmt import SnapshotTable

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_tablefmt_{tag}_{digest}"
    shutil.rmtree(path, ignore_errors=True)
    t = SnapshotTable(spark, path)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    t.append(docs.filter(F.col("doc_id") % 2 == 0), ts=100)
    t.merge(
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("n_chars", F.col("n_chars") + F.lit(1000)),
        keys=["doc_id"], mode="keep_last", ts=200,
    )
    t.overwrite(
        docs.filter(F.col("doc_id") == 0).limit(1), ts=300
    )
    return t


# tablefmt catalog lane: the post-merge snapshot state as a plain
# relational expression — evens from the append, mod-3 rows carry
# the MERGE's +1000 (updates where even∩mod3, inserts where odd).
# Equality pins keep_last precedence AND (for table_time_travel)
# that as_of_ts=250 still resolves this state after snapshot 3
# overwrote the live table.
@query("table_merge_read", headline=True, oracle="""
            SELECT doc_id, source,
                   CASE WHEN mod(doc_id, 3) = 0 THEN n_chars + 1000
                        ELSE n_chars END AS n_chars
            FROM documents
            WHERE mod(doc_id, 2) = 0 OR mod(doc_id, 3) = 0
        """)
def _q_table_merge_read(spark, sf_dir):
    """Snapshot-table MERGE (runtime/tablefmt.py:SnapshotTable.merge) —
    append evens, MERGE keep_last mod-3 updates, read snapshot 2: updated
    evens∩mod3 carry +1000, odd mod3 inserted, other evens untouched. The
    oracle is the equivalent relational expression over `documents`."""
    t = _snapshot_table_fixture(spark, sf_dir, "merge")
    return t.read(snapshot_id=2).select("doc_id", "source", "n_chars")


@query("table_time_travel", oracle="""
            SELECT doc_id, source,
                   CASE WHEN mod(doc_id, 3) = 0 THEN n_chars + 1000
                        ELSE n_chars END AS n_chars
            FROM documents
            WHERE mod(doc_id, 2) = 0 OR mod(doc_id, 3) = 0
        """)
def _q_table_time_travel(spark, sf_dir):
    """Snapshot time travel (runtime/tablefmt.py:SnapshotTable.read):
    as_of_ts=250 resolves the post-merge state even though snapshot 3
    OVERWROTE the table — history survives replace commits because commits
    only add files; expire_snapshots is the sole deletion path."""
    t = _snapshot_table_fixture(spark, sf_dir, "tt")
    assert t.current_snapshot_id() == 3  # the overwrite is live
    return t.read(as_of_ts=250).select("doc_id", "source", "n_chars")


@query("gapfill_weeks", headline=True, oracle="""
            WITH f AS (SELECT event_type, date_trunc('week', ts) AS w
                       FROM events
                       WHERE ts IS NOT NULL AND event_type IS NOT NULL),
            r AS (SELECT event_type, w AS bucket_start,
                         CAST(count(*) AS BIGINT) AS n
                  FROM f GROUP BY event_type, w),
            s AS (SELECT k.event_type,
                         unnest(generate_series(b.b0, b.b1,
                                                INTERVAL 7 DAY))
                             AS bucket_start
                  FROM (SELECT DISTINCT event_type FROM f) k,
                       (SELECT min(w) AS b0, max(w) AS b1 FROM f) b)
            SELECT s.event_type, s.bucket_start,
                   CAST(COALESCE(r.n, 0) AS BIGINT) AS n_events
            FROM s LEFT JOIN r
              ON s.event_type = r.event_type
             AND s.bucket_start = r.bucket_start
        """)
def _q_gapfill_weeks(spark, sf_dir):
    """Gap-filled weekly rollup (ops/timeseries.py:gapfill_counts):
    per-event_type weekly counts with EXPLICIT ZERO rows on the full
    Monday-bucket spine — the time_bucket_gapfill shape; spine =
    dimension-sized keys × sequence() explode, facts touched by ONE
    decomposable rollup shuffle."""
    from insights_spark.ops.timeseries import gapfill_counts

    return gapfill_counts(_t(spark, sf_dir, "events"))


@query("anomaly_weeks", headline=True, oracle="""
            WITH ev AS (SELECT event_type, ts FROM events
                        WHERE ts IS NOT NULL AND event_type IS NOT NULL),
            w0 AS (SELECT date_trunc('week', min(ts)) AS w FROM ev
                   WHERE event_type = 'click'),
            burst AS (SELECT e.event_type, e.ts
                      FROM ev e, w0, generate_series(1, 9) g
                      WHERE e.event_type = 'click'
                        AND date_trunc('week', e.ts) = w0.w),
            inp AS (SELECT * FROM ev UNION ALL SELECT * FROM burst),
            f AS (SELECT event_type, date_trunc('week', ts) AS w FROM inp),
            r AS (SELECT event_type, w AS bucket_start,
                         CAST(count(*) AS BIGINT) AS n
                  FROM f GROUP BY event_type, w),
            s AS (SELECT k.event_type,
                         unnest(generate_series(b.b0, b.b1,
                                                INTERVAL 7 DAY))
                             AS bucket_start
                  FROM (SELECT DISTINCT event_type FROM f) k,
                       (SELECT min(w) AS b0, max(w) AS b1 FROM f) b),
            filled AS (SELECT s.event_type, s.bucket_start,
                              CAST(COALESCE(r.n, 0) AS BIGINT) AS n_events
                       FROM s LEFT JOIN r
                         ON s.event_type = r.event_type
                        AND s.bucket_start = r.bucket_start),
            med AS (SELECT event_type,
                           quantile_cont(n_events, 0.5) AS median_n
                    FROM filled GROUP BY event_type)
            SELECT filled.event_type, bucket_start, n_events, median_n,
                   CAST(n_events AS DOUBLE) > 4.0 * median_n AS is_spike
            FROM filled JOIN med ON filled.event_type = med.event_type
        """)
def _q_anomaly_weeks(spark, sf_dir):
    """Volume-spike detection (ops/timeseries.py:anomaly_buckets) over a
    deterministically planted burst — 9 extra copies of click's first
    week (the pii_scrub plant-so-it's-non-vacuous rule): that bucket
    exceeds 4× click's median and flags True, every other bucket
    (including the zero-filled spine) stays False. Median = exact
    interpolated percentile == quantile_cont."""
    from insights_spark.ops.timeseries import anomaly_buckets

    ev = _t(spark, sf_dir, "events").select("event_type", "ts").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click")
    w0 = clicks.agg(F.date_trunc("week", F.min("ts")).alias("w0"))
    burst = (
        clicks.crossJoin(F.broadcast(w0))
        .filter(F.date_trunc("week", F.col("ts")) == F.col("w0"))
        .withColumn("_k", F.explode(F.sequence(F.lit(1), F.lit(9))))
        .select("event_type", "ts")
    )
    return anomaly_buckets(ev.unionByName(burst), factor=4)


def _layout_qcell(level: int = 3) -> int:
    """Level-`level` S2 cell of event_id=1's synthetic point — the
    deterministic probe cell for the layout-scan query (same derivation
    formula both engines)."""
    import numpy as np

    from insights_spark.geo.cells import s2_cell_id

    lon = np.array([(1 * 7919 % 360000) / 1000.0 - 180.0])
    lat = np.array([(1 * 104729 % 170000) / 1000.0 - 85.0])
    return int(s2_cell_id(lon, lat, level)[0])


# layout scan: exact level-4 membership via the unrolled Hilbert
# SQL — equality with the Spark side's level-14 BETWEEN range pins
# the S2 descendant-interval property across the clustered
# write/read roundtrip.
@query("spatial_layout_scan", headline=True, oracle=(
    f"SELECT event_id FROM ("
    f"{_s2_cells_sql(_EV_PTS, level=3, rollup=False)}"
    f") t WHERE s2_l12 = {_layout_qcell()}"
))
def _q_spatial_layout_scan(spark, sf_dir):
    """Space-filling-curve layout + pruned scan (runtime/layout.py):
    events clustered on the level-14 Hilbert key, then ONE BETWEEN over
    the level-3 probe cell's descendant interval — pushed to the parquet
    scan, row groups pruned by footer stats. The oracle recomputes exact
    level-3 cell membership via the unrolled Hilbert SQL, so the green
    row pins the S2 interval property (BETWEEN on level-14 keys ==
    level-3 containment) across the write/read roundtrip."""
    import hashlib
    import shutil

    from insights_spark.runtime.layout import cluster_spatial, spatial_scan

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_layout_{digest}"
    shutil.rmtree(path, ignore_errors=True)
    pts = _points(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    cluster_spatial(pts, path, level=14, partitions=8)
    return spatial_scan(spark, path, _layout_qcell()).select("event_id")


@query("tasks_per_user", oracle="""
            SELECT user_id, CAST(count(*) AS BIGINT) AS task_count
            FROM (SELECT user_id, mod(event_id, 20) AS project_id,
                         ts AS action_date, event_type AS action_text
                  FROM events)
            WHERE project_id IN (1, 2, 3)
              AND action_date >= TIMESTAMP '2024-01-01 00:00:00'
              AND action_date <= TIMESTAMP '2024-01-15 00:00:00'
              AND action_text = 'click'
            GROUP BY user_id
        """)
def _q_tasks_per_user(spark, sf_dir):
    """J10/U1 — tasks_per_user modeled on a local task_history fixture:
    project/window/action filter → per-user count (ops.users.tasks_per_user)."""
    from insights_spark.ops.users import tasks_per_user

    th = _t(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.pmod(F.col("event_id"), F.lit(20)).cast("int").alias("project_id"),
        F.col("ts").alias("action_date"),
        F.col("event_type").alias("action_text"),
    )
    return tasks_per_user(
        th, [1, 2, 3], "2024-01-01 00:00:00", "2024-01-15 00:00:00", "click"
    )
