from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from insights_spark.ops.timeseries import gapfill_counts
from insights_spark.text.sample import pps_sample


# ---------------------------------------------------------------- pps


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


def _brute_pps(rows, n):
    """The same systematic-PPS rule in plain python (floor arithmetic)."""
    items = [
        (((did % (1 << 31)) * 2654435761 + 29) % (1 << 31), did, w)
        for did, w in rows if w > 0
    ]
    items.sort()
    total = sum(w for _h, _d, w in items)
    out, c = set(), 0
    for _h, did, w in items:
        lo, c = c, c + w
        if (c * n) // total > (lo * n) // total:
            out.add(did)
    return out


def test_pps_matches_brute_force(spark):
    rows = [(i, (i * 37) % 90 + 1) for i in range(200)]
    got = {r["doc_id"] for r in pps_sample(_docs(spark, rows), 23).collect()}
    assert got == _brute_pps(rows, 23)
    assert len(got) == 23  # no weight spans two grid points here


def test_pps_heavy_item_always_selected(spark):
    # one doc carries half the mass: its segment cannot dodge the grid
    rows = [(i, 1) for i in range(50)] + [(999, 50)]
    got = {r["doc_id"] for r in pps_sample(_docs(spark, rows), 5).collect()}
    assert 999 in got
    assert got == _brute_pps(rows, 5)


def test_pps_partitioning_invariant(spark):
    rows = [(i, (i * 13) % 40 + 1) for i in range(120)]
    base = _docs(spark, rows)
    a = {r["doc_id"] for r in pps_sample(base, 17).collect()}
    b = {r["doc_id"] for r in pps_sample(base.repartition(7), 17).collect()}
    assert a == b == _brute_pps(rows, 17)


def test_pps_zero_weight_excluded_and_saturation(spark):
    rows = [(1, 0), (2, -3), (3, 2), (4, 5), (5, 1)]
    # n = W = 8 → grid spacing 1 ≤ every positive weight → all selected
    got = {r["doc_id"] for r in pps_sample(_docs(spark, rows), 8).collect()}
    assert got == {3, 4, 5}


def test_pps_keeps_original_columns(spark):
    df = spark.createDataFrame(
        [(1, 4, "a"), (2, 4, "b"), (3, 4, "c")],
        "doc_id long, n_chars long, source string",
    )
    out = pps_sample(df, 2)
    assert out.columns == ["doc_id", "n_chars", "source"]


# ----------------------------------------------------------- gapfill


def _ev(spark, rows):
    return spark.createDataFrame(rows, "event_type string, ts timestamp")


def test_gapfill_weekly_zero_rows(spark):
    t = dt.datetime
    rows = [
        ("a", t(2024, 1, 1, 12)),   # week of Mon 2024-01-01
        ("a", t(2024, 1, 2, 9)),
        ("a", t(2024, 1, 16, 0)),   # week of 2024-01-15 — 01-08 is a GAP
        ("b", t(2024, 1, 10, 5)),   # week of 2024-01-08 only
    ]
    out = {
        (r["event_type"], r["bucket_start"], r["n_events"])
        for r in gapfill_counts(_ev(spark, rows)).collect()
    }
    w1, w2, w3 = t(2024, 1, 1), t(2024, 1, 8), t(2024, 1, 15)
    assert out == {
        ("a", w1, 2), ("a", w2, 0), ("a", w3, 1),
        ("b", w1, 0), ("b", w2, 1), ("b", w3, 0),
    }


def test_gapfill_null_exclusion(spark):
    t = dt.datetime
    rows = [
        ("x", t(2024, 3, 4, 1)),     # week of Mon 2024-03-04
        ("x", t(2024, 3, 20, 23)),   # week of 2024-03-18
        ("x", None),                 # NULL ts: no place on the spine
        (None, t(2024, 3, 12)),      # NULL key: excluded, no week of its own
    ]
    out = {
        (r["event_type"], r["bucket_start"], r["n_events"])
        for r in gapfill_counts(_ev(spark, rows)).collect()
    }
    assert out == {
        ("x", t(2024, 3, 4), 1), ("x", t(2024, 3, 11), 0),
        ("x", t(2024, 3, 18), 1),
    }


def test_gapfill_counts_are_long(spark):
    t = dt.datetime
    out = gapfill_counts(_ev(spark, [("a", t(2024, 1, 1))]))
    assert dict(out.dtypes)["n_events"] == "bigint"
    assert out.collect() == [
        ("a", t(2024, 1, 1), 1)
    ]


def test_anomaly_buckets_hand_pinned(spark):
    from insights_spark.ops.timeseries import anomaly_buckets

    t = dt.datetime
    rows = (
        # key a: week counts [10, 1, 1] → median 1 → week1 spikes (10 > 4)
        [("a", t(2024, 1, 1, h)) for h in range(10)]
        + [("a", t(2024, 1, 8, 1)), ("a", t(2024, 1, 15, 1))]
        # key b: single burst week → buckets [0, 1, 0], median 0 → its one
        # occupied bucket flags (the zero rows are load-bearing: an
        # occupied-buckets-only median would read 1 and hide it)
        + [("b", t(2024, 1, 8, 2))]
    )
    out = {
        (r["event_type"], r["bucket_start"], r["n_events"], r["is_spike"])
        for r in anomaly_buckets(_ev(spark, rows)).collect()
    }
    w1, w2, w3 = t(2024, 1, 1), t(2024, 1, 8), t(2024, 1, 15)
    assert out == {
        ("a", w1, 10, True), ("a", w2, 1, False), ("a", w3, 1, False),
        ("b", w1, 0, False), ("b", w2, 1, True), ("b", w3, 0, False),
    }


def test_anomaly_buckets_uniform_series_never_flags(spark):
    from insights_spark.ops.timeseries import anomaly_buckets

    t = dt.datetime
    rows = [("x", t(2024, 1, 1 + 7 * w, h)) for w in range(4) for h in range(3)]
    out = anomaly_buckets(_ev(spark, rows)).collect()
    assert len(out) == 4 and not any(r["is_spike"] for r in out)


def test_int8_topk_hand_pinned(spark):
    from insights_spark.text.quant import int8_topk, quantize_embeddings

    emb = spark.createDataFrame(
        [
            (0, [0.0, 1.0]),    # codes [0, 255]
            (1, [0.0, 2.0]),    # codes [0, 255] (per-vector scale!)
            (2, [1.0, 0.0]),    # codes [255, 0]
            (3, [0.5, 0.5]),    # constant → codes [0, 0]
        ],
        "vec_id long, embedding array<double>",
    )
    out = int8_topk(quantize_embeddings(emb), query_ids=[0]).collect()
    got = [(r["vec_id"], r["dot"]) for r in out]   # 3 candidates < top 5
    # dot(q0,c1)=255·255=65025; c2 and c3 both 0 → tie broken by vec_id
    assert got == [(1, 65025), (2, 0), (3, 0)]
    assert all(r["query_id"] == 0 for r in out)


def test_int8_topk_excludes_self_and_bounds_k(spark):
    from insights_spark.text.quant import int8_topk, quantize_embeddings

    emb = spark.createDataFrame(
        [(i, [float(i), float(2 * i + 1)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = int8_topk(quantize_embeddings(emb), query_ids=[4, 7])
    rows = out.collect()
    assert len(rows) == 10  # 2 queries × top 5
    assert all(r["vec_id"] != r["query_id"] for r in rows)


def test_distinct_sketch_rollup(spark, tmp_path):
    """HLL sketch re-aggregation: merging weekly sketches equals building
    one sketch over the unioned raw data (register-wise max is lossless
    wrt the sketch), estimates are partitioning-invariant, survive a
    parquet round trip, and sit within HLL error of the exact count."""
    from insights_spark.ops.timeseries import (
        build_distinct_sketches,
        merge_distinct_sketches,
    )

    df = spark.range(0, 20000).selectExpr(
        "id % 5 AS wk", "CAST(id % 3 AS STRING) AS et", "id % 4001 AS u"
    )
    sk = build_distinct_sketches(df, ("et", "wk"), "u")
    merged = {r["et"]: r["est_distinct"]
              for r in merge_distinct_sketches(sk, ("et",)).collect()}
    direct = {r["et"]: r["est_distinct"]
              for r in merge_distinct_sketches(
                  build_distinct_sketches(df, ("et",), "u"), ("et",)).collect()}
    assert merged == direct  # lossless merge, not approximately equal
    exact = {r["et"]: r["x"]
             for r in df.groupBy("et").agg(
                 F.count_distinct("u").alias("x")).collect()}
    for et, est in merged.items():
        assert abs(est - exact[et]) / exact[et] < 0.05
    # partitioning invariance: register-max state ignores row order
    sk2 = build_distinct_sketches(df.repartition(17, "u"), ("et", "wk"), "u")
    merged2 = {r["et"]: r["est_distinct"]
               for r in merge_distinct_sketches(sk2, ("et",)).collect()}
    assert merged2 == merged
    # the sketch column is a storable binary: parquet round trip
    p = str(tmp_path / "sk")
    sk.write.parquet(p)
    back = {r["et"]: r["est_distinct"]
            for r in merge_distinct_sketches(
                spark.read.parquet(p), ("et",)).collect()}
    assert back == merged


def test_rolling_active_sketches(spark):
    """The trailing-window estimate EQUALS a direct sketch build over the
    window's raw union (lossless register-max merge), DAU matches exact
    counts at tiny cardinality, and windows anchor only on observed
    days."""
    import datetime as _dt

    from insights_spark.ops.timeseries import rolling_active_sketches

    base = _dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for d in [0, 1, 2, 5, 9]:  # gap days: 3-4 and 6-8 silent
        for u in range(10 + d):
            rows.append((eid, base + _dt.timedelta(days=d, hours=u % 24), u))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp_ntz, user_id long")
    got = {str(r["day"]): (r["dau_est"], r["wactive_est"])
           for r in rolling_active_sketches(ev).collect()}
    assert set(got) == {"2024-01-01", "2024-01-02", "2024-01-03",
                        "2024-01-06", "2024-01-10"}  # observed days only
    # tiny cardinalities: HLL exact here → DAU = users that day,
    # trailing-7 = union of days t-6..t (each day's users are a superset
    # of the days before it)
    assert got["2024-01-01"] == (10, 10)
    assert got["2024-01-02"] == (11, 11)   # users ⊂ day-2's set
    assert got["2024-01-03"] == (12, 12)
    assert got["2024-01-06"] == (15, 15)   # days 0-2 in window, ⊂ day 5's
    assert got["2024-01-10"] == (19, 19)   # only days 5 and 9 in window


def test_cube_rollup_and_pivot_queries(spark):
    """ROLLUP invariants on the registered query at sf0.001: every level
    sums to the grand total, gid separates NULL-as-subtotal from
    NULL-as-value; pivot row count == distinct users and per-user counts
    sum to the table size."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    r = e.queries()["cube_rollup"](spark, sf).collect()
    grand = [x for x in r if x["gid"] == 3]
    assert len(grand) == 1
    total = grand[0]["density"]
    assert sum(x["density"] for x in r if x["gid"] == 0) == total
    assert sum(x["density"] for x in r if x["gid"] == 1) == total
    # NULL country appears BOTH as a value (gid 0/1) and inside subtotals
    assert any(x["country"] is None and x["gid"] == 1 for x in r)
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert total == n_events

    p = e.queries()["pivot_counts"](spark, sf).collect()
    users = spark.read.parquet(f"{sf}/events.parquet") \
        .select("user_id").distinct().count()
    assert len(p) == users
    cols = [c for c in p[0].asDict() if c.startswith("n_")]
    assert sum(sum(row[c] for c in cols) for row in p) == n_events


def test_event_gaps_and_unpivot(spark):
    """event_gap_stats: hand-computed gaps per type (cross-user streams
    independent, first events excluded, exact interpolated percentiles);
    unpivot round trip: pivot → melt is lossless including zero cells."""
    import datetime as _dt

    import __spark_entry__ as e
    from insights_spark.ops.sessions import event_gap_stats

    t0 = _dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + _dt.timedelta(seconds=sec)
    rows = [
        (1, 1, s(0), "click"), (2, 1, s(10), "click"), (3, 1, s(40), "click"),
        (4, 2, s(0), "click"), (5, 2, s(20), "click"),
        (6, 1, s(5), "view"),  # single event of its type: no gap row
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string")
    got = {r["event_type"]: (r["n_gaps"], r["p50_gap_s"], r["p90_gap_s"])
           for r in event_gap_stats(ev).collect()}
    # click gaps: u1 → 10, 30; u2 → 20 → sorted [10, 20, 30]
    assert got["click"] == (3, 20.0, 28.0)  # p90 interpolated: 20+0.8*10
    assert "view" not in got

    sf = "/root/testdata/sf0.001"
    long = e.queries()["unpivot_counts"](spark, sf)
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    users = spark.read.parquet(f"{sf}/events.parquet") \
        .select("user_id").distinct().count()
    rows2 = long.collect()
    assert len(rows2) == users * 5       # zero cells preserved
    assert sum(r["n"] for r in rows2) == n_events


def test_cusum_changepoint_brute_force(spark):
    """CUSUM argmax-|S| changepoint vs a pure-Python replica: step
    series peaks at the step, flat series peaks deterministically at
    the smallest-t tie, min_points gate, direction signs."""
    import random

    from insights_spark.ops.timeseries import cusum_changepoint

    rng = random.Random(101)
    rows = []
    series = {}
    # key 1: step DOWN at t=10 (s_star > 0); key 2: step UP at t=6
    # (s_star < 0); key 3: flat (tie -> t=1); key 4: too short (gated)
    series[1] = [20 + rng.randint(-2, 2) for _ in range(10)] + \
                [5 + rng.randint(-2, 2) for _ in range(10)]
    series[2] = [3] * 6 + [30] * 8
    series[3] = [7] * 12
    series[4] = [50, 1, 50]
    for k, xs in series.items():
        for i, v in enumerate(xs):
            rows.append((k, i + 1, v))

    want = {}
    for k, xs in series.items():
        T = len(xs)
        if T < 8:
            continue
        total = sum(xs)
        best = None
        pref = 0
        for t, v in enumerate(xs, start=1):
            pref += v
            s = T * pref - t * total
            c = (-abs(s), t, t, s, total, T)
            best = c if best is None or c < best else best
        want[k] = best[1:]

    df = spark.createDataFrame(rows, "cell long, week long, n long")
    got = {
        r["cell"]: (r["t_star"], r["at"], r["s_star"], r["total"],
                    r["n_points"])
        for r in cusum_changepoint(df, ["cell"]).collect()
    }
    assert got == want
    assert 4 not in got
    assert got[1][0] == 10 and got[1][2] > 0      # step down at t=10
    assert got[2][0] == 6 and got[2][2] < 0       # step up after t=6
    assert got[3] == (1, 1, 0, 7 * 12, 12)        # flat: tie -> t=1, S=0


def test_mann_kendall_brute_force(spark):
    """Mann-Kendall S, tie-corrected 18*Var, continuity-corrected
    significance gate vs a pure-Python replica + scipy-free textbook
    cases: monotone up (sig), monotone down (sig), flat (S=0, not sig),
    noisy no-trend (not sig), heavy ties, min_points gate."""
    import random

    from insights_spark.ops.timeseries import mann_kendall

    rng = random.Random(107)
    series = {
        1: list(range(1, 13)),                      # strict up
        2: list(range(30, 10, -2)),                 # strict down
        3: [5] * 10,                                # flat: all ties
        4: [rng.randint(0, 100) for _ in range(12)],  # noise
        5: [1, 1, 2, 2, 2, 3, 3, 3, 3, 4],          # heavy ties, up
        6: [9, 1, 5],                               # gated (n < 8)
    }
    rows = [(k, i + 1, v) for k, xs in series.items()
            for i, v in enumerate(xs)]

    def brute(xs):
        n = len(xs)
        S = sum(
            (xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(n) for j in range(i + 1, n)
        )
        from collections import Counter

        tie = sum(t * (t - 1) * (2 * t + 5)
                  for t in Counter(xs).values())
        var18 = n * (n - 1) * (2 * n + 5) - tie
        sig = abs(S) >= 1 and 18 * (abs(S) - 1) ** 2 * 625 > 2401 * var18
        tr = (S > 0) - (S < 0)
        return (n, S, var18, tr, int(sig))

    df = spark.createDataFrame(rows, "cell long, day long, n long")
    got = {
        r["cell"]: (r["n_points"], r["s_stat"], r["var18"], r["trend"],
                    r["is_sig"])
        for r in mann_kendall(df, ["cell"]).collect()
    }
    want = {k: brute(xs) for k, xs in series.items() if len(xs) >= 8}
    assert got == want
    assert got[1][4] == 1 and got[1][3] == 1       # up, significant
    assert got[2][4] == 1 and got[2][3] == -1      # down, significant
    assert got[3] == (10, 0, got[3][2], 0, 0)      # flat: S=0
    assert got[4][4] == 0                          # noise: not significant
    assert got[5][3] == 1                          # ties still detect up
    assert 6 not in got


def test_theil_sen_brute_force(spark):
    """Theil-Sen lower-median pairwise slope vs a Fraction-exact
    replica using the identical (double, num, den) order: clean linear
    slope recovered exactly, outlier robustness, even-N lower median,
    min_points gate."""
    import random
    from datetime import date, timedelta
    from fractions import Fraction

    from insights_spark.ops.timeseries import theil_sen_slope

    rng = random.Random(113)
    base = date(2024, 1, 1)
    series = {
        1: [(i, 3 * i + 7) for i in range(10)],          # slope exactly 3
        2: [(i, 2 * i + (500 if i == 4 else 0))          # one huge outlier
            for i in range(9)],
        3: [(i, rng.randint(0, 50)) for i in range(8)],  # noise
        4: [(i, 5) for i in range(4)],                   # gated (n<6)
    }
    rows = [(k, base + timedelta(days=t), v)
            for k, xs in series.items() for t, v in xs]

    def brute(xs):
        pairs = []
        for i in range(len(xs)):
            for j in range(i + 1, len(xs)):
                num = xs[j][1] - xs[i][1]
                den = xs[j][0] - xs[i][0]
                pairs.append((num / den, num, den))
        pairs.sort()
        np_ = len(pairs)
        _, num, den = pairs[(np_ + 1) // 2 - 1]
        return (np_, num, den, num / den)

    df = spark.createDataFrame(rows, "cell long, day date, n long")
    got = {
        r["cell"]: (r["n_pairs"], r["med_num"], r["med_den"],
                    r["slope_per_day"])
        for r in theil_sen_slope(df, ["cell"]).collect()
    }
    want = {k: brute(xs) for k, xs in series.items() if len(xs) >= 6}
    assert got == want
    assert Fraction(got[1][1], got[1][2]) == 3       # exact slope 3
    assert abs(got[2][3] - 2.0) < 1.0                # outlier shrugged off
    assert 4 not in got
