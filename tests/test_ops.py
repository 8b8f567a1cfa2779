"""Operator pack unit tests (SURVEY §5 items 1 and 6) — hand-computed
expectations on small DataFrames, calendar-bucketing goldens."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from insights_spark.ops import country, hashtags, latest, propagate, stats, tags, users

T = datetime(2021, 8, 5, 10, 0, 0)


# ------------------------------------------------------------------ tags

def test_tag_exists_vs_isnotnull_semantics(spark):
    df = spark.createDataFrame(
        [(1, {"building": "yes"}), (2, {"building": None}), (3, {"x": "1"}), (4, None)],
        "id long, tags map<string,string>",
    )
    got = {r["id"]: r["e"] for r in
           df.select("id", tags.tag_exists(F.col("tags"), "building").alias("e")).collect()}
    # P1: present-with-null-value must still be TRUE — the isNotNull rewrite is wrong
    assert got[1] is True and got[2] is True and got[3] is False
    assert got[4] is None  # null map → null, never counted


def test_hashtag_vocabulary_two_delimiter_classes(spark):
    df = spark.createDataFrame(
        [
            (1, {"hashtags": "#a;#b.c", "comment": "mapping #d.e in town @#f"}),
            (2, {"comment": "#a done"}),
        ],
        "id long, tags map<string,string>",
    )
    vocab = sorted(r["hashtag"] for r in tags.hashtag_vocabulary(df).collect())
    # hashtags tag splits on [\s,;] → '#b.c' stays whole; comment splits on
    # [\s;,.@] → '#d.e' breaks into '#d' (and 'e' is dropped), '@#f' → '#f'
    assert vocab == ["#a", "#b.c", "#d", "#f"]


def test_hashtag_match_word_boundary(spark):
    df = spark.createDataFrame(
        [
            (1, {"comment": "#hotosm-project-1 mapping"}),
            (2, {"comment": "#hotosm-project-11224 mapping"}),
            (3, {"hashtags": "#hotosm-project-1;#x"}),
            (4, {"hashtags": "#hotosm-project-1"}),
            (5, {"comment": "ends with #hotosm-project-1"}),
        ],
        "id long, tags map<string,string>",
    )
    match = hashtags.hashtag_match_col(F.col("tags"), F.lit("hotosm-project-1"))
    got = sorted(r["id"] for r in df.filter(match).collect())
    # id=2 must NOT match (strict-prefix trap, hashtags.py:69-70 semantics)
    assert got == [1, 3, 4, 5]


# ------------------------------------------------------------------ latest

def _mk_elements(spark):
    rows = [
        # (id, type, tags, lat, lon, nds, members, changeset, ts, uid, version, action, country)
        (1, "node", {"building": "yes"}, 1.0, 1.0, None, None, 100, T, 7, 1, "create", "Kenya"),
        (1, "node", {"building": "yes"}, 1.1, 1.1, None, None, 101, datetime(2021, 8, 6), 7, 2, "modify", "Kenya"),
        (1, "node", {"amenity": "school"}, 1.2, 1.2, None, None, 102, datetime(2021, 9, 1), 8, 3, "modify", "Kenya"),
        (2, "node", {"place": "town"}, 2.0, 2.0, None, None, 100, T, 7, 1, "create", "Kenya"),
        (1, "way", {"building": "yes"}, None, None, [1, 2], None, 100, T, 7, 1, "create", None),
        (1, "way", {"building": "yes"}, None, None, [1, 2], None, 103, datetime(2021, 9, 2), 9, 2, "modify", None),
        (5, "way", {"highway": "primary"}, None, None, [2, 1], None, 101, T, 7, 1, "create", None),
        (9, "relation", {"type": "multipolygon"}, None, None, None,
         [Row(ref=1, type="way", role="outer")], 102, T, 8, 1, "create", None),
        (3, "node", {}, None, None, None, None, 104, T, 7, 2, "delete", None),
    ]
    from insights_spark.schemas import ELEMENT_HISTORY

    return spark.createDataFrame(rows, ELEMENT_HISTORY)


def test_latest_version_window(spark):
    e = _mk_elements(spark)
    l = latest.latest_version(e)
    got = {(r["type"], r["id"]): r["version"] for r in l.collect()}
    assert got[("node", 1)] == 3 and got[("way", 1)] == 2
    # as-of cutoff: strictly before 2021-09-01 → node 1 version 2
    l2 = latest.latest_version(e, cutoff=F.lit(datetime(2021, 9, 1)))
    got2 = {(r["type"], r["id"]): r["version"] for r in l2.collect()}
    assert got2[("node", 1)] == 2 and got2[("way", 1)] == 1


def test_scd2_intervals(spark):
    """SCD2 intervals tile each key's history: valid_to of version k equals
    valid_from of version k+1, exactly one open (is_current) row per key,
    and the as-of answer from a range predicate matches latest_version."""
    e = _mk_elements(spark)
    iv = latest.scd2_intervals(e).collect()
    assert len(iv) == e.count()  # one interval per version, nothing dropped
    by_key = {}
    for r in iv:
        by_key.setdefault((r["type"], r["id"]), []).append(r)
    for key, rows in by_key.items():
        rows.sort(key=lambda r: r["version"])
        assert sum(r["is_current"] for r in rows) == 1
        assert rows[-1]["is_current"] == 1 and rows[-1]["valid_to"] is None
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]  # gapless tiling
    # as-of via range predicate == as-of via window (node 1 @ 2021-09-01)
    cutoff = datetime(2021, 8, 20)
    asof = {
        (r["type"], r["id"]): r["version"]
        for r in iv
        if r["valid_from"] <= cutoff
        and (r["valid_to"] is None or r["valid_to"] > cutoff)
    }
    assert asof[("node", 1)] == 2  # version 3 starts 2021-09-01, after cutoff


def test_scalar_pick_deterministic(spark):
    df = spark.createDataFrame(
        [(7, "alice", 100), (7, "bob", 102), (8, "carol", 101)],
        "uid long, user_name string, cs long",
    )
    got = {r["uid"]: r["user_name"]
           for r in latest.scalar_pick(df, ("uid",), "user_name", "cs").collect()}
    assert got == {7: "bob", 8: "carol"}  # max changeset id wins (J4 rule)


# ------------------------------------------------------------------ stats

def test_winsorized_stats_hand_computed(spark):
    """Rank-exact winsorization pinned by hand: a 20-value group with one
    huge outlier clamps to the rank-1/rank-19 values; a 3-value group has
    k_05 = 1 and k_95 = 3 (no clamping); nulls dropped; Fraction-free
    integer expectations."""
    from insights_spark.ops.stats import winsorized_stats

    rows = [("a", float(i)) for i in range(1, 20)] + [("a", 1000.0)]
    rows += [("b", 1.5), ("b", 2.25), ("b", 3.0), ("b", None)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {r["event_type"]: (r["n"], r["lo_cents"], r["hi_cents"],
                             r["wins_sum_cents"])
           for r in winsorized_stats(df, "event_type", "value").collect()}
    # group a: n=20, k05=ceil(1.0)=1 -> 100, k95=ceil(19.0)=19 -> 1900;
    # sum = 100..1900 clamped: values 1..19 (cents 100..1900) + outlier
    # clamped to 1900 = sum(100..1900 step 100) + 1900
    a_sum = sum(i * 100 for i in range(1, 20)) + 1900
    assert got["a"] == (20, 100, 1900, a_sum)
    # group b: n=3, k05=1 -> 150, k95=ceil(2.85)=3 -> 300; nothing clamps
    assert got["b"] == (3, 150, 300, 150 + 225 + 300)


def test_changeset_stats_battery(spark):
    e = _mk_elements(spark)
    got = {r["changeset"]: r.asDict() for r in stats.changeset_stats(e).collect()}
    # changeset 100: way(building,create) → added_buildings=1; node1(building,
    # create) doesn't count (nodes excluded for buildings); node2 place=town
    # way/node create → added_places=1
    assert got[100]["added_buildings"] == 1
    assert got[100]["added_places"] == 1
    assert got[100]["added_amenity"] == 0
    # changeset 102: node1 v3 amenity modify → modified_amenity=1; relation
    # create with no counted tags → zeros
    assert got[102]["modified_amenity"] == 1
    # changeset 101: way5 highway create → added_highway=1; node1 v2 building
    # modify is a NODE → modified_buildings=0
    assert got[101]["added_highway"] == 1
    assert got[101]["modified_buildings"] == 0
    # delete rows excluded entirely
    assert 104 not in got


def test_changeset_stats_meters(spark):
    e = _mk_elements(spark)
    got = {r["changeset"]: r.asDict()
           for r in stats.changeset_stats_with_meters(e, e).collect()}
    # way 5 (highway, create, cs 101): nds [2,1] → node2(2,2) to node1 —
    # node1 latest version as-of way ts T is v1 at (1,1)
    from insights_spark.geo.length import vincenty_m

    want = vincenty_m([2.0], [2.0], [1.0], [1.0])[0]
    assert abs(got[101]["added_highway_meters"] - want) < 1e-6
    assert got[100]["added_highway_meters"] == 0.0


def test_missed_changesets_antijoin(spark):
    e = _mk_elements(spark)
    s = stats.changeset_stats(e).filter(F.col("changeset") != 102)
    missed = sorted(r["changeset"] for r in stats.missed_changesets(e, s).collect())
    assert missed == [102, 104]  # 104 only has a delete row → no stats row


# ------------------------------------------------------------------ calendar

WEEK_GOLDENS = [
    # (input ts, expected Friday-noon week start) — incl. year boundary
    (datetime(2021, 8, 5, 10, 0), datetime(2021, 7, 30, 12, 0)),   # Thursday
    (datetime(2021, 8, 6, 11, 59), datetime(2021, 7, 30, 12, 0)),  # Friday before noon
    (datetime(2021, 8, 6, 12, 0), datetime(2021, 8, 6, 12, 0)),    # Friday noon exactly
    (datetime(2021, 8, 6, 13, 0), datetime(2021, 8, 6, 12, 0)),    # Friday after noon
    (datetime(2021, 1, 1, 0, 0), datetime(2020, 12, 25, 12, 0)),   # year boundary
    (datetime(2024, 2, 29, 23, 59), datetime(2024, 2, 23, 12, 0)), # leap day
]


def test_week_start_friday_noon_goldens(spark):
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(WEEK_GOLDENS)],
                               "id long, ts timestamp_ntz")
    got = {r["id"]: r["ws"] for r in
           df.select("id", hashtags.week_start(F.col("ts")).alias("ws")).collect()}
    for i, (_, want) in enumerate(WEEK_GOLDENS):
        assert got[i] == want, (i, got[i], want)
    # python cross-check: reference walk-back loop (hashtags.py:165-177)
    from datetime import timedelta

    for t, want in WEEK_GOLDENS:
        d = t - timedelta(hours=12)
        f = datetime(d.year, d.month, d.day)
        while f.weekday() != 4:
            f = f - timedelta(days=1)
        assert f + timedelta(hours=12) == want


def test_period_start_end_mqy(spark):
    df = spark.createDataFrame([(1, datetime(2021, 8, 15, 7, 30))], "id long, ts timestamp_ntz")
    for freq, ws, we in [
        ("m", datetime(2021, 8, 1), datetime(2021, 9, 1)),
        ("q", datetime(2021, 7, 1), datetime(2021, 10, 1)),
        ("y", datetime(2021, 1, 1), datetime(2022, 1, 1)),
    ]:
        r = df.select(
            hashtags.period_start(F.col("ts"), freq).alias("s")
        ).select("s", hashtags.period_end(F.col("s"), freq).alias("e")).collect()[0]
        assert (r["s"], r["e"]) == (ws, we), freq


# ------------------------------------------------------------------ campaign

def test_hashtag_period_stats_end_to_end(spark):
    cs = spark.createDataFrame(
        [
            (100, 7, T, {"comment": "#maplesotho mapping"}),
            (101, 8, datetime(2021, 8, 6, 13, 0), {"hashtags": "#maplesotho;#other"}),
            (102, 7, datetime(2021, 8, 20), {"comment": "unrelated"}),
        ],
        "id long, user_id long, created_at timestamp_ntz, tags map<string,string>",
    )
    st = spark.createDataFrame(
        [(100, 3, 5.0, 1, 0, 2, 0), (101, 1, 0.0, 0, 1, 0, 3)],
        "changeset long, added_buildings long, added_highway_meters double,"
        "added_amenity long, modified_amenity long, added_places long, modified_places long",
    )
    reg = spark.createDataFrame([(1, "maplesotho")], "id int, name string")
    out = hashtags.hashtag_period_stats(cs, st, reg, "w").collect()
    by_start = {r["start_date"]: r for r in out}
    # cs100 (Thu Aug 5) → week of Jul 30; cs101 (Fri Aug 6 13:00) → week of Aug 6
    w1 = by_start[datetime(2021, 7, 30, 12, 0)]
    w2 = by_start[datetime(2021, 8, 6, 12, 0)]
    assert w1["total_new_buildings"] == 3 and w1["total_uq_contributors"] == 1
    assert w2["total_new_buildings"] == 1 and w2["total_uq_contributors"] == 1
    assert w1["end_date"] == datetime(2021, 8, 6, 12, 0)
    assert w1["type"] == "w"


def test_first_last_used(spark):
    cs = spark.createDataFrame(
        [
            (100, 7, T, {"comment": "#maplesotho go"}),
            (101, 8, datetime(2021, 9, 1), {"hashtags": "#maplesotho"}),
        ],
        "id long, user_id long, created_at timestamp_ntz, tags map<string,string>",
    )
    reg = spark.createDataFrame([(1, "maplesotho")], "id int, name string")
    r = hashtags.first_last_used(cs, reg).collect()[0]
    assert r["first_used"] == T and r["last_used"] == datetime(2021, 9, 1)


def test_update_first_last_used_incremental(spark):
    cs = spark.createDataFrame(
        [
            (100, 7, T, {"comment": "#maplesotho go"}),
            (101, 8, datetime(2021, 9, 1), {"hashtags": "#maplesotho"}),
            (102, 8, datetime(2021, 7, 1), {"comment": "#osmke x"}),
        ],
        "id long, user_id long, created_at timestamp_ntz, tags map<string,string>",
    )
    from datetime import date

    reg = spark.createDataFrame(
        [(1, "maplesotho", T, False, date(2021, 1, 1), date(2021, 2, 1)),
         (2, "osmke", T, False, None, None),
         (3, "ghost", T, False, None, None)],
        "id int, name string, created_at timestamp_ntz, is_tm_project boolean,"
        "first_used date, last_used date",
    )
    out = {r["id"]: (r["first_used"], r["last_used"])
           for r in hashtags.update_first_last_used(cs, reg).collect()}
    # existing first_used preserved, last_used advanced
    assert out[1] == (date(2021, 1, 1), date(2021, 9, 1))
    # fresh hashtag gets both from scratch
    assert out[2] == (date(2021, 7, 1), date(2021, 7, 1))
    # unmatched hashtag keeps NULLs
    assert out[3] == (None, None)


def test_update_first_last_used_batched_equals_full(spark):
    """A6 equivalence: applying update_first_last_used over two time-ordered
    batches lands in the same state as one full recompute over everything —
    the append-only ingestion contract of the incremental rule (reference
    hashtags.py:60-111: existing first_used frozen, last_used advanced)."""
    from datetime import date

    rows = [
        (100, 7, datetime(2021, 3, 5), {"comment": "#maplesotho go"}),
        (101, 8, datetime(2021, 6, 1), {"hashtags": "#maplesotho"}),
        (102, 8, datetime(2021, 9, 9), {"comment": "#maplesotho y"}),
        (103, 9, datetime(2021, 10, 2), {"hashtags": "#osmke"}),
    ]
    schema = "id long, user_id long, created_at timestamp_ntz, tags map<string,string>"
    all_cs = spark.createDataFrame(rows, schema)
    early = spark.createDataFrame(rows[:2], schema)
    late = spark.createDataFrame(rows[2:], schema)
    reg = spark.createDataFrame(
        [(1, "maplesotho", None, None), (2, "osmke", None, None)],
        "id long, name string, first_used date, last_used date",
    )
    full = {r["id"]: (r["first_used"], r["last_used"])
            for r in hashtags.update_first_last_used(all_cs, reg).collect()}
    step1 = hashtags.update_first_last_used(early, reg)
    incr = {r["id"]: (r["first_used"], r["last_used"])
            for r in hashtags.update_first_last_used(late, step1).collect()}
    assert incr == full
    assert full[1] == (date(2021, 3, 5), date(2021, 9, 9))
    assert full[2] == (date(2021, 10, 2), date(2021, 10, 2))


def test_country_insights_multi_month(spark):
    e = _mk_elements(spark)
    p = propagate.propagate_locations(e)
    months = [datetime(2021, 9, 1), datetime(2021, 10, 1)]
    out = {(r["country"], r["by_month"]): r["building_count"]
           for r in country.country_insights(p, months).collect()}
    assert out[("Kenya", datetime(2021, 9, 1))] == 1
    assert out[("Kenya", datetime(2021, 10, 1))] == 1


# ------------------------------------------------------------------ country

def test_building_counts_asof(spark):
    e = _mk_elements(spark)
    # way(1) has country NULL — propagate first (its first nd is node 1 → Kenya)
    p = propagate.propagate_locations(e)
    out = country.building_counts_asof(p, datetime(2021, 10, 1))
    got = {r["country"]: r["building_count"] for r in out.collect()}
    assert got == {"Kenya": 1}  # way 1 (building) latest v2; node buildings excluded


def test_propagate_locations(spark):
    e = _mk_elements(spark)
    p = propagate.propagate_locations(e).cache()
    ways = {r["version"]: r for r in p.filter((F.col("type") == "way") & (F.col("id") == 1)).collect()}
    # first nd = node 1 → latest node version 3 at (1.2, 1.2), Kenya
    assert ways[1]["lat"] == 1.2 and ways[1]["country"] == "Kenya"
    rel = p.filter(F.col("type") == "relation").collect()[0]
    # relation's first member is way 1 → after way propagation → Kenya
    assert rel["country"] == "Kenya" and rel["lat"] == 1.2


# ------------------------------------------------------------------ users

def test_tasks_per_user(spark):
    th = spark.createDataFrame(
        [(1, 11, 7, "MAPPED", T), (2, 11, 7, "MAPPED", T), (3, 12, 7, "MAPPED", T),
         (4, 11, 8, "VALIDATED", T)],
        "task_id long, project_id long, user_id long, action_text string, action_date timestamp_ntz",
    )
    got = {r["user_id"]: r["task_count"]
           for r in users.tasks_per_user(th, [11], datetime(2021, 1, 1),
                                         datetime(2022, 1, 1), "MAPPED").collect()}
    assert got == {7: 2}


def test_salted_join_skewed_matches_plain(spark):
    """salted_join_skewed == plain join for inner/semi/anti on a fixture
    with one hot key (80% of fact rows)."""
    from insights_spark.runtime.skew import salted_join_skewed

    fact = spark.createDataFrame(
        [(1 if i % 5 else i, i) for i in range(200)], "k long, payload long"
    )
    dim = spark.createDataFrame([(1,), (7,), (13,)], "k long")
    for how in ("inner", "left_semi", "left_anti"):
        want = sorted(r["payload"] for r in fact.join(dim, "k", how).collect())
        got = sorted(
            r["payload"]
            for r in salted_join_skewed(fact, dim, "k", ["payload"], how).collect()
        )
        assert got == want, how


def test_rolling_activity_boundary_and_ties(spark):
    """RANGE frame: an event exactly window_seconds earlier is IN the
    frame (inclusive), one past is OUT; equal timestamps count together
    regardless of order."""
    from datetime import datetime, timedelta

    from insights_spark.ops.sessions import rolling_user_activity

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 10, t0),
        (2, 10, t0 + timedelta(seconds=3600)),      # exactly 1h later → includes e1
        (3, 10, t0 + timedelta(seconds=7201)),      # 3601s after e2 → alone
        (4, 10, t0 + timedelta(seconds=7201)),      # tie with e3
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz")
    got = {r["event_id"]: r["n_trailing"]
           for r in rolling_user_activity(ev, 3600.0).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 2}


def test_asof_join_nulls_ties_and_missing(spark):
    """asof_join edge semantics: inclusive <= (right row AT the left ts
    matches); equal right ts resolved by right_order max; a legitimately
    NULL attribute on the matched row stays NULL (no resurrection of older
    values); keys with no earlier right row get NULLs."""
    from datetime import datetime

    from insights_spark.ops.latest import asof_join

    t = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 10, t(5)), (2, 10, t(10)), (3, 10, t(2)), (4, 99, t(30))],
        "lid long, k long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            (10, t(3), 1, "old"),
            (10, t(5), 2, None),     # matches lid=1 AT its ts; value NULL
            (10, t(5), 3, "tiewin"), # same ts, larger ord → wins
            (10, t(9), 4, "later"),
        ],
        "k long, ts timestamp_ntz, ord long, val string",
    )
    got = {r["lid"]: (r["ord"], r["val"]) for r in asof_join(
        left, right, on="k", right_cols=["ord", "val"]
    ).collect()}
    assert got[1] == (3, "tiewin")   # inclusive <=, tie by max ord
    assert got[2] == (4, "later")
    assert got[3] == (None, None)    # earliest right row is t(3) > t(2)
    assert got[4] == (None, None)    # key 99 absent from right


def test_interval_join_matches_bruteforce(spark):
    """Chunk-bucketed interval join == python brute force at the
    auto-picked chunk length, incl. boundary-touching (end == start) and
    degenerate (end < start) intervals."""
    from datetime import datetime, timedelta

    from insights_spark.ops.intervals import interval_join

    t0 = datetime(2024, 1, 1)
    mk = lambda s, e: (t0 + timedelta(minutes=s), t0 + timedelta(minutes=e))
    lrows = [(i,) + mk(i * 3, i * 3 + (i % 5) * 4) for i in range(40)]
    rrows = [(100 + i,) + mk(i * 4 + 1, i * 4 + 1 + (i % 3) * 7)
             for i in range(30)]
    # degenerate (end < start), inside one auto chunk and inside the long
    # left interval 16 (minutes 48-52)
    rrows.append((999,) + mk(50.5, 50.25))
    L = spark.createDataFrame(lrows, "id long, start_ts timestamp_ntz, end_ts timestamp_ntz")
    R = spark.createDataFrame(rrows, "id long, start_ts timestamp_ntz, end_ts timestamp_ntz")
    want = sorted(
        (a, b)
        for a, als, ale in lrows
        for b, brs, bre in rrows
        # empty-interval rule: end < start matches nothing (the raw
        # predicate alone could still hold against a long partner)
        if als <= ale and brs <= bre and als <= bre and brs <= ale
    )
    got = sorted((r["a"], r["b"]) for r in interval_join(L, R).collect())
    assert got == want
    assert all(b != 999 for _a, b in want)  # degenerate matched nothing

    # the auto-picked chunk sits in the documented replication-vs-density
    # band — within a small constant of the median interval span
    # (typical-row replication ≈ 2) — and holds both ends of the
    # degenerate row, so only the explicit end >= start rule drops it
    from insights_spark.ops.intervals import auto_chunk_seconds

    spans = sorted(
        (e - s).total_seconds()
        for _i, s, e in lrows + rrows[:-1]   # exclude the degenerate row
        if e >= s
    )
    median = spans[len(spans) // 2]
    auto = auto_chunk_seconds(L, R)
    assert median / 2 <= auto <= median * 2 + 1
    assert 3015 // auto == 3030 // auto


def test_funnel_steps(spark):
    """Greedy earliest-completion funnel on a hand-built fixture: the gap
    window is measured from the MATCHED previous step (not the user's
    first event), out-of-order completions don't count, and the
    conversion column is users/step1_users."""
    from datetime import datetime

    from insights_spark.ops.sessions import funnel_steps

    t = lambda d, h=0: datetime(2024, 1, d, h)
    rows = [
        # u1 completes all three in order
        (1, 1, t(1), "view"), (2, 1, t(2), "click"), (3, 1, t(3), "purchase"),
        # u2: purchase BEFORE click → reaches step 2 only
        (4, 2, t(1), "view"), (5, 2, t(2), "purchase"), (6, 2, t(3), "click"),
        # u3: click too late (gap > 48h from matched view) → step 1 only
        (7, 3, t(1), "view"), (8, 3, t(4), "click"),
        # u4: greedy matching — earliest click at t(2) is taken, so the
        # purchase between t(2) and t(3) counts even though a later click
        # (t(3)) would have missed it
        (9, 4, t(1), "view"), (10, 4, t(2), "click"),
        (11, 4, t(2, 12), "purchase"), (12, 4, t(3), "click"),
        # u5: never views → not in the funnel at all
        (13, 5, t(1), "click"), (14, 5, t(2), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    got = {r["step"]: (r["event_type"], r["users"], r["conversion"])
           for r in funnel_steps(
               ev, ("view", "click", "purchase"), max_gap_hours=48).collect()}
    assert got[1] == ("view", 4, 1.0)
    assert got[2] == ("click", 3, 0.75)   # u1, u2, u4 (u3 outside gap)
    assert got[3] == ("purchase", 2, 0.5)  # u1, u4 (u2 purchased pre-click)


def test_cohort_retention(spark):
    """Hand-built two-cohort fixture: signup week buckets, offset counts,
    distinct-per-week collapse (two events same week count once), and
    users without a signup contribute nothing."""
    from datetime import datetime

    from insights_spark.ops.sessions import cohort_retention

    d = lambda day, h=0: datetime(2024, 1, day, h)
    rows = [
        # u1 signs up Mon 1/1 week, active weeks 0 and 1 (twice in week 1)
        (1, 1, d(2), "signup"), (2, 1, d(3), "click"),
        (3, 1, d(9), "view"), (4, 1, d(10), "view"),
        # u2 same cohort, only active signup week
        (5, 2, d(4), "signup"),
        # u3 signs up in week of 1/8, active offset 1; a PRE-signup event
        # (1/3) must not create a negative offset
        (6, 3, d(3), "click"), (7, 3, d(10), "signup"), (8, 3, d(16), "click"),
        # u4 never signs up
        (9, 4, d(2), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    got = {(str(r["cohort_week"].date()), r["week_offset"]):
           (r["active_users"], r["cohort_size"], r["retention"])
           for r in cohort_retention(ev).collect()}
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)
    assert got[("2024-01-08", 0)] == (1, 1, 1.0)
    assert got[("2024-01-08", 1)] == (1, 1, 1.0)
    assert len(got) == 4  # no negative offsets, no ghost cohorts


def test_scd2_merge_incremental(spark):
    """scd2_merge == full rebuild under (a) append-at-end, (b) an
    OUT-OF-ORDER version splicing into the middle of a key's timeline,
    and (c) replaying the same batch (idempotent convergence)."""
    from datetime import date

    mk = lambda rows: spark.createDataFrame(
        rows, "type string, id long, version long, timestamp date"
    )
    d = date
    h0 = mk([("node", 1, 1, d(2021, 1, 1)), ("node", 1, 3, d(2021, 3, 1)),
             ("node", 2, 1, d(2021, 1, 5)),
             ("way", 7, 1, d(2021, 2, 1))])
    cols = ["type", "id", "version", "valid_from", "valid_to", "is_current"]
    base = latest.scd2_intervals(h0).select(*cols)
    batch = mk([("node", 1, 2, d(2021, 2, 1)),   # splices BETWEEN v1 and v3
                ("node", 2, 2, d(2021, 6, 1)),   # appends at the end
                ("relation", 9, 1, d(2021, 7, 1))])  # brand-new key

    def canon(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    merged = latest.scd2_merge(base, batch)
    full = latest.scd2_intervals(h0.unionByName(batch)).select(*cols)
    assert canon(merged) == canon(full)
    # the spliced row closed the v1 interval and v2 chains into v3
    rows = {(r["type"], r["id"], r["version"]): r for r in merged.collect()}
    assert rows[("node", 1, 1)]["valid_to"] == d(2021, 2, 1)
    assert rows[("node", 1, 2)]["valid_to"] == d(2021, 3, 1)
    assert rows[("node", 1, 3)]["is_current"] == 1
    # untouched key passed through
    assert rows[("way", 7, 1)]["is_current"] == 1
    # replay: applying the same batch to the merged table is a no-op
    assert canon(latest.scd2_merge(merged.select(*cols), batch)) == canon(full)


def test_covered_time_interval_union(spark):
    """Σ min(gap, window) == true interval-union length: overlapping
    windows count once, duplicate timestamps contribute zero, disjoint
    events contribute full windows, singleton user = one window."""
    from datetime import datetime, timedelta

    from insights_spark.ops.sessions import covered_time

    base = datetime(2024, 1, 1)
    rows = []
    # user 1: events at 0s, 100s (overlap), 100s dup, 10_000s (disjoint)
    for i, off in enumerate([0, 100, 100, 10_000]):
        rows.append((1, base + timedelta(seconds=off), i))
    rows.append((2, base, 99))              # singleton
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {r["user_id"]: (r["n_events"], r["covered_s"])
           for r in covered_time(df).collect()}
    # union for user 1: [0,700) ∪ [10000,10600) = 700 + 600
    assert got == {1: (4, 1300), 2: (1, 600)}


def test_dwell_segments(spark):
    """Hand-built track: re-entry counts as a second visit, a NULL
    (outside) gap breaks the run, one-event visits dwell 0, and dwell is
    exact integer microseconds within the run."""
    from datetime import datetime

    from insights_spark.ops.sessions import dwell_segments

    t = lambda m, us=0: datetime(2024, 1, 1, 0, m, 0, us)
    rows = [
        (1, 1, t(0), "A"), (2, 1, t(5), "A"),        # visit 1: dwell 5 min
        (3, 1, t(10), None),                          # outside → breaks
        (4, 1, t(15), "A"),                           # visit 2: dwell 0
        (5, 1, t(20), "B"), (6, 1, t(25, 7), "B"),    # B: 5 min + 7 µs
        (7, 2, t(0), None), (8, 2, t(1), None),       # never inside
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, region string"
    )
    got = {(r["user_id"], r["region"]): (r["n_visits"], r["dwell_us"])
           for r in dwell_segments(ev).collect()}
    assert got == {
        (1, "A"): (2, 300_000_000),
        (1, "B"): (1, 300_000_007),
    }


def test_scd2_lookup(spark):
    """As-of enrichment against the SCD2 dimension: boundary probes hit
    the interval STARTING at the probe ts ([from, to) semantics), probes
    before the first version get NULL, open rows catch everything after,
    tied-timestamp versions leave zero-width intervals that match
    nothing, and the join never fans out (one row per fact)."""
    from datetime import date

    from insights_spark.ops.latest import scd2_intervals, scd2_lookup

    d = date
    hist = spark.createDataFrame(
        [("n", 1, 1, d(2021, 1, 1)), ("n", 1, 2, d(2021, 2, 1)),
         ("n", 1, 3, d(2021, 2, 1)),   # tied ts: v2's interval is empty
         ("n", 2, 1, d(2021, 6, 1))],
        "type string, id long, version long, timestamp date",
    )
    dim = scd2_intervals(hist).select(
        "type", "id", "version", "valid_from", "valid_to")
    facts = spark.createDataFrame(
        [(1, "n", 1, d(2020, 12, 1)),  # before first → NULL
         (2, "n", 1, d(2021, 1, 15)),  # inside v1
         (3, "n", 1, d(2021, 2, 1)),   # boundary → v3 (v2 zero-width)
         (4, "n", 1, d(2022, 1, 1)),   # open row
         (5, "n", 2, d(2021, 1, 1)),   # other key, before first
         (6, "x", 9, d(2021, 1, 1))],  # unknown key
        "fid long, type string, id long, ts date",
    )
    out = scd2_lookup(facts, dim, keys=("type", "id"),
                      attrs=("version",)).collect()
    assert len(out) == 6  # no fan-out
    got = {r["fid"]: r["version"] for r in out}
    assert got == {1: None, 2: 1, 3: 3, 4: 3, 5: None, 6: None}


def test_concurrency_sweep_brute_force(spark):
    """Sweep-line vs brute-force instant counting: closed-interval
    concurrent at each boundary, half-open concurrent_after, peak,
    single-point intervals, repartition invariance."""
    import random
    from datetime import datetime, timedelta

    from insights_spark.ops.intervals import concurrency_sweep

    rng = random.Random(91)
    base = datetime(2024, 3, 1)
    ivals = []
    for i in range(60):
        s = base + timedelta(minutes=rng.randint(0, 500))
        e = s + timedelta(minutes=rng.randint(0, 90))
        ivals.append((i, s, e))
    ivals.append((60, base, base))                      # point interval
    assert any(s == e for _, s, e in ivals)

    bounds = sorted({t for _, s, e in ivals for t in (s, e)})
    want = {}
    for t in bounds:
        conc = sum(1 for _, s, e in ivals if s <= t <= e)
        after = sum(1 for _, s, e in ivals if s <= t < e)
        ns = sum(1 for _, s, e in ivals if s == t)
        ne = sum(1 for _, s, e in ivals if e == t)
        want[t] = (ns, ne, conc, after)

    df = spark.createDataFrame(
        ivals, "id long, session_start timestamp, session_end timestamp"
    )
    for reparted in (df, df.repartition(7)):
        got = {
            r["t"]: (r["n_starts"], r["n_ends"], r["concurrent"],
                     r["concurrent_after"])
            for r in concurrency_sweep(reparted).collect()
        }
        assert got == want
    peak = max(c for _, _, c, _ in want.values())
    assert peak > 1
    empty = spark.createDataFrame(
        [], "id long, session_start timestamp, session_end timestamp")
    assert concurrency_sweep(empty).count() == 0
