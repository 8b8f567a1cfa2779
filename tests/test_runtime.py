"""Runtime tests: checkpoint/resume idempotence (SURVEY §5 item 5),
lineage row counts, salted aggregation equivalence, full pipeline run,
driver-held rows built on the JVM."""

from __future__ import annotations

import os
import subprocess
import sys
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from insights_spark import synth
from insights_spark.jobs import pipeline
from insights_spark.runtime.checkpoint import CheckpointStore, incremental_filter
from insights_spark.runtime.lineage import LineageLog
from insights_spark.runtime.skew import salted_agg, with_salt
from insights_spark.schemas import CHECKPOINTS, LINEAGE
from insights_spark.session import local_df


def test_checkpoint_roundtrip(spark, tmp_path):
    ck = CheckpointStore(spark, str(tmp_path / "ck"))
    assert ck.last_sequence("p", "s") is None
    ck.commit("p", "s", 100)
    ck.commit("p", "s", 200)
    ck.commit("p", "other", 999)
    assert ck.last_sequence("p", "s") == 200
    assert ck.last_sequence("p", "other") == 999
    assert ck.last_sequence("p", "missing") is None


# rows -> schema: each case createDataFrame(list) handles that a naive
# Arrow or pandas route gets wrong
_LOCAL_DF_CASES = {
    "timestamp_ntz": (
        [("p", "s", 3, datetime(2024, 1, 2, 3, 4, 5, 678901), "r")], CHECKPOINTS
    ),
    "ddl_schema": ([("a", 1, True), ("b", None, None)], "k string, n long, f boolean"),
    "long_above_2_53_next_to_null": (
        [(2**53 + 1, "x"), (None, None), (-(2**62) - 3, "z")], "n long, s string"
    ),
    "array_and_binary": (
        [(1, [1, 2**60], b"\x00\xff"), (2, [], None), (3, None, b"")],
        "k long, v array<bigint>, h binary",
    ),
    "lineage_sentinel": ([("run", "stage", -1, 0, 0, None)], LINEAGE),
    "empty_struct": ([], CHECKPOINTS),
    "empty_ddl": ([], "a long, b string"),
}


@pytest.mark.parametrize("case", list(_LOCAL_DF_CASES))
def test_local_df_matches_create_dataframe_without_python(spark, case):
    rows, schema = _LOCAL_DF_CASES[case]
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "PythonRDD" not in got._jdf.queryExecution().toRdd().toDebugString()
    if schema is CHECKPOINTS:
        assert isinstance(got.schema["committed_at"].dataType, TimestampNTZType)


def test_local_df_rejects_none_in_non_nullable_field(spark):
    rows = [("p", "s", None, datetime(2024, 1, 2), "r")]  # sequence: NOT NULL
    with pytest.raises(ValueError, match="sequence"):
        spark.createDataFrame(rows, CHECKPOINTS)
    with pytest.raises(ValueError, match="sequence"):
        local_df(spark, rows, CHECKPOINTS)


def test_incremental_filter(spark):
    df = spark.range(10).withColumnRenamed("id", "seq")
    assert incremental_filter(df, "seq", None).count() == 10
    assert incremental_filter(df, "seq", 6).count() == 3  # strictly after


def test_lineage_records_partition_counts(spark, tmp_path):
    lin = LineageLog(spark, str(tmp_path / "lin"))
    df = spark.range(1000).repartition(4)
    lin.record("stage1", df, df, sequence=1)
    rows = lin.read().collect()
    assert sum(r["rows_out"] for r in rows) == 1000
    assert {r["stage"] for r in rows} == {"stage1"}
    assert all(r["run_id"] == lin.run_id for r in rows)
    assert sum(1 for r in rows if r["partition_id"] >= 0) == 4


def test_salted_agg_matches_plain(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 13).alias("v"), "id"
    )
    plain = {r["k"]: (r["s"], r["c"]) for r in
             df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c")).collect()}
    salted = {r["k"]: (r["s"], r["c"]) for r in
              salted_agg(df, ["k"],
                         {"s": F.sum("v"), "c": F.count(F.lit(1))},
                         ["id"]).collect()}
    assert plain == salted


def _skewed_df(spark, n=100_000, n_cold_keys=9999):
    """Hot-key fixture: key 0 holds 50% of rows (mega-changeset profile),
    the rest spread uniformly over `n_cold_keys` keys."""
    return spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.col("id"), F.lit(n_cold_keys)) + 1)
        .cast("long").alias("k"),
        F.col("id").alias("payload"),
        (F.col("id") % 1000).cast("long").alias("v"),
    )


def test_salting_spreads_hot_key_partitions(spark):
    """X10 evidenced as BENEFIT, not just equivalence: on a fixture where
    one key holds 50% of rows, the salted exchange's largest hash
    partition must be ≤ 1/8 of the unsalted exchange's hot partition.
    This is the exact layout both the salted battery's first shuffle
    (keyed (k, _salt) vs (k)) and salted_join_skewed's fact-side shuffle
    use, measured mechanically via hash repartitioning."""
    n, parts, buckets = 100_000, 32, 32
    df = _skewed_df(spark, n)

    def max_part(d, *cols):
        return (
            d.repartition(parts, *[F.col(c) for c in cols])
            .select(F.spark_partition_id().alias("p"))
            .groupBy("p").count()
            .agg(F.max("count")).first()[0]
        )

    plain = max_part(df, "k")
    salted = max_part(with_salt(df, ["payload"], buckets), "k", "_salt")
    assert plain >= n * 0.5          # the hot key really concentrates
    assert salted <= plain / 8       # and salting really spreads it


def test_workers_import_package_from_any_cwd(tmp_path):
    """get_spark puts the package on the Python workers' path: a driver
    started outside the repo with PYTHONPATH unset still collects a UDF
    result whose workers unpickle a broadcast PolygonIndex. (A count()
    would prune the UDF and pass without it.)"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from insights_spark import synth
from insights_spark.geo import pip
from insights_spark.session import get_spark
spark = get_spark("cwd-probe", master="local[1]", shuffle_partitions=1)
pts = spark.createDataFrame([(0.5, 0.5), (170.0, -80.0)], "lon double, lat double")
print("ROWS", len(pip.assign_country(pts, synth.gen_boundaries()).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 2" in out.stdout


def test_pipeline_end_to_end_and_resume(spark, tmp_path, cache_empty):
    out = str(tmp_path / "wh")
    pages = synth.pages_df(spark, n_pages=12)
    spark.catalog.clearCache()

    tables = pipeline.run(spark, pages, out)
    assert cache_empty(), "the first batch left a pin behind"
    assert set(tables) >= {"changesets", "element_history", "all_changesets_stats",
                           "tile_density", "all_osm_hashtags"}
    cs1 = spark.read.parquet(tables["changesets"]).count()
    el1 = spark.read.parquet(tables["element_history"]).count()
    assert cs1 > 0 and el1 > 0

    # resume with NO new pages → no-op, tables unchanged
    again = pipeline.run(spark, pages, out, resume=True)
    assert again == {}
    assert cache_empty(), "the empty resume left a pin behind"
    assert spark.read.parquet(tables["changesets"]).count() == cs1

    # file-level: the resume run must not rewrite existing changeset files
    import glob
    import os as _os

    cs_files_before = {
        f: _os.path.getmtime(f)
        for f in glob.glob(f"{tables['changesets']}/**/*.parquet", recursive=True)
    }

    # resume with new pages → only the delta appended
    more = synth.pages_df(spark, n_pages=18)  # first 12 identical (same seed)
    t2 = pipeline.run(spark, more, out, resume=True)
    assert t2
    assert cache_empty(), "the resume batch left a pin behind"
    cs2 = spark.read.parquet(tables["changesets"]).count()
    el2 = spark.read.parquet(tables["element_history"]).count()
    assert cs2 > cs1 and el2 > el1
    # disjoint-key MERGE took the append fast path: old files untouched
    cs_files_after = {
        f: _os.path.getmtime(f)
        for f in glob.glob(f"{tables['changesets']}/**/*.parquet", recursive=True)
    }
    assert set(cs_files_after) > set(cs_files_before)
    assert all(cs_files_after[f] == m for f, m in cs_files_before.items())

    # stats stage is incremental: its recorded input is O(batch), not
    # O(history) — the resume batch touches only the delta's changesets
    lin_df = spark.read.parquet(f"{out}/_lineage")
    stats_in = [
        r["rows_in"] or 0
        for r in lin_df.filter(F.col("stage") == "stats").collect()
    ]
    assert sum(stats_in) < el1 + el2  # strictly less than two full passes
    resume_stats_in = (
        lin_df.filter(F.col("stage") == "stats")
        .groupBy("sequence").agg(F.sum("rows_in").alias("s"))
        .orderBy(F.desc("sequence")).first()["s"]
    )
    # the resume pass reads the full history ONLY of touched changesets —
    # strictly less than a full-table pass (untouched changesets skipped)
    assert resume_stats_in < el2

    # incremental tile merge-sum equals a full recompute over all history
    from insights_spark.geo import tiles as tiles_mod

    full = tiles_mod.tile_pyramid(
        spark.read.parquet(tables["element_history"]).filter(
            F.col("lat").isNotNull()
        ),
        [12, 8, 6],
    )
    merged = spark.read.parquet(tables["tile_density"])
    assert (
        merged.exceptAll(full).count() == 0 and full.exceptAll(merged).count() == 0
    )
    # idempotence: changeset ids unique after resume (no replays)
    dup = (
        spark.read.parquet(tables["changesets"])
        .groupBy("id").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    # lineage + checkpoints exist
    lin = spark.read.parquet(f"{out}/_lineage")
    assert lin.filter(F.col("stage") == "extract").count() > 0
    ck = CheckpointStore(spark, f"{out}/_checkpoints")
    assert ck.last_sequence(pipeline.PIPELINE, "extract") is not None


def test_pipeline_element_history_layout(spark, tmp_path):
    """The physical design claim: element_history is partitioned by type."""
    out = str(tmp_path / "wh2")
    tables = pipeline.run(spark, synth.pages_df(spark, n_pages=9), out)
    import os

    entries = os.listdir(tables["element_history"])
    assert any(e.startswith("type=") for e in entries)


def test_lineage_drop_visibility_and_no_collect(spark, tmp_path):
    """A partition whose rows are ALL dropped still appears (rows_in>0,
    rows_out=0) — the extraction-drop signal — plus the (-1,0,0) ran-proof
    sentinel; counts are written distributively, never collected."""
    lin = LineageLog(spark, str(tmp_path / "lin2"))
    df = spark.range(100).repartition(4)
    lin.record("all_dropped", df, df.filter(F.lit(False)))
    rows = lin.read().filter(F.col("stage") == "all_dropped").collect()
    real = [r for r in rows if r["partition_id"] >= 0]
    assert len(real) == 4
    assert all(r["rows_out"] == 0 and r["rows_in"] > 0 for r in real)
    assert sum(r["rows_in"] for r in real) == 100
    assert any(r["partition_id"] == -1 for r in rows)  # sentinel
    # a per-partition read excludes the sentinel
    assert lin.read().filter(F.col("partition_id") >= 0).count() == 4


def test_corpus_pipeline_incremental_equals_full(spark, tmp_path):
    """Corpus pipeline: running doc batches [0,N/2) then [N/2,N) with
    --resume converges to the same corpus membership, postings, and
    accounting as one full run — and a replayed batch is a no-op (the
    dedup index absorbs it)."""
    from insights_spark.jobs import corpus as cj

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]

    full_dir = str(tmp_path / "full")
    cj.run(spark, docs, full_dir)

    inc_dir = str(tmp_path / "inc")
    cj.run(spark, docs.filter(F.col("doc_id") <= mid), inc_dir)
    cj.run(spark, docs, inc_dir, resume=True)

    def corpus_ids(d):
        return sorted(r["doc_id"] for r in
                      spark.read.parquet(f"{d}/corpus").collect())

    def postings(d):
        return {r["term"]: (r["df"], r["posting_csv"]) for r in
                spark.read.parquet(f"{d}/postings").collect()}

    def acct(d):
        return {(r["split"], r["lang_pred"]): (r["docs"], r["total_tokens"])
                for r in spark.read.parquet(f"{d}/accounting").collect()}

    # NOTE: exact-dup membership can differ between full and batched runs
    # only if a cross-batch duplicate pair exists with the LARGER id in the
    # earlier batch; the synthetic fixture has none, so membership matches.
    assert corpus_ids(full_dir) == corpus_ids(inc_dir)
    assert postings(full_dir) == postings(inc_dir)
    assert acct(full_dir) == acct(inc_dir)

    # replay: running the same full input again with --resume changes nothing
    before = corpus_ids(inc_dir)
    cj.run(spark, docs, inc_dir, resume=True)
    assert corpus_ids(inc_dir) == before


def test_corpus_crash_between_appends_replay_converges(spark, tmp_path,
                                                       cache_empty):
    """Kill the job BETWEEN the dedup-index append and the corpus append
    (and, separately, between the accounting batch write and the rollup),
    then replay with --resume: every table converges to the no-crash
    output — in particular accounting counters are NOT double-counted
    (the r3-ADVICE residual window, closed for real in r5)."""
    import pytest

    from insights_spark.jobs import corpus as cj

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.catalog.clearCache()

    ok_dir = str(tmp_path / "ok")
    cj.run(spark, docs, ok_dir)
    assert cache_empty(), "the run left a pin behind"

    def snap(d):
        ids = sorted(r["doc_id"] for r in
                     spark.read.parquet(f"{d}/corpus").collect())
        post = {r["term"]: (r["df"], r["posting_csv"]) for r in
                spark.read.parquet(f"{d}/postings").collect()}
        acct = {(r["split"], r["lang_pred"]): (r["docs"], r["total_tokens"])
                for r in spark.read.parquet(f"{d}/accounting").collect()}
        return ids, post, acct

    for point in ("between_index_and_corpus",
                  "between_accounting_batch_and_rollup"):
        d = str(tmp_path / point)
        cj._TEST_CRASH_POINTS.add(point)
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                cj.run(spark, docs, d)
        finally:
            cj._TEST_CRASH_POINTS.discard(point)
        assert cache_empty(), f"the run that crashed {point} left a pin behind"
        cj.run(spark, docs, d, resume=True)
        assert snap(d) == snap(ok_dir), point


def test_column_profile(spark):
    """Nulls counted, distincts exclude NULL, numeric min/max in the
    double lane, string/date in the string lane."""
    from insights_spark.runtime.profile import column_profile

    df = spark.createDataFrame(
        [(1, "a", 1.5, None), (2, "b", None, None), (2, None, 2.5, None)],
        "k long, s string, v double, z string",
    )
    got = {r["col_name"]: r for r in column_profile(df).collect()}
    assert got["k"]["n_rows"] == 3 and got["k"]["n_null"] == 0
    assert got["k"]["n_distinct"] == 2
    assert (got["k"]["min_num"], got["k"]["max_num"]) == (1.0, 2.0)
    assert got["k"]["min_str"] is None  # numeric: string lane empty
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 2
    assert (got["s"]["min_str"], got["s"]["max_str"]) == ("a", "b")
    assert got["v"]["n_null"] == 1 and got["v"]["min_num"] == 1.5
    assert got["z"]["n_distinct"] == 0 and got["z"]["min_str"] is None


def test_equi_depth_histogram(spark):
    """Buckets cover all non-NULL rows, populations are ~equal on a
    skewed column, boundaries tile (hi of k == lo of k+1), and the output
    schema is (bucket, lo, hi, n)."""
    from insights_spark.runtime.profile import equi_depth_histogram

    # heavy right skew: k**2 spreads late values far apart
    df = spark.createDataFrame(
        [(float(k * k),) for k in range(1000)] + [(None,)], "v double"
    )
    out = sorted(equi_depth_histogram(df, "v").collect(),
                 key=lambda r: r["bucket"])
    assert sum(r["n"] for r in out) == 1000  # NULL excluded, rest covered
    assert all(115 <= r["n"] <= 135 for r in out)  # ~125 each, equi-depth
    for a, b in zip(out, out[1:]):
        assert a["hi"] == b["lo"]  # boundaries tile
    assert out[0]["lo"] == 0.0 and out[-1]["hi"] == 999.0 ** 2
    assert {f.name for f in equi_depth_histogram(df, "v").schema} \
        == {"bucket", "lo", "hi", "n"}


def test_check_constraints(spark):
    """Each rule kind counts its violations exactly; NULLs pass range and
    accepted (only not_null flags them); unique ignores NULLs; ref counts
    orphan rows (not distinct orphan keys)."""
    from insights_spark.runtime.profile import check_constraints

    df = spark.createDataFrame(
        [(1, 5.0, "O"), (1, -2.0, "X"), (2, None, None), (None, 7.0, "F")],
        "k long, v double, s string",
    )
    dim = spark.createDataFrame([(1,)], "fk long")
    got = {(r["rule"], r["col"]): (r["violations"], r["passed"])
           for r in check_constraints(df, [
               {"rule": "not_null", "col": "k"},
               {"rule": "unique", "col": "k"},
               {"rule": "range", "col": "v", "lo": 0.0, "hi": 10.0},
               {"rule": "accepted", "col": "s", "values": ["O", "F"]},
               {"rule": "ref", "col": "k", "other": dim, "other_col": "fk"},
           ]).collect()}
    assert got[("not_null", "k")] == (1, 0)
    assert got[("unique", "k")] == (1, 0)      # k=1 twice; NULL ignored
    assert got[("range", "v")] == (1, 0)       # -2 only; NULL passes
    assert got[("accepted", "s")] == (1, 0)    # 'X' only; NULL passes
    assert got[("ref", "k")] == (1, 0)         # k=2 orphan; NULL passes
    clean = spark.createDataFrame([(1, 1.0, "O")], "k long, v double, s string")
    ok = check_constraints(clean, [{"rule": "not_null", "col": "k"},
                                   {"rule": "unique", "col": "k"}]).collect()
    assert all(r["passed"] == 1 and r["violations"] == 0 for r in ok)
