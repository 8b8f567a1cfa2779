"""MERGE-semantics sink tests (S10-S12, ST3 replay safety)."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from insights_spark.runtime.sinks import ParquetSinks


def _read(spark, path):
    return {(r["k"],): (r["v"], r["seq"]) for r in spark.read.parquet(path).collect()}


def test_merge_keep_last_is_do_update(spark, tmp_path):
    p = str(tmp_path / "t1")
    sinks = ParquetSinks(spark)
    df1 = spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "k long, v string, seq long")
    sinks.merge(df1, p, ["k"])
    df2 = spark.createDataFrame([(2, "B", 20), (3, "c", 20)], "k long, v string, seq long")
    sinks.merge(df2, p, ["k"])
    assert _read(spark, p) == {(1,): ("a", 10), (2,): ("B", 20), (3,): ("c", 20)}


def test_first_write_into_missing_table_keeps_one_row_per_key(spark, tmp_path):
    """A missing table is the empty table: the first merge keeps one row
    per key and the first merge_sum sums the batch's duplicate keys."""
    sinks = ParquetSinks(spark)
    p = str(tmp_path / "t5")
    sinks.merge(spark.createDataFrame([(1, "a", 1), (1, "b", 2)],
                                      "k long, v string, seq long"), p, ["k"])
    assert spark.read.parquet(p).count() == 1
    ps = str(tmp_path / "t6")
    sinks.merge_sum(spark.createDataFrame([(1, 2), (1, 3)], "k long, n long"),
                    ps, ["k"], ["n"])
    assert sorted(tuple(r) for r in spark.read.parquet(ps).collect()) == [(1, 5)]


def test_append_dedup(spark, tmp_path):
    p = str(tmp_path / "t4")
    sinks = ParquetSinks(spark)
    sinks.append_dedup(
        spark.createDataFrame([(1, "a", 1), (1, "a2", 1)], "k long, v string, seq long"),
        p, ["k"])
    assert spark.read.parquet(p).count() == 1  # in-batch dedup
    sinks.append_dedup(
        spark.createDataFrame([(1, "replay", 2), (2, "b", 2)], "k long, v string, seq long"),
        p, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got[2] == "b" and got[1] in ("a", "a2")  # existing key untouched
    assert spark.read.parquet(p).count() == 2


def test_append_dedup_keeps_incoming_column_order(spark, tmp_path):
    """The anti-join of a later append puts its USING keys first; every
    part file must still store the columns in the incoming order."""
    p = tmp_path / "t8"
    sinks = ParquetSinks(spark)
    ddl = "v string, seq long, k long"
    sinks.append_dedup(spark.createDataFrame([("a", 1, 1)], ddl), str(p), ["k"])
    sinks.append_dedup(spark.createDataFrame([("b", 2, 2)], ddl), str(p), ["k"])
    sinks.append_dedup(spark.createDataFrame([("c", 3, 3)], ddl), str(p), ["k"])
    files = sorted(Path(p).glob("*.parquet"))
    assert len(files) >= 3
    assert {tuple(pq.read_schema(f).names) for f in files} == {("v", "seq", "k")}


def test_read_with_schema_runs_no_spark_job(spark, tmp_path):
    """`read` passes its caller's schema, so opening a table runs no
    schema-inference job; an inferred read of the same table runs one,
    which shows that the job-group probe sees such jobs."""
    p = str(tmp_path / "t7")
    df = spark.createDataFrame([(1, "a", 1), (2, "b", 2)], "k long, v string, seq long")
    ParquetSinks(spark).append_dedup(df, p, ["k"], partition_by=["v"])
    sc = spark.sparkContext

    def jobs_of(group, open_table):
        sc.setJobGroup(group, group)
        try:
            table = open_table()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        return table, sc.statusTracker().getJobIdsForGroup(group)

    table, jobs = jobs_of("sinks-read-schema", lambda: ParquetSinks(spark).read(p, df.schema))
    assert jobs == []
    assert sorted(tuple(r) for r in table.select("k", "v", "seq").collect()) == [
        (1, "a", 1), (2, "b", 2)]
    assert table.columns == ["k", "seq", "v"]  # the partition column comes last
    _, jobs = jobs_of("sinks-read-infer", lambda: spark.read.parquet(p))
    assert jobs
