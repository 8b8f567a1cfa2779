from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from insights_spark.geo.cells import s2_cell_id, s2_udf
from insights_spark.runtime.layout import (
    KEY_COL,
    cell_range,
    cluster_spatial,
    spatial_scan,
)

N = 20_000
LEVEL = 14  # the S2 level of the key cluster_spatial writes


def _pts(spark):
    # the repo-wide synthetic lon/lat derivation (multiples of 0.001)
    return (
        spark.range(N).withColumnRenamed("id", "pid")
        .withColumn("lon", F.pmod(F.col("pid") * 7919, F.lit(360000)) / 1000.0 - 180.0)
        .withColumn("lat", F.pmod(F.col("pid") * 104729, F.lit(170000)) / 1000.0 - 85.0)
    )


def _np_pts():
    pid = np.arange(N, dtype=np.int64)
    lon = (pid * 7919 % 360000) / 1000.0 - 180.0
    lat = (pid * 104729 % 170000) / 1000.0 - 85.0
    return pid, lon, lat


def _rowgroup_ranges(path):
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        ki = md.schema.names.index(KEY_COL)
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ki).statistics
            assert st is not None and st.has_min_max
            out.append((st.min, st.max))
    return out


def _frac_intersecting(ranges, lo, hi):
    hit = sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))
    return hit / len(ranges)


def test_cluster_spatial_prunes_and_matches_brute_force(spark, tmp_path):
    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    pts = _pts(spark)
    cluster_spatial(pts, clustered, partitions=8)
    # same key column, row-order layout (round-robin = spatially random)
    (
        pts.select("*", s2_udf(LEVEL)(F.col("lon"), F.col("lat")).alias(KEY_COL))
        .repartition(8)
        .write.mode("overwrite").parquet(scattered)
    )

    # query cell: the level-6 ancestor of point 0
    pid, lon, lat = _np_pts()
    qcell = int(s2_cell_id(lon[:1], lat[:1], 6)[0])
    lo, hi = cell_range(qcell)

    r_clu = _rowgroup_ranges(clustered)
    r_sca = _rowgroup_ranges(scattered)
    assert len(r_clu) >= 8 and len(r_sca) >= 8
    # the measured claim: clustering collapses the touched fraction
    assert _frac_intersecting(r_clu, lo, hi) <= 0.3
    assert _frac_intersecting(r_sca, lo, hi) >= 0.7

    # correctness: the BETWEEN scan returns exactly the points whose
    # level-6 cell is the query cell (numpy brute force)
    all14 = s2_cell_id(lon, lat, LEVEL)
    expect = {int(p) for p, c6 in zip(pid, s2_cell_id(lon, lat, 6)) if c6 == qcell}
    got = {r["pid"] for r in spatial_scan(spark, clustered, qcell).collect()}
    assert got == expect and got  # non-vacuous
    # every returned key really is a descendant of qcell
    keys = {int(k) for k in all14[np.isin(pid, sorted(got))]}
    assert all(lo <= k <= hi for k in keys)


def test_spatial_scan_pushes_filter_to_parquet(spark, tmp_path):
    path = str(tmp_path / "t")
    cluster_spatial(_pts(spark), path, partitions=4)
    pid, lon, lat = _np_pts()
    qcell = int(s2_cell_id(lon[:1], lat[:1], 6)[0])
    plan = spatial_scan(spark, path, qcell)._jdf.queryExecution().executedPlan().toString()
    # the BETWEEN must reach the scan (row-group pruning happens there)
    assert "PushedFilters" in plan and KEY_COL in plan.split("PushedFilters")[1][:200]


def test_cell_range_face45_negative_ids(spark):
    # southern-hemisphere faces view as NEGATIVE int64; the descendant
    # interval must stay monotone there too
    cell = int(s2_cell_id(np.array([10.0]), np.array([-80.0]), 6)[0])
    assert cell < 0
    lo, hi = cell_range(cell)
    assert lo <= cell <= hi and lo < hi
    child = int(s2_cell_id(np.array([10.0]), np.array([-80.0]), LEVEL)[0])
    assert lo <= child <= hi


def test_null_coordinates_survive_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, None, None)], "pid long, lon double, lat double"
    )
    cluster_spatial(df, path, partitions=2)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert back.filter(F.col(KEY_COL).isNull()).count() == 1


def test_runtime_bloom_filter_join_pruning(spark, tmp_path):
    """Spark's runtime bloom-filter join pruning: with a selective filter
    on the dim side of a fact⋈dim join, the optimizer injects
    bloom_filter_might_contain onto the fact scan — rows that cannot join
    die before the shuffle. Default thresholds (10 MiB creation / 10 GiB
    application scan) target cluster scale, so the test lowers them to
    force injection at fixture size and pins (a) the filter appears,
    (b) results are identical with the rewrite off."""
    fact = spark.range(0, 200_000).selectExpr("id AS k", "id % 97 AS v")
    dim = spark.range(0, 20_000).selectExpr("id AS k", "id % 11 AS grp")
    fdir, ddir = str(tmp_path / "fact"), str(tmp_path / "dim")
    fact.write.parquet(fdir)
    dim.write.parquet(ddir)
    f, d = spark.read.parquet(fdir), spark.read.parquet(ddir)
    j = f.join(d.filter("grp = 3"), "k").selectExpr("sum(v) AS s", "count(*) AS n")

    def run(confs):
        old = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            # fresh plan per conf set: QueryExecution caches per DataFrame
            jj = f.join(d.filter("grp = 3"), "k").selectExpr(
                "sum(v) AS s", "count(*) AS n"
            )
            plan = jj._jdf.queryExecution().optimizedPlan().toString()
            row = jj.collect()[0]
            return plan, (row["s"], row["n"])
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)

    on_plan, on_res = run({
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        # "1b", not "0": a zero threshold disables the rewrite entirely
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })
    assert "might_contain" in on_plan and "bloom_filter_agg" in on_plan
    off_plan, off_res = run({
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })
    assert "might_contain" not in off_plan
    assert on_res == off_res and on_res[1] > 0


def test_aqe_skew_join_split(spark, tmp_path):
    """AQE's runtime skew handling: with one key carrying 90% of the
    left side, the SortMergeJoin is re-planned at runtime with the hot
    partition SPLIT (skew=true in the final plan) — no manual salting —
    and results match the run with skew handling off. Thresholds are
    lowered to make fixture-sized partitions count as skewed; at real
    scale the defaults fire on the same shape."""
    import re

    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    spark.range(0, 300_000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v"
    ).write.parquet(lp)
    spark.range(0, 300_000).selectExpr("id AS k", "id % 5 AS w").write.parquet(rp)
    l, r = spark.read.parquet(lp), spark.read.parquet(rp)

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = l.join(r, "k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        row = j.collect()[0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan and "skew=true" in plan
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        j2 = l.join(r, "k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        assert j2.collect()[0] == row
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
