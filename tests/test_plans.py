"""Physical-plan shape tests — the 100 TB posture, asserted.

Correctness tests prove the small-scale answers; these prove the PLAN is
the one that survives a 1000-executor cluster: filters reach the parquet
scan, projections prune columns, small dims broadcast (no fact shuffle),
and the flagship path shuffles exactly once (the final aggregation).
"""

from __future__ import annotations

import os
import sys

from pyspark import StorageLevel
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 25)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,25" in plan.replace(" ", "")
    # column pruning: ReadSchema carries only the 2 projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_semi_join_broadcasts_small_side(spark):
    plan = _plan(entry.queries()["semi_join"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the fact side must NOT shuffle before the join: the only Exchange
    # allowed below the join is the broadcast one + the final agg shuffle
    assert "SortMergeJoin" not in plan


def test_flagship_single_shuffle(spark):
    """pages→points→PIP→tiles→agg: the ONLY shuffle is the final groupBy."""
    plan = _plan(entry.queries()["flagship_tile_density"](spark, SF))
    # one hashpartitioning exchange for the aggregation; broadcast exchanges
    # would be named BroadcastExchange (none expected here)
    assert "BroadcastExchange" not in plan
    assert plan.count("hashpartitioning(") <= 1, plan


def test_conditional_battery_codegen_and_partial_agg(spark):
    plan = _plan(entry.queries()["conditional_battery"](spark, SF))
    # map-side partial aggregation before the single shuffle, final agg after
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("hashpartitioning(") == 1


def test_latest_event_single_shuffle_window(spark):
    plan = _plan(entry.queries()["latest_event"](spark, SF))
    assert plan.count("hashpartitioning(") == 1  # one hash partition by user_id
    assert "Window" in plan


def test_knn_cell_local_is_jvm_join(spark):
    """The scale-path kNN must be a plain shuffled join + window — no
    applyInPandas (FlatMapGroupsInPandas) stage."""
    plan = _plan(entry.queries()["knn_cell_local"](spark, SF))
    assert "FlatMapGroupsInPandas" not in plan
    assert "Window" in plan


def test_tile_pyramid_reuses_base_rollup(spark):
    """Coarser zooms aggregate the previous level: exactly one scan of the
    source, log-depth aggregation above it."""
    pts = spark.read.parquet(f"{SF}/events.parquet").select(
        (F.col("event_id") * 0.001).alias("lon"), (F.col("event_id") * 0.0001).alias("lat")
    )
    from insights_spark.geo import tiles

    pyr = tiles.tile_pyramid(pts, [8, 6, 4])
    pyr.write.format("noop").mode("overwrite").save()  # materialize the cache
    plan = _plan(pyr)
    # every level reads the persisted z8 rollup (InMemoryTableScan); the
    # parquet scan only appears inside the cached-relation *description*,
    # it is not re-executed per level.
    import re

    # all three levels read the SAME persisted InMemoryRelation; formatted
    # mode inlines the cached plan under each reference, so the parquet scan
    # string repeats — but always with ONE node id (a single physical scan)
    assert plan.count("InMemoryTableScan") >= 3, plan
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 1, plan


def test_vectorize_tiles_no_shuffle_codegen(spark):
    """Raster→vector quad bounds are a narrow projection + filter over the
    rollup: no Exchange beyond the rollup's own aggregation shuffle, and
    the bounds math stays inside whole-stage codegen (no Python)."""
    from insights_spark.geo import tiles, vectorize

    pts = entry._points(
        spark.read.parquet(f"{SF}/events.parquet").select("event_id"), "event_id"
    )
    raster = tiles.density_rollup(pts, 5)
    plan = _plan(vectorize.vectorize_tiles(raster, min_density=2))
    # exactly the rollup's partial+final agg exchange, nothing added on top
    assert plan.count("hashpartitioning(") == 1
    # bounds math is pure column expressions — no Python operator anywhere,
    # and map-side partial aggregation survives under the projection
    assert "Python" not in plan and "partial_count" in plan


def test_within_distance_no_allpairs(spark):
    """The certified range join must stay a cell-keyed equi-join — never a
    cartesian/broadcast-nested-loop all-pairs plan."""
    pts = entry._points(
        spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey"),
        "c_custkey",
    ).withColumnRenamed("c_custkey", "id")
    from insights_spark.geo.knn import within_distance

    plan = _plan(within_distance(pts, 2.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" not in plan  # cell/ring UDFs are scalar Arrow


def test_pip_via_cells_broadcast_and_single_shuffle(spark):
    """Cell-equi-join PIP: the dim-sized cover broadcasts (no fact-side
    shuffle for the join); the only fact shuffles are the winner
    aggregation + the result join back on the id."""
    from insights_spark.geo import pip

    pts = entry._points(
        spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey"),
        "c_custkey",
    )
    plan = _plan(
        pip.assign_country_cells(pts, list(entry._COUNTRIES), "c_custkey")
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_topk_is_take_ordered_not_global_window(spark):
    """O1-O4 / round-2 verdict #3: the registered top-k shapes must compile
    to TakeOrderedAndProject (per-partition local top-k + driver merge of
    k×partitions rows), NOT a row_number window over an unpartitioned sort
    that funnels every row to one task. The rank window that follows runs
    over the already-taken k rows — its single-partition exchange moves k
    rows, which is fine; what must NOT exist is a full-table global sort."""
    for name in ("topk", "term_freq"):
        plan = _plan(entry.queries()[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, f"{name}:\n{plan}"
        # the only Sort allowed is inside the k-row window stage; a global
        # Sort over the full input would appear as 'Sort ' with an Exchange
        # SinglePartition BELOW TakeOrderedAndProject — assert the take node
        # sits under the window (i.e. appears after it in the formatted tree)
        assert plan.count("rangepartitioning(") == 0, f"{name}:\n{plan}"


def test_salted_battery_two_level_aggregate(spark):
    """X10: the salted battery must show TWO HashAggregate pairs (partial+
    final on (key,salt), then partial+final on key) and exactly the two
    corresponding shuffles — the physical signature of two-level salting."""
    plan = _plan(entry.queries()["conditional_battery_salted"](spark, SF))
    assert plan.count("hashpartitioning(") == 2, plan
    assert "HashAggregate" in plan


def test_sessionize_single_shuffle(spark):
    """Both window passes AND the per-session rollup share ONE user-keyed
    exchange: HashPartitioning(user_id) satisfies the clustered
    distribution of groupBy(user_id, session_idx) (subset rule), so
    sessionization is one shuffle end-to-end."""
    plan = _plan(entry.queries()["sessionize"](spark, SF))
    assert plan.count("hashpartitioning(") == 1, plan


def test_geohash_prefix_prunes_parquet(spark, tmp_path):
    """The geohash family's point: lexicographic-prefix nesting makes
    spatial containment a StartsWith predicate that reaches the parquet
    scan (PushedFilters) — storage-level pruning on a geohash-sorted
    layout, no spatial library in the read path."""
    from insights_spark.geo.cells import geohash_col

    pts = entry._points(
        spark.read.parquet(f"{SF}/events.parquet").select("event_id"), "event_id"
    ).select("event_id", geohash_col(F.col("lon"), F.col("lat"), 6).alias("gh"))
    out = str(tmp_path / "gh_sorted")
    pts.repartition(4).sortWithinPartitions("gh").write.parquet(out)
    df = spark.read.parquet(out).filter(F.col("gh").startswith("u0"))
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "StringStartsWith(gh,u0)" in plan.replace(" ", ""), plan


def test_runtime_bloom_filter_reduces_shuffle_join(spark):
    """The 100 TB semi-join reduction: with a selective dim filter on a
    shuffle join, the optimizer injects might_contain(bloom(build keys))
    into the FACT side's scan condition — fact rows that cannot match are
    dropped before the shuffle. Enabled by default in get_spark (dormant
    below the 10 GB application-side threshold; runtime confs lowered here
    to observe the injection at fixture scale, restored after)."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag").count()
        )
        plan = _plan(j)
        assert "might_contain" in plan, plan
        assert j.count() > 0  # and it still computes
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pack_sequences_no_global_window(spark):
    """The packing prefix sum must NOT be a global unpartitioned window:
    no SinglePartition exchange anywhere in the plan (the per-partition
    cumsum windows key on the partition id; offsets join via broadcast)."""
    plan = _plan(entry.queries()["pack_sequences"](spark, SF))
    assert "SinglePartition" not in plan, plan
    assert "BroadcastExchange" in plan  # the offsets join


def test_no_registered_query_plans_cartesian_or_single_partition(spark):
    """Suite-wide scale invariant: NO registered query may compile to a
    CartesianProduct or an `Exchange SinglePartition` — the two plan nodes
    that stop scaling dead (all-pairs blowup; every row to one task).
    Every exception the engine allows (k-row post-take windows, 1-row
    aggregates) already avoids both nodes; a regression that reintroduces
    either shape fails here with the offending query named."""
    flagged = {}
    for name, fn in entry.queries().items():
        plan = _plan(fn(spark, SF))
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "Exchange SinglePartition" in plan:
            bad.append("Exchange SinglePartition")
        if bad:
            flagged[name] = bad
    assert not flagged, flagged


def test_regional_revenue_broadcasts_dims(spark):
    """The Q5-shape star query must broadcast its dimension tables —
    nation/region (and, at test scale, customer/supplier under the
    autoBroadcastJoinThreshold): the fact table is never shuffled for a
    dim join. At least two BroadcastHashJoins and zero CartesianProducts."""
    plan = _plan(entry.queries()["regional_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_registered_builders_start_cold(spark):
    """Bench-isolation invariant (r6): building a registered query drops
    every SQL-cache entry left by a previous invocation. Spark's
    CacheManager substitutes cached plans by canonical-plan equality, so
    without the guard a harness timing the same query function twice
    (bench.py min-of-N) would time a cache hit on the second pass —
    measured 2.3 s cold vs 0.8 s cache-served for triangles. The
    registry wrapper (entry `_cold`) must clear the cache at build time;
    intra-query persists are registered after the clear and still pin
    their own multi-consumer subtrees."""
    probe = spark.range(1000).selectExpr("id", "id * 2 AS v").persist()
    probe.count()  # materialize so the cache entry is live
    try:
        assert probe.storageLevel != StorageLevel.NONE
        df = entry.queries()["topk"](spark, SF)
        # the builder itself must have evicted the pre-existing entry
        assert probe.storageLevel == StorageLevel.NONE
        # topk persists nothing, so the cache is empty afterwards too; the
        # CacheManager has no public view, so this needs the classic JVM session
        if hasattr(spark, "_jsparkSession"):
            assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        df.limit(1).collect()
    finally:
        probe.unpersist()
