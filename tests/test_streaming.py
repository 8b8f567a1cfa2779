"""Structured Streaming tests: incremental file-source ingestion with
exactly-once-per-batch extraction, restart/resume, windowed tile density."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from insights_spark import synth
from insights_spark.geo import tiles
from insights_spark.streaming import ingest


def _write_pages_chunk(spark, rows, path):
    from insights_spark.schemas import PAGES

    spark.createDataFrame(rows, PAGES).coalesce(1).write.mode("append").parquet(path)


def test_stream_extract_and_resume(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "elements")
    ckpt = str(tmp_path / "ckpt")
    all_rows = synth.gen_pages(18)

    # batch 1: first 9 pages
    _write_pages_chunk(spark, all_rows[:9], pages_dir)
    q = ingest.stream_extract_elements(
        ingest.read_pages_stream(spark, pages_dir), out_dir, ckpt
    ).start()
    q.awaitTermination()

    el1 = spark.read.parquet(out_dir)
    n1 = el1.count()
    assert n1 > 0
    assert el1.select("id", "version", "type").distinct().count() == n1

    # batch 2: 9 more pages → restart picks up ONLY the new files
    _write_pages_chunk(spark, all_rows[9:], pages_dir)
    q2 = ingest.stream_extract_elements(
        ingest.read_pages_stream(spark, pages_dir), out_dir, ckpt
    ).start()
    q2.awaitTermination()

    el2 = spark.read.parquet(out_dir)
    n2 = el2.count()
    assert n2 > n1
    # no replays: natural keys still unique across the whole sink
    assert el2.select("id", "version", "type").distinct().count() == n2
    # enrichment happened in-stream (fused kernel)
    assert "s2_l12" in el2.columns and "country" in el2.columns

    # third run with nothing new → no-op
    q3 = ingest.stream_extract_elements(
        ingest.read_pages_stream(spark, pages_dir), out_dir, ckpt
    ).start()
    q3.awaitTermination()
    assert spark.read.parquet(out_dir).count() == n2


def test_edit_density_stream_windows(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    _write_pages_chunk(spark, synth.gen_pages(12), pages_dir)
    from insights_spark import extract

    # batch-compute the expected density for the same tiles
    batch_el = extract.extract_elements(spark.read.parquet(pages_dir)).filter(
        F.col("lat").isNotNull()
    )
    stream_el = ingest.read_pages_stream(spark, pages_dir)
    # reuse the extraction kernel inside the stream via transform-on-batch:
    # here we stream the *element* rows directly by pre-extracting to parquet
    el_dir = str(tmp_path / "el")
    batch_el.write.parquet(el_dir)
    el_stream = spark.readStream.schema(batch_el.schema).parquet(el_dir)

    dens = ingest.edit_density_stream(el_stream, window="60 minutes")
    q = (
        dens.writeStream.format("memory")
        .queryName("dens_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination()
    got = {(r["x"], r["y"]): r["edits"] for r in spark.sql(
        "SELECT x, y, sum(edits) AS edits FROM dens_test GROUP BY x, y").collect()}
    want = {(r["x"], r["y"]): r["n"] for r in
            batch_el.withColumn("x", tiles.tile_x(F.col("lon"), 6))
            .withColumn("y", tiles.tile_y(F.col("lat"), 6))
            .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and len(got) > 0


def test_stream_dedup_pages(spark, tmp_path):
    """Duplicate urls inside one micro-batch collapse to first-seen; the
    output sink sees each url once."""
    pages_dir = str(tmp_path / "dpages")
    out_dir = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dckpt")
    rows = synth.gen_pages(6)
    dupes = rows + [dict(r) for r in rows[:3]]  # 3 urls fetched twice
    _write_pages_chunk(spark, dupes, pages_dir)

    q = (
        ingest.stream_dedup_pages(ingest.read_pages_stream(spark, pages_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir)
    assert out.count() == 6
    assert out.select("url").distinct().count() == 6


def test_session_stream_matches_batch_membership(spark, tmp_path):
    """Streaming session_window groups exactly like batch sessionize: same
    per-(user, session) event counts (boundary conventions differ by the
    +gap close; membership must not)."""
    from datetime import datetime

    from insights_spark.ops.sessions import sessionize
    from insights_spark.streaming import ingest

    rows = []
    eid = 0
    for uid in (1, 2, 3):
        for burst in range(3):
            base = datetime(2024, 1, 1, burst * 6 + uid, 0, 0)  # bursts >30min apart
            for j in range(uid + burst + 1):
                rows.append((eid, uid, base.replace(minute=j * 7)))  # 7min gaps
                eid += 1
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz")
    ev_dir = str(tmp_path / "ev")
    ev.write.parquet(ev_dir)

    stream = spark.readStream.schema(ev.schema).parquet(ev_dir)
    q = (
        ingest.session_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.sql("SELECT user_id, n_events FROM sess_test").collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"])
        for r in sessionize(ev, gap_minutes=30.0).collect()
    )
    assert got == want and len(got) == 9


def test_stream_source_cap_state_across_batches(spark, tmp_path):
    """The applyInPandasWithState counter survives micro-batches: with
    maxFilesPerTrigger=1 and two files per source, the second batch only
    admits the remainder of the per-source budget."""
    from insights_spark.streaming import ingest

    d1 = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(8)], "doc_id long, source string"
    )
    d2 = spark.createDataFrame(
        [(100 + i, f"s{i % 2}") for i in range(8)], "doc_id long, source string"
    )
    docs_dir = str(tmp_path / "docs")
    d1.coalesce(1).write.mode("append").parquet(docs_dir)
    d2.coalesce(1).write.mode("append").parquet(docs_dir)

    stream = (
        spark.readStream.schema("doc_id long, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    q = (
        ingest.stream_source_cap(stream, max_per_source=6)
        .writeStream.format("memory")
        .queryName("cap_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_cap"))
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT source, doc_id FROM cap_test").collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r["doc_id"])
    assert {k: len(v) for k, v in per_src.items()} == {"s0": 6, "s1": 6}
    # each source admitted 4 from its first-seen batch + 2 from the other
    for ids in per_src.values():
        assert sum(1 for i in ids if i < 100) == 4
        assert sum(1 for i in ids if i >= 100) == 2


def test_stream_source_cap_single_batch_equals_batch_twin(spark, tmp_path):
    """Streaming==batch parity for the per-source cap (r3 verdict #5): a
    corpus presented as ONE micro-batch admits exactly the membership of
    the batch twin `per_source_cap_arrival` (lowest ids per source) — the
    same pin session_stream has against sessionize. The twin is the
    oracle-anchored driver query `source_cap_stream_twin`."""
    from insights_spark.streaming import ingest
    from insights_spark.text.clean import per_source_cap_arrival

    docs = spark.createDataFrame(
        [(i * 7 % 40, f"s{i % 3}") for i in range(40)],
        "doc_id long, source string",
    ).distinct()
    docs_dir = str(tmp_path / "docs1")
    docs.coalesce(1).write.parquet(docs_dir)   # one file -> one micro-batch

    stream = (
        spark.readStream.schema("doc_id long, source string").parquet(docs_dir)
    )
    q = (
        ingest.stream_source_cap(stream, max_per_source=5)
        .writeStream.format("memory")
        .queryName("cap_twin_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_twin"))
        .start()
    )
    q.awaitTermination()
    got = {(r["source"], r["doc_id"])
           for r in spark.sql("SELECT source, doc_id FROM cap_twin_test").collect()}
    want = {(r["source"], r["doc_id"])
            for r in per_source_cap_arrival(docs, 5).collect()}
    assert got == want and len(want) == 15


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream watermarked interval join == batch interval_join on
    bounded-span data: same (a, b) pair set, both directions of overlap,
    degenerate (end < start) rows matching nothing."""
    from insights_spark.ops.intervals import interval_join
    from insights_spark.streaming import ingest

    base = spark.createDataFrame(
        [(i,) for i in range(120)], "event_id long"
    ).select(
        "event_id",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(mins=(F.col("event_id") * 13) % 240)
         ).alias("start_ts"),
    ).withColumn(
        "end_ts",
        F.col("start_ts") + F.make_dt_interval(mins=F.pmod("event_id", F.lit(7)) + 1),
    )
    left = base.filter(F.pmod("event_id", F.lit(2)) == 0)
    right = base.filter(F.pmod("event_id", F.lit(2)) == 1)

    expect = {
        (r["a"], r["b"])
        for r in interval_join(
            left, right,
            left_cols=("event_id", "start_ts", "end_ts"),
            right_cols=("event_id", "start_ts", "end_ts"),
        ).select("a", "b").collect()
    }
    assert len(expect) > 50  # non-vacuous fixture

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(ldir)
    right.write.parquet(rdir)
    schema = "event_id long, start_ts timestamp, end_ts timestamp"
    q = (
        ingest.stream_interval_join(
            spark.readStream.schema(schema).parquet(ldir),
            spark.readStream.schema(schema).parquet(rdir),
            max_span_seconds=8 * 60,
            left_cols=("event_id", "start_ts", "end_ts"),
            right_cols=("event_id", "start_ts", "end_ts"),
        )
        .writeStream.format("memory")
        .queryName("ivj_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ivj"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r["a"], r["b"])
        for r in spark.sql("SELECT a, b FROM ivj_stream_test").collect()
    }
    assert got == expect


def test_stream_cell_counts_matches_batch(spark, tmp_path):
    """The streaming per-cell rollup converges to EXACTLY the batch
    hex-cell counts once the (bounded) fixture drains — grid-bounded
    state, no watermark needed; fed in two micro-batches so the running
    aggregate actually updates across triggers."""
    import importlib.util

    from pyspark.sql import functions as F

    from insights_spark.geo import cells

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id"
    )
    pts = m._points(ev, "event_id").select("event_id", "lon", "lat")
    src = str(tmp_path / "pts")
    pts.filter("event_id % 2 = 0").coalesce(1).write.parquet(src)
    pts.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, lon double, lat double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        ingest.stream_cell_counts(stream)
        .writeStream.format("memory")
        .queryName("cellcounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["cell"]: r["n"] for r in spark.table("cellcounts").collect()
    }
    want = {
        r["cell"]: r["n"]
        for r in pts.groupBy(
            cells.hex_udf(1, use_h3=False)(F.col("lon"), F.col("lat")).alias(
                "cell"
            )
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).collect()
    }
    assert got == want and len(want) > 10


def test_stream_funnel_matches_batch(spark, tmp_path):
    """The stateful streaming funnel's final reached-step set equals the
    batch funnel_steps counts when events arrive per-user in event-time
    order (two files, cursor state must survive the batch boundary)."""
    import time as _time
    from datetime import datetime

    from insights_spark.ops.sessions import funnel_steps
    from insights_spark.streaming import ingest

    d = lambda day, h=0: datetime(2024, 1, day, h)
    early = [
        (1, 1, d(1), "view"), (2, 1, d(2), "click"),
        (3, 2, d(1), "view"),
        (4, 3, d(1), "view"), (5, 3, d(2), "purchase"),  # skips click
        (6, 4, d(1), "click"),                            # never views
    ]
    late = [
        (7, 1, d(3), "purchase"),   # completes across the batch boundary
        (8, 2, d(9), "click"),      # outside the 96h gap from view
        (9, 3, d(3), "click"), (10, 3, d(4), "purchase"),
    ]
    schema = "event_id long, user_id long, ts timestamp_ntz, event_type string"
    ev_dir = str(tmp_path / "fev")
    spark.createDataFrame(early, schema).coalesce(1).write.mode("append").parquet(ev_dir)
    _time.sleep(1.1)  # file-source orders batches by modification time
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(ev_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ev_dir)
    )
    q = (
        ingest.stream_funnel(
            stream, ("view", "click", "purchase"), max_gap_hours=96)
        .writeStream.format("memory")
        .queryName("funnel_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql(
        "SELECT user_id, step, event_type FROM funnel_test").collect()
    # each (user, step) reached exactly once, despite two micro-batches
    assert len({(r["user_id"], r["step"]) for r in emitted}) == len(emitted)
    got_counts = {}
    for r in emitted:
        got_counts[r["step"]] = got_counts.get(r["step"], 0) + 1

    ev = spark.createDataFrame(early + late, schema)
    want = {r["step"]: r["users"]
            for r in funnel_steps(
                ev, ("view", "click", "purchase"), max_gap_hours=96).collect()}
    assert got_counts == {k: v for k, v in want.items() if v > 0}
    # spot semantics: u1 completes, u2 blocked by gap, u3 in-order only,
    # u4 never enters
    by_user = {}
    for r in emitted:
        by_user[r["user_id"]] = max(by_user.get(r["user_id"], 0), r["step"])
    assert by_user == {1: 3, 2: 1, 3: 3}


def test_stream_od_flows_matches_batch(spark, tmp_path):
    """The streaming per-user last-position OD twin, fed in timestamp
    order across two micro-batches, emits EXACTLY the batch od_flows
    move multiset — state (one triple per user) survives the trigger
    boundary."""
    import importlib.util

    from pyspark.sql import functions as F

    from insights_spark.geo.track import od_flows

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    pts = m._points(ev, "event_id")
    batch = {
        (r["cell_from"], r["cell_to"]): (r["n_moves"], r["n_users"])
        for r in od_flows(pts, id_col="event_id").collect()
    }
    assert batch, "fixture must contain moves"

    cols = pts.select("user_id", "ts", "event_id", "lon", "lat")
    cut = "2024-01-15"
    src = str(tmp_path / "pts")
    cols.filter(F.col("ts") < cut).coalesce(1).write.parquet(src)
    cols.filter(F.col("ts") >= cut).coalesce(1).write.mode(
        "append").parquet(src)

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, "
            "lon double, lat double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        ingest.stream_od_flows(stream)
        .writeStream.format("memory")
        .queryName("odmoves")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["cell_from"], r["cell_to"]): (r["n_moves"], r["n_users"])
        for r in spark.table("odmoves")
        .groupBy("cell_from", "cell_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_moves"),
             F.countDistinct("user_id").cast("long").alias("n_users"))
        .collect()
    }
    assert got == batch
