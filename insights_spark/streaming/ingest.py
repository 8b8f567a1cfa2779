"""Streaming ingestion of pages (SURVEY §2.9 ST1-ST6, stream-ified).

The reference's replication is a pull-based micro-batch loop (fetch diff
file → parse → upsert → advance checkpoint, changesetmd.py:185-245,
osmh.py:554-613). Structured Streaming gives the same semantics natively:

- source: `readStream` over the pages directory (file source = the diff
  sequence; new files = new replication batches, processed in order).
- extraction: the SAME fused Arrow kernel as batch (exactly-once per batch).
- sink: `foreachBatch` appending idempotently (dedup on natural keys before
  write — replay-safe like the reference's ON CONFLICT DO NOTHING, ST3).
- checkpoint: Spark's streaming checkpoint directory replaces the
  `*_state` tables (resume = automatic, ST1).
- late data: watermark on `warc_ts` bounds state for windowed aggregates
  (the reference's daily anti-join repair covers the same gap in batch).

`edit_density_stream` shows the stateful path: sliding windowed counts of
edits per tile with a watermark — the streaming twin of the batch tile
rollup.
Only tests reach this module: no registered query, job or bench runs a
stream. It stays as the paper's minutely-replication twin (SURVEY §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PAGES
from ..geo import tiles


def read_pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream over a pages parquet directory (ordered batches)."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )


def stream_extract_elements(pages_stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """Stream pages → enriched element rows, idempotent parquet sink.

    foreachBatch dedups on (id, version, type) within the batch and appends;
    replayed batches (restart after crash) rewrite the same keys — consumers
    read through the latest-version window (J5), so replays are invisible,
    mirroring the reference's ON CONFLICT DO NOTHING posture.
    """
    from .. import extract, synth

    rows_b = synth.gen_boundaries()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        enriched = extract.extract_elements_enriched(batch_df, rows_b)
        (
            enriched.dropDuplicates(["id", "version", "type"])
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        pages_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def edit_density_stream(
    elements_stream: DataFrame,
    window: str = "10 minutes",
) -> DataFrame:
    """Stateful windowed edit density per z=6 tile with a 30-minute
    late-data watermark.

    Input: a stream of element rows carrying `timestamp`, `lat`, `lon`.
    Output: (window, z, x, y, edits) — append-mode compatible once the
    watermark passes, bounded state (the watermark is the engine's answer
    to the reference's unbounded repair scans, ST4).
    """
    pts = (
        elements_stream.filter(F.col("lat").isNotNull())
        .withColumn("x", tiles.tile_x(F.col("lon"), 6))
        .withColumn("y", tiles.tile_y(F.col("lat"), 6))
        # watermarks require TIMESTAMP (ltz); session tz is UTC so the cast
        # from the engine's TIMESTAMP_NTZ columns is value-preserving
        .withColumn("_event_ts", F.col("timestamp").cast("timestamp"))
    )
    return (
        pts.withWatermark("_event_ts", "30 minutes")
        .groupBy(F.window("_event_ts", window).alias("window"), "x", "y")
        .agg(F.count(F.lit(1)).alias("edits"))
        .select("window", F.lit(6).alias("z"), "x", "y", "edits")
    )


def stream_dedup_pages(pages_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: first occurrence per url within a 1-hour
    watermark horizon — the streaming twin of ``text.dedup.exact_dedup`` for a
    continuously-arriving crawl.

    ``dropDuplicatesWithinWatermark`` keys state on `url` and expires it
    once the event-time watermark passes, so state stays bounded by the
    key arrival rate × horizon — the crawl-scale answer to an unbounded
    distinct. Replayed/duplicate fetches inside the horizon are dropped;
    a re-crawl after the horizon is a NEW observation by design (the
    batch dedup over the sink catches cross-horizon repeats).
    """
    return (
        pages_stream.withColumn("_event_ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("_event_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["url"])
        .drop("_event_ts")
    )


def session_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming sessionization — the stateful twin of
    ``ops.sessions.sessionize``: Spark's native ``session_window`` merges
    events of one user into dynamic-length sessions that CLOSE when no
    event arrives within 30 minutes; the 2-hour watermark finalizes (and
    expires the state of) sessions once event time passes session_end +
    2h, so state is bounded by the number of OPEN sessions per key — never the
    history (ST4 posture).

    Output: (session (start,end struct), user_id, n_events). Semantics
    note vs the batch operator: session_window's end = last event + 30 min
    (the half-open close boundary), where batch `sessionize` reports
    min/max event ts; the session MEMBERSHIP (which events group together,
    strict-gap rule) is identical — the equivalence test pins membership
    counts, not the boundary convention.
    """
    ev = events_stream.withColumn("_event_ts", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("_event_ts", "2 hours")
        .groupBy(
            F.session_window(F.col("_event_ts"), "30 minutes").alias("session"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


def stream_source_cap(docs_stream: DataFrame, max_per_source: int) -> DataFrame:
    """Streaming per-domain cap — a CUSTOM stateful operator
    (``applyInPandasWithState``): admit at most `max_per_source` docs per
    source across the WHOLE stream. No built-in expresses this —
    ``dropDuplicatesWithinWatermark`` dedups exact keys but cannot keep a
    per-key admission COUNTER — so the state (one long per source) is
    explicit: loaded per micro-batch per key, incremented by the rows
    admitted, persisted by the state store.

    Within a micro-batch rows are admitted in ascending `doc_id` order
    (deterministic given the batch); across batches admission follows
    arrival order — the honest streaming semantics of a crawl-frontier
    cap (the batch `text.clean.per_source_cap` is the content-stable
    re-runnable variant). State size: ONE counter per distinct source —
    bounded by the domain universe, not the doc count.

    Output: (source, doc_id) of admitted docs, append mode.
    """
    import pandas as pd

    out_schema = "source string, doc_id long"
    state_schema = "n long"

    def cap_fn(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        if n >= max_per_source:
            state.update((n,))
            return
        # ONE sort over the key's whole micro-batch: the runtime may split
        # a key's rows across several Arrow chunks, and sorting each chunk
        # independently would admit first-chunks-first — nondeterministic
        # membership for groups larger than one chunk. Concatenating is
        # bounded by the key's per-micro-batch volume (not stream history).
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((n,))
            return
        rows = pd.concat(chunks, ignore_index=True)
        take = rows.sort_values("doc_id").head(max_per_source - n)
        state.update((n + len(take),))
        if len(take):
            out = take[["doc_id"]].copy()
            out.insert(0, "source", key[0])
            yield out

    return (
        docs_stream.select("source", "doc_id")
        .groupBy("source")
        .applyInPandasWithState(
            cap_fn, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def stream_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    max_span_seconds: int,
    left_cols: tuple[str, str, str] = ("id", "start_ts", "end_ts"),
    right_cols: tuple[str, str, str] = ("id", "start_ts", "end_ts"),
) -> DataFrame:
    """Watermarked STREAM-STREAM interval-overlap join — the streaming
    twin of ``ops.intervals.interval_join`` (same pin discipline as
    session_stream↔sessionize): two live interval feeds, emit (a, b)
    once both sides have arrived, expire state at the watermark horizon.

    Two Structured-Streaming constraints shape this:

    * stream-stream joins REQUIRE an equality predicate — supplied by the
      SAME chunk bucketing as the batch operator (explode into
      ``max_span_seconds`` buckets, join on chunk id), with the batch
      operator's canonical-chunk rule (emit only from the chunk holding
      max(a_start, b_start)) giving exactly-once output with no
      streaming-side dedup state;
    * state expiry needs a time RANGE between the two event-time columns
      — hence the bounded-span CONTRACT ``end - start <=
      max_span_seconds`` (violating rows are dropped here, loudly; the
      batch operator has no such bound), which makes overlap imply
      ``b_start ∈ [a_start - S, a_start + S]``. State per side is then
      bounded by rows within the 1-hour watermark + S of the stream clock.

    Output: (a, b, a_start, b_start) — the batch operator's columns;
    membership parity on contract-compliant data is pytest-pinned.
    """
    s = chunk = int(max_span_seconds)
    span = F.expr(f"INTERVAL {s} SECONDS")

    def shape(df, cols, side):
        idc, sc, ec = cols
        st, en = f"{side}_start", f"{side}_end"
        shaped = (
            df.select(
                F.col(idc).alias(side),
                F.col(sc).cast("timestamp").alias(st),
                F.col(ec).cast("timestamp").alias(en),
            )
            # empty-interval rule (match batch) + the bounded-span contract
            .filter(
                (F.col(en) >= F.col(st)) & (F.col(en) <= F.col(st) + span)
            )
            .withWatermark(st, "1 hour")
        )
        c0 = F.floor(F.col(st).cast("long") / chunk)
        c1 = F.floor(F.col(en).cast("long") / chunk)
        return shaped.select(
            side, st, en, F.explode(F.sequence(c0, c1)).alias(f"_{side}chunk")
        )

    l = shape(left_stream, left_cols, "a")
    r = shape(right_stream, right_cols, "b")
    canonical = (
        F.floor(
            F.greatest(F.col("a_start"), F.col("b_start")).cast("long") / chunk
        )
        == F.col("_achunk")
    )
    cond = (
        (F.col("_achunk") == F.col("_bchunk"))
        # state-bounding range between the two WATERMARKED columns
        & (F.col("b_start") >= F.col("a_start") - span)
        & (F.col("b_start") <= F.col("a_start") + span)
        # exact overlap (inclusive ends, identical to the batch operator)
        & (F.col("a_start") <= F.col("b_end"))
        & (F.col("b_start") <= F.col("a_end"))
    )
    return (
        l.join(r, cond, "inner")
        .filter(canonical)
        .select("a", "b", "a_start", "b_start")
    )


def stream_cell_counts(events_stream: DataFrame) -> DataFrame:
    """Streaming per-cell activity rollup — the geo twin of the batch
    hex-cell count (the input shape of hex_smooth / cell_clusters /
    frontier_cells), maintained continuously as events arrive.

    State argument (why a running aggregate is scale-safe HERE when an
    unbounded distinct is not): the state is one counter per OCCUPIED
    hex cell, and the cell grid is finite — ≤ ~3k cells at res 1 — so
    state is bounded by the GRID, not the stream length. That is the
    same boundedness that makes the batch rollup safe, carried over
    verbatim; no watermark is needed because nothing ever needs to
    expire. Equivalence with the batch rollup is
    pinned in tests (same counts per cell once the bounded fixture
    drains).
    """
    from ..geo import cells

    return (
        events_stream.filter(
            F.col("lon").isNotNull() & F.col("lat").isNotNull()
        )
        .groupBy(
            cells.hex_udf(1, use_h3=False)(
                F.col("lon"), F.col("lat")
            ).alias("cell")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def stream_funnel(
    events_stream: DataFrame,
    steps: tuple[str, ...],
    max_gap_hours: float | None = None,
) -> DataFrame:
    """Streaming conversion funnel — the stateful twin of
    ``ops.sessions.funnel_steps``: per user, advance a step cursor as
    matching events arrive; emit a row each time a user REACHES a step.

    State per user is two scalars (matched step index, its event-time in
    epoch micros) — bounded by the user universe, never by event volume.
    Within a micro-batch the key's rows are processed in ascending
    event-time (one bounded concat+sort, same discipline as
    stream_source_cap); across batches the greedy cursor only moves
    forward, so with per-user event-time-ordered arrival (the file-replay
    contract every stream twin here pins) the final reached-step set
    equals the batch funnel's.

    Output: (user_id, step, event_type, reached_ts), append mode — the
    per-step user COUNTS of the batch funnel are one groupBy('step') away.
    """
    import pandas as pd

    out_schema = (
        "user_id long, step int, event_type string, reached_ts timestamp"
    )
    state_schema = "step long, last_us long"
    gap_us = (
        int(round(float(max_gap_hours) * 3600.0 * 1_000_000))
        if max_gap_hours is not None
        else None
    )

    def funnel_fn(key, pdfs, state):
        step, last_us = (state.get if state.exists else (0, 0))
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((step, last_us))
            return
        rows = pd.concat(chunks, ignore_index=True).sort_values("ts")
        out = []
        for ts, et in zip(rows["ts"], rows["event_type"]):
            if step >= len(steps):
                break
            t_us = int(pd.Timestamp(ts).value // 1000)
            if et != steps[step]:
                continue
            if step > 0:
                if t_us <= last_us:
                    continue
                if gap_us is not None and t_us - last_us > gap_us:
                    continue
            step += 1
            last_us = t_us
            out.append((int(key[0]), step, et, ts))
        state.update((int(step), int(last_us)))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "step", "event_type", "reached_ts"]
            )

    return (
        events_stream.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            funnel_fn, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def stream_od_flows(points_stream: DataFrame) -> DataFrame:
    """Streaming origin–destination moves — the stateful twin of
    ``geo.track.od_flows``: per-user LAST-POSITION state carried across
    micro-batches by ``applyInPandasWithState``. No built-in stateful
    operator chains a lag across triggers — session windows aggregate,
    dropDuplicates dedups, neither remembers "where was this user last";
    the state here is exactly one (epoch, id, cell) triple per user —
    bounded by the user universe, not stream history.

    Within a micro-batch a user's rows are ordered by (ts, id) — the
    batch twin's tie rule; across batches moves follow arrival order
    (the honest streaming semantics). Fed in timestamp order the emitted
    move multiset converges to EXACTLY the batch matrix (pinned by the
    twin test). Output: one (user, cell_from, cell_to) row per detected
    move, append mode; dwell (same cell) emits nothing.
    """
    import pandas as pd

    from insights_spark.geo.cells import hex_udf

    pts = points_stream.select(
        F.col("user_id"),
        F.col("ts").alias("_ts"),
        F.col("event_id").alias("_id"),
        hex_udf(0, use_h3=False)(F.col("lon"), F.col("lat"))
        .alias("cell"),
    )
    out_schema = "user_id long, cell_from long, cell_to long"
    state_schema = "ep long, last_id long, cell long"

    def od_fn(key, pdfs, state):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True).sort_values(
            ["_ts", "_id"]
        )
        prev_cell = state.get[2] if state.exists else None
        froms, tos = [], []
        for cell in rows["cell"].tolist():
            if prev_cell is not None and cell != prev_cell:
                froms.append(prev_cell)
                tos.append(cell)
            prev_cell = cell
        last = rows.iloc[-1]
        state.update((int(last["_ts"].value // 1000),
                      int(last["_id"]), int(last["cell"])))
        if froms:
            yield pd.DataFrame({
                "user_id": key[0],
                "cell_from": froms,
                "cell_to": tos,
            })

    return pts.groupBy("user_id").applyInPandasWithState(
        od_fn, out_schema, state_schema, "append", "NoTimeout"
    )
