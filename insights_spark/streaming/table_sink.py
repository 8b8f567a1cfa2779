"""Exactly-once streaming sink into a snapshot table.

Structured Streaming's file sinks are append-only with their own commit
log; writing a STREAM into a table format needs the table's OWN commit
protocol to carry the exactly-once guarantee across restarts. This is
the public Iceberg streaming-sink design: one atomic snapshot commit
per micro-batch, with the epoch id stamped into the snapshot's manifest
summary — on restart, Spark replays the last uncommitted-in-ITS-log
epoch, the sink sees the epoch already present in the table's history
and turns the replay into a no-op. Two independent commit logs (Spark's
checkpoint, the table's manifests) reconciled by the epoch id, never by
wall-clock or row counts.

The crash window this closes: foreachBatch runs user code AFTER Spark
reads the source offsets but BEFORE it commits its checkpoint — a crash
between the table commit and the checkpoint commit replays the epoch on
restart. Without the epoch stamp the batch would double-append (the
file-sink version of the corpus-job crash window closed in r5 core).

Scale posture: the sink adds O(1) manifest IO per micro-batch on top of
the data write; the replay check scans manifest summaries
(O(commits), driver-side, no Spark job). Pair with
``SnapshotTable.compact()`` on a maintenance cadence — a streaming
table accretes one dir per epoch, the exact small-files shape
compaction exists for.
Only tests reach this module: no registered query, job or bench runs a
stream. It stays as the sink of the minutely-replication twin in
``streaming/ingest.py`` (SURVEY §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from insights_spark.runtime.tablefmt import SnapshotTable


def committed_epochs(table: SnapshotTable) -> set[int]:
    """Epoch ids already committed into the table's history."""
    return {
        int(s["summary"]["epoch"])
        for s in table.history()
        if "epoch" in s.get("summary", {})
    }


def commit_epoch(
    table_path: str,
    batch_df: DataFrame,
    epoch_id: int,
    keys: list[str] | None = None,
) -> bool:
    """Idempotently commit one micro-batch as one snapshot.

    Returns True if committed, False if the epoch was already in the
    table history (restart replay → no-op). `keys` dedups WITHIN the
    batch (a replayed source may re-deliver rows inside one epoch);
    cross-epoch dedup is the epoch stamp's job, not a row comparison —
    at 10^12 rows an anti-join per micro-batch would be the bottleneck,
    the O(commits) manifest scan is free.
    """
    t = SnapshotTable(batch_df.sparkSession, table_path)
    if epoch_id in committed_epochs(t):
        return False
    if keys:
        batch_df = batch_df.dropDuplicates(keys)
    t.append(batch_df, extra_summary={"epoch": int(epoch_id)})
    return True


def stream_to_snapshot_table(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Start a streaming query writing `stream_df` into the snapshot
    table at `table_path`, one atomic epoch-stamped commit per
    micro-batch. Returns the StreamingQuery."""
    writer = (
        stream_df.writeStream
        .foreachBatch(
            lambda df, eid: commit_epoch(table_path, df, eid))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def commit_scd2_epoch(table_path: str, batch_df: DataFrame, epoch_id: int) -> bool:
    """Idempotently apply one micro-batch of VERSION rows to a stored
    SCD2 dimension — streaming dimension maintenance.

    Same exactly-once contract as commit_epoch (epoch stamped in the
    replace snapshot's summary; a replayed epoch is a manifest-scan
    no-op), but the write is scd2_merge, not an append: untouched keys
    pass through, touched keys rebuild from the table's own rows, so the
    dimension stays exact under out-of-order version arrival ACROSS
    micro-batches too (a late version in epoch 9 splices correctly into
    intervals committed in epoch 3 — per-key cursor state like
    stream_funnel's could not do that).
    """
    from insights_spark.ops.latest import scd2_intervals, scd2_merge

    t = SnapshotTable(batch_df.sparkSession, table_path)
    if epoch_id in committed_epochs(t):
        return False
    batch = batch_df.select("type", "id", "version", "timestamp").dropDuplicates(
        ["type", "id", "version"]
    )
    cols = ["type", "id", "version", "valid_from", "valid_to", "is_current"]
    if t.current_snapshot_id() is None:
        merged = scd2_intervals(batch).select(*cols)
    else:
        merged = scd2_merge(t.read().select(*cols), batch)
    t.overwrite(merged, extra_summary={"epoch": int(epoch_id)})
    return True


def stream_scd2_to_table(
    version_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Start a streaming query maintaining an SCD2 dimension from a live
    version feed: one epoch-stamped replace snapshot per micro-batch.
    Returns the StreamingQuery."""
    writer = (
        version_stream.writeStream
        .foreachBatch(
            lambda df, eid: commit_scd2_epoch(table_path, df, eid))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
