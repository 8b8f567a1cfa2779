"""Idempotent sink semantics — the reference's upsert triad, table-ified.

Reference sinks (SURVEY §2.1 S10-S12):
- S10 ``ON CONFLICT DO NOTHING`` on (id,version,type)   → append_dedup
- S11 ``ON CONFLICT ... DO UPDATE SET ...``              → merge (`merge_rows`)
- S12 delete-then-insert replay (changesets)             → merge (`merge_rows`)

On Iceberg these are one ``MERGE INTO`` each; this sandbox has no catalog,
so `ParquetSinks` models MERGE as read-existing → `merge_rows` → atomic
directory swap, and `runtime.tablefmt.SnapshotTable.merge` commits the
same `merge_rows` output as a snapshot. The rewrite is O(table) here; the
docstring contract is the MERGE semantics, and the pipeline's write
pattern (natural keys + dedup preference) ports to Iceberg unchanged.
Replay safety (ST3): re-applying any batch converges to the same table.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def has_parquet(path: str) -> bool:
    """Whether the directory at `path` holds a parquet file (a table)."""
    return any(f.endswith(".parquet") for _r, _d, fs in os.walk(path) for f in fs)


def merge_rows(old: DataFrame | None, new: DataFrame, keys: list[str]) -> DataFrame:
    """The MERGE precedence rule: one row per key of old ∪ new, new rows
    win (DO UPDATE / delete-then-insert, S11/S12). `old=None` is the
    empty table, so a first write still keeps one row per key. Rows are
    tagged `_gen` 0 (old) / 1 (new) and `row_number` over the key picks
    the newest generation."""
    tagged = new.withColumn("_gen", F.lit(1))
    if old is not None:
        tagged = old.withColumn("_gen", F.lit(0)).unionByName(tagged)
    w = Window.partitionBy(*keys).orderBy(F.desc("_gen"))
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_gen")
    )


class ParquetSinks:
    """The warehouse backend: directory-parquet tables behind the 4 verbs
    jobs program against (merge / merge_sum / append_dedup / read)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    @staticmethod
    def _publish(df: DataFrame, path: str) -> None:
        """Atomic publish: write beside, swap directories (Iceberg gets this
        from snapshot commits; plain parquet needs the tmp-and-rename dance)."""
        tmp = f"{path}__merge_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(path):
            os.rename(path, backup)
        os.rename(tmp, path)
        shutil.rmtree(backup, ignore_errors=True)

    def merge(self, df: DataFrame, path: str, keys: list[str]) -> None:
        """MERGE df into the parquet table at `path` on `keys` (`merge_rows`)."""
        old = self.read(path)
        if old is not None:
            # fast path: when no batch key collides with an existing row,
            # MERGE degenerates to INSERT — dedup the batch internally and
            # append, never touching existing files (Iceberg's MERGE does
            # exactly this when the ON clause matches nothing). The probe
            # scans only the key columns and stops at the first hit.
            batch = df.dropDuplicates(keys)
            conflicts = (
                old.select(*keys).join(batch.select(*keys), keys, "left_semi")
                .limit(1).count()
            )
            if conflicts == 0:
                batch.write.mode("append").parquet(path)
                return
        self._publish(merge_rows(old, df, keys), path)

    def merge_sum(self, df: DataFrame, path: str, keys: list[str],
                  sum_cols: list[str]) -> None:
        """Additive MERGE for rollup tables (tile pyramid, counters): rows
        with the same key have their measures SUMMED — the incremental form
        of an additive aggregate, so a batch contributes O(batch)
        aggregation work instead of recomputing the rollup over all
        history."""
        old = self.read(path)
        rows = df if old is None else old.unionByName(df)
        self._publish(
            rows.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sum_cols]), path)

    def append_dedup(self, df: DataFrame, path: str, keys: list[str],
                     partition_by: list[str] | None = None,
                     cluster_by: list[str] | None = None,
                     sort_by: list[str] | None = None) -> DataFrame:
        """Cheap S10 for append-mostly tables: drop batch rows whose keys
        are already present, then append (no table rewrite). Exactly the
        reference's ON CONFLICT DO NOTHING cost profile.

        Returns the actually-appended rows as an eager localCheckpoint:
        downstream incremental stages (stats repair, tile merge) consume
        exactly this delta, so the pipeline's per-batch work stays
        O(batch) instead of O(history). A checkpoint has no CacheManager
        entry, so there is nothing for the caller to unpersist.

        `cluster_by`/`sort_by` implement the physical layout (X3) HERE,
        after the dedup shuffle: clustering before the call is futile
        (dropDuplicates re-shuffles), and repartitioning on a
        low-cardinality column alone (e.g. `type`: 3 values) collapses the
        write to 3 tasks — cluster on the full composite so all shuffle
        partitions stay busy."""
        batch = df.dropDuplicates(keys)
        old = self.read(path)
        if old is not None:
            batch = batch.join(old.select(*keys), keys, "left_anti")
        if cluster_by:
            batch = batch.repartition(*[F.col(c) for c in cluster_by])
        if sort_by:
            batch = batch.sortWithinPartitions(*sort_by)
        # localCheckpoint, NOT persist: the batch's plan reads `path` (the
        # anti-join), and writing to a path invalidates+recomputes every
        # cached plan that reads it (CacheManager.recacheByPath) — a
        # persisted batch would silently re-execute its anti-join against
        # the just-appended table and come back EMPTY. Checkpointing
        # truncates the lineage first, pinning the pre-write contents. (On
        # Iceberg the committed snapshot id gives the same
        # read-your-own-write isolation for free.)
        batch = batch.localCheckpoint(eager=True)
        w = batch.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return batch

    def read(self, path: str) -> DataFrame | None:
        """The table at `path`, or None while it holds no parquet file."""
        return self.spark.read.parquet(path) if has_parquet(path) else None
