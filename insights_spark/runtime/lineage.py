"""Per-partition lineage + row-count metrics (north_rule X13).

The reference's only observability is progress prints
(changesetmd.py:152-153, osmh.py:516-522). The engine writes one lineage
row per (run_id, stage, partition_id) with rows_in/rows_out so that
- skew is visible (a hot partition shows up as a row-count outlier),
- extraction drops are visible (rows_in vs rows_out per partition),
- resumable runs can be audited against checkpoints.

Implementation: `observe()`-style accumulation is per-query not
per-partition, so `partition_counts` tags every row with its partition id
(pure column expr — spark_partition_id) and aggregates to one row per
partition. The observed DataFrames are read, never changed.

`record` only plans a stage's counts and queues them; `flush` writes every
queued stage in one append. A job calls `flush` once, before it commits
its checkpoint, so a batch whose stages run on several driver threads
never has two appends racing in the log's `_temporary` directory.

Cost of one `flush`: per queued stage, a partition-count aggregation of
the out side (and of the in side when given) and a full-outer join of the
two on partition id; then one one-file parquet append of their union. The
aggregations are independent shuffle map stages of one query, which AQE
runs side by side, so the Spark jobs no longer grow by ~2.5 per stage.
The sentinel rows are built on the JVM (`session.local_df`), so a flush
runs no Python task.
"""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LINEAGE
from ..session import local_df


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def partition_counts(df: DataFrame) -> DataFrame:
    """(partition_id, rows) of a DataFrame — one narrow pass."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("rows"))
    )


class LineageLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.run_id = new_run_id()
        self._queued: list[DataFrame] = []

    def record(self, stage: str, df_in: DataFrame | None, df_out: DataFrame,
               sequence: int | None = None) -> None:
        """Queue per-partition row counts for a stage (in optional); `flush`
        writes them. The frames must still hold the stage's rows then:
        pinned, checkpointed or re-derivable from unchanged inputs. Threads
        may record at once (the queue takes one `list.append` each); `flush`
        runs after they have stopped.

        Fully distributed — the counts DataFrame is written directly, never
        collected to the driver, so a 10⁵-partition stage costs the driver
        no memory (the job cost is in the module docstring). The
        in-side is full-outer joined so a partition whose rows were ALL
        dropped still appears (rows_in>0, rows_out=0) — that row IS the
        extraction-drop signal. A (-1, 0, 0) sentinel row is always appended
        so `read()` proves the stage ran even when it produced zero
        partitions; it carries zero counts (sums unaffected), and
        per-partition readers exclude it by `partition_id >= 0`.
        """
        out_c = partition_counts(df_out).withColumnRenamed("rows", "rows_out")
        if df_in is not None:
            in_c = partition_counts(df_in).withColumnRenamed("rows", "rows_in")
            j = out_c.join(in_c, "_pid", "full_outer").select(
                "_pid",
                F.coalesce("rows_in", F.lit(0)).alias("rows_in"),
                F.coalesce("rows_out", F.lit(0)).alias("rows_out"),
            )
        else:
            j = out_c.select(
                "_pid", F.lit(None).cast("long").alias("rows_in"), "rows_out"
            )
        counts = j.select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("_pid").cast("int").alias("partition_id"),
            F.col("rows_in").cast("long"),
            F.col("rows_out").cast("long"),
            F.lit(sequence).cast("long").alias("sequence"),
        )
        sentinel = local_df(
            self.spark, [(self.run_id, stage, -1, 0, 0, sequence)], LINEAGE
        )
        self._queued.append(counts.unionByName(sentinel))

    def flush(self) -> None:
        """Append every queued stage's counts as one file; a no-op when
        nothing is queued."""
        if not self._queued:
            return
        frames, self._queued = self._queued, []
        union = functools.reduce(DataFrame.unionByName, frames)
        union.coalesce(1).write.mode("append").parquet(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE).parquet(self.path)
