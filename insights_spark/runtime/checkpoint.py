"""Checkpoint / resume — the reference's state tables, table-ified.

Reference (queries.py:28-32,53-57; changesetmd.py:185-245; osmh.py:554-613):
a `*_state` row with (last_sequence, last_timestamp, update_in_progress)
guarded by LOCK TABLE. Engine translation (SURVEY §2.9 ST1-ST5):

- checkpoints live in a `_checkpoints` table (parquet dir here; Iceberg
  table on a real deployment) — one APPEND-ONLY row per committed stage
  batch; current state = max(sequence) per (pipeline, stage).
- the `update_in_progress` flag and table lock disappear: sinks are
  idempotent MERGE/overwrite keyed on natural keys, so concurrent or
  replayed batches converge (ST3) — optimistic commits replace locks.
- resume = read max committed sequence, filter the source to
  `sequence > checkpoint` (monotone `warc_ts` / snapshot id).

Storage layout note: each commit writes one tiny parquet file under the
checkpoint dir. At production cadence (minutes) that's thousands of files
a year — compact periodically or keep in Iceberg where metadata handles it.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CHECKPOINTS
from ..session import local_df
from .sinks import has_parquet


class CheckpointStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read_all(self) -> DataFrame:
        if not has_parquet(self.path):
            return local_df(self.spark, [], CHECKPOINTS)
        return self.spark.read.schema(CHECKPOINTS).parquet(self.path)

    def last_sequence(self, pipeline: str, stage: str) -> int | None:
        row = (
            self.read_all()
            .filter((F.col("pipeline") == pipeline) & (F.col("stage") == stage))
            .agg(F.max("sequence").alias("seq"))
            .collect()[0]
        )
        return row["seq"]

    def commit(self, pipeline: str, stage: str, sequence: int, run_id: str | None = None) -> None:
        """Append one committed-sequence row (atomic at file granularity).

        The row is built on the JVM (`session.local_df`): it never crosses
        into a Python worker, so the commit is one JVM write job.
        """
        row = [
            (
                pipeline,
                stage,
                int(sequence),
                datetime.now(timezone.utc).replace(tzinfo=None),
                run_id or uuid.uuid4().hex[:12],
            )
        ]
        local_df(self.spark, row, CHECKPOINTS).coalesce(1).write.mode(
            "append"
        ).parquet(self.path)


def incremental_filter(df: DataFrame, seq_col, last_seq) -> DataFrame:
    """Rows strictly after the checkpoint (ST5: ascending sequence order)."""
    if last_seq is None:
        return df
    return df.filter(F.col(seq_col) > F.lit(last_seq))
