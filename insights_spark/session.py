"""SparkSession factory tuned for the engine.

Scale posture: these configs are the single-JVM local equivalents of what the
job would set on a 1000-executor cluster — AQE on (runtime re-plan + skew-join
splitting), adaptive partition coalescing, Arrow for all pandas-UDF exchange,
and a shuffle-partition count sized to cores locally (on a real cluster:
~2-3x total cores, or leave to AQE initialPartitionNum).

Oversubscription note (measured, see BENCH.md §3): when concurrent Python
UDF workers exceed the *effective* core count (vCPUs minus SMT/steal — ~22
of 32 on this sandbox VM), throughput collapses 5-15x (scheduler/lock-holder
preemption, worker sys-time > user-time). The fix is the same knob a real
cluster uses for CPU-heavy Python stages: cap task concurrency with
``spark.task.cpus=2`` (local[32] + task.cpus=2 == local[16] throughput,
measured identical), rather than shrinking executors.

Host sizing: the driver gets a quarter of this host's RAM within [1, 8] GB
(``$SPARK_GRAFT_DRIVER_MEM`` overrides), leaving room for the Python
workers; and the workers get the package's parent directory on their
``PYTHONPATH``, so they unpickle engine objects (a broadcast
``PolygonIndex``) whatever the driver's cwd is.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_memory() -> str:
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(8192, total_mb // 4))}m"


def get_spark(
    app_name: str = "insights-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # smaller Arrow batches keep per-task JVM buffers smooth when UDF
        # output fan-out is high (one input page → tens of element rows);
        # 10k-page batches at 32 concurrent tasks caused GC storms.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver IS the executor — size it like one
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory())
        .config("spark.executorEnv.PYTHONPATH", PKG_PARENT)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join pruning: on a shuffle join with a
        # selective build side, inject might_contain(bloom(build keys)) into
        # the fact-side SCAN — a semi-join reduction that skips shuffling
        # fact rows that cannot match. Default size thresholds (10 GB
        # application side) keep it dormant at test scale and activate it
        # exactly where it pays at 100 TB; tests/test_plans.py pins the
        # injection with thresholds lowered.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Split sizing for CPU-DENSE columnar text (measured, r4/r5): parquet
        # compresses web text ~10×, and Spark sizes file splits by
        # COMPRESSED bytes — maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/minPartitionNum)). The r4 fix
        # lowered BOTH knobs; measurement this round showed only the
        # open-cost FLOOR matters for the small hot text tables (584 KB -
        # 6 MB compressed → the totalBytes/cores term is already < 256 KiB,
        # so the floor alone yields the same 24-of-32-core fan-out the 1 MiB
        # ceiling did), while the 1 MiB *ceiling* was actively wrong at the
        # 100 TB posture (10⁸ splits per table) and already wrong at sf1
        # (135 splits for a 135 MB fact table vs 32 with the default
        # ceiling). So: ceiling stays at Spark's 128 MiB default — inert
        # locally, correct at scale — and only the floor is lowered. Split
        # counts verified r5: sf1 documents 24 (unchanged), sf1 lineitem
        # 32 (was 135).
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()


def local_df(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over rows the driver already holds, built on the JVM.

    ``spark.createDataFrame(list)`` ships the rows through a Python worker:
    a PythonRDD stage whose worker starts 0.2-0.5 s after the job does,
    even for one row. Here they go to the JVM as one Arrow stream and come
    back as a ``LocalRelation`` (plan: ``LocalTableScan``), so no Python
    task runs, empty input included; above
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB of Arrow
    data) the JVM parallelizes the batches itself. The explicit Arrow types
    keep ``TimestampNTZ`` naive and a long above 2^53 exact next to a null.

    Two differences from ``createDataFrame(list)``: the Arrow path does not
    verify values against the schema, so only a ``None`` in a top-level
    non-nullable field is rejected here (nested nullability and type
    mismatches such as an int in a double column are not checked); and a
    naive ``datetime`` in a ``TimestampType`` column is read as UTC, not in
    the host's local time zone.

    ``rows``: tuples in ``schema`` order. ``schema``: a ``StructType`` or a
    DDL string. The one place in the package that calls ``createDataFrame``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    for c, f in zip(cols, schema.fields):
        if not f.nullable and any(v is None for v in c):
            raise ValueError(f"field {f.name}: not nullable, but got None")
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
