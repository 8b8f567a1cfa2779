"""Space-filling-curve data layout — the 100 TB spatial-scan story.

A 100 TB fact table is read thousands of times per write; the single
biggest lever on spatial query cost is not the join algorithm but the
FILE LAYOUT: if rows are scattered randomly, every bbox probe scans the
whole table, because every parquet row group's [min, max] cell-id range
spans the planet. Clustering the table on a space-filling curve makes
each row group cover a tiny contiguous patch of the curve, and parquet's
built-in row-group/file statistics then prune almost everything before a
single byte of data is read. This is the same design Delta/Iceberg
expose as Z-ORDER / `sort_order(hilbert)` (public APIs); here it is
plain Spark:

- the curve key is the existing S2 cell id (geo/cells.py — Hilbert
  curve on the sphere, public S2 design): S2's trailing-bit encoding
  gives every cell's descendants a CONTIGUOUS id interval
  ``[id − (lsb−1), id + (lsb−1)]``, so "points inside cell C" is ONE
  ``BETWEEN`` predicate — exactly the shape parquet statistics and
  Spark's scan-level filter pushdown understand. (int64 view: faces 4-5
  are negative, but a descendant interval never crosses a face
  boundary, so two's-complement ordering stays monotone inside it.)
- ``cluster_spatial`` = repartitionByRange on the key (range exchange →
  each output file owns one curve segment) + sortWithinPartitions (row
  groups inside a file are disjoint too) + plain parquet write. The key
  column ships with the table — it is the pruning handle and costs 8
  bytes/row.
- ``spatial_scan`` derives the BETWEEN range from a query cell and
  reads through the normal parquet scan: pruning is Spark's own
  (PushedFilters + row-group stats), no custom reader.

The pytest measures the actual effect with pyarrow footers: after
clustering, the fraction of row groups whose [min, max] intersects a
small query cell collapses (vs ~100 % on the unclustered layout) — the
in-sandbox proxy for "the 1000-executor cluster reads 0.4 % of the
table for a city-sized bbox".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insights_spark.geo.cells import s2_udf

KEY_COL = "s2_key"


def cluster_spatial(
    df: DataFrame,
    out_path: str,
    partitions: int | None = None,
) -> None:
    """Write `df` to parquet clustered on the S2 Hilbert curve.

    Adds ``s2_key`` (level-14 cell id) and lays rows out so each
    file/row group owns a contiguous curve segment. One range exchange —
    the write's own layout shuffle, nothing extra. NULL coordinates sort
    first (the UDF yields NULL) and land in the first partition; they
    remain scannable but never match a cell range.
    """
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    key = s2_udf(14)(F.col("lon"), F.col("lat")).alias(KEY_COL)
    tagged = df.select("*", key)
    (
        tagged.repartitionByRange(n, F.col(KEY_COL))
        .sortWithinPartitions(KEY_COL)
        .write.mode("overwrite")
        .parquet(out_path)
    )


def cell_range(cell_id: int) -> tuple[int, int]:
    """[min, max] int64 id interval covering all descendants of a cell —
    the S2 trailing-bit property (public spec)."""
    u = cell_id & 0xFFFFFFFFFFFFFFFF
    lsb = u & (~u + 1) & 0xFFFFFFFFFFFFFFFF
    lo = (u - (lsb - 1)) & 0xFFFFFFFFFFFFFFFF
    hi = (u + (lsb - 1)) & 0xFFFFFFFFFFFFFFFF

    def _signed(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    return _signed(lo), _signed(hi)


def spatial_scan(
    spark: SparkSession,
    path: str,
    query_cell: int,
) -> DataFrame:
    """All rows of a clustered table inside `query_cell` (any level ≤ the
    layout level): ONE BETWEEN on the stored curve key, pushed to the
    parquet scan — row groups outside the cell's curve segment are
    pruned by footer statistics before any IO."""
    lo, hi = cell_range(query_cell)
    return spark.read.parquet(path).filter(
        (F.col(KEY_COL) >= lo) & (F.col(KEY_COL) <= hi)
    )
