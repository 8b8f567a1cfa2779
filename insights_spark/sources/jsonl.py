"""JSONL document source with skip-and-count malformed-record
handling — the web-scale ingestion posture (never crash on one bad line
in a 100 TB crawl; never silently drop it either).

The reader takes an EXPLICIT schema (schema inference at 10^12 rows
means a second full scan and nondeterministic types — always pass the
contract) plus Spark's PERMISSIVE mode with a captured corrupt-record
column. ``read_documents_jsonl`` returns (df, corrupt) where ``corrupt``
is the quarantine frame (raw line + file) the lineage log records —
the same accounting discipline as runtime/lineage.LineageLog.

Scale: the JSON parser is JVM-native and splittable per line;
maxPartitionBytes from session.py applies unchanged. NULL-payload and
truncated lines land in quarantine, not exceptions (probed in tests with
planted garbage, per the malformed-input discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the documents-table contract (matches the shared parquet fixtures)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) from a JSONL file set. A record is quarantined
    when it fails to parse OR parses to all-NULL fields (Spark PERMISSIVE
    marks both via the corrupt column); clean rows carry the contract
    schema exactly."""
    full = T.StructType(
        schema.fields + [T.StructField("_corrupt", T.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .withColumn("_file", F.input_file_name())
        # Spark forbids corrupt-column-only queries against the raw scan
        # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the documented contract is
        # to materialize the parse once, then split. At crawl scale the
        # equivalent single-pass shape is writing BOTH sides at once with
        # df.write.partitionBy(is_corrupt) instead of a persist.
        .persist()
    )
    clean = raw.filter(F.col("_corrupt").isNull()).drop("_corrupt", "_file")
    quarantine = raw.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw"),
        F.col("_file").alias("file"),
    )
    return clean, quarantine
