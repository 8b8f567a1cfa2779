"""Engine catalog: explicit StructType schemas (never inference).

Mirrors the reference DDL (reference: queries.py:6-139) plus the web-pages
source table shape from BASELINE.json input_hint. Decimal lat/lon columns are
declared where the reference declares numeric(10,7)/(9,7); compute kernels
work in double and cast at the edge.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

TAGS = MapType(StringType(), StringType())

# Source table (BASELINE.json input_hint): Common-Crawl-style web pages.
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampNTZType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# reference: queries.py:6-20 (osm_changeset)
CHANGESETS = StructType(
    [
        StructField("id", LongType(), False),
        StructField("user_id", LongType(), True),
        StructField("created_at", TimestampNTZType(), True),
        StructField("min_lat", DoubleType(), True),
        StructField("max_lat", DoubleType(), True),
        StructField("min_lon", DoubleType(), True),
        StructField("max_lon", DoubleType(), True),
        StructField("closed_at", TimestampNTZType(), True),
        StructField("open", BooleanType(), True),
        StructField("num_changes", IntegerType(), True),
        StructField("user_name", StringType(), True),
        StructField("tags", TAGS, True),
    ]
)

# reference: queries.py:21-27 (osm_changeset_comment)
CHANGESET_COMMENTS = StructType(
    [
        StructField("comment_changeset_id", LongType(), False),
        StructField("comment_user_id", LongType(), True),
        StructField("comment_user_name", StringType(), True),
        StructField("comment_date", TimestampNTZType(), True),
        StructField("comment_text", StringType(), True),
    ]
)

MEMBER = StructType(
    [
        StructField("ref", LongType(), True),
        StructField("type", StringType(), True),
        StructField("role", StringType(), True),
    ]
)

# reference: queries.py:34-51 (osm_element_history); members as
# array<struct> rather than text[][] for pruning/pushdown (SURVEY §1.2).
ELEMENT_HISTORY = StructType(
    [
        StructField("id", LongType(), True),
        StructField("type", StringType(), True),
        StructField("tags", TAGS, True),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("nds", ArrayType(LongType()), True),
        StructField("members", ArrayType(MEMBER), True),
        StructField("changeset", LongType(), True),
        StructField("timestamp", TimestampNTZType(), True),
        StructField("uid", LongType(), True),
        StructField("version", LongType(), True),
        StructField("action", StringType(), True),
        StructField("country", StringType(), True),
    ]
)

# runtime checkpoint table (reference: queries.py:28-32, 53-57)
CHECKPOINTS = StructType(
    [
        StructField("pipeline", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("sequence", LongType(), False),
        StructField("committed_at", TimestampNTZType(), False),
        StructField("run_id", StringType(), False),
    ]
)

# per-partition lineage metrics (north_rule X13)
LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows_in", LongType(), True),
        StructField("rows_out", LongType(), True),
        StructField("sequence", LongType(), True),
    ]
)
