"""Engine catalog: explicit StructType schemas (never inference).

Mirrors the reference DDL (reference: queries.py:6-139) plus the web-pages
source table shape from BASELINE.json input_hint, and the fixture tables
the registered queries read (``FIXTURES``). Decimal lat/lon columns are
declared where the reference declares numeric(10,7)/(9,7); compute kernels
work in double and cast at the edge.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
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

# The query fixtures (`queries._fixtures._t`): a TPC-H-like star schema, an
# `events` stream, a `documents` corpus and an `embeddings` table, as Spark
# infers them from the pandas-written files (every column nullable, naive
# timestamps as TIMESTAMP_NTZ). Declaring them spares each read a
# footer-inference job. A typed read turns a column missing from a file
# into nulls rather than an analysis error; tests/test_fixture_schemas.py
# holds these equal to what Spark infers from the testdata tables.
FIXTURES: dict[str, StructType] = {
    "region": StructType([
        StructField("r_regionkey", IntegerType()),
        StructField("r_name", StringType()),
    ]),
    "nation": StructType([
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]),
    "customer": StructType([
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]),
    "supplier": StructType([
        StructField("s_suppkey", LongType()),
        StructField("s_name", StringType()),
        StructField("s_nationkey", IntegerType()),
        StructField("s_acctbal", DoubleType()),
    ]),
    "part": StructType([
        StructField("p_partkey", LongType()),
        StructField("p_name", StringType()),
        StructField("p_brand", StringType()),
        StructField("p_type", StringType()),
        StructField("p_size", IntegerType()),
        StructField("p_retailprice", DoubleType()),
    ]),
    "orders": StructType([
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampNTZType()),
        StructField("o_orderpriority", StringType()),
    ]),
    "lineitem": StructType([
        StructField("l_orderkey", LongType()),
        StructField("l_partkey", LongType()),
        StructField("l_suppkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_discount", DoubleType()),
        StructField("l_tax", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("l_shipdate", TimestampNTZType()),
    ]),
    "events": StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]),
    "documents": StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]),
    "embeddings": StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]),
}
