"""The declared fixture schemas match the files.

``queries._fixtures._t`` reads each table as ``schemas.FIXTURES[name]``
instead of inferring it. A typed read turns a column missing from a file
into nulls rather than an analysis error, so a declared schema that drifts
from the data would pass silently. This holds every declaration equal,
field by field and in order, to what Spark infers from every testdata
scale present and from the benchmark's generated tables."""

from __future__ import annotations

import glob
import os

import pytest

import __spark_entry__ as entrymod
from insights_spark.schemas import FIXTURES

SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(entrymod.SF_DEFAULT), "sf*")))


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def _assert_declared(spark, sf_dir):
    for name, declared in FIXTURES.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert _fields(declared) == _fields(inferred), name


def test_the_driver_reads_the_declared_tables():
    assert entrymod.TABLES == list(FIXTURES)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schemas_match_testdata(spark, sf_dir):
    _assert_declared(spark, sf_dir)


def test_declared_schemas_match_benchmark_tables(spark, tmp_path):
    from perfbench import tables

    _assert_declared(spark, tables.write(str(tmp_path), "toy", seed=0))
