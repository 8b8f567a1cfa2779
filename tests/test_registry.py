"""Query-registry invariants: one declaration per query, and a driver
contract (`queries()` / `oracle_sql()`) built from it that keeps the
driver's first-50 window in place."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from insights_spark.queries import REGISTRY, query  # noqa: E402

ROWS_ONLY = {"sketch_rollup", "rolling_active"}


def test_duplicate_name_raises():
    before = list(REGISTRY)
    with pytest.raises(ValueError, match="already registered"):
        query("knn", oracle="SELECT 1")(lambda spark, sf_dir: None)
    assert REGISTRY == before


def test_driver_window_leads_queries():
    assert len(entry.DRIVER_WINDOW) == len(set(entry.DRIVER_WINDOW)) == 50
    assert list(entry.queries())[:50] == list(entry.DRIVER_WINDOW)


def test_query_count():
    assert len(entry.queries()) == len(REGISTRY) == 183


def test_every_query_has_an_oracle_except_rows_only():
    oracles = entry.oracle_sql()
    assert set(entry.queries()) - set(oracles) == ROWS_ONLY
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    for q in REGISTRY:
        if q.name in ROWS_ONLY:
            assert "rows-only" in q.build.__doc__.lower()


def test_bench_metadata_names_registered_queries():
    import bench

    names = set(entry.queries())
    sf1_skip = [q.name for q in REGISTRY if q.sf1_skip]
    assert bench.HEADLINE == [q.name for q in REGISTRY if q.headline]
    assert len(bench.HEADLINE) == 134 and len(sf1_skip) == 8
    assert set(bench.HEADLINE) <= names and set(sf1_skip) <= names
    assert all(isinstance(q.sf1_skip, str) for q in REGISTRY if q.sf1_skip)
