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


@pytest.mark.parametrize("name", ["scd2_intervals", "scd2_merge",
                                  "source_cap_stream_twin"])
def test_query_matches_oracle_at_sf0001(spark, name):
    """Registered queries whose sf0.001 edge cases need a pytest of their
    own. scd2_*: sf0.001 holds two lineitem rows that differ only in
    l_shipdate; the element version must still be unique per key, or the
    interval order (and so valid_to/is_current) is left to the engine.
    source_cap_stream_twin: the only test of per_source_cap_arrival."""
    from collections import Counter

    import duckdb

    sf = entry.SF_DEFAULT  # the sf0.001 tables
    con = duckdb.connect()
    for table in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {table} AS "
                    f"SELECT * FROM read_parquet('{sf}/{table}.parquet')")
    want = con.execute(entry.oracle_sql()[name])
    cols = [d[0] for d in want.description]
    got = entry.queries()[name](spark, sf)
    assert got.columns == cols
    assert Counter(tuple(r) for r in got.collect()) == \
        Counter(want.fetchall())
