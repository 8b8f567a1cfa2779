from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from insights_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("insights-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture
def cache_empty(spark):
    """A probe: does Spark's CacheManager hold no cached plan? It has no
    public view, so the probe needs the classic JVM session and skips the
    test on any other."""
    if not hasattr(spark, "_jsparkSession"):
        pytest.skip("the CacheManager is reachable only from the classic session")
    manager = spark._jsparkSession.sharedState().cacheManager()
    return manager.isEmpty


@pytest.fixture(scope="session")
def pages(spark):
    from insights_spark import synth

    return synth.pages_df(spark, n_pages=30).cache()


@pytest.fixture(scope="session")
def pages_rows():
    from insights_spark import synth

    return synth.gen_pages(30)
