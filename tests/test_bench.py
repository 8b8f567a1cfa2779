"""The query harness without Spark: the plan normaliser's placeholders, and
the unknown-name check that runs before any session starts."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import bench

ROOT = Path(__file__).resolve().parents[1]


def test_normalised_replaces_each_run_id():
    plan = ("Project [id#123, pythonUDF3#45 AS c]\n"
            "Exchange hashpartitioning(id#123, 8), [plan_id=7]\n"
            "Scan ExistingRDD RDD[42]\n"
            "Location: InMemoryFileIndex [file:/tmp/t/c2-a442fb60/part-0]")
    assert bench.normalised(plan) == (
        "Project [id#_, pythonUDF_#_ AS c]\n"
        "Exchange hashpartitioning(id#_, 8), [plan_id=_]\n"
        "Scan ExistingRDD RDD[_]\n"
        "Location: InMemoryFileIndex [file:/tmp/t/c2-_/part-0]")


def test_unknown_query_exits_before_the_session(tmp_path):
    # an empty SPARK_HOME has no spark-submit: starting a JVM would fail
    # with a launch error instead of the unknown-name message
    env = dict(os.environ, SPARK_HOME=str(tmp_path))
    r = subprocess.run([sys.executable, str(ROOT / "bench.py"), "no_such_query"],
                       capture_output=True, text=True, env=env, timeout=120)
    assert r.returncode != 0
    assert "unknown queries: no_such_query" in r.stderr
