"""The round policy of the iterative operators lives in one function.

``runtime/supersteps.py`` checkpoints every round's state and releases the
inputs a loop pinned. The guard fails when a ``localCheckpoint`` call under
insights_spark/, outside that module, sits lexically inside a ``for`` or
``while`` body: a loop that checkpoints its own rounds. ALLOW maps
"<path under insights_spark/>:<function>" to why its loop stays."""

from __future__ import annotations

import ast
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from insights_spark.geo.vectorize import star_cc_labels
from insights_spark.text import links

PKG = Path(__file__).resolve().parents[1] / "insights_spark"
LOOP = PKG / "runtime" / "supersteps.py"

ALLOW = {
    "geo/knn.py:nn_distance_hist": "its output is the union of every "
        "level's certified part, not one round state; ROADMAP direction 6 "
        "reworks it",
}


def _looped_checkpoints(tree: ast.AST, rel: str) -> list[str]:
    out = []

    def visit(node, fn, in_loop):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = fn or node.name
        if (in_loop and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"):
            out.append(f"{rel}:{fn}")
        loop = isinstance(node, (ast.For, ast.AsyncFor, ast.While))
        for field, value in ast.iter_fields(node):
            body = loop and field == "body"
            for child in value if isinstance(value, list) else [value]:
                if isinstance(child, ast.AST):
                    visit(child, fn, in_loop or body)

    visit(tree, None, False)
    return out


def test_only_supersteps_checkpoints_in_a_loop():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        if path != LOOP:
            found.update(_looped_checkpoints(
                ast.parse(path.read_text()), path.relative_to(PKG).as_posix()))
    bad = sorted(found - set(ALLOW))
    assert not bad, f"per-round checkpoints belong to supersteps(): {bad}"
    stale = set(ALLOW) - found
    assert not stale, f"stale ALLOW entries: {stale}"


def _graph(spark):
    rng = random.Random(3)
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(600)]
    return spark.createDataFrame(pairs, "src long, dst long")


OPS = {
    "pagerank": lambda s, e: links.pagerank_fixed_point(s.range(200), e),
    "sssp": lambda s, e: links.sssp_weighted(
        e.withColumn("w", F.col("src") % 7 + 1), s.range(3), rounds=6),
    "bfs": lambda s, e: links.bfs_hop_distance(e, s.range(3), max_hops=6),
    "lpa": lambda s, e: links.label_propagation(e),
    "hits": lambda s, e: links.hits_fixed_point(e),
    "kcore": lambda s, e: links.kcore_peel(e, k=3),
    # collect_cap=0: the distributed contraction, the branch that loops
    "star_cc": lambda s, e: star_cc_labels(
        e.selectExpr("src AS id", "dst AS nbr_id"), collect_cap=0),
}


@pytest.mark.parametrize("op", OPS)
def test_iterative_operators_release_their_pins(spark, cache_empty, op):
    """Once the result is collected, no persisted block is left in the
    CacheManager: every pin a loop takes is released by supersteps()."""
    spark.catalog.clearCache()
    assert OPS[op](spark, _graph(spark)).collect()
    assert cache_empty(), "a persisted input is still in the CacheManager"
