"""One owner for each selection rule.

``ops.latest.top_k`` is the one "rank the rows inside each key, keep the
first k" rule; the guard fails on any ``row_number()`` call under
insights_spark/ outside ``ops/latest.py`` that is not in ALLOW, which maps
"<path under insights_spark/>:<function>" to why its window stays.
``text.clean.id_hash`` is the one content-stable id hash; its tests pin
the overflow guard at ids past 2³¹."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

from insights_spark.ops.latest import top_k
from insights_spark.text.clean import id_hash
from insights_spark.text.simsearch import sample_centroids

PKG = Path(__file__).resolve().parents[1] / "insights_spark"
OWNER = PKG / "ops" / "latest.py"

ALLOW = {
    "ops/stats.py:winsorized_stats": "the 5th/95th-percentile ranks are "
        "compared with a per-group count, not cut at k",
    "ops/timeseries.py:cusum_changepoint": "a running index over the "
        "whole series, which keeps every row",
    "ops/timeseries.py:theil_sen_slope": "a running index over the sorted "
        "slopes, which keeps every row to find the median",
    "queries/ops.py:_q_scd2_lookup": "the per-key (ts, version) sequence "
        "that the scd2 build orders by; every row stays",
    "queries/ops.py:_q_topk": "a global rank over the 10 rows after "
        "limit; a window with no key would sort the whole input on one "
        "partition",
    "queries/text.py:_q_term_freq": "a global rank over the 25 rows after "
        "limit; a window with no key would sort the whole input on one "
        "partition",
}


def _row_numbers(tree: ast.AST, rel: str) -> list[str]:
    out = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = fn or node.name
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "row_number"):
            out.append(f"{rel}:{fn}")
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


def test_only_top_k_ranks_rows_per_key():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        if path != OWNER:
            found.update(_row_numbers(
                ast.parse(path.read_text()), path.relative_to(PKG).as_posix()))
    bad = sorted(found - set(ALLOW))
    assert not bad, f"rank-and-keep belongs to ops.latest.top_k: {bad}"
    stale = set(ALLOW) - found
    assert not stale, f"stale ALLOW entries: {stale}"


def test_top_k_keeps_k_rows_per_key_and_the_rank_only_when_named(spark):
    df = spark.createDataFrame(
        [("a", 1, 3), ("a", 2, 1), ("a", 3, 3), ("b", 4, 5), ("b", 5, 0)],
        "g string, id long, q long")
    two = top_k(df, ["g"], [F.desc("id")], 2)
    assert two.columns == ["g", "id", "q"]
    assert sorted(tuple(r) for r in two.collect()) == [
        ("a", 2, 1), ("a", 3, 3), ("b", 4, 5), ("b", 5, 0)]
    # a Column quota: each row is kept while its rank is within its own q
    ranked = top_k(df, ["g"], ["id"], F.col("q"), rank="r")
    assert ranked.columns == ["g", "id", "q", "r"]
    assert sorted(tuple(r) for r in ranked.collect()) == [
        ("a", 1, 3, 1), ("a", 3, 3, 3), ("b", 4, 5, 1)]


def test_id_hash_past_int32_ids_matches_python(spark):
    m = 1 << 31
    ids = [4_000_000_000, 4_000_000_001, 9_999_999_999_999]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["h"] for r in
           df.select("id", id_hash(F.col("id"), 17, m).alias("h")).collect()}
    assert got == {i: (i * 2654435761 + 17) % m for i in ids}


def test_sample_centroids_over_large_ids_returns_rows(spark):
    """Unguarded, ``vec_id · 2654435761`` overflows int64 at these ids and
    ANSI mode fails the query."""
    base = 4_000_000_000
    vecs = spark.createDataFrame(
        [(base + i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>")
    rows = sample_centroids(vecs, 20, 4)
    m = 20 * 2 + 1
    want = sorted(range(base, base + 20),
                  key=lambda v: ((v * 2654435761 + 42) % m, v))[:4]
    assert [r["vec_id"] for r in rows] == want
