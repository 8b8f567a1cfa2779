"""Parquet reads declare their schema.

``spark.read.parquet(path)`` with no ``.schema(...)`` runs a Spark job that
reads file footers to infer the schema, on every call: about 60 ms per
fixture read against 6-8 ms for a typed one. This fails on any read whose
call chain has no ``.schema(``, in the package, in ``__spark_entry__.py``,
``bench.py`` or ``tools/``, unless ALLOW names its function with a reason.
A chain is followed through the local names it starts from, so
``w = df.write...; w.parquet(p)`` is a write and ``r = spark.read; r.parquet(p)``
a read."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "insights_spark"

# "path:function" → why the read cannot declare its schema
ALLOW = {
    "insights_spark/runtime/tablefmt.py:SnapshotTable.read":
        "the snapshot manifest records no schema",
    "insights_spark/runtime/layout.py:spatial_scan":
        "reads the caller's clustered table, whatever its columns",
    "insights_spark/jobs/pipeline.py:main":
        "the command line's input pages, of the caller's shape",
    "insights_spark/jobs/corpus.py:main":
        "the command line's input documents, of the caller's shape",
}


def _files() -> list[Path]:
    return [*sorted(PKG.rglob("*.py")), ROOT / "__spark_entry__.py",
            ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]


def _chain(node: ast.AST, assigns: dict[str, list[ast.AST]], seen: set[str]) -> list[str]:
    """The attribute names along a call chain, read right to left, through
    the local names it starts from."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        elif isinstance(node, ast.Name) and node.id not in seen:
            seen.add(node.id)
            for value in assigns.get(node.id, []):
                names += _chain(value, assigns, seen)
            return names
        else:
            return names


def _untyped_reads(path: Path) -> list[tuple[str, int]]:
    """(function qualname, line) of each untyped `.parquet(` read."""
    out = []

    def visit(scope: ast.AST, qualname: str) -> None:
        assigns: dict[str, list[ast.AST]] = {}
        body = []
        stack = list(ast.iter_child_nodes(scope))
        while stack:  # this scope's nodes, nested functions and classes apart
            n = stack.pop()
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(n, f"{qualname}.{n.name}".lstrip("."))
                continue
            if isinstance(n, ast.Assign):
                for target in n.targets:
                    if isinstance(target, ast.Name):
                        assigns.setdefault(target.id, []).append(n.value)
            body.append(n)
            stack.extend(ast.iter_child_nodes(n))
        for n in body:
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "parquet"):
                chain = _chain(n.func.value, assigns, set())
                if "write" not in chain and "schema" not in chain:
                    out.append((qualname, n.lineno))

    visit(ast.parse(path.read_text()), "")
    return out


def _all_untyped() -> dict[str, list[int]]:
    found: dict[str, list[int]] = {}
    for path in _files():
        for fn, line in _untyped_reads(path):
            found.setdefault(f"{path.relative_to(ROOT)}:{fn}", []).append(line)
    return found


def test_parquet_reads_declare_their_schema():
    bad = {k: v for k, v in _all_untyped().items() if k not in ALLOW}
    assert not bad, f"read with .schema(...) or add an ALLOW entry: {bad}"


def test_every_allow_entry_names_an_untyped_read():
    stale = set(ALLOW) - set(_all_untyped())
    assert not stale, f"ALLOW entries with no untyped read left: {stale}"


def test_the_scan_tells_reads_from_writes(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "def f(spark, df, p):\n"
        "    w = df.write.mode('append')\n"
        "    w = w.partitionBy('k')\n"
        "    w.parquet(p)\n"
        "    df.write.parquet(p)\n"
        "    spark.read.schema('a INT').parquet(p)\n"
        "    r = spark.read\n"
        "    r.parquet(p)\n"
        "    spark.read.option('x', 1).parquet(p)\n"
        "class C:\n"
        "    def g(self):\n"
        "        return self.spark.read.parquet(self.p)\n"
    )
    assert sorted(_untyped_reads(src)) == [("C.g", 12), ("f", 8), ("f", 9)]
