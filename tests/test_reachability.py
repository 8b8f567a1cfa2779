"""No dead library code: every top-level def, class and constant under
insights_spark/ (outside queries/), and every non-dunder method of a
top-level class, must be referenced in some non-test .py file outside its
own definition. A reference is an AST name, attribute, imported name or a
word inside a string constant, so the targets perfbench/spans.py PATCHES
names as strings pass without an entry here. Docstrings and comments do
not count. A name that only tests reach fails, unless ALLOW says why it
stays."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "insights_spark"
WORD = re.compile(r"[A-Za-z_]\w*")

# "<path under insights_spark/>", "<path>:<name>" or "<path>:<Class>.<method>"
# -> why it stays
ALLOW = {
    "geo/cells.py:s2_parent": "tests check s2_cell_id against it",
    "geo/cells.py:s2_level": "tests check s2_cell_id against it",
    "geo/cells.py:hex_center": "tests check hex_cell_id and hex_cover_bbox against it",
    "geo/cells.py:hex_ring_ids": "tests check hex_ring_col and the ring-neighbour "
                                 "queries against it",
    "extract.py:extract_elements": "the staged parse tests check the fused "
                                   "enriched-element kernel against",
    "extract.py:extract_text": "tests pin the byte-identical text invariant with it",
    "text/dedup.py:minhash_signature": "the column-fold MinHash tests check "
                                       "the pandas UDF against",
    "text/multimodal.py:MEDIA": "the media-table schema media_from_docs emits; "
                                "tests build media rows with it",
}


def _docstrings(tree: ast.AST) -> set[int]:
    return {id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
            and isinstance(n.body[0].value.value, str)}


def _refs(node: ast.AST, docstrings: set[int]) -> Counter:
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in docstrings):
            out.update(WORD.findall(n.value))
    return out


def _defined(stmt: ast.stmt) -> list[tuple[str, str, ast.AST]]:
    """(key, name, definition) for each name a top-level statement binds,
    and for a class each non-dunder method, keyed "<Class>.<method>"."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [(stmt.name, stmt.name, stmt)]
    if isinstance(stmt, ast.ClassDef):
        return [(stmt.name, stmt.name, stmt)] + [
            (f"{stmt.name}.{m.name}", m.name, m) for m in stmt.body
            if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not m.name.startswith("__")]
    targets = getattr(stmt, "targets", [getattr(stmt, "target", None)])
    return [(n.id, n.id, stmt) for t in targets if t is not None
            for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")]


def test_library_names_are_reached_outside_tests():
    trees = {p: ast.parse(p.read_text()) for p in ROOT.rglob("*.py")
             if not any(part == "tests" or part.startswith(".")
                        for part in p.relative_to(ROOT).parts)}
    docs = {p: _docstrings(t) for p, t in trees.items()}
    refs = sum((_refs(t, docs[p]) for p, t in trees.items()), Counter())
    unreached, allowed = [], set()
    for path, tree in trees.items():
        rel = path.relative_to(ROOT).as_posix().removeprefix("insights_spark/")
        if not path.is_relative_to(PKG) or rel.startswith("queries/"):
            continue
        for stmt in tree.body:
            for qual, name, node in _defined(stmt):
                if refs[name] > _refs(node, docs[path])[name]:
                    continue
                key = next((k for k in (f"{rel}:{qual}", rel) if k in ALLOW), None)
                if key:
                    allowed.add(key)
                else:
                    unreached.append(f"{rel}:{qual}")
    assert not unreached, f"reached only by tests (delete, or add to ALLOW): {unreached}"
    assert allowed == set(ALLOW), f"stale ALLOW entries: {set(ALLOW) - allowed}"
