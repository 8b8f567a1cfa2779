"""No dead library code: every top-level def, class and constant under
insights_spark/ (outside queries/) must be named in some non-test .py file
outside its own definition. A mention in a string, docstring or comment
counts, so the targets perfbench/spans.py PATCHES names as strings pass
without an entry here. A name that only tests reach fails, unless ALLOW
says why it stays."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "insights_spark"
WORD = re.compile(r"[A-Za-z_]\w*")

# "<path under insights_spark/>" or "<path>:<name>" -> why it stays
ALLOW = {
    "geo/cells.py:s2_parent": "tests check s2_cell_id against it",
    "geo/cells.py:s2_level": "tests check s2_cell_id against it",
    "geo/cells.py:hex_center": "tests check hex_cell_id and hex_cover_bbox against it",
    "streaming/ingest.py": "the paper's minutely-replication twin (SURVEY §2.9)",
    "streaming/table_sink.py": "the sink of the minutely-replication twin",
}


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = getattr(stmt, "targets", [getattr(stmt, "target", None)])
    return [n.id for t in targets if t is not None for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")]


def test_library_names_are_reached_outside_tests():
    texts = {p: p.read_text() for p in ROOT.rglob("*.py")
             if not any(part == "tests" or part.startswith(".")
                        for part in p.relative_to(ROOT).parts)}
    words = Counter(w for text in texts.values() for w in WORD.findall(text))
    unreached, allowed = [], set()
    for path, text in texts.items():
        rel = path.relative_to(ROOT).as_posix().removeprefix("insights_spark/")
        if not path.is_relative_to(PKG) or rel.startswith("queries/"):
            continue
        lines = text.splitlines()
        for stmt in ast.parse(text).body:
            body = "\n".join(lines[stmt.lineno - 1:stmt.end_lineno])
            own = Counter(WORD.findall(body))
            for name in _defined(stmt):
                if words[name] > own[name]:
                    continue
                key = next((k for k in (f"{rel}:{name}", rel) if k in ALLOW), None)
                if key:
                    allowed.add(key)
                else:
                    unreached.append(f"{rel}:{name}")
    assert not unreached, f"reached only by tests (delete, or add to ALLOW): {unreached}"
    assert allowed == set(ALLOW), f"stale ALLOW entries: {set(ALLOW) - allowed}"
