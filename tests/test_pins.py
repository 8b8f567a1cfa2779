"""The engine persists only through ``session.pin``.

``pin`` records each persisted frame so that ``release_pins`` can drop
it; ``queries()`` releases before every build and the jobs when a batch
ends. A bare ``.persist(`` or ``.cache(`` under insights_spark/ would be
held by the CacheManager with no owner, and ``clearCache`` would drop the
caller's own cached frames too. This fails on any of them, in the package
or in ``__spark_entry__.py``."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "insights_spark"
HELPER = PKG / "session.py"


def _pin_lines() -> range:
    fn = next(n for n in ast.parse(HELPER.read_text()).body
              if isinstance(n, ast.FunctionDef) and n.name == "pin")
    return range(fn.lineno, fn.end_lineno + 1)


def test_only_pin_persists_and_nothing_clears_the_cache():
    allowed = _pin_lines()
    calls = []
    for path in [*sorted(PKG.rglob("*.py")), ROOT / "__spark_entry__.py"]:
        for n in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            attr = n.func.attr
            if attr == "clearCache" or (
                    attr in ("persist", "cache")
                    and not (path == HELPER and n.lineno in allowed)):
                calls.append(f"{path.relative_to(ROOT)}:{n.lineno} .{attr}(")
    assert not calls, f"use session.pin / release_pins instead: {calls}"
