"""Driver-held rows become DataFrames only through ``session.local_df``.

``spark.createDataFrame(list)`` runs the rows through a Python worker (a
PythonRDD stage of 0.3-0.5 s even for one row); ``local_df`` builds them on
the JVM. This fails when a module under insights_spark/ other than
session.py calls ``.createDataFrame(``."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "insights_spark"
HELPER = PKG / "session.py"


def test_only_the_helper_calls_create_dataframe():
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        if path == HELPER:
            continue
        for n in ast.walk(ast.parse(path.read_text())):
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "createDataFrame"):
                calls.append(f"{path.relative_to(PKG)}:{n.lineno}")
    assert not calls, f"use session.local_df instead: {calls}"
