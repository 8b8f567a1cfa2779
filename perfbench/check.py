"""Output checks: order-insensitive multiset comparison of result rows.

`tools/selfcheck.py` compares each registered query with its DuckDB oracle
this way: same column names, same row count, and the same multiset of
normalized rows. The warehouse check of the `ingest` workload uses the
same comparison with a relative float tolerance, because the incremental
path adds some float columns in a different order than a one-shot run.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import pyarrow as pa


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(v):
    """Total order over normalized values of mixed type (None first)."""
    if v is None:
        return (0,)
    if isinstance(v, tuple):
        return (1, tuple(_sort_key(x) for x in v))
    if isinstance(v, (bool, int, float)):
        return (2, "", v)
    return (3, type(v).__name__, v)


def rows_of(table: pa.Table) -> tuple[list[str], list[tuple]]:
    """Columns in sorted order and the normalized rows of an Arrow table."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pylist()
    return cols, [tuple(_norm(r[c]) for c in cols) for r in data]


def _close(a, b, rel: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=rel, abs_tol=0.0)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    return a == b


def compare(actual: pa.Table, expected: pa.Table, rel: float = 0.0) -> str | None:
    """None when the tables hold the same multiset of rows, else a reason.

    rel=0 compares floats exactly, as the oracle gate does; rel>0 allows
    that relative difference per float value."""
    acols, arows = rows_of(actual)
    ecols, erows = rows_of(expected)
    if acols != ecols:
        return f"columns {acols} != expected {ecols}"
    if len(arows) != len(erows):
        return f"{len(arows)} rows != expected {len(erows)}"
    arows.sort(key=_sort_key)
    erows.sort(key=_sort_key)
    for a, e in zip(arows, erows):
        if not _close(a, e, rel):
            return f"row {a!r} != expected {e!r}"
    return None
