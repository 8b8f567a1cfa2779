"""Self-check: run every queries() entry on Spark AND its oracle_sql() on
DuckDB over the same parquet, compare row count + column names + an
order-insensitive value multiset (floats compared exactly; datetimes
normalized). Mimics the driver's CORRECTNESS gate so mismatches surface
before the real run.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from insights_spark.session import get_spark  # noqa: E402


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(rows, cols):
    out = {}
    for r in rows:
        key = tuple(_norm(r[c]) for c in cols)
        out[key] = out.get(key, 0) + 1
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in entrymod.TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__} {str(e)[:200]}")
            results[name] = {"status": "spark_error",
                             "error": str(e)[:200]}
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only check)")
            results[name] = {"status": "rows_only", "rows": len(srows)}
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = [dict(zip(ocols, row)) for row in cur.fetchall()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            results[name] = {"status": "oracle_error", "error": str(e)[:200]}
            failures += 1
            continue

        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            ok = False
        else:
            cols = sorted(scols)
            ms = _multiset([r.asDict() for r in srows], cols)
            mo = _multiset(orows, cols)
            if ms != mo:
                print(f"FAIL  {name}: value mismatch")
                diff_s = {k: v for k, v in ms.items() if mo.get(k) != v}
                diff_o = {k: v for k, v in mo.items() if ms.get(k) != v}
                for k in list(diff_s)[:3]:
                    print(f"      spark-only: {k}")
                for k in list(diff_o)[:3]:
                    print(f"      oracle-only: {k}")
                ok = False
        if ok:
            print(f"OK    {name}: {len(srows)} rows")
            results[name] = {"status": "ok", "rows": len(srows)}
        else:
            results[name] = {"status": "mismatch", "rows": len(srows)}
            failures += 1

    spark.stop()
    # machine-readable artifact covering EVERY checked query — the driver's
    # CORRECTNESS gate windows the first 50 registrations, this doesn't
    json_path = os.environ.get("SELFCHECK_JSON")
    if json_path:
        import json as _json

        with open(json_path, "w") as fh:
            _json.dump(
                {"sf_dir": sf_dir, "checked": len(results),
                 "failures": failures, "queries": results},
                fh, indent=1, sort_keys=True,
            )
        print(f"wrote {json_path}")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
