"""Per-query isolation bench + plan capture (guide §1.1/§1.4/§7.2).

NOT part of the driver contract — bench.py is the frozen measurement
harness; this file exists so optimization work can time ONE query at a
time with the noop sink, label jobs, and save .explain("formatted")
plans. The session follows get_spark's core rule (local[$SPARK_GRAFT_CPUS]
or local[*]) with max(cores, 8) shuffle partitions. Plans go to
$PLAN_DIR (default /tmp/insights_plans), outside the repo, so a run never
overwrites the committed plans/r06/ evidence.

--plans-only writes NORMALISED plans: expression ids (#123), [plan_id=N],
pythonUDFn and RDD[N] numbers and the uuid suffix of snapshot-table data
dirs (/c2-a442fb60) are replaced, so plan files of two checkouts diff
cleanly — the check for a refactor that should leave plans unchanged.

Usage:
    python bench_extra.py q1 q2 ...            # time + plan for named queries
    python bench_extra.py --plans-only q1 ...  # just dump normalised plans
    SPARK_GRAFT_SF_DIR=/tmp/spark_graft_sf1 python bench_extra.py q1
    PLAN_SUFFIX=after python bench_extra.py q1 # write <q>_after.txt

Prints one line per query: name, per-rep seconds, min. Exits non-zero
after the loop when a name is not a registered query, so a misspelled
name cannot silently drop out of a plan diff.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from insights_spark.session import get_spark  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


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


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plans_only = "--plans-only" in sys.argv
    no_plans = "--no-plans" in sys.argv
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plan_dir = os.environ.get("PLAN_DIR", "/tmp/insights_plans")
    os.makedirs(plan_dir, exist_ok=True)

    spark = get_spark("insights-bench-extra")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(spark.sparkContext.defaultParallelism, 8)))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # same warmup as bench.py so numbers are comparable
    force(qs["semi_join"](spark, sf_dir))
    force(qs["pip_countries"](spark, sf_dir))

    unknown = [name for name in args if name not in qs]
    for name in args:
        if name in unknown:
            print(f"{name}: UNKNOWN")
            continue
        if not no_plans:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            if plans_only:
                plan = normalised(plan)
            with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(plan)
        if plans_only:
            print(f"{name}: plan written")
            continue
        times = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            force(qs[name](spark, sf_dir))
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: {times} min={min(times)}")
    spark.stop()
    if unknown:
        sys.exit(f"unknown queries: {' '.join(unknown)}")


if __name__ == "__main__":
    main()
