"""Benchmark entry point: one workload, one closed-loop client, one Spark driver.

    python3 perfbench/run.py --workload ingest|query --seed N --seconds S --trace 0|1

Runs from the root of a checkout of the repository and touches nothing
outside it: tables, pages, warehouses, Spark scratch and temp files live
under perfbench/.work/. The run starts a local[nproc] session through
`insights_spark.session.get_spark`, warms up, then runs whole passes of
ops (one at a time, each after the previous finished) until --seconds
have elapsed, then checks the outputs outside the timed region.

stdout holds a readable report, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones (setup_s, op_p50_s, ops_per_min); with --trace 1
the same loop runs with per-layer spans and a Spark event log, and the
metrics are the per-layer ones listed in BENCHMARK.json. The exit code
is 0 only when every output check passed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def host_env() -> int:
    """Launch settings for this host, applied before the JVM starts;
    returns the core count the session uses."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = next(int(x.split()[1]) for x in fh if x.startswith("MemTotal:")) // 1024
    # session.py sizes the Spark driver for a large host; a quarter of this
    # host's memory, within [1, 8] GB, leaves room for the Python workers
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1024, min(8192, total_mb // 4))}m"
    # workers unpickle engine objects (the broadcast PolygonIndex), so they
    # need the package on their path whatever the cwd is
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, ROOT)
    return cores


def spark_conf() -> dict[str, str]:
    """Keep Spark's scratch, warehouse and temp files inside WORK."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF from its parent
        proc.wait(timeout=60)


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when that is not above the median."""
    n = len(latencies)
    if n < 21:
        return None
    s = sorted(latencies)
    return 100.0 * (n - 10) / n, s[n - 11]


def end_to_end(setup_s: float, ops: list[tuple[str, float, str | None]],
               wall_s: float) -> dict[str, float]:
    ok = [dt for _n, dt, err in ops if err is None]
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(ok) if ok else float("nan"),
        "ops_per_min": 60.0 * len(ok) / wall_s if wall_s > 0 else 0.0,
    }


UNITS_E2E = {"setup_s": "s", "op_p50_s": "s", "ops_per_min": "ops/min"}


def layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("core_busy") or name.endswith("per_input_byte"):
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "toy"), default="bench",
                   help="input sizes; toy is for perfbench/selftest.py")
    p.add_argument("--corrupt", action="store_true",
                   help="drop a row from one expected result, so the output "
                        "check must fail (self-test only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "insights_spark"))):
        print(f"perfbench: no engine sources in {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    cores = host_env()
    import tables
    import spans as tr
    import workloads

    gen_s = 0.0
    t = time.perf_counter()
    tables_dir = None
    if args.workload == "query":
        tables_dir = tables.write(os.path.join(WORK, f"tables-{args.scale}-{args.seed}"),
                                  args.scale, args.seed)
    gen_s += time.perf_counter() - t

    from insights_spark.session import get_spark

    conf = spark_conf()
    log_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(tr.event_log_conf(log_dir))
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=max(cores, 8), extra_conf=conf)
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tr.Tracer(sc=spark.sparkContext) if args.trace else None

    ops: list[tuple[str, float, str | None]] = []
    wl = None
    try:
        if tracer:
            tracer.install()
        if args.workload == "ingest":
            wl = workloads.Ingest(spark, WORK, args.seed, args.scale, corrupt=args.corrupt)
        else:
            wl = workloads.Query(spark, tables_dir, corrupt=args.corrupt, trace=tracer)
        t = time.perf_counter()
        wl.prepare()
        gen_s += time.perf_counter() - t
        wl.warmup()
        setup_s = time.perf_counter() - T0 - gen_s

        start = time.perf_counter()
        for batch in wl.passes():
            for op in batch:
                t = time.perf_counter()
                err = None
                try:
                    if tracer:
                        with tracer.op(op.name, wl.layer, timed=True):
                            op.fn()
                    else:
                        op.fn()
                except Exception as e:  # noqa: BLE001 — count it, keep the loop going
                    traceback.print_exc(file=sys.stderr)
                    err = type(e).__name__
                ops.append((op.name, time.perf_counter() - t, err))
            if time.perf_counter() - start >= args.seconds:
                break
        wall_s = time.perf_counter() - start
        t = time.perf_counter()
        errors = wl.check()
        check_s = time.perf_counter() - t
        extra = wl.report()
    finally:
        if tracer:
            tracer.restore()
        stop_spark(spark)
        if wl is not None:  # this run's inputs and warehouse
            shutil.rmtree(wl.root, ignore_errors=True)

    e2e = end_to_end(setup_s, ops, wall_s)
    failed = sum(1 for _n, _dt, err in ops if err is not None)
    lines = [f"workload {args.workload} seed {args.seed} scale {args.scale} "
             f"cores {cores} trace {args.trace}: {len(ops)} ops in {wall_s:.1f} s"]
    for k, v in e2e.items():
        lines.append(f"  {k} = {v:.4f} {UNITS_E2E[k]}")
    if args.workload == "ingest":
        ok = len(ops) - failed
        lines.append(f"  pages_per_s = {extra['pages_per_batch'] * ok / wall_s:.4f} pages/s")
        lines.append(f"  stored_bytes_per_input_byte = "
                     f"{extra['stored_bytes_per_input_byte']:.4f} ratio")
    else:
        lines.append(f"  queries_per_min = {e2e['ops_per_min']:.4f} queries/min")
    tl = tail([dt if err is None else float("inf") for _n, dt, err in ops])
    lines.append(f"  op_tail_s = p{tl[0]:.0f} {tl[1]:.4f} s (n={len(ops)})" if tl else
                 f"  op_tail_s = n/a: {len(ops)} ops leave no percentile above the "
                 "median with 10 samples beyond it")
    lines.append(f"  failed_ratio = {failed / max(len(ops), 1):.4f} fraction"
                 + "".join(f"; {n}: {err}" for n, _dt, err in ops if err))
    lines.append("  output check: " + ("ok" if not errors else "; ".join(errors)))
    lines.append(f"  not in setup_s: input generation {gen_s:.1f} s; after the timed "
                 f"region: output check {check_s:.1f} s")

    last_e2e = os.path.join(WORK, f"e2e-{args.workload}-{args.scale}.json")
    if args.trace:
        log = next(os.path.join(log_dir, f) for f in os.listdir(log_dir))
        groups = tr.parse_event_log(log)
        metrics = tr.layer_metrics(tracer, groups, cores, workloads.QUERIES, session_s)
        metrics["runtime.sinks.stored_bytes_per_input_byte"] = extra.get(
            "stored_bytes_per_input_byte", 0.0)
        tr.dump(tracer, os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        shutil.rmtree(log_dir, ignore_errors=True)
        if os.path.isfile(last_e2e):
            with open(last_e2e) as fh:
                base = json.load(fh)
            lines.append("  tracing overhead vs the last untraced run in this checkout:")
            for k, v in e2e.items():
                lines.append(f"    {k}: {v:.4f} traced, {base[k]:.4f} untraced "
                             f"({100.0 * (v - base[k]) / base[k]:+.1f}%)")
        else:
            lines.append("  tracing overhead: no untraced run of this workload yet")
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        with open(last_e2e, "w") as fh:
            json.dump(e2e, fh)
        out = {k: {"value": v, "unit": UNITS_E2E[k]} for k, v in e2e.items()}

    print("\n".join(lines))
    print(json.dumps({"correct": not errors, "attempted": len(ops), "failed": failed,
                      "metrics": out}))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
