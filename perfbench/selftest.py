"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs both workloads at the toy scale (sf0.001-size tables, a few hundred
pages), untraced and traced, and checks that each run passes its output
check and prints exactly the metrics BENCHMARK.json names, with their
units. Then runs each workload with one expected result corrupted and
checks that the output check fails the run. Takes about six minutes on
4 cores; exits non-zero on the first failed expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool = False) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "toy"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise SystemExit(f"FAIL {workload}: no output\n{p.stderr[-3000:]}")
    print("\n".join(lines[:-1]))
    return p.returncode, json.loads(lines[-1])


def expect(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        raise SystemExit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            code, out = run(w, trace)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(code == 0 and out["correct"] and out["failed"] == 0
                   and out["attempted"] >= 1, f"{w} trace={trace}: outputs checked")
            expect(got == want[trace], f"{w} trace={trace}: every metric with its unit"
                   + ("" if got == want[trace] else f" (diff {set(got.items()) ^ set(want[trace].items())})"))
            expect(all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()),
                   f"{w} trace={trace}: numeric values")
        code, out = run(w, 0, corrupt=True)
        expect(code != 0 and not out["correct"], f"{w}: a corrupted expected result fails")
    print("selftest passed")


if __name__ == "__main__":
    main()
