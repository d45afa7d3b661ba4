#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload articles --seeds 1-10 [--trace 0]

The spread is (Q3 - Q1) / median over the runs, with the quartiles of
Python's statistics.quantiles(values, n=4). Exits non-zero if a run fails
or a spread (setup_s excepted) exceeds its bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    here = os.path.dirname(os.path.abspath(__file__))
    runs = []
    for seed in seeds(a.seeds):
        out = subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                              "--trace", str(a.trace)], capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: run failed\n{out.stderr[-2000:]}")
            sys.exit(1)
        r = json.loads(last)
        runs.append(r)
        print(f"seed {seed}: correct={r['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    ok = all(r["correct"] and r["failed"] == 0 for r in runs)
    if a.trace:
        sys.exit(0 if ok else 1)
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread <= m["bound"] / 3 else (" (> bound/3)" if spread <= m["bound"] else " (> bound)")
        if spread > m["bound"] and m["name"] != "setup_s":
            ok = False
        print(f"{m['name']:<16} median {med:10.4g} {m['unit']:<7} spread {spread:6.3f} "
              f"bound {m['bound']}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
