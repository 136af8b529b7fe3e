"""Run-to-run spread of the end-to-end metrics, as the benchmark's bounds judge it.

    python3 perfbench/spread.py --workload write --seeds 1 2 3 4 5 [--trace 0]

Runs ``run.py`` once per seed, one after another, checks that each run is
correct and reports exactly the metrics ``BENCHMARK.json`` names, and prints
per metric the median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    key = "per_layer" if args.trace else "end_to_end"
    declared = {m["name"]: m for m in bench[key]}

    values: dict[str, list[float]] = {n: [] for n in declared}
    ok = True
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.monotonic() - t0
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        if res is None:
            print(f"seed {seed}: exit {p.returncode}, no result ({wall:.1f}s)")
            ok = False
            continue
        got = set(res["metrics"])
        if got != set(declared) or not res["correct"] or res["failed"]:
            ok = False
            print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
                  f"missing={sorted(set(declared) - got)} extra={sorted(got - set(declared))}")
        for n in declared:
            if n in res["metrics"]:
                values[n].append(res["metrics"][n]["value"])
        print(f"seed {seed}: {wall:.1f}s attempted={res['attempted']} "
              + " ".join(f"{n}={res['metrics'][n]['value']:.4g}" for n in list(declared)[:6]
                         if n in res["metrics"]), flush=True)

    if args.trace:
        return 0 if ok else 1
    print(f"{'metric':16s} {'median':>10s} {'iqr/med':>8s} {'bound':>6s}")
    for n, m in declared.items():
        v = values[n]
        if len(v) < 2:
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / med
        flag = "" if n == "setup_s" or spread <= m["bound"] / 3 else "  <-- above bound/3"
        print(f"{n:16s} {med:10.4g} {spread:8.3f} {m['bound']:6.2f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
