"""One benchmark run in one process: set up, time rounds, check, report.

Started by ``run.py``, which prepares the environment and the scratch
directory (``--workdir``) and relays the last line this prints.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402


def _session(workdir: str):
    from delta_rs_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            # traced runs read every job of their rounds back from the store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # the whole heap from the start: grown on demand, it reached a
            # different size in each run, and GC's share of an op's CPU
            # time with it
            "spark.driver.extraJavaOptions": f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '2g')}",
        },
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--details", help="write per-op samples and spans here")
    args = ap.parse_args()

    from perfbench import metrics as M
    from perfbench.harness import OpFailed, Runner
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    spark = _session(args.workdir)
    workload = WORKLOADS[args.workload](spark, args.seed, args.workdir)
    warm = Runner(spark)
    problems: list[str] = []
    try:
        workload.setup(warm)
    except OpFailed as e:
        problems.append(f"warm-up: {e}")
    problems += warm.problems
    setup_s = time.perf_counter() - T_START

    run = Runner(spark, Tracer() if args.trace else None)
    run.table_dir = workload.table_dir
    if not run.jit:
        problems.append("no JIT compiler thread found; op CPU times would include compilation")
    deadline = time.perf_counter() + args.seconds
    try:
        while not problems and not workload.exhausted() and (
            time.perf_counter() < deadline or len(run.rounds) < workload.MIN_ROUNDS
        ):
            run.run_round(workload.round)
    except OpFailed as e:
        problems.append(str(e))
    problems += run.problems

    if args.trace:
        values, reconcile = run.per_layer() if run.ops else ({}, [])
        problems += reconcile
    else:
        values = run.end_to_end(setup_s) if run.ops else {}
    units = M.declared(bool(args.trace))
    missing = sorted(set(units) - set(values))
    if missing:
        problems.append(f"metrics not measured: {missing}")
    undeclared = sorted(set(values) - set(units)) if run.ops else []
    if undeclared:
        problems.append(f"metrics not declared in BENCHMARK.json: {undeclared}")

    if args.details:
        _write_details(args, run, setup_s, problems)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    result = {
        "correct": not problems and run.failed == 0,
        "attempted": max(1, len(run.ops)),
        "failed": run.failed if run.ops else 1,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units if k in values},
    }
    spark.stop()
    print(json.dumps(result), flush=True)
    return 0


def _write_details(args, run, setup_s: float, problems: list[str]) -> None:
    from dataclasses import asdict

    spans = run.tracer.spans if run.tracer else []
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": setup_s,
        "problems": problems,
        "rounds": [{"index": r.index, "traced": r.traced, "seconds": r.seconds} for r in run.rounds],
        "ops": [{k: v for k, v in asdict(o).items() if k != "op_metrics"} for o in run.ops],
        "spans": [asdict(s) for s in spans],
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.details)), exist_ok=True)
    with open(args.details, "w") as f:
        json.dump(doc, f)


if __name__ == "__main__":
    sys.exit(main())
