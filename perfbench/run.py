"""Run one workload of the Delta operator-plane benchmark.

    python3 perfbench/run.py --workload write --seed 1 --seconds 6 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). See perfbench/README.md for the workloads and metrics.

This launcher holds no Spark state itself. It prepares the environment
(``local[<cpus>]``, driver heap, ``PYTHONPATH``, a per-run scratch
directory), runs ``worker.py`` in a session of its own, and afterwards
stops every process of that session and removes the scratch directory.
(The PySpark daemon moves into a process group of its own, so the session,
not the process group, holds everything the worker started.)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("write", "corpus")
TIMEOUT_S = 150  # plus at most 20 s of stopping: the whole run stays under 180 s
DRIVER_MEM = "2g"


def alien_spark_procs() -> list[int]:
    """Live Spark JVMs or PySpark workers outside this process's ancestry."""
    mine, pid = {os.getpid()}, os.getpid()
    while pid > 1:
        try:
            with open(f"/proc/{pid}/status") as f:
                pid = int(next(ln for ln in f if ln.startswith("PPid:")).split()[1])
        except (OSError, StopIteration, ValueError):
            break
        mine.add(pid)
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in mine:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark" in cmd or b"pyspark.daemon" in cmd:
            out.append(int(p))
    return out


def session_members(sid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(p))
    return out


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the session; wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        members = session_members(sid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 10.0
        while session_members(sid) and time.monotonic() < end:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("delta_rs_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; nothing to benchmark", file=sys.stderr)
            return 2

    aliens = alien_spark_procs()
    if aliens:
        print(f"perfbench: WARNING another Spark session is alive {aliens}; "
              "timings include its load", file=sys.stderr)

    state = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(state, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub))
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(workdir, "tmp"),
        # every JVM, the spark-submit launcher's included: temp files in the
        # scratch directory and no hsperfdata file under /tmp; a fixed set
        # of JIT compiler threads, whose CPU time the harness leaves out
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM),
    )
    details = os.path.join(state, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", workdir, "--details", details,
    ]
    # a terminated launcher still stops its worker and removes the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s; stopped", file=sys.stderr)
        out = ""
    finally:
        stop_session(proc.pid)
        proc.wait()
        shutil.rmtree(workdir, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print(f"perfbench: worker exited {proc.returncode} without a result", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0 if proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
