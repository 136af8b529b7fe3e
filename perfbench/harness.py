"""Closed-loop timing, Spark job attribution and metric assembly.

One client drives the engine: an operation starts only after the previous
one returned. A *round* is one pass over a workload's fixed sequence of
operations. With tracing on, every timed round is traced; per-layer
metrics come from its spans and Spark jobs, and ``trace.overhead_s`` is the
wall time the layer wrappers spent on themselves per round.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from perfbench import metrics as M
from perfbench.tracing import Span, Tracer

_COMMIT_RE = re.compile(r"^\d{20}\.json$")
_TICK = os.sysconf("SC_CLK_TCK")


class OpFailed(Exception):
    """An operation raised; the timed loop stops."""


@dataclass
class Op:
    id: int
    kind: str
    round: int
    traced: bool
    seconds: float = 0.0
    cpu_s: float = 0.0  # CPU time of the worker's session during the op, JIT compilation excluded
    jit_s: float = 0.0  # CPU time of the JVM's JIT compiler threads during the op
    user_bytes: int = 0  # Arrow bytes of user input the op carried
    op_metrics: dict[str, Any] | None = None  # operationMetrics the engine returned
    bytes_written: int = 0  # traced ops: bytes added under the table dir
    versions_added: int = 0  # traced ops: commits added to the table log
    failed: bool = False


@dataclass
class Round:
    index: int
    traced: bool
    ops: list[Op] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)


def session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the worker, its
    JVM (driver and local executors), and the PySpark daemon and its
    Python workers, which have a process group of their own but stay in
    the session. A process that exits counts through its parent's
    cutime/cstime once reaped."""
    sid = os.getsid(0)
    ticks = 0
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def jit_threads() -> list[str]:
    """``/proc`` stat paths of the JIT compiler threads of the session's
    JVMs. ``run.py`` starts the JVM with a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so the list found once
    stays complete and a thread's CPU time never leaves it."""
    sid = os.getsid(0)
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[3]) != sid:
                    continue
            tids = os.listdir(f"/proc/{p}/task")
        except (OSError, ValueError):
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/comm") as f:
                    comm = f.read()
            except OSError:
                continue
            if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                out.append(f"/proc/{p}/task/{t}/stat")
    return out


def threads_cpu_s(paths: list[str]) -> float:
    ticks = 0
    for path in paths:
        try:
            with open(path) as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            pass
    return ticks / _TICK


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total


def commit_count(table_dir: str) -> int:
    return sum(1 for f in os.listdir(os.path.join(table_dir, "_delta_log")) if _COMMIT_RE.match(f))


class Runner:
    def __init__(self, spark, tracer: Tracer | None = None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.table_dir: str | None = None
        self.ops: list[Op] = []
        self.rounds: list[Round] = []
        self.problems: list[str] = []
        self.job_windows: list[tuple[int, int]] = []  # traced rounds: [first, end) job ids
        self._round: Round | None = None
        self.jit = jit_threads()

    def cpu_s(self) -> float:
        """Session CPU seconds so far, less the JVM's JIT compiler threads.
        Compilation is warm-up: it was still falling after a minute of
        work, was up to 45% of an append's CPU time in the first timed
        round, and made the per-op CPU time depend on how far the warm-up
        had got rather than on the operation."""
        return session_cpu_s() - self.jit_s()

    def jit_s(self) -> float:
        return threads_cpu_s(self.jit)

    # -- job groups ---------------------------------------------------------
    def _group(self, gid: str | None) -> None:
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(gid, gid)

    def _jobs_so_far(self) -> int:
        return self.sc._jsc.sc().dagScheduler().numTotalJobs()

    # -- operations -----------------------------------------------------------
    def op(self, kind: str, fn: Callable[[], Any], user_bytes: int = 0) -> Any:
        """Time one operation. A dict result is kept as its operationMetrics."""
        rnd = self._round
        traced = rnd is not None and rnd.traced
        op = Op(len(self.ops), kind, rnd.index if rnd else -1, traced, user_bytes=user_bytes)
        self.ops.append(op)
        if rnd is not None:
            rnd.ops.append(op)
        if traced:
            self._group(f"pb:op:{op.id}")
            self.tracer.op = op.id
            if self.table_dir:
                b0, v0 = dir_bytes(self.table_dir), commit_count(self.table_dir)
        j0, c0 = self.jit_s(), self.cpu_s()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:
            op.failed = True
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(f"{kind} raised {type(e).__name__}: {e}") from e
        finally:
            # the job group reset is harness work, outside the op's time
            op.seconds = time.perf_counter() - t0
            op.cpu_s = self.cpu_s() - c0
            op.jit_s = self.jit_s() - j0
            if traced:
                self.tracer.op = -1
                self._group("pb:harness")
        if traced and self.table_dir:
            op.bytes_written = dir_bytes(self.table_dir) - b0
            op.versions_added = commit_count(self.table_dir) - v0
        if isinstance(result, dict):
            op.op_metrics = result
        return result

    def check(self, fn: Callable[[], Any]) -> Any:
        """Run a correctness read outside any operation's timing."""
        traced = self._round is not None and self._round.traced
        if traced:
            self._group(f"pb:check:{self._round.index}")
        try:
            return fn()
        finally:
            if traced:
                self._group("pb:harness")

    def fail(self, ops: list[Op], why: str) -> None:
        """Mark operations whose result was wrong."""
        for o in ops:
            o.failed = True
        self.problems.append(why)
        print(f"perfbench: wrong result: {why}", file=sys.stderr)

    def run_round(self, body: Callable[["Runner"], None]) -> Round:
        rnd = Round(len(self.rounds), self.tracer is not None)
        self.rounds.append(rnd)
        self._round = rnd
        if rnd.traced:
            self.tracer.install()
            first = self._jobs_so_far()
            self._group("pb:harness")
        try:
            body(self)
        finally:
            if rnd.traced:
                self.job_windows.append((first, self._jobs_so_far()))
                self._group(None)
                self.tracer.uninstall()
            self._round = None
        return rnd

    # -- results --------------------------------------------------------------
    @property
    def failed(self) -> int:
        return sum(o.failed for o in self.ops)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        # CPU time, not wall time: on a shared host, other tenants' load
        # (CPU steal) moved the wall time of whole runs by 20-40% while the
        # CPU time the session used moved about half as much
        cpu = [o.cpu_s for o in self.ops]
        return {
            "setup_s": setup_s,
            "cpu_s_per_op": sum(cpu) / len(cpu),
            "op_cpu_s_p50": statistics.median(cpu),
        }

    def spark_jobs(self) -> dict[int, tuple[str | None, float, float, int]]:
        """Jobs of the traced rounds: id -> (group, submitted, completed, tasks)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {}
        for first, end in self.job_windows:
            for jid in range(first, end):
                j = store.job(jid)
                g, s, c = j.jobGroup(), j.submissionTime(), j.completionTime()
                out[jid] = (
                    g.get() if g.isDefined() else None,
                    s.get().getTime() / 1e3 if s.isDefined() else float("nan"),
                    c.get().getTime() / 1e3 if c.isDefined() else float("nan"),
                    j.numTasks(),
                )
        return out

    def per_layer(self) -> tuple[dict[str, float], list[str]]:
        """Per-layer metrics of the traced rounds, and reconciliation failures."""
        jobs = self.spark_jobs()
        traced = [o for o in self.ops if o.traced]
        ids = {o.id for o in traced}
        spans = [s for s in self.tracer.spans if s.op in ids]
        n = max(1, len(traced))
        out = _layer_metrics(spans, n)
        out.update(_operator_metrics(self.ops))
        out["writer.write_amp"] = _ratio(
            sum(o.bytes_written for o in traced), sum(o.user_bytes for o in traced)
        )

        # every job the session ran in a traced round, so the per-op and
        # per-check counts sum to the session's total only if none is left
        by_op: dict[int, list[tuple[float, float, int]]] = {}
        problems = []
        stray = []
        for jid, (g, s, c, tasks) in jobs.items():
            if g is not None and g.startswith("pb:op:"):
                by_op.setdefault(int(g.rsplit(":", 1)[1]), []).append((s, c, tasks))
            elif g is None or not g.startswith("pb:check:"):
                stray.append(jid)
        if stray:
            problems.append(
                f"{len(stray)} of {len(jobs)} Spark jobs ran outside any operation or check: {stray[:5]}"
            )
        commits = sum(1 for s in spans if s.name == "log.commit" and s.outer and s.ok)
        versions = sum(o.versions_added for o in traced)
        if self.table_dir and commits != versions:
            problems.append(f"log.commit.calls {commits} != versions added {versions}")

        for kind in M.op_kinds():
            ops = [o for o in traced if o.kind == kind]
            rows = []
            for o in ops:
                js = by_op.get(o.id, [])
                union = _union_seconds([(s, c) for s, c, _ in js])
                rows.append((o.seconds, len(js), sum(t for *_, t in js), union, max(0.0, o.seconds - union)))
            out[f"{kind}.s_p50"] = _median([r[0] for r in rows])
            out[f"{kind}.cpu_s"] = _median([o.cpu_s for o in ops])
            out[f"{kind}.spark_jobs"] = _mean([r[1] for r in rows])
            out[f"{kind}.tasks"] = _mean([r[2] for r in rows])
            out[f"{kind}.spark_job_s"] = _median([r[3] for r in rows])
            out[f"{kind}.driver_s"] = _median([r[4] for r in rows])

        out["trace.ops"] = float(len(traced))
        out["trace.spark_jobs_per_op"] = sum(len(v) for v in by_op.values()) / n
        # No two rounds do the same work (other key windows and files), so
        # a traced round minus an untraced one would be mostly round-to-round
        # noise; the wrappers time themselves instead. Job groups are set
        # outside the ops' timing and cost the ops nothing.
        rounds = sum(1 for r in self.rounds if r.traced)
        out["trace.overhead_s"] = sum(s.self_s for s in spans) / max(1, rounds)
        return out, problems


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [submitted, completed] job intervals."""
    total, end = 0.0, float("-inf")
    for s, c in sorted(i for i in intervals if not math.isnan(i[0] + i[1])):
        if c > end:
            total += c - max(s, end)
            end = c
    return total


def _layer_metrics(spans: list[Span], n_ops: int) -> dict[str, float]:
    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def calls(name: str) -> float:
        return len(named(name)) / n_ops

    def secs(name: str) -> float:
        return sum(s.seconds for s in named(name) if s.outer) / n_ops

    loads = len(named("log.snapshot.load"))
    reads = len(named("log.snapshot.read_commit")) + len(named("log.snapshot.read_checkpoint"))
    commits = len(named("log.commit"))
    skip = named("plans.skipping")
    writes = named("writer.write_files")
    return {
        "log.snapshot.load.calls": calls("log.snapshot.load"),
        "log.snapshot.load.s": secs("log.snapshot.load"),
        "log.snapshot.replay_reads_per_load": _ratio(reads, loads),
        "log.snapshot.checkpoint.calls": calls("log.snapshot.checkpoint"),
        "log.snapshot.checkpoint.s": secs("log.snapshot.checkpoint"),
        "log.commit.calls": calls("log.commit"),
        "log.commit.s": secs("log.commit"),
        "log.commit.put_attempts_per_commit": _ratio(len(named("log.commit.put")), commits),
        "log.stats.files": sum(s.n_in for s in named("log.stats")) / n_ops,
        "log.stats.s": secs("log.stats"),
        "plans.skipping.calls": calls("plans.skipping"),
        "plans.skipping.s": secs("plans.skipping"),
        "plans.skipping.kept_ratio": _ratio(sum(s.n_out for s in skip), sum(s.n_in for s in skip)),
        "table.scan_plan.s": secs("table.scan_plan"),
        "writer.write_files.calls": calls("writer.write_files"),
        "writer.write_files.s": secs("writer.write_files"),
        "writer.files_written": sum(s.n_out for s in writes) / n_ops,
        "writer.bytes_written": sum(s.nbytes for s in writes) / n_ops,
        "writer.arrow_ingest.s": secs("writer.arrow_ingest"),
    }


def _operator_metrics(ops: list[Op]) -> dict[str, float]:
    """Ratios over the operationMetrics the engine returned in the run."""

    def total(kind: str, *keys: str) -> int:
        return sum(
            int(o.op_metrics.get(k) or 0)
            for o in ops
            if o.kind == kind and o.op_metrics
            for k in keys
        )

    def per_op(kind: str, key: str) -> float:
        n = sum(1 for o in ops if o.kind == kind and o.op_metrics)
        return _ratio(total(kind, key), n)

    return {
        "operators.merge.files_scanned_ratio": _ratio(
            total("merge", "num_target_files_scanned"),
            total("merge", "num_target_files_scanned", "num_target_files_skipped_during_scan"),
        ),
        "operators.merge.files_rewritten": per_op("merge", "num_target_files_removed"),
        "operators.merge.rows_copied_per_row_changed": _ratio(
            total("merge", "num_target_rows_copied"),
            total(
                "merge",
                "num_target_rows_updated",
                "num_target_rows_inserted",
                "num_target_rows_deleted",
            ),
        ),
        "operators.delete.rows_copied_per_row_changed": _ratio(
            total("delete", "num_copied_rows"), total("delete", "num_deleted_rows")
        ),
        "operators.update.rows_copied_per_row_changed": _ratio(
            total("update", "num_copied_rows"), total("update", "num_updated_rows")
        ),
        "operators.optimize.files_removed": per_op("optimize", "numFilesRemoved"),
        "operators.optimize.files_added": per_op("optimize", "numFilesAdded"),
    }
