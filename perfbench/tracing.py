"""Layer spans recorded from outside the program.

The tracer replaces the public functions at each layer boundary of
``delta_rs_spark`` with timing wrappers. Modules import these functions by
name (``operators/merge.py`` does ``from ...skipping import prune_files``),
so a wrapper is installed at every binding site: every loaded
``delta_rs_spark`` module attribute that *is* the original function.
Modules first imported while the tracer is installed bind the wrapper
themselves; ``uninstall`` finds and restores those too.

Spans stay in memory. Each carries the id of the workload operation that
caused it (set by the harness), the name of its enclosing span, and the
wall time its wrapper spent on itself (the tracing overhead).
"""

from __future__ import annotations

import functools
import sys
import threading
import time
import types
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

# counter(args, kwargs, result) -> (items offered, items returned, bytes)
Counter = Callable[[tuple, dict, Any], tuple[int, int, int]]


def _skipping_counts(a: tuple, kw: dict, r: Any) -> tuple[int, int, int]:
    adds = a[0] if a else kw["adds"]
    return len(adds), len(r), 0


def _stats_counts(a: tuple, kw: dict, r: Any) -> tuple[int, int, int]:
    return len(r), len(r), 0


def _write_counts(a: tuple, kw: dict, r: Any) -> tuple[int, int, int]:
    return 0, len(r), sum(getattr(x, "size", 0) for x in r)


#: (module, function, span name, counter) for each layer boundary.
TARGETS: tuple[tuple[str, str, str, Counter | None], ...] = (
    ("delta_rs_spark.log.snapshot", "load_snapshot", "log.snapshot.load", None),
    ("delta_rs_spark.log.snapshot", "read_commit_actions", "log.snapshot.read_commit", None),
    ("delta_rs_spark.log.snapshot", "read_checkpoint", "log.snapshot.read_checkpoint", None),
    ("delta_rs_spark.log.snapshot", "write_checkpoint", "log.snapshot.checkpoint", None),
    ("delta_rs_spark.log.commit", "commit", "log.commit", None),
    ("delta_rs_spark.log.stats", "collect_stats_parallel", "log.stats", _stats_counts),
    ("delta_rs_spark.plans.skipping", "prune_files", "plans.skipping", _skipping_counts),
    ("delta_rs_spark.table", "read_snapshot_df", "table.scan_plan", None),
    ("delta_rs_spark.writer", "write_files", "writer.write_files", _write_counts),
    ("delta_rs_spark.writer", "_ingest_arrow", "writer.arrow_ingest", None),
)

#: Methods wrapped on every class of the module that defines them.
METHOD_TARGETS: tuple[tuple[str, str, str], ...] = (
    ("delta_rs_spark.log.commit", "put_if_absent", "log.commit.put"),
)


@dataclass
class Span:
    name: str
    op: int  # workload operation that caused the span, -1 outside one
    parent: str | None  # enclosing span's name; None when the op called it
    t0: float
    t1: float
    outer: bool  # no enclosing span of the same name
    ok: bool
    self_s: float = 0.0  # wrapper time outside the wrapped call
    n_in: int = 0
    n_out: int = 0
    nbytes: int = 0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


def _program_modules() -> list[Any]:
    return [
        m
        for n, m in list(sys.modules.items())
        if m is not None and (n == "delta_rs_spark" or n.startswith("delta_rs_spark."))
    ]


class Tracer:
    """Records spans while installed; ``op`` names the running operation."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrappers: dict[int, Callable] = {}  # id(original) -> wrapper
        self._methods: list[tuple[type, str, Callable]] = []

    def _stack(self) -> list[str]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, fn: Callable, name: str, counter: Counter | None) -> Callable:
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t_in = time.perf_counter()
            stack = self._stack()
            parent = stack[-1] if stack else None
            outer = name not in stack
            stack.append(name)
            ok = False
            counts = (0, 0, 0)
            t0 = time.perf_counter()
            try:
                r = fn(*a, **kw)
                ok = True
            finally:
                t1 = time.perf_counter()
                stack.pop()
                if ok and counter is not None:
                    counts = counter(a, kw, r)
                with self._lock:
                    span = Span(name, self.op, parent, t0, t1, outer, ok, 0.0, *counts)
                    self.spans.append(span)
                    span.self_s = (t0 - t_in) + (time.perf_counter() - t1)
            return r

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, attr, name, counter in TARGETS:
            orig = getattr(importlib.import_module(mod_name), attr)
            self._wrappers[id(orig)] = self._wrap(orig, name, counter)
        for mod in _program_modules():
            for attr, val in list(vars(mod).items()):
                w = self._wrappers.get(id(val))
                if w is not None and w.__perfbench_original__ is val:
                    setattr(mod, attr, w)
        for mod_name, meth, name in METHOD_TARGETS:
            mod = importlib.import_module(mod_name)
            for cls in vars(mod).values():
                if isinstance(cls, type) and meth in vars(cls):
                    orig = vars(cls)[meth]
                    self._methods.append((cls, meth, orig))
                    setattr(cls, meth, self._wrap(orig, name, None))

    def uninstall(self) -> None:
        for mod in _program_modules():
            for attr, val in list(vars(mod).items()):
                if isinstance(val, types.FunctionType):
                    orig = getattr(val, "__perfbench_original__", None)
                    if orig is not None:
                        setattr(mod, attr, orig)
        for cls, meth, orig in self._methods:
            setattr(cls, meth, orig)
        self._methods.clear()
        self._wrappers.clear()
