"""The metrics the benchmark reports, as ``BENCHMARK.json`` declares them.

``BENCHMARK.json`` is the one list of metric names, units and directions:
the worker reports exactly its ``end_to_end`` metrics with tracing off and
its ``per_layer`` metrics with tracing on, and flags any it did not
measure or measured without a declaration. Per-layer metrics are reported
by every workload, as 0 where the workload never enters the layer.
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Suffix of each operation kind's median latency; one operation kind per
#: declared ``<kind>.s_p50`` metric.
_KIND_SUFFIX = ".s_p50"


def declared(trace: bool) -> dict[str, str]:
    """Name -> unit of every metric a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def op_kinds() -> list[str]:
    """Operation kinds with per-kind metrics (``merge``, ``functions.<query>``, ...)."""
    return [n[: -len(_KIND_SUFFIX)] for n in declared(True) if n.endswith(_KIND_SUFFIX)]
