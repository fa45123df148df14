"""Benchmark-side spans around every call into an engine module.

A span is (name, module, start, end, parent, op). Spans are kept in
memory and written once, at the end of a traced run. While a span is
open its module is published as the Spark local property
``perfbench.module`` and the current operation as ``perfbench.op``, so
every Spark job submitted inside it carries both in the event log
(:mod:`perfbench.eventlog` reads them back). With tracing off every
method is a no-op and no Spark property is touched.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MODULE_PROP = "perfbench.module"
OP_PROP = "perfbench.op"


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._modules: list[str] = []  # modules published to Spark
        self._op: str | None = None

    def _prop(self, key: str, value: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(key, value)

    @contextmanager
    def op(self, op_id: str):
        """Mark everything inside as belonging to operation ``op_id``
        (``setup``, ``probe`` or a timed operation number)."""
        if not self.enabled:
            yield
            return
        prev = self._op
        self._op = op_id
        self._prop(OP_PROP, op_id)
        try:
            with self.span(f"op.{op_id.split(':')[0]}", "perfbench",
                           spark_jobs=False):
                yield
        finally:
            self._op = prev
            self._prop(OP_PROP, prev)

    @contextmanager
    def span(self, name: str, module: str, *, spark_jobs: bool = True):
        """Record a span. ``spark_jobs=False`` marks a call documented to
        run no Spark job (driver-side parsing, the in-process local
        plan): it skips the two JVM round trips that publish the module,
        which would otherwise be most of the tracing cost of a 20 ms
        query."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {
            "id": idx, "name": name, "module": module, "parent": parent,
            "op": self._op, "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if spark_jobs:
            outer = self._modules[-1] if self._modules else None
            self._modules.append(module)
            self._prop(MODULE_PROP, module)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark_jobs:
                self._modules.pop()
                self._prop(MODULE_PROP, outer)

    def windows(self, prefix: str) -> dict[str, tuple[float, float]]:
        """op id -> (start, end) epoch seconds of each root op span whose
        op id starts with ``prefix``."""
        return {
            s["op"]: (s["start"], s["end"])
            for s in self.spans
            if s["parent"] is None and s["op"] and s["op"].startswith(prefix)
        }


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total seconds, and self seconds (the span's
    duration minus the part of it its child spans cover)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
        agg = out.setdefault(
            s["name"], {"module": s["module"], "count": 0, "total_s": 0.0,
                        "self_s": 0.0}
        )
        agg["count"] += 1
        agg["total_s"] += dur
        agg["self_s"] += dur - covered
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
