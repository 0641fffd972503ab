"""Latency samples, in-memory spans and Spark job counters.

Every operation a workload runs is timed by :meth:`Recorder.op`, with
tracing on or off. With tracing on, :meth:`Recorder.span` also records
one span per call into a package layer (name, start, end, parent, op
id); the spans are kept in memory and written out by
:meth:`Recorder.dump` when the run ends.

A span's name is ``<layer>.<call>``. Its self time is its duration
minus the time its child spans cover; the part of an op that no layer
span covers is the op's unattributed remainder. Spans opened on another
thread (the wire server's request handlers) are children of the span
the main thread has open, which is the client call waiting for them.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: layers whose self time the traced run reports
LAYERS = ("bi", "wire", "engine", "dialect", "catalyst", "build", "exec",
          "iceberg")


class Recorder:
    def __init__(self, tracing: bool) -> None:
        self.tracing = tracing
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._main: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_id: int | None = None

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, kind: str, name: str | None = None):
        """Time one operation. The body raises to mark it failed; the
        failure is recorded and re-raised."""
        rec = {"id": len(self.ops), "kind": kind, "name": name or kind,
               "ok": False}
        self._op_id = rec["id"]
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield rec
            rec["ok"] = True
        finally:
            rec["s"] = time.perf_counter() - t0
            self.ops.append(rec)
            self._op_id = None

    @contextmanager
    def span(self, name: str):
        if not self.tracing:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main[-1] if self._main else None)
        rec = {"name": name, "op": self._op_id, "parent": parent,
               "thread": threading.get_ident(),
               "start": time.perf_counter()}
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def sample(self, name: str, value: float) -> None:
        """Record one value of a per-layer measure (tracing only)."""
        if self.tracing:
            self.samples[name].append(value)

    def self_times(self) -> tuple[dict[str, float], list[float]]:
        """Per-layer self seconds summed over all spans, and each op's
        unattributed remainder in seconds."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        per_layer: dict[str, float] = defaultdict(float)
        remainder = []
        for i, s in enumerate(self.spans):
            own = s["end"] - s["start"] - child[i]
            layer = s["name"].split(".", 1)[0]
            if layer == "op":
                remainder.append(own)
            else:
                per_layer[layer] += own
        return per_layer, remainder

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"ops": self.ops, "spans": self.spans}, fh)


def instrument(get_rec, targets) -> None:
    """Wrap each ``(owner, attribute, span name)`` so that every call
    records a span on the recorder ``get_rec()`` returns at call time."""
    for owner, attr, name in targets:
        fn = getattr(owner, attr)
        if getattr(fn, "_spanned", False):
            continue

        def wrapper(*args, _fn=fn, _name=name, **kwargs):
            with get_rec().span(_name):
                return _fn(*args, **kwargs)

        functools.update_wrapper(wrapper, fn)
        wrapper._spanned = True
        setattr(owner, attr, wrapper)


def median(values, default: float = 0.0) -> float:
    return statistics.median(values) if values else default


def tail(values: list[float]) -> tuple[float, str, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, label, n)``. With fewer than eleven samples no such
    percentile exists and the maximum is returned, labelled ``max``."""
    n = len(values)
    if n == 0:
        return 0.0, "none", 0
    ordered = sorted(values)
    if n < 11:
        return ordered[-1], "max", n
    rank = n - 11  # ten samples lie above ordered[rank]
    return ordered[rank], f"p{100 * (rank + 1) / n:.0f}", n


class SparkCounters:
    """Jobs, stages, tasks, shuffle and spill of every Spark job run
    under a job group, read from the status tracker and the
    application status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._seq = 0

    @contextmanager
    def group(self, prefix: str, out: dict):
        """Run the body under a fresh job group and add its counts to
        ``out`` (keys ``jobs``, ``stages``, ``tasks``, ``failed_tasks``,
        ``shuffle_bytes``, ``spill_bytes``)."""
        self._seq += 1
        gid = f"{prefix}-{self._seq}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count(gid, out)

    def _count(self, gid: str, out: dict) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        for key in ("jobs", "stages", "tasks", "failed_tasks",
                    "shuffle_bytes", "spill_bytes"):
            out.setdefault(key, 0)
        for jid in tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = tracker.getStageInfo(sid)
                if stage is None:
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    self.sc._gateway.new_array(jvm.double, 0),
                ).iterator()
                while attempts.hasNext():
                    data = attempts.next()
                    out["shuffle_bytes"] += data.shuffleWriteBytes()
                    out["spill_bytes"] += (data.memoryBytesSpilled()
                                           + data.diskBytesSpilled())
