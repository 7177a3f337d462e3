"""In-memory span trace for the benchmark harness.

A span wraps one call from the harness into an engine module: its name
(the layer), start and end (``time.perf_counter``), the enclosing span,
and the op id it belongs to. While tracing is on, each span also counts
the Spark jobs, stages and tasks its window created. Jobs and stages are
counted by id range, not by job group, so work the call launched on
other threads (streaming micro-batches, overlapped writes) is counted
too. Task counts come from ``SparkContext.statusTracker()`` once the
listener bus has caught up (``settle``), outside any timed window.

With tracing off, ``span`` only yields, so the untraced run pays nothing
but one generator per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, on: bool = False):
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[dict] = []
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()

    def _ids(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.on:
            yield None
            return
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        j0, s0 = self._ids()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            j1, s1 = self._ids()
            self._stack.pop()
            rec["jobs"] = j1 - j0
            rec["stage_ids"] = (s0, s1)
            self._pending.append(rec)

    def settle(self) -> None:
        """Resolve stage and task counts of finished spans. Call between
        ops: it waits for the listener bus, so it must stay outside any
        timed window."""
        if not self._pending:
            return
        self._bus.waitUntilEmpty()
        for rec in self._pending:
            s0, s1 = rec.pop("stage_ids")
            stages = tasks = failed = 0
            for sid in range(s0, s1):
                info = self._tracker.getStageInfo(sid)
                if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
            rec.update(stages=stages, tasks=tasks, failed_tasks=failed)
        self._pending.clear()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its child spans cover."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = {}
        for i, rec in enumerate(self.spans):
            out[rec["name"]] = out.get(rec["name"], 0.0) + rec["end"] - rec["start"] - child[i]
        return out

    def by_name(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, times relative to the first
        span's start."""
        self.settle()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for i, r in enumerate(self.spans):
                row = dict(r, id=i, start=r["start"] - t0, end=r["end"] - t0)
                f.write(json.dumps(row) + "\n")
