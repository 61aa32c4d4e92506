"""Spans and Spark counters for one benchmark run, kept in memory.

A span is recorded around each call the benchmark makes into an engine
layer (name, start, end, parent, run id). When tracing is on, every
span that can start Spark jobs runs under its own Spark job group, and
the job group's counters are read from ``statusTracker()`` (job and
stage ids) and the application status store (per-stage task metrics).
Both work with ``spark.ui.enabled=false``. With tracing off, a span is
two clock reads and nothing touches Spark.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    """Records spans (and, when ``enabled``, Spark counters per span)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._sc = None
        self._ids = itertools.count()
        self._stack: list[int] = []

    def attach(self, spark) -> None:
        """Bind to the session whose jobs the spans should count."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, spark_jobs: bool = False, **attrs):
        """Time the enclosed block as span ``name``. With tracing on and
        ``spark_jobs`` set, the block runs in a fresh Spark job group
        and the span gains that group's counters; such spans are leaves
        (no span inside them starts jobs of its own). ``attrs`` are
        stored on the span."""
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        group = f"{self.run_id}-{sid}" if self.enabled and spark_jobs else None
        if group is not None:
            t = time.perf_counter()
            self._sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - t
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                if group is not None:
                    self._sc.setJobGroup(f"{self.run_id}-idle", "")
                    rec.update(self._counters(group))
                self.spans.append(rec)
                self.overhead_s += time.perf_counter() - t

    def _counters(self, group: str) -> dict:
        """Sum the task metrics of every job the group started. Waits for
        the listener bus first: the status store is filled from it
        asynchronously, after the action has returned."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            for stage in tracker.getJobInfo(job).stageIds:
                data = store.lastStageAttempt(stage)
                if data.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += data.numCompleteTasks()
                out["cpu_s"] += data.executorCpuTime() / 1e9
                out["gc_s"] += data.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += data.shuffleReadBytes()
                out["shuffle_write_bytes"] += data.shuffleWriteBytes()
                out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
        return out

    def dump(self, path: str, t0: float) -> None:
        """Write the spans as JSON lines, times relative to ``t0``."""
        with open(path, "w") as fh:
            for rec in self.spans:
                row = dict(rec, start=rec["start"] - t0, end=rec["end"] - t0)
                fh.write(json.dumps(row) + "\n")
