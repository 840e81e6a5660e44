"""Span recording and Spark status readers for the traced run.

Everything here observes the engine from outside: spans are taken
around calls into the engine's public functions, and counts come from
Spark's public status APIs (the status tracker, the app status store
and `QueryExecution.tracker`). Spans stay in memory and are written
once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

#: The engine's layers, in the order the per-layer report lists them.
LAYERS = ("session", "sources", "plans", "catalyst", "exec", "stream")


def percentile(values: list[float], q: int) -> float:
    """Nearest-rank percentile (integer q in [1, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = -(-len(ordered) * q // 100)  # ceil(n * q / 100) in integers
    return ordered[rank - 1]


class Tracer:
    """In-memory span recorder.

    A span has a name whose first dotted part is its layer, a start and
    an end (seconds on the `time.perf_counter` clock), the id of the
    span that caused it, and the id of the operation (query run or
    micro-batch) it belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str, **attrs):
        rec = self.add(name, op, time.perf_counter(), None, **attrs)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, op: str, start: float, end: float | None, parent=..., **attrs) -> dict:
        """Record a span; `parent` defaults to the innermost open span."""
        if parent is ...:
            parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans), "name": name, "op": op, "parent": parent,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[str, float]:
        """Seconds per layer spent in that layer's spans and not in their
        children. Children of one span never overlap (they run on the
        caller's thread, or are laid end to end from phase durations)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            if layer in out:
                out[layer] += s["end"] - s["start"] - child_time[s["id"]]
        return out

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"stamp": stamp, "spans": self.spans}, fh)


@contextlib.contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under `group`, restoring the caller's
    group afterwards, so nested spans count their own jobs."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def group_stats(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle bytes, executor run time and GC time of
    every job Spark ran under `group`. Reads the status tracker and the
    app status store, both of which work with the UI off."""
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    job_ids = tracker.getJobIdsForGroup(group)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "executor_run_ms": 0, "gc_ms": 0}
    store = sc._jsc.sc().statusStore()
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store: not counted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["executor_run_ms"] += st.executorRunTime()
        out["gc_ms"] += st.jvmGcTime()
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Milliseconds of analysis, optimization and planning recorded by the
    DataFrame's `QueryPlanningTracker`, after forcing its executed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
