"""Spans around layer calls, and Spark's own metrics attributed to them.

``Calls`` wraps every call the benchmark makes into a ``linkgraph``
layer. It always counts attempts and failures; when tracing it also
records a span (name, start, end, parent, run id) and, at the span's
boundaries, which cached RDDs Spark holds. Spans stay in memory and
are written out once at the end.

``spark_metrics`` reads the Spark event log after the session stops
and attributes each job, stage and task to the innermost span whose
time window contains the job or stage submission. Nothing inside
``linkgraph`` is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1e6

# span name -> per-layer metric prefix, for the spans Spark counters
# are reported on
COUNTED_SPANS = {
    "ingest": "ingest",
    "pagerank": "pagerank",
    "components": "components",
    "labelprop": "labelprop",
    "triangles": "triangles",
    "io.write": "io",
}
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "busy_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "driver_s", "straggler_s",
)


class Calls:
    """Counts layer calls and, when ``tracing``, records their spans."""

    def __init__(self, spark_storage, run_id: str, tracing: bool):
        self._storage = spark_storage  # () -> {rdd_id: bytes}
        self.run_id = run_id
        self.tracing = tracing
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # rdd id -> layer that cached it, from the span-boundary snapshots
        self._owner: dict[int, str] = {}
        self._layers: set[str] = set()  # counted layers seen in a span

    @contextmanager
    def span(self, name: str, **attrs):
        """A span with no call accounting (repetition roots)."""
        if not self.tracing:
            yield
            return
        idx = len(self.spans)
        sp = {"name": name, "run": self.run_id, "start": time.time(), "end": None,
              "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(sp)
        self._stack.append(idx)
        before = None
        if name in COUNTED_SPANS:
            self._layers.add(COUNTED_SPANS[name])
            before = set(self._storage())
        try:
            yield
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if before is not None:
                for rdd in set(self._storage()) - before:
                    self._owner.setdefault(rdd, COUNTED_SPANS[name])

    def call(self, layer: str, fn, *args, **kwargs):
        """Run one layer call; a raise counts as a failed call and
        propagates, so the repetition stops there."""
        self.attempted += 1
        try:
            with self.span(layer):
                return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            raise

    def fail(self, n: int = 1) -> None:
        """Count ``n`` already-attempted calls whose output check failed."""
        self.failed += n

    def retained_mb(self) -> dict[str, float]:
        """MB of Spark storage still held, by the layer that cached it
        (0 for every traced layer that holds none)."""
        out = dict.fromkeys(self._layers, 0.0)
        for rdd, size in self._storage().items():
            layer = self._owner.get(rdd)
            if layer is not None:
                out[layer] += size / MB
        return out

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its children cover
        (children of one span never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        return [sp["end"] - sp["start"] - c for sp, c in zip(self.spans, child)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp, self_s in zip(self.spans, self.self_times()):
                f.write(json.dumps({**sp, "self_s": self_s}) + "\n")


def _read_events(log_dir: str):
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_metrics(log_dir: str, spans: list[dict], reps: int) -> dict[str, float]:
    """Per-repetition Spark counters for every COUNTED_SPANS layer,
    from the event log in ``log_dir``. Jobs and stages belong to the
    innermost span containing their submission time; tasks follow
    their stage."""
    counted = [sp for sp in spans if sp["name"] in COUNTED_SPANS]

    def owner(t_ms: float):
        t = t_ms / 1000.0
        best = None
        for sp in counted:
            if sp["start"] <= t <= sp["end"] and (best is None or sp["start"] >= best["start"]):
                best = sp
        return best

    stages: dict[tuple, dict] = {}
    tasks: dict[tuple, list] = defaultdict(list)
    acc = {sp_name: defaultdict(float) for sp_name in COUNTED_SPANS.values()}
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sp = owner(ev["Submission Time"])
            if sp is not None:
                acc[COUNTED_SPANS[sp["name"]]]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stages[info["Stage ID"], info.get("Stage Attempt ID", 0)] = info
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"], ev.get("Stage Attempt ID", 0)].append(ev)

    busy_windows: dict[int, list] = defaultdict(list)
    for key, info in stages.items():
        sp = owner(info["Submission Time"])
        if sp is None:
            continue
        a = acc[COUNTED_SPANS[sp["name"]]]
        a["stages"] += 1
        busy_windows[id(sp)].append((info["Submission Time"] / 1000.0,
                                     info["Completion Time"] / 1000.0))
        durations = []
        for ev in tasks.get(key, []):
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            a["tasks"] += 1
            if ti.get("Failed") or ti.get("Killed"):
                a["failed_tasks"] += 1
            durations.append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
            a["busy_s"] += tm.get("Executor Run Time", 0) / 1000.0
            a["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            a["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)) / MB
        if durations:
            a["straggler_s"] += max(durations) - statistics.median(durations)

    for sp in counted:
        lo, hi = sp["start"], sp["end"]
        covered = _union_length([(max(a, lo), min(b, hi))
                                 for a, b in busy_windows.get(id(sp), []) if b > lo and a < hi])
        acc[COUNTED_SPANS[sp["name"]]]["driver_s"] += (hi - lo) - covered

    out = {}
    for prefix, a in acc.items():
        for c in SPARK_COUNTERS:
            out[f"{prefix}.{c}"] = a.get(c, 0.0) / max(reps, 1)
    return out
