"""Span recording for the traced run, from the benchmark's side.

A span is opened around each call into a library layer.  It records its
name, start, end, parent span and an operation id shared by the spans of
one operation.  While a span is open the Spark job group is set to a
group id unique to the span, so the job, stage and task counts the status
tracker reports, and the per-task metrics in the event log, map onto
spans.  Spans stay in memory until the run ends.

The layer of a span is the part of its name before the first dot
(``index_build.build`` -> ``index_build``).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Nested spans around public calls.  Disabled, ``span`` yields
    ``None`` and touches neither Spark nor the span list."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    def record(self, name: str, start: float, end: float, op: int | None = None):
        """Add a span measured elsewhere (e.g. session start, which runs
        before there is a SparkContext to tag jobs with)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "parent": None,
                "children": [], "op": op, "start": start, "end": end,
                "group": None, "jobs": [], "stages": 0, "tasks": 0,
            })

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None, "children": [],
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(), "end": None,
        }
        rec["group"] = f"{name}#{rec['id']}"
        self.spans.append(rec)
        if parent:
            parent["children"].append(rec["id"])
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._collect_jobs(rec)

    def _collect_jobs(self, rec: dict) -> None:
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                st = tracker.getStageInfo(s)
                if st:
                    stages += 1
                    tasks += st.numTasks
        rec.update(jobs=jobs, stages=stages, tasks=tasks)

    # ---- derived views ---------------------------------------------------
    def total_jobs(self, rec: dict) -> int:
        """Jobs launched inside the span, its child spans included."""
        return len(rec["jobs"]) + sum(
            self.total_jobs(self.spans[c]) for c in rec["children"]
        )

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = [self.spans[c] for c in rec["children"]]
        return rec["end"] - rec["start"] - _covered(
            [(c["start"], c["end"]) for c in kids]
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, last = 0.0, None
    for lo, hi in sorted(intervals):
        if last is not None and lo < last:
            lo = last
        if hi > lo:
            total += hi - lo
        last = hi if last is None else max(last, hi)
    return total


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: input bytes, shuffle bytes (read + written) and
    executor run time, summed over the tasks of the stages the group's
    jobs submitted, read from an uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"input_bytes": 0, "shuffle_bytes": 0, "executor_s": 0.0}
    )
    # Spark 4 writes a rolling log: a directory of event files per app
    paths = sorted(
        os.path.join(d, f) for d, _dirs, files in os.walk(log_dir)
        for f in files if f.startswith("events_")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if not group or not tm:
                        continue
                    acc = out[group]
                    acc["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    rd = tm.get("Shuffle Read Metrics", {})
                    acc["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    acc["executor_s"] += tm.get("Executor Run Time", 0) / 1000.0
    return dict(out)
