"""Spans around layer calls, and Spark engine counters attributed to them.

A :class:`Tracer` records one span per call into a layer: name, start,
end, parent span and run id, kept in memory and written out at the end
of the run. In a traced run each span also becomes the Spark job group
of the jobs it launches, and the run's Spark event log (enabled through
``extra_conf`` for traced runs only) is parsed afterwards: task-end
events give run time, CPU, GC, shuffle, spill and output bytes per job,
and jobs map to spans by job group. Jobs launched from threads the
benchmark does not own (Structured Streaming micro-batches run under
the query's own job group) fall back to the innermost span whose time
window contains the job's submission.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "output_mb",
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0
    seconds: float = 0.0  # monotonic duration


class Tracer:
    """In-memory span recorder. ``tag_jobs`` makes every span the Spark
    job group of the jobs launched inside it (traced runs only)."""

    def __init__(self, sc, run_id: str, tag_jobs: bool):
        self.sc = sc
        self.run_id = run_id
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}:{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self.tag_jobs:
            self.sc.setJobGroup(sp.id, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            sp.end = time.time()
            self._stack.pop()
            if self.tag_jobs:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> dict[str, Span]:
        """Every span below ``span``, by name (names are unique per pass)."""
        found, frontier = {}, [span.id]
        while frontier:
            parent = frontier.pop()
            for s in self.spans:
                if s.parent == parent:
                    found[s.name] = s
                    frontier.append(s.id)
        return found

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        covered, cursor = 0.0, span.start
        for child in sorted(self.children(span), key=lambda s: s.start):
            lo, hi = max(child.start, cursor), min(child.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return max(0.0, span.seconds - covered)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _read_event_log(path: str) -> dict[int, dict]:
    """Per-job group, submission time and counters from one uncompressed
    JSON-lines event log. A stage counts toward the first job listing it:
    later jobs that list it skip it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev.get("Submission Time", 0) / 1000.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                info = ev.get("Task Info") or {}
                metrics = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["failed_tasks"] += 1 if info.get("Failed") else 0
                st["run_s"] += metrics.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
                sw = metrics.get("Shuffle Write Metrics") or {}
                st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                st["spill_mb"] += (
                    metrics.get("Memory Bytes Spilled", 0)
                    + metrics.get("Disk Bytes Spilled", 0)
                ) / 2**20
                out = metrics.get("Output Metrics") or {}
                st["output_mb"] += out.get("Bytes Written", 0) / 2**20
    per_job: dict[int, dict] = {
        jid: {**job, **{c: 0.0 for c in COUNTERS}, "jobs": 1.0}
        for jid, job in jobs.items()
    }
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is None or jid not in per_job:
            continue
        per_job[jid]["stages"] += 1
        for c in COUNTERS:
            if c not in ("jobs", "stages"):
                per_job[jid][c] += st[c]
    return per_job


def event_log_path(log_dir: str, app_id: str) -> str | None:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    return None


def attribute(tracer: Tracer, log_path: str) -> dict[str, dict]:
    """Span id -> engine counters over the span and its descendants."""
    by_id = {s.id: s for s in tracer.spans}
    own: dict[str, dict] = defaultdict(lambda: {c: 0.0 for c in COUNTERS})
    for job in _read_event_log(log_path).values():
        span = by_id.get(job["group"])
        # a group inherited by a thread the benchmark does not own can be
        # stale; trust it only while its span was open
        if span is None or not span.start - 0.002 <= job["submit"] <= span.end:
            live = [s for s in tracer.spans if s.start <= job["submit"] <= s.end]
            if not live:
                continue
            span = max(live, key=lambda s: s.start)
        for c in COUNTERS:
            own[span.id][c] += job[c]
    inclusive = {s.id: dict(own[s.id]) for s in tracer.spans}
    # roll each span's own counters up to every ancestor
    for s in tracer.spans:
        parent = s.parent
        while parent is not None:
            for c in COUNTERS:
                inclusive[parent][c] += own[s.id][c]
            parent = by_id[parent].parent
    return inclusive
