"""Spans around the benchmark's own calls, and Spark task metrics folded
onto them from the event log of the traced run.

A span is (name, start, end, parent, run id), kept in memory and written
out at exit. A Spark job belongs to the innermost span whose interval
holds its submission time; this also places jobs started on
``write_sinks``' pool threads, which carry no job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """Records nested spans; a disabled tracer records nothing."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(name, f"{self.run_id} {name}")
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]].name
                    self.sc.setJobGroup(outer, f"{self.run_id} {outer}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    out = {}
    for i, s in enumerate(spans):
        kids = sorted((c.start, c.end) for c in spans if c.parent == i)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[i] = (s.end - s.start) - covered
    return out


def check_nesting(spans: list[Span]) -> list[str]:
    """Every child lies inside its parent and siblings do not overlap."""
    errs = []
    for i, s in enumerate(spans):
        if s.end < s.start:
            errs.append(f"{s.name}: ends before it starts")
        if s.parent is not None:
            p = spans[s.parent]
            if s.start < p.start or s.end > p.end:
                errs.append(f"{s.name}: outside parent {p.name}")
        sibs = sorted((c.start, c.end, c.name) for c in spans
                      if c.parent == i)
        for (_, e1, n1), (s2, _, n2) in zip(sibs, sibs[1:]):
            if s2 < e1:
                errs.append(f"{n1} overlaps {n2}")
    return errs


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    submit: float
    stages: list[int]
    sql_id: int | None
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # per-stage task durations, for task skew
    task_s: dict = field(default_factory=dict)


def read_event_log(log_dir: str, app_id: str) -> tuple[list[Job], dict]:
    """Jobs of one application with their task metrics summed, plus the
    SQL execution descriptions by execution id."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.basename(f).startswith(app_id)]
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, str] = {}
    with open(files[0]) as f:
        events = [json.loads(line) for line in f if line.strip()]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sid = props.get("spark.sql.execution.id")
            j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                    list(ev["Stage IDs"]),
                    int(sid) if sid is not None else None)
            jobs[j.job_id] = j
            for s in j.stages:
                stage_job.setdefault(s, j.job_id)
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if j is None or not m:
                continue
            info = ev["Task Info"]
            j.tasks += 1
            j.run_s += m.get("Executor Run Time", 0) / 1000.0
            j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            j.gc_s += m.get("JVM GC Time", 0) / 1000.0
            j.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            j.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
            dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            j.task_s.setdefault(ev["Stage ID"], []).append(dur)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[ev["executionId"]] = (ev.get("description", "") + "\n"
                                      + ev.get("physicalPlanDescription", ""))
    return sorted(jobs.values(), key=lambda j: j.job_id), sql


def assign_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Innermost span holding each job's submission time."""
    out: dict[int, list[Job]] = {i: [] for i in range(len(spans))}
    depth = {}
    for i, s in enumerate(spans):
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, spans[p].parent
        depth[i] = d
    for j in jobs:
        holders = [i for i, s in enumerate(spans)
                   if s.start <= j.submit <= s.end]
        if holders:
            out[max(holders, key=depth.get)].append(j)
    return out


def task_skew(jobs: list[Job]) -> float:
    """max/median task time of the busiest multi-task stage."""
    best, skew = -1.0, 1.0
    for j in jobs:
        for durs in j.task_s.values():
            if len(durs) < 2:
                continue
            med = statistics.median(durs)
            if sum(durs) > best and med > 0:
                best, skew = sum(durs), max(durs) / med
    return skew


def fold(jobs: list[Job]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(len(j.task_s) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "run_s": sum(j.run_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_mb": sum(j.shuffle_write_mb for j in jobs),
        "spill_mb": sum(j.spill_mb for j in jobs),
    }
