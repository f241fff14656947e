"""Per-layer spans and the Spark event-log parser behind them.

A span wraps one benchmark call into a layer's public function.  It tags
the jobs its thread starts with a Spark job group, records its wall-clock
window, and is kept in memory until the run ends.  After the session
stops, ``span_metrics`` reads the uncompressed event log with the stdlib
``json`` module and gives every span the cost of the jobs it ran:

* a job whose ``spark.jobGroup.id`` names a span belongs to that span;
* a job without a group (started by another thread, e.g. the REST
  server's handler) belongs to the span whose window holds its
  submission time;
* a task belongs to the job that first lists its stage (later jobs list
  a reused stage as skipped and run none of its tasks).
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str | None
    start_ms: float
    end_ms: float
    wall_s: float
    tracker_jobs: list[int] = field(default_factory=list)


class Tracer:
    """Records spans; ``group=False`` leaves job tagging off for calls whose
    jobs run on threads this one does not own."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = True):
        gid = f"{name}#{len(self.spans)}" if group else None
        if gid:
            self.sc.setJobGroup(gid, name)
        start_ms, t0 = time.time() * 1000.0, time.perf_counter()
        try:
            yield
        finally:
            wall, end_ms = time.perf_counter() - t0, time.time() * 1000.0
            if gid:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, gid, start_ms, end_ms, wall))

    def read_tracker(self) -> None:
        """Job ids per group as the status tracker saw them, to check the
        event log against (call before the session stops)."""
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.group:
                s.tracker_jobs = sorted(tracker.getJobIdsForGroup(s.group))


class NullTracer:
    """The untimed-run stand-in: spans cost nothing and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, group: bool = True):
        yield


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: float
    end_ms: float | None = None
    tasks: list[dict] = field(default_factory=list)


def parse_eventlog(lines) -> dict[int, Job]:
    """Jobs (with their tasks' metrics) from the lines of an uncompressed
    Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = Job(jid, props.get("spark.jobGroup.id"), float(ev["Submission Time"]))
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                jobs[jid].tasks.append({
                    "stage": ev["Stage ID"],
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "cpu_ns": m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                    "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                })
    return jobs


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def task_skew(tasks: list[dict]) -> float:
    """max/median task time of the span's heaviest stage (1 ms floor on
    the median, so sub-millisecond stages do not divide by zero)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["ms"])
    if not by_stage:
        return 1.0
    heavy = max(by_stage.values(), key=sum)
    return max(heavy) / max(statistics.median(heavy), 1.0)


def assign_jobs(spans: list[Span], jobs: dict[int, Job]) -> dict[int, list[Job]]:
    """Span index -> the jobs it ran."""
    by_group = {s.group: i for i, s in enumerate(spans) if s.group}
    out: dict[int, list[Job]] = {i: [] for i in range(len(spans))}
    for job in jobs.values():
        if job.group is not None:
            idx = by_group.get(job.group)
        else:
            idx = next(
                (i for i, s in enumerate(spans) if not s.group and s.start_ms <= job.submit_ms <= s.end_ms),
                None,
            )
        if idx is not None:
            out[idx].append(job)
    return out


def span_metrics(span: Span, jobs: list[Job], skew: bool = False) -> dict[str, float]:
    tasks = [t for j in jobs for t in j.tasks]
    covered = _covered_ms([(j.submit_ms, j.end_ms or span.end_ms) for j in jobs], span.start_ms, span.end_ms)
    out = {
        "wall_s": span.wall_s,
        "jobs": len(jobs),
        "tasks": len(tasks),
        "exec_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "shuffle_mb": sum(t["shuffle_b"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "driver_gap_s": max(span.wall_s - covered / 1e3, 0.0),
    }
    if skew:
        out["task_skew"] = task_skew(tasks)
    return out


METRIC_UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "exec_cpu_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s", "driver_gap_s": "s",
    "task_skew": "ratio",
}


def report(spans: list[Span], jobs: dict[int, Job], skew_spans: set[str]) -> tuple[dict, list[str]]:
    """Per-layer metrics keyed ``<span>.<metric>``; a span name seen more
    than once reports the median of its calls.  Also returns the spans
    whose job ids disagree between the status tracker and the event log."""
    owned = assign_jobs(spans, jobs)
    per_name: dict[str, list[dict]] = {}
    mismatched = []
    for i, s in enumerate(spans):
        per_name.setdefault(s.name, []).append(span_metrics(s, owned[i], s.name in skew_spans))
        if s.group and s.tracker_jobs != sorted(j.job_id for j in owned[i]):
            mismatched.append(s.group)
    metrics = {}
    for name, calls in per_name.items():
        for key in calls[0]:
            metrics[f"{name}.{key}"] = statistics.median(c[key] for c in calls)
    return metrics, mismatched
