"""Spans around the benchmark's calls into each layer, and the attribution
of Spark jobs to them from the Spark event log.

A span is opened by the benchmark (never inside the program) and named
``<module>.<function>`` after the public call it wraps. While a span is
open on the client thread, the Spark local property ``e2ebench.span``
carries its id, so every job that thread submits is tagged with it. Jobs
submitted from other threads (the program's own thread pools) carry no
valid tag; they go to the innermost span open at their submission time.
"""

from __future__ import annotations

import contextlib
import json
import time

SPAN_PROPERTY = "e2ebench.span"


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "counters")

    def __init__(self, sid: int, name: str, parent: int | None, start: float):
        self.sid, self.name, self.parent = sid, name, parent
        self.start, self.end = start, None
        self.counters: dict[str, float] = {}


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op, so
    untraced runs take the same code path minus the bookkeeping.
    ``replaying`` marks the two replays of a traced run, which do the same
    work whether or not spans are recorded."""

    def __init__(self, enabled: bool = False, spark=None):
        self.enabled = enabled
        self.replaying = False
        self.spark = spark
        self.spans: list[Span] = []
        self.globals: dict[str, float] = {}
        self._stack: list[int] = []

    def _tag(self, value: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s.sid)
        self._tag(str(s.sid))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(str(self._stack[-1]) if self._stack else None)

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to a counter on the innermost open span."""
        if self.enabled and self._stack:
            c = self.spans[self._stack[-1]].counters
            c[name] = c.get(name, 0) + value

    def count_global(self, name: str, value: float) -> None:
        """Set a run-level counter that belongs to no single span."""
        if self.enabled:
            self.globals[name] = value


# -- event log --------------------------------------------------------------

class Job:
    __slots__ = ("jid", "submit", "end", "stages", "tag", "tasks", "task_s",
                 "gc_s", "shuffle_write_mb", "spill_mb", "span")

    def __init__(self, jid: int, submit: float, stages: list[int], tag: str | None):
        self.jid, self.submit, self.stages, self.tag = jid, submit, stages, tag
        self.end = submit
        self.tasks = 0
        self.task_s = self.gc_s = self.shuffle_write_mb = self.spill_mb = 0.0
        self.span: int | None = None


def read_event_log(path: str) -> list[Job]:
    """Jobs with their task totals from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], ev["Submission Time"] / 1e3,
                          ev.get("Stage IDs", []), props.get(SPAN_PROPERTY))
                jobs[job.jid] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.task_s += m.get("Executor Run Time", 0) / 1e3
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                job.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) / 2**20
                job.spill_mb += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0)) / 2**20
    return sorted(jobs.values(), key=lambda j: j.jid)


def _open_at(span: Span, t: float) -> bool:
    # event-log times have millisecond resolution
    return span.start - 1e-3 <= t <= span.end + 1e-3


def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Set ``job.span``: the tagged span when it was open at the job's
    submission, else the innermost span open then, else None."""
    for job in jobs:
        job.span = None
        if job.tag is not None and job.tag.isdigit():
            sid = int(job.tag)
            if sid < len(spans) and _open_at(spans[sid], job.submit):
                job.span = sid
                continue
        best = None
        for s in spans:
            if _open_at(s, job.submit) and (best is None or s.start >= best.start):
                best = s
        job.span = best.sid if best is not None else None


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(jobs: list[Job], spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name, summed over its calls: calls, wall_s, self_s (wall
    minus the part covered by child spans), jobs, tasks, task_s,
    driver_gap_s (wall not covered by the jobs of the span and its
    descendants), shuffle_write_mb, spill_mb, gc_s and the span's
    counters. Call ``attribute`` first."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_span: dict[int, list[Job]] = {}
    for j in jobs:
        if j.span is not None:
            by_span.setdefault(j.span, []).append(j)

    def subtree_jobs(s: Span) -> list[Job]:
        out = list(by_span.get(s.sid, []))
        for c in children.get(s.sid, []):
            out += subtree_jobs(c)
        return out

    out: dict[str, dict[str, float]] = {}
    for s in spans:
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.sid, [])]
        covered = [(max(j.submit, s.start), min(j.end, s.end))
                   for j in subtree_jobs(s) if j.end > s.start and j.submit < s.end]
        own = by_span.get(s.sid, [])
        m = out.setdefault(s.name, {})
        for key, val in (
                ("calls", 1), ("wall_s", wall), ("self_s", wall - _union(kids)),
                ("jobs", len(own)), ("tasks", sum(j.tasks for j in own)),
                ("task_s", sum(j.task_s for j in own)),
                ("driver_gap_s", wall - _union(covered)),
                ("shuffle_write_mb", sum(j.shuffle_write_mb for j in own)),
                ("spill_mb", sum(j.spill_mb for j in own)),
                ("gc_s", sum(j.gc_s for j in own)), *s.counters.items()):
            m[key] = m.get(key, 0) + val
    return out


def run_metrics(jobs: list[Job], spans: list[Span], root: Span, cores: int) -> dict[str, float]:
    """Whole-unit Spark totals over the jobs submitted while ``root`` was
    open; ``attributed_frac`` is the share of those jobs that landed in a
    span below the root."""
    inside = [j for j in jobs if _open_at(root, j.submit)]
    wall = root.end - root.start
    task_s = sum(j.task_s for j in inside)
    return {
        "spark.jobs": len(inside),
        "spark.tasks": sum(j.tasks for j in inside),
        "spark.task_s": task_s,
        "spark.gc_s": sum(j.gc_s for j in inside),
        "spark.shuffle_write_mb": sum(j.shuffle_write_mb for j in inside),
        "spark.spill_mb": sum(j.spill_mb for j in inside),
        "spark.parallel_eff": task_s / (wall * cores) if wall > 0 else 0.0,
        "spark.attributed_frac": (sum(1 for j in inside
                                      if j.span is not None and j.span != root.sid)
                                  / len(inside)) if inside else 1.0,
    }
