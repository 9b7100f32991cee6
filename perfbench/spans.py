"""Spans around the benchmark's calls into the engine, and the Spark jobs
each span launched.

A span records (name, start, end, parent) in memory.  With tracing on,
each span also runs under its own Spark job group, so the application's
event log says which jobs every call launched; :func:`job_stats` joins
the two after the session stops.  Jobs count toward the innermost span
that was open when they were submitted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start_ms: float  # epoch ms, comparable with event-log times
    dur_ms: float = 0.0

    @property
    def end_ms(self) -> float:
        return self.start_ms + self.dur_ms


class Tracer:
    """Records spans always (they are the benchmark's timers); labels
    Spark jobs with the span's group only once ``sc`` is set."""

    def __init__(self):
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _label(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            for k in _GROUP_KEYS:
                self.sc.setLocalProperty(k, None)
        else:
            self.sc.setJobGroup(f"pb{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  time.time() * 1000.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._label(sp)
        t = time.perf_counter()
        try:
            yield sp
        finally:
            sp.dur_ms = (time.perf_counter() - t) * 1000.0
            self._stack.pop()
            self._label(parent)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "sid": s.sid, "name": s.name, "parent": s.parent,
                    "start_ms": round(s.start_ms, 3),
                    "end_ms": round(s.end_ms, 3)}) + "\n")


@dataclass
class Job:
    start_ms: float
    end_ms: float = 0.0
    executor_run_ms: float = 0.0
    shuffle_bytes: int = 0


def read_jobs(event_log: str) -> dict[int, list[Job]]:
    """Jobs per span id from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    group_of: dict[int, int] = {}
    job_of_stage: dict[int, int] = {}
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not (gid and gid.startswith("pb")):
                    continue
                jobs[jid] = Job(float(ev["Submission Time"]))
                group_of[jid] = int(gid[2:])
                for st in ev["Stage IDs"]:
                    job_of_stage.setdefault(st, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(job_of_stage.get(ev["Stage ID"], -1))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job.executor_run_ms += tm.get("Executor Run Time", 0)
                job.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}
                                      ).get("Shuffle Bytes Written", 0)
    by_span: dict[int, list[Job]] = {}
    for jid, job in jobs.items():
        by_span.setdefault(group_of[jid], []).append(job)
    return by_span


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def job_stats(tracer: Tracer, jobs: dict[int, list[Job]]) -> dict[int, dict]:
    """Per span: Spark jobs it and its descendants launched, the union of
    their busy intervals inside the span, executor run time, shuffle bytes
    written, and the driver gap (wall time no job was running)."""
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.sid)

    def subtree(sid: int) -> list[Job]:
        out = list(jobs.get(sid, []))
        for c in children.get(sid, []):
            out += subtree(c)
        return out

    stats = {}
    for s in tracer.spans:
        js = subtree(s.sid)
        busy = _union_ms([(max(j.start_ms, s.start_ms),
                           min(j.end_ms, s.end_ms)) for j in js
                          if j.end_ms > s.start_ms and j.start_ms < s.end_ms])
        stats[s.sid] = {
            # job time outside the span's own interval: a non-zero value
            # means a job was attributed to the wrong call
            "outside_ms": _union_ms([(j.start_ms, j.end_ms) for j in js])
            - busy,
            "spark_jobs": len(js),
            "job_busy_ms": busy,
            "executor_run_ms": sum(j.executor_run_ms for j in js),
            "shuffle_bytes": sum(j.shuffle_bytes for j in js),
            "driver_gap_ms": s.dur_ms - busy,
        }
    return stats
