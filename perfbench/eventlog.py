"""Fold a Spark JSON event log onto the benchmark's spans.

A job belongs to the span whose job group it carries.  A job with no
group (one submitted from a thread pool inside the package, whose thread
does not inherit the caller's group) belongs to the innermost span whose
wall interval holds its submission time.  Task metrics then roll up from
stage to job to span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

from perfbench.harness import Span


@dataclass
class SpanWork:
    """Spark work attributed to one span (not including child spans)."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    #: (submission, completion) epoch-ms interval of every job
    job_intervals: list = field(default_factory=list)
    #: stage id -> executor run times of its tasks
    task_ms: dict = field(default_factory=dict)

    def add(self, other: "SpanWork") -> None:
        self.jobs += other.jobs
        self.stages |= other.stages
        self.run_ms += other.run_ms
        self.cpu_ms += other.cpu_ms
        self.shuffle_read += other.shuffle_read
        self.shuffle_write += other.shuffle_write
        self.spill += other.spill
        self.input_bytes += other.input_bytes
        self.job_intervals += other.job_intervals
        for sid, ts in other.task_ms.items():
            self.task_ms.setdefault(sid, []).extend(ts)

    def task_skew(self) -> float:
        """Max / median task run time in the stage with the most task time
        (the stage that decides the wall time); 1.0 with no tasks."""
        stages = [ts for ts in self.task_ms.values() if ts]
        if not stages:
            return 1.0
        ts = max(stages, key=sum)
        med = statistics.median(ts)
        return max(ts) / med if med > 0 else 1.0

    def job_covered_ms(self, start_ms: float, end_ms: float) -> float:
        """Length of the union of job intervals, clipped to [start, end]."""
        ivs = sorted(
            (max(a, start_ms), min(b, end_ms))
            for a, b in self.job_intervals
            if b > start_ms and a < end_ms
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return covered


def read_events(ev_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(ev_dir, "*")) if os.path.isfile(f)]
    events: list[dict] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold(events: list[dict], spans: list[Span]) -> dict[int, SpanWork]:
    """Per-span Spark work (self only; roll children up with
    :func:`rollup`).  Jobs outside every span are dropped."""
    group_to_span = {s.group: i for i, s in enumerate(spans)}
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    work: dict[int, SpanWork] = {}
    job_start: dict[int, float] = {}

    def innermost(t_ms: float) -> int | None:
        best = None
        for i, s in enumerate(spans):
            if s.start_ms <= t_ms <= s.end_ms:
                # later-opened spans that contain t are nested deeper
                best = i
        return best

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sid = group_to_span.get(props.get("spark.jobGroup.id"))
            if sid is None:
                sid = innermost(float(e["Submission Time"]))
            if sid is None:
                continue
            jid = e["Job ID"]
            job_span[jid] = sid
            job_start[jid] = float(e["Submission Time"])
            w = work.setdefault(sid, SpanWork())
            w.jobs += 1
            for st in e.get("Stage IDs", []):
                stage_span[st] = sid
                w.stages.add(st)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_span:
                work[job_span[jid]].job_intervals.append(
                    (job_start[jid], float(e["Completion Time"]))
                )
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e.get("Stage ID"))
            m = e.get("Task Metrics")
            if sid is None or not m:
                continue
            w = work[sid]
            run = float(m.get("Executor Run Time", 0))
            w.run_ms += run
            w.cpu_ms += float(m.get("Executor CPU Time", 0)) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            w.shuffle_read += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0)
            )
            sw = m.get("Shuffle Write Metrics") or {}
            w.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
            w.spill += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0)
            )
            w.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
            w.task_ms.setdefault(e["Stage ID"], []).append(run)
    return work


def rollup(work: dict[int, SpanWork], spans: list[Span], idx: int) -> SpanWork:
    """Work of span ``idx`` plus every span nested under it."""
    out = SpanWork()
    for i, s in enumerate(spans):
        j = i
        while j is not None and j != idx:
            j = spans[j].parent
        if j == idx and i in work:
            out.add(work[i])
    return out
