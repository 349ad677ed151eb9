"""Spans recorded around calls into the engine, and the Spark event-log
parser that attributes jobs, stages and tasks to them.

Spans live in memory. No layer span holds another, so a layer's own time is
its span's length. A job belongs to the span that was open when the job was
SUBMITTED: ``dedupe_clusters`` submits jobs from its own thread pool, so
caller-set job groups miss most of them, while submission time is stamped on
every job.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time() * 1000.0)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self.spans.append(s)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Task:
    stage: int
    seconds: float
    shuffle_write: int
    input_bytes: int
    spill: int
    peak_mem: int


@dataclass
class EventLog:
    jobs: dict    # job id -> {"submit": ms, "end": ms, "stages": [ids]}
    tasks: list   # Task


def read_event_log(log_dir: str) -> EventLog:
    """Parse every event-log file under log_dir (uncompressed JSON lines)."""
    jobs: dict[int, dict] = {}
    tasks: list[Task] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a half-written last line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"],
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics", {})
                    tasks.append(
                        Task(
                            stage=ev["Stage ID"],
                            seconds=(info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                            shuffle_write=sw.get("Shuffle Bytes Written", 0),
                            input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                            spill=m.get("Disk Bytes Spilled", 0),
                            peak_mem=m.get("Peak Execution Memory", 0),
                        )
                    )
    return EventLog(jobs=jobs, tasks=tasks)


def window_stats(log: EventLog, start_ms: float, end_ms: float) -> dict:
    """Jobs SUBMITTED in [start_ms, end_ms) and the tasks of their stages."""
    jids = [j for j, v in log.jobs.items() if start_ms <= v["submit"] < end_ms]
    # a stage listed by several jobs ran (at most) once; credit its tasks to
    # the first job that lists it
    owner: dict[int, int] = {}
    for j in sorted(log.jobs):
        for s in log.jobs[j]["stages"]:
            owner.setdefault(s, j)
    mine = set(jids)
    tasks = [t for t in log.tasks if owner.get(t.stage) in mine]
    busy = [
        (v["submit"], v["end"] if v["end"] is not None else end_ms)
        for v in log.jobs.values()
    ]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.seconds)
    return {
        "jobs": len(jids),
        "tasks": len(tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "input_bytes": sum(t.input_bytes for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "task_peak_mem_bytes": max((t.peak_mem for t in tasks), default=0),
        "task_skew": _skew(by_stage),
        "driver_gap_s": (end_ms - start_ms - _covered_ms(busy, start_ms, end_ms)) / 1000.0,
    }


def _skew(by_stage: dict[int, list[float]]) -> float:
    """max/median task time of the stage with the most task time; 1.0 when
    no stage ran more than one task."""
    multi = [ts for ts in by_stage.values() if len(ts) > 1]
    if not multi:
        return 1.0
    heaviest = max(multi, key=sum)
    med = statistics.median(heaviest)
    return max(heaviest) / med if med > 0 else 1.0
