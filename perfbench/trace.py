"""Benchmark-side spans and Spark event-log attribution.

The benchmark times its own calls into the engine's public functions
(``Tracer.span``) and, in a traced run, reads Spark's event log after the
session stops. Each job, stage and task is attributed to the span whose
wall-clock window holds its submission or launch time. A single client
issues one call at a time, so top-level windows never overlap, and jobs
that the engine submits from its own thread pools still land inside the
call that caused them.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float  # epoch seconds
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Spans kept in memory for the run; nothing is written until the
    benchmark ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class Counts:
    """Spark work attributed to one span."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_ms: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0

    def __iadd__(self, o: "Counts") -> "Counts":
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))
        return self


@dataclass
class EventLog:
    """Job submissions, stage submissions and task ends, each keyed by
    its epoch-millisecond timestamp and sorted by it."""
    jobs: list[int] = field(default_factory=list)
    stages: list[int] = field(default_factory=list)
    task_times: list[int] = field(default_factory=list)
    task_counts: list[Counts] = field(default_factory=list)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
        log, tasks = cls(), []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    log.jobs.append(int(ev["Submission Time"]))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:  # skipped stages never ran
                        log.stages.append(int(info["Submission Time"]))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    c = Counts(
                        tasks=1,
                        task_cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
                        input_bytes=inp.get("Bytes Read", 0),
                        input_rows=inp.get("Records Read", 0),
                        shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                    )
                    tasks.append((int(ev["Task Info"]["Launch Time"]), c))
        log.jobs.sort()
        log.stages.sort()
        tasks.sort(key=lambda t: t[0])
        log.task_times = [t for t, _ in tasks]
        log.task_counts = [c for _, c in tasks]
        return log

    def counts(self, span: Span) -> Counts:
        # JVM and Python share the wall clock; widen by 1 ms for rounding
        lo, hi = int(span.t0 * 1000) - 1, int(span.t1 * 1000) + 1
        out = Counts()
        out.jobs = bisect.bisect_right(self.jobs, hi) - bisect.bisect_left(self.jobs, lo)
        out.stages = (bisect.bisect_right(self.stages, hi)
                      - bisect.bisect_left(self.stages, lo))
        t = self.task_times
        for c in self.task_counts[bisect.bisect_left(t, lo):bisect.bisect_right(t, hi)]:
            out += c
        return out

    def total(self, spans: list[Span]) -> Counts:
        out = Counts()
        for s in spans:
            out += self.counts(s)
        return out
