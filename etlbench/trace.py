"""Spans around calls into the engine's layers, and Spark job metrics.

The tracer wraps public functions of the engine's modules from the
benchmark's side (the engine itself carries no tracing). Each span
records its name, start, end, parent span and op id, and is kept in
memory until the run ends. Spark work is attributed per op through
``SparkContext.setJobGroup(op_id)`` and the status tracker.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals; overlaps
    count once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """``intervals`` cut to the window ``[lo, hi]``; empty ones dropped."""
    out = []
    for start, end in intervals:
        start, end = max(start, lo), min(end, hi)
        if end > start:
            out.append((start, end))
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered = union_length(clipped(((c.start, c.end) for c in children),
                                   span.start, span.end))
    return span.duration - covered


class Tracer:
    """In-memory span recorder. ``active`` toggles recording;
    ``own_s`` accumulates the time spent in the recorder itself."""

    def __init__(self, clock=time.time) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.active = False
        self.op_id: str | None = None
        self.own_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.clock(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        self.own_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self._stack.pop()
            self.spans[idx].end = self.clock()
            self.own_s += time.perf_counter() - t0

    def count(self, name: str, value: float) -> None:
        """Record one observation of a counter taken at a boundary."""
        if self.active:
            self.counts[name].append(value)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function, method or classmethod)
        with a version that records a span around each call."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            fn = raw.__func__

            @functools.wraps(fn)
            def traced_cm(cls, *args, **kwargs):
                with self.span(name):
                    return fn(cls, *args, **kwargs)

            setattr(owner, attr, classmethod(traced_cm))
            return

        @functools.wraps(raw)
        def traced(*args, **kwargs):
            with self.span(name):
                return raw(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self) -> list[tuple[Span, float]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return [(s, self_time(s, kids.get(i, []))) for i, s in enumerate(self.spans)]


@dataclass
class JobStats:
    """Spark work of one op, read from the status store."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    job_spans: tuple = ()


class SparkProbe:
    """Per-op Spark job metrics through job groups.

    ``begin`` tags every job the driver thread submits with the op id;
    ``collect`` waits for the listener bus to drain, then reads the
    group's jobs and their stages from the status store. Job start and
    end times are epoch milliseconds."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def collect(self, op_id: str) -> JobStats:
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        store = self._jsc.statusStore()
        stats = JobStats()
        spans = []
        seen_stages = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(op_id):
            job = store.job(job_id)
            stats.jobs += 1
            submitted, completed = job.submissionTime(), job.completionTime()
            if submitted.isDefined() and completed.isDefined():
                spans.append((submitted.get().getTime() / 1000.0,
                              completed.get().getTime() / 1000.0))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                stage = store.lastStageAttempt(sid)
                if str(stage.status()) == "SKIPPED":
                    continue
                stats.stages += 1
                stats.tasks += stage.numCompleteTasks() + stage.numFailedTasks()
                stats.executor_run_s += stage.executorRunTime() / 1000.0
                stats.executor_cpu_s += stage.executorCpuTime() / 1e9
                stats.input_bytes += stage.inputBytes()
                stats.shuffle_read_bytes += stage.shuffleReadBytes()
                stats.shuffle_write_bytes += stage.shuffleWriteBytes()
        stats.job_spans = tuple(spans)
        return stats
