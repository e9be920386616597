"""Spans, layer wrappers and the Spark status-store collector.

``Tracer`` keeps spans in memory.  The benchmark opens a span around
every operation it times; in a traced run it also wraps the public
functions of each layer, so each call opens a child span.  A layer's
self time is its span time minus the time its child spans cover.

``SparkStore`` reads Spark's own status stores (the JVM AppStatusStore,
which works with the UI disabled) and is only ever called between timed
windows: snapshot before an operation, delta after it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    child_time: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans.  ``layers=False`` records only the benchmark's own
    operation spans (the untraced run); ``layers=True`` also records the
    spans of wrapped layer functions."""

    layers: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_time += sp.dur

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``.
        No-op unless ``layers``."""
        if not self.layers:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapped.__wrapped__ = orig
        # a function stored on a class must stay a plain function so it
        # still binds ``self``
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def mark(self) -> int:
        return len(self.spans)


# ----------------------------------------------------------- status store


@dataclass
class StoreDelta:
    jobs: int = 0
    tasks: int = 0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    python_worker_s: float = 0.0
    job_span_s: float = 0.0  # union of job intervals inside the window
    driver_gap_s: float = 0.0  # window wall minus job_span_s

    def add(self, other: "StoreDelta") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


_MB = 1024 * 1024


class SparkStore:
    """Per-window job/stage/task statistics from the status stores."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = self._sc._jvm
        self._seen_job = -1
        self._seen_job = self._max_job_id()

    def _jobs(self):
        it = self._store.jobsList(self._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            yield it.next()

    def _max_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=self._seen_job)

    def mark(self) -> int:
        """Call right before a timed window opens."""
        self._seen_job = self._max_job_id()
        return self._seen_job

    def delta(self, since_job: int, t0: float, t1: float) -> StoreDelta:
        """Statistics of the jobs started after ``since_job``.  ``t0``/``t1``
        are the window's wall-clock bounds (``time.time()``)."""
        d = StoreDelta()
        intervals = []
        stage_ids: set[int] = set()
        for j in self._jobs():
            if j.jobId() <= since_job:
                continue
            d.jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                s = sub.get().getTime() / 1000.0
                e = done.get().getTime() / 1000.0 if done.isDefined() else t1
                intervals.append((max(s, t0), min(e, t1)))
            ids = j.stageIds()
            for i in range(ids.length()):
                stage_ids.add(int(ids.apply(i)))
        d.job_span_s = _union_len(intervals)
        d.driver_gap_s = max(0.0, (t1 - t0) - d.job_span_s)
        for sid in sorted(stage_ids):
            self._add_stage(d, sid)
        return d

    def _add_stage(self, d: StoreDelta, sid: int) -> None:
        attempts = self._store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, None)
        for k in range(attempts.length()):
            sd = attempts.apply(k)
            if sd.status().toString() == "SKIPPED":
                continue
            d.tasks += sd.numCompleteTasks()
            d.input_mb += sd.inputBytes() / _MB
            d.shuffle_read_mb += sd.shuffleReadBytes() / _MB
            d.shuffle_write_mb += sd.shuffleWriteBytes() / _MB
            d.executor_run_s += sd.executorRunTime() / 1000.0
            d.executor_cpu_s += sd.executorCpuTime() / 1e9
            acc = sd.accumulatorUpdates()
            for a in range(acc.length()):
                info = acc.apply(a)
                # PythonSQLMetrics "time to run Python workers" is a
                # nanosecond timing metric
                if info.name() == "time to run Python workers":
                    d.python_worker_s += float(info.value()) / 1e9


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
