"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded from the benchmark's own files, around the public
calls into each layer: ``Tracer.wrap`` replaces a module or class
attribute with a wrapper that opens a span, and ``Tracer.restore``
puts every original back. Nothing under ``det_module_spark/`` is
edited.

Each span remembers the Spark job-id range that started inside it
(``[job_lo, job_hi)``). When the run ends, ``SparkCounters`` reads
those jobs' stages from the status store, which works with the UI
disabled, and attributes tasks, executor time, shuffle bytes and
stage intervals to the span. Driver idle is the span's wall time
minus the union of its stages' intervals.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None" = None
    end: float | None = None
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict[str, float] = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_time(span: Span) -> float:
    """Span duration minus the part of it its children cover."""
    kids = clip([(c.start, c.end or c.start) for c in span.children], span.start, span.end or span.start)
    return span.duration - union_length(kids)


class Tracer:
    """Span stack for one driver thread. ``next_job_id`` returns the id
    the next Spark job will get (a constant 0 when Spark is absent)."""

    def __init__(self, next_job_id: Callable[[], int] = lambda: 0,
                 clock: Callable[[], float] = time.time):
        self.next_job_id = next_job_id
        self.clock = clock
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(name, self.clock(), parent, job_lo=self.next_job_id())
        (parent.children if parent else self.roots).append(span)
        self._stack.append(span)
        self.own_s += time.perf_counter() - t0
        return span

    def close(self, span: Span) -> None:
        t0 = time.perf_counter()
        span.end = self.clock()
        span.job_hi = self.next_job_id()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self.own_s += time.perf_counter() - t0

    def wrap(self, owner: Any, attr: str, name: str,
             after: Callable[[Span, Any], None] | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper;
        ``after(span, result)`` may add counters to the span."""
        original = getattr(owner, attr)
        # restore the raw class attribute (a staticmethod stays one)
        raw = vars(owner).get(attr, original) if isinstance(owner, type) else original
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            try:
                result = original(*args, **kwargs)
                if after is not None:
                    after(span, result)
                return result
            finally:
                tracer.close(span)

        self._patches.append((owner, attr, raw))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


@dataclass
class StageStats:
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_bytes: int
    interval: tuple[float, float] | None


class SparkCounters:
    """Per-job stage statistics from ``sc._jsc.sc().statusStore()``,
    cached so nested spans read each job once."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jobs: dict[int, list[StageStats]] = {}

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has applied every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stages(self, job_id: int) -> list[StageStats]:
        if job_id not in self._jobs:
            out = []
            try:
                ids = self._store.job(job_id).stageIds()
            except Exception:  # noqa: BLE001 - job evicted or never registered
                ids = None
            for k in range(ids.length() if ids is not None else 0):
                try:
                    s = self._store.lastStageAttempt(ids.apply(k))
                except Exception:  # noqa: BLE001 - skipped stage has no attempt
                    continue
                if str(s.status()) != "COMPLETE":
                    continue
                sub, comp = s.submissionTime(), s.completionTime()
                interval = None
                if sub.isDefined() and comp.isDefined():
                    interval = (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                out.append(StageStats(
                    tasks=int(s.numCompleteTasks()),
                    run_s=s.executorRunTime() / 1e3,
                    cpu_s=s.executorCpuTime() / 1e9,
                    shuffle_bytes=int(s.shuffleReadBytes() + s.shuffleWriteBytes()),
                    interval=interval,
                ))
            self._jobs[job_id] = out
        return self._jobs[job_id]


def attribute(span: Span, stages_of: Callable[[int], list[StageStats]]) -> dict[str, float]:
    """Spark counters of the jobs that started inside ``span``."""
    stages = [s for j in range(span.job_lo, span.job_hi) for s in stages_of(j)]
    busy = union_length(clip([s.interval for s in stages if s.interval], span.start, span.end or span.start))
    return {
        "jobs": span.job_hi - span.job_lo,
        "tasks": sum(s.tasks for s in stages),
        "executor_run_s": sum(s.run_s for s in stages),
        "executor_cpu_s": sum(s.cpu_s for s in stages),
        "shuffle_bytes": sum(s.shuffle_bytes for s in stages),
        "driver_idle_s": max(0.0, span.duration - busy),
    }


def layer_totals(root: Span, stages_of: Callable[[int], list[StageStats]]) -> dict[str, float]:
    """Per-layer figures of one root span (a request or a query):
    for every span name below it, total seconds, calls, self seconds
    and Spark counters, plus the root's own counters under ``spark.``."""
    out: dict[str, float] = {}
    for s in root.walk():
        if s is root:
            continue
        counters = attribute(s, stages_of)
        add = {
            f"{s.name}_s": s.duration,
            f"{s.name}.calls": 1,
            f"{s.name}.self_s": self_time(s),
            f"{s.name}.jobs": counters["jobs"],
            f"{s.name}.tasks": counters["tasks"],
            f"{s.name}.executor_run_s": counters["executor_run_s"],
            f"{s.name}.shuffle_bytes": counters["shuffle_bytes"],
            f"{s.name}.driver_idle_s": counters["driver_idle_s"],
        }
        add.update({f"{s.name}.{k}": v for k, v in s.attrs.items()})
        for k, v in add.items():
            out[k] = out.get(k, 0) + v
    for k, v in attribute(root, stages_of).items():
        out[f"spark.{k}"] = v
    out.update(root.attrs)
    out["root_s"] = root.duration
    return out
