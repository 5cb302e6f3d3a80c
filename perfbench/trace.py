"""Spans, Spark status-store attribution and the statistics helpers.

The benchmark measures every layer from outside: it opens a span around
each call it makes into a module's public function and, after the call
returns, reads the jobs and stages that the call submitted from Spark's
in-process status store (the web UI stays off). Jobs and stages become
child spans of the call, so a span's self time is its duration minus the
union of its jobs' intervals. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: the per-span Spark counters, summed over the jobs and stages in a span
COUNTERS = (
    "jobs", "tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "self_s", "floor_s",
)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs ``(start, end)``),
    each first clipped to ``[lo, hi]`` when those are given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it that its children cover."""
    return (end - start) - union_length(children, start, end)


def median(values) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value, n)``. With ``n`` samples sorted, that is
    the value at rank ``n - beyond`` (1-based), i.e. percentile
    ``100 * (n - beyond) / n``. With ``beyond`` samples or fewer no
    percentile qualifies; the maximum is returned with percentile 100 so
    the caller can see the tail is unsupported.
    """
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("tail of no values")
    if n <= beyond:
        return 100.0, v[-1], n
    rank = n - beyond
    return 100.0 * rank / n, v[rank - 1], n


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = math.nan
    parent: int | None = None
    kind: str = "call"
    attrs: dict = field(default_factory=dict)


class StatusStore:
    """Reads finished jobs and stages from Spark's in-process status store,
    each exactly once, in job-id order."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._next_job = 0
        self._seen_stages: set[tuple[int, int]] = set()
        self.read_s = 0.0  # the tracer's own cost, reported as overhead
        self.new_jobs()  # jobs submitted before the tracer started are not ours

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the last read, each with a ``stages`` list
        of the stage attempts that ran for it (skipped stages excluded)."""
        t0 = time.perf_counter()
        jobs = []
        while True:
            try:
                job = self._json(self._store.job(self._next_job))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                break
            self._next_job += 1
            job["stages"] = []
            for sid in job.get("stageIds", []):
                for st in self._json(
                    self._store.stageData(sid, False, None, False, self._no_quantiles)
                ):
                    k = (st["stageId"], st["attemptId"])
                    if st.get("status") == "SKIPPED" or k in self._seen_stages:
                        continue
                    self._seen_stages.add(k)
                    job["stages"].append(st)
            jobs.append(job)
        self.read_s += time.perf_counter() - t0
        return jobs


#: status-store times have millisecond resolution
_CLOCK_SLACK_S = 0.002


def _sec(ms) -> float | None:
    return None if ms is None else ms / 1000.0


class Tracer:
    """Collects spans; with ``store`` set, attributes Spark work to them."""

    def __init__(self, store: StatusStore | None = None):
        self.store = store
        self.spans: list[Span] = []

    def open(self, name: str, layer: str, parent: int | None = None, kind: str = "call") -> int:
        span = Span(name, layer, time.time(), parent=parent, kind=kind)
        if self.store is not None:
            span.attrs["read0"] = self.store.read_s
        self.spans.append(span)
        return len(self.spans) - 1

    def close(self, idx: int) -> Span:
        """End span ``idx``; read the Spark jobs it ran and add them (and
        their stages) as child spans with the counters summed onto it."""
        span = self.spans[idx]
        span.end = time.time()
        if self.store is None:
            return span
        counters = dict.fromkeys(COUNTERS, 0.0)
        job_iv = []
        for job in self.store.new_jobs():
            js, je = _sec(job.get("submissionTime")), _sec(job.get("completionTime"))
            # a job submitted before the span opened ran between calls (the
            # harness's own checks): it belongs to no span
            if js is None or js < span.start - _CLOCK_SLACK_S:
                continue
            je = span.end if je is None else je
            job_iv.append((js, je))
            jid = len(self.spans)
            self.spans.append(Span(f"job {job['jobId']}", span.layer, js, je, idx, "job"))
            stage_iv = []
            for st in job["stages"]:
                ss_, se = _sec(st.get("submissionTime")), _sec(st.get("completionTime"))
                if ss_ is not None:
                    se = je if se is None else se
                    stage_iv.append((ss_, se))
                    self.spans.append(Span(f"stage {st['stageId']}.{st['attemptId']}",
                                           span.layer, ss_, se, jid, "stage"))
                counters["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                counters["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                counters["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                counters["shuffle_bytes"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
                counters["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                counters["input_bytes"] += st.get("inputBytes", 0)
                counters["output_bytes"] += st.get("outputBytes", 0)
            counters["jobs"] += 1
            counters["floor_s"] += self_time(js, je, stage_iv)
        counters["self_s"] = self_time(span.start, span.end, job_iv)
        span.attrs.update(counters)
        # the tracer's own cost while this span was open, its own read included
        span.attrs["read_s"] = self.store.read_s - span.attrs.pop("read0")
        return span

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "layer": s.layer, "kind": s.kind, "parent": s.parent,
             "start": s.start, "end": s.end, **s.attrs}
            for i, s in enumerate(self.spans)
        ]
