"""Spans, samples and Spark's own counters, kept in memory and written out
when the run ends.

A span is (name, start, end, parent, op id).  Spans are recorded only on
traced operations; a span opened on another thread (the streaming
foreachBatch sinks run on Spark's callback threads) takes the current
operation's root span as its parent.
"""

from __future__ import annotations

import contextlib
import json
import math
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Op:
    id: int
    kind: str
    start: float  # epoch seconds
    end: float
    traced: bool
    ok: bool = True
    root_span: int | None = None
    rows: int = 0  # result rows, for reads

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.samples: dict[str, list[float]] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: Op | None = None

    # -- operations --------------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str, traced: bool):
        """One client operation.  ``traced`` turns spans on for it."""
        op = Op(len(self.ops), kind, time.time(), 0.0, traced and self.enabled)
        self._op = op
        try:
            if op.traced:
                with self.span(kind) as sid:
                    op.root_span = sid
                    yield op
            else:
                yield op
        except BaseException:
            op.ok = False
            raise
        finally:
            op.end = time.time()
            self._op = None
            self.ops.append(op)

    @property
    def tracing(self) -> bool:
        return self._op is not None and self._op.traced

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        op = self._op
        if op is None or not op.traced:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else op.root_span
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, time.time(), math.nan, parent, op.id))
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid].end = time.time()

    def sample(self, name: str, value: float) -> None:
        """A per-layer count or time, recorded on traced operations."""
        if self.tracing:
            with self._lock:
                self.samples.setdefault(name, []).append(float(value))

    def always(self, name: str, value: float) -> None:
        with self._lock:
            self.samples.setdefault(name, []).append(float(value))

    # -- derived -----------------------------------------------------------

    def self_ms(self) -> dict[str, float]:
        """Self time per span name: duration minus the union of its
        children's intervals, summed over the run, in ms."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1000.0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
            for o in self.ops:
                f.write(json.dumps({"op": o.__dict__}) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it;
    the median when the sample is too small for any higher one."""
    return max(50, math.floor(100 * (n - 10) / n)) if n else 50


# -- Spark's application status store (reachable with the UI off) ---------


@dataclass
class SparkJobs:
    jobs: list[tuple[int, float, float, list[int]]] = field(default_factory=list)
    stages: dict[int, tuple[int, float, float, float]] = field(default_factory=dict)


def harvest_spark(spark) -> SparkJobs:
    """Every retained job (id, submitted, completed, stage ids) and stage
    (tasks, executor run ms, shuffle write bytes, input records)."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    out = SparkJobs()
    for j in conv.asJava(store.jobsList(None)):
        sub, done = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        stage_ids = list(conv.asJava(j.stageIds()))
        out.jobs.append((j.jobId(), sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0, stage_ids))
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for s in conv.asJava(store.stageList(None, False, False, quantiles, None)):
        out.stages[s.stageId()] = (
            s.numCompleteTasks(),
            float(s.executorRunTime()),
            float(s.shuffleWriteBytes()),
            float(s.inputRecords()),
        )
    return out


def spark_per_op(ops: list[Op], sj: SparkJobs) -> dict[int, dict[str, float]]:
    """Attribute jobs to the operation during which they were submitted
    (one client, closed loop: at most one operation runs at a time)."""
    out = {}
    for op in ops:
        mine = [j for j in sj.jobs if op.start <= j[1] <= op.end]
        stages = {s for j in mine for s in j[3]}
        tasks = run_ms = shuffle = inputs = 0.0
        for s in stages:
            t, r, w, i = sj.stages.get(s, (0, 0.0, 0.0, 0.0))
            tasks, run_ms, shuffle, inputs = tasks + t, run_ms + r, shuffle + w, inputs + i
        busy = union_length([(j[1], min(j[2], op.end)) for j in mine])
        out[op.id] = {
            "jobs": float(len(mine)),
            "tasks": tasks,
            "executor_run_ms": run_ms,
            "shuffle_write_bytes": shuffle,
            "input_records": inputs,
            "driver_ms": max(0.0, op.ms - busy * 1000.0),
        }
    return out
