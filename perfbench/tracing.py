"""Spans and Spark-side counter diffs for the traced run.

Spans are recorded around each call the benchmark makes into a layer
of the engine (``session``, ``sources``, ``inventory``, ``engine``,
``plans``, ``catalyst``, ``exec``, ``lake``, ``zonemaps``). They stay
in memory and are written out once, when the run ends. With tracing
off, :meth:`Tracer.span` records nothing and the Spark probes are never
taken, so the untraced run measures the engine alone.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    sid: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span and counter store for one run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the enclosed call (no-op when off)."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.op, sid, dict(attrs))
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the part of it that its child spans cover."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += (s.end - s.start) * 1000.0
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) * 1000.0 - child_ms[s.sid]
        return dict(out)

    def dump(self, path: str, counters: dict[str, float]) -> None:
        """Write the spans (one JSON object a line), then the run's
        layer counters and the per-layer self times as the last line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                    "start_ms": round((s.start - t0) * 1000.0, 3),
                    "end_ms": round((s.end - t0) * 1000.0, 3),
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")
            f.write(json.dumps({
                "counters": counters,
                "self_ms": self.self_times_ms(),
            }) + "\n")


@dataclass
class SparkSnapshot:
    jobs: int
    stages: int
    tasks: int
    task_ms: float
    input_bytes: float
    shuffle_read_bytes: float
    shuffle_write_bytes: float
    gc_ms: float

    def minus(self, other: "SparkSnapshot") -> "SparkSnapshot":
        return SparkSnapshot(*[
            getattr(self, f) - getattr(other, f) for f in self.__dataclass_fields__
        ])


class SparkCounters:
    """Cumulative Spark counters read from the driver JVM.

    Work is attributed to an op by diffing two snapshots taken around
    it: the executor summary in the app status store (tasks, task run
    time, input and shuffle bytes), the JVM's collector times, and the
    scheduler's monotonic next job and stage ids. Nothing here depends
    on the status store's retained job or stage lists, except spill,
    which only the per-stage records carry."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._dag = self._jsc.dagScheduler()
        mf = self._gw.jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.cores = int(sc.defaultParallelism)

    def snapshot(self) -> SparkSnapshot:
        # task-end events reach the status store through the async
        # listener bus: drain it so the summary covers finished work
        self._jsc.listenerBus().waitUntilEmpty()
        tasks = task_ms = inp = sr = sw = 0.0
        it = self._store.executorList(False).iterator()
        while it.hasNext():
            e = it.next()
            tasks += e.totalTasks()
            task_ms += e.totalDuration()
            inp += e.totalInputBytes()
            sr += e.totalShuffleRead()
            sw += e.totalShuffleWrite()
        gc_ms = float(sum(g.getCollectionTime() for g in self._gcs))
        return SparkSnapshot(
            int(self._dag.nextJobId()), int(self._dag.nextStageId()),
            int(tasks), task_ms, inp, sr, sw, gc_ms,
        )

    def spill_bytes(self, first_stage: int, end_stage: int) -> tuple[float, int]:
        """(memory + disk bytes spilled, stages no longer retained) over
        the stage ids ``[first_stage, end_stage)``."""
        from py4j.protocol import Py4JJavaError

        total = 0.0
        missing = 0
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        for sid in range(first_stage, end_stage):
            try:
                attempts = self._store.stageData(
                    sid, False, self._gw.jvm.java.util.ArrayList(), False, no_quantiles
                )
            except Py4JJavaError:
                missing += 1
                continue
            it = attempts.iterator()
            while it.hasNext():
                s = it.next()
                total += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return total, missing


def tracker_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own QueryExecution.

    Forces ``executedPlan`` first: the tracker of a frame that was only
    analyzed shows the analysis phase alone, and a write plans a fresh
    QueryExecution of its own, so reading the tracker after a write
    says nothing about optimization or planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total_kb / 1024.0


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of the given processes, with that of
    their exited and reaped children (Spark's Python workers)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    out = [pid]
    i = 0
    while i < len(out):
        p = out[i]
        i += 1
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out
