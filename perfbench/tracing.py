"""Benchmark-side tracing: spans around calls into the engine's public
functions, epoch records from a StreamingQueryListener, and executor
counters read from Spark's status store by job group.

Spans stay in memory and are written once, when the run ends. With
tracing off, ``span`` only yields, so untraced runs pay nothing but the
listener, which both modes need for epoch latencies.
"""

from __future__ import annotations

import datetime as _dt
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


def p50(xs) -> float:
    s = sorted(xs)
    if not s:
        return 0.0
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(xs) -> float:
    """The highest percentile with at least ten samples beyond it, read
    as the 11th-largest sample; below 21 samples (where that would sit
    under the median) the median."""
    s = sorted(xs)
    return s[-11] if len(s) >= 21 else p50(s)


def _parse_ts(iso: str) -> float:
    return _dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class EpochListener(StreamingQueryListener):
    """Every progress event of every query, keyed by run id. The
    session's ``recentProgress`` keeps only the last 100 epochs, so a
    longer drain must be captured here."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = {}
        self._done: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

    def _event(self, run_id: str) -> threading.Event:
        with self._lock:
            return self._done.setdefault(run_id, threading.Event())

    def onQueryStarted(self, event):
        self._event(str(event.runId))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._event(str(event.runId)).set()

    def epochs(self, run_id: str, timeout: float = 30.0) -> list[dict]:
        """Progress of a finished query, once the bus has delivered its
        termination (progress events precede it on the same bus)."""
        if not self._event(run_id).wait(timeout):
            raise TimeoutError(f"no termination event for query {run_id}")
        with self._lock:
            return list(self.progress.get(run_id, []))

    def run_ids(self) -> set[str]:
        with self._lock:
            return set(self._done)

    def new_runs(self, before: set[str], n: int, timeout: float = 30.0) -> list[str]:
        """Run ids of the ``n`` queries started since ``before`` was
        taken, once the bus has delivered their start events (for
        queries started inside an engine function, whose handles the
        caller never sees)."""
        deadline = time.monotonic() + timeout
        while True:
            new = sorted(self.run_ids() - before)
            if len(new) >= n:
                return new
            if time.monotonic() > deadline:
                raise TimeoutError(f"{len(new)} of {n} new queries reported")
            time.sleep(0.01)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    job_group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None, jobs: bool = False, **attrs):
        """Record ``name`` around the block. With ``jobs``, Spark jobs
        the block starts carry a job group unique to this span, so their
        executor counters can be read back afterwards."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.time(), parent=parent, op=op, attrs=attrs)
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if jobs:
            s.job_group = f"perfbench-{idx}"
            self.sc.setJobGroup(s.job_group, name)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield s
        finally:
            t = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - t

    def add_epochs(self, parent: Span, progress: list[dict]) -> None:
        """Epoch spans built from listener progress, parented to the
        span of the drain that produced them."""
        if not self.enabled:
            return
        pi = self.spans.index(parent)
        for p in progress:
            start = _parse_ts(p["timestamp"])
            dur = p["durationMs"].get("triggerExecution", 0) / 1000
            self.spans.append(Span("stream.epoch", start, start + dur, pi, parent.op,
                                   attrs={"batchId": p["batchId"], "rows": p["numInputRows"]}))

    def counters(self, spans: list[Span]) -> dict:
        """Executor counters of the completed stages run under the job
        groups of ``spans``."""
        t = time.perf_counter()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        stages = set()
        for s in spans:
            if s.job_group:
                for j in tracker.getJobIdsForGroup(s.job_group):
                    info = tracker.getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
        c = {"tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # evicted from the status store
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            c["tasks"] += sd.numCompleteTasks()
            c["run_ms"] += sd.executorRunTime()
            c["cpu_ms"] += sd.executorCpuTime() / 1e6
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self.bookkeeping_s += time.perf_counter() - t
        return c

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s.start
            for k in sorted(kids.get(i, []), key=lambda k: k.start):
                lo, hi = max(k.start, edge), min(k.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append(max(0.0, (s.end - s.start) - covered))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump([
                {"name": s.name, "start": s.start, "end": s.end, "self_s": st, "parent": s.parent,
                 "op": s.op, "job_group": s.job_group, **({"attrs": s.attrs} if s.attrs else {})}
                for s, st in zip(self.spans, selfs)
            ], fh)
