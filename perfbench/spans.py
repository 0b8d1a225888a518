"""Spans recorded around calls into the program's layers, plus the
Spark status-store counters of each traced statement.

Spans live in memory and are written out when the run ends. A span
records its name, start, end, parent span and the statement id shared
by every span of one statement. A layer's self time is its span's
duration minus the part of that interval covered by its children.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    stmt: str | None
    start: float  # perf_counter seconds
    end: float = 0.0
    wall_start: float = 0.0  # epoch seconds, to line up with Spark times

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: duration minus children's coverage."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans when enabled; every method is a cheap no-op when
    not, so the untraced run pays one attribute test per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, stmt: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            sid=next(self._ids), name=name,
            parent=parent.sid if parent else None,
            stmt=stmt if stmt is not None else (parent.stmt if parent else None),
            start=time.perf_counter(), wall_start=time.time(),
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str):
        """Replace `owner.attr` with a spanning wrapper; returns a
        function that restores the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, orig)


def _opt_ms(opt) -> float | None:
    """Epoch milliseconds of a py4j scala.Option[java.util.Date]."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def read_statement_jobs(spark, groups: list[str]) -> dict[str, list[dict]]:
    """Per job group (one per traced statement): every Spark job with
    its stages' counters, read from the application status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out: dict[str, list[dict]] = {}
    for g in groups:
        jobs = []
        for jid in tracker.getJobIdsForGroup(g):
            try:
                jd = store.job(jid)
            except Exception:  # evicted from the store: skip, don't guess
                continue
            stages = []
            sids = jd.stageIds()
            for i in range(sids.size()):
                try:
                    sd = store.lastStageAttempt(sids.apply(i))
                except Exception:  # skipped stage: never ran
                    continue
                stages.append({
                    "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "submit_ms": _opt_ms(sd.submissionTime()),
                    "first_task_ms": _opt_ms(sd.firstTaskLaunchedTime()),
                    "run_ms": float(sd.executorRunTime()),
                    "cpu_ns": float(sd.executorCpuTime()),
                    "gc_ms": float(sd.jvmGcTime()),
                    "input_bytes": float(sd.inputBytes()),
                    "shuffle_read_bytes": float(sd.shuffleReadBytes()),
                    "shuffle_write_bytes": float(sd.shuffleWriteBytes()),
                    "spill_bytes": float(sd.memoryBytesSpilled()
                                         + sd.diskBytesSpilled()),
                })
            jobs.append({
                "submit_ms": _opt_ms(jd.submissionTime()),
                "end_ms": _opt_ms(jd.completionTime()),
                "stages": stages,
            })
        out[g] = jobs
    return out
