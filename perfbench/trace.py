"""Spans, Spark job attribution and memory sampling, all from outside the
engine.

A traced run wraps every call the benchmark makes into an engine module in
a span (name, request id, parent, start, end). Each operation runs under
its own Spark job group; when the operation has returned, the tracer reads
the group's jobs back from Spark's status store and records each job as a
child span of the phase (plan or exec) it started in. Spans stay in memory
until the run ends. An untraced run uses the same calls with tracing off:
phases are still timed, but no job group is set and nothing is read back.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

RSS_INTERVAL_S = 0.25  # RssSampler's sampling period


@dataclass
class Span:
    name: str
    rid: str
    parent: int | None
    t0: float  # epoch seconds
    t1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of `intervals` (epoch seconds) clipped to
    [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a < end:
            a = end
        if b > a:
            total += b - a
            end = b
    return total * 1000.0


@dataclass
class Op:
    """One operation: a root span with timed phases. `phase_ms` holds each
    phase's wall time; after the operation closes, a traced run also fills
    jobs, tasks and the ms each phase spent inside Spark jobs."""
    kind: str
    rid: str
    root: int | None = None
    phase_ms: dict = field(default_factory=dict)
    phase_window: dict = field(default_factory=dict)
    phase_span: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0
    job_ms: dict = field(default_factory=dict)
    failed: bool = False
    fixed: bool = False  # part of the run's fixed probe set (exact counts)

    @property
    def wall_ms(self) -> float:
        return sum(self.phase_ms.values())


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # the SparkContext, once the session exists
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[int] = []
        self._seq = 0
        self.bookkeeping_s = 0.0

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def _open(self, name: str, rid: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, rid, parent, time.time()))
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].t1 = time.time()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        """A span around one call into a module (no job group of its own:
        its jobs belong to the enclosing operation)."""
        if not self.enabled:
            yield
            return
        rid = self.spans[self._stack[-1]].rid if self._stack else name
        idx = self._open(name, rid)
        try:
            yield
        finally:
            self._close(idx)

    @contextmanager
    def op(self, name: str, kind: str):
        """One operation (request, batch call, build, append, ...). Yields
        an Op whose `phase(...)` contexts time the plan/exec (or other)
        phases. Job read-back happens after the caller's timed phases."""
        self._seq += 1
        op = Op(kind, f"{name}#{self._seq}")
        if self.enabled:
            op.root = self._open(name, op.rid)
            self.sc.setJobGroup(op.rid, name)
        try:
            yield op
        except Exception:
            op.failed = True
            raise
        finally:
            if self.enabled:
                t = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._close(op.root)
                self._read_jobs(op)
                self.bookkeeping_s += time.perf_counter() - t
            self.ops.append(op)

    @contextmanager
    def phase(self, op: Op, name: str):
        idx = (self._open(f"{self.spans[op.root].name}.{name}", op.rid)
               if self.enabled else None)
        w0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            op.phase_ms[name] = (time.perf_counter() - t0) * 1000.0
            op.phase_window[name] = (w0, time.time())
            if idx is not None:
                op.phase_span[name] = idx
                self._close(idx)

    def _read_jobs(self, op: Op) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        intervals = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(op.rid)):
            jd = store.job(jid)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or end.isEmpty():
                continue
            a, b = sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0
            op.jobs += 1
            op.tasks += int(jd.numCompletedTasks())
            intervals.append((a, b))
            # a job is a child span of the phase it was submitted in
            parent = op.root
            for name, (w0, w1) in op.phase_window.items():
                if w0 <= a <= w1 and name in op.phase_span:
                    parent = op.phase_span[name]
            self.spans.append(Span("spark.job", op.rid, parent, a, b))
            self.spans[parent].children.append(len(self.spans) - 1)
        for name, (w0, w1) in op.phase_window.items():
            op.job_ms[name] = union_ms(intervals, w0, w1)

    # -- reporting ------------------------------------------------------------

    def self_ms(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(self.spans[c].t0, self.spans[c].t1) for c in s.children]
        return s.ms - union_ms(kids, s.t0, s.t1)

    def table(self) -> list[tuple[str, int, float, float]]:
        """(span name, count, median ms, median self ms) per span name."""
        from statistics import median

        by: dict[str, list[int]] = {}
        for i, s in enumerate(self.spans):
            by.setdefault(s.name, []).append(i)
        return [(name, len(ix), median(self.spans[i].ms for i in ix),
                 median(self.self_ms(i) for i in ix))
                for name, ix in sorted(by.items())]


def process_tree(root: int) -> list[int]:
    """`root` and all its descendants (the driver JVM and the Python
    workers it forks are descendants of the benchmark process)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of the summed RSS of the benchmark process tree, sampled on a
    background thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak,
                            sum(_rss_bytes(p) for p in process_tree(me)))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
