"""Measurement tools of the benchmark: summary statistics, in-memory
spans, Spark's own hooks (status store, streaming listener) and a
process-tree memory sampler.

Everything here observes the program from outside: it times calls into
the package's public functions and reads what Spark already records.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile that
    has at least TAIL_MIN_BEYOND samples strictly beyond it.

    With n sorted samples that is the sample at rank n - TAIL_MIN_BEYOND
    (1-based), the p = 100 * (n - 10) / n percentile, rounded down to a
    whole percent. Below 2 * TAIL_MIN_BEYOND samples no percentile at or
    above the median qualifies; the median is reported then, labelled
    p50, so the tail never reads lower than the median."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 2 * TAIL_MIN_BEYOND:
        return median(xs), 50.0, n
    return float(xs[n - TAIL_MIN_BEYOND - 1]), float(math.floor(100 * (n - TAIL_MIN_BEYOND) / n)), n


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    idx: int = 0


@dataclass
class Tracer:
    """In-memory spans: name, start, end, parent and operation id. Spans
    are kept until :meth:`dump`; nothing is written while the run is
    being measured."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: str | None = None
    #: when False, span() records nothing (the untraced half of a traced run)
    enabled: bool = True

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, op=self.op, idx=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned twin (callers that look
        the name up at call time, like ``run_incremental``, see it)."""
        fn = getattr(module, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        spanned.__wrapped__ = fn
        setattr(module, attr, spanned)

    def self_times(self, op: str | None = None) -> dict[str, float]:
        """Self time per span name: duration minus the time its direct
        children cover (children of one span never overlap here, since
        the workloads call one layer at a time)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            if op is None or s.op == op:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(s.idx, 0.0)
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"name": s.name, "start": s.start - t0, "end": s.end - t0, "parent": s.parent, "op": s.op, "id": s.idx}) + "\n")


# ------------------------------------------------------- Spark's own hooks

#: stage fields summed per operation, as (metric name, StageData getter, scale)
_STAGE_FIELDS = (
    ("exec.executor_run_s", "executorRunTime", 1e-3),
    ("exec.executor_cpu_s", "executorCpuTime", 1e-9),
    ("exec.gc_s", "jvmGcTime", 1e-3),
    ("exec.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("exec.spill_bytes", "diskBytesSpilled", 1),
    ("exec.spill_bytes", "memoryBytesSpilled", 1),
    ("sources.input_bytes", "inputBytes", 1),
    ("sources.input_records", "inputRecords", 1),
    ("exec.tasks", "numCompleteTasks", 1),
)


class StatusStore:
    """Per-operation executor metrics from Spark's status store (it is
    kept with the UI disabled too). Jobs are matched by job group: the
    benchmark sets one group per operation, and a streaming query runs
    its jobs under its run id, which the listener maps to the operation
    that started it."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._last_job = -1

    def collect(self, groups: dict[str, set[str]]) -> dict[str, dict[str, float]]:
        """Stage metrics summed over the jobs submitted since the last
        call, for each label in ``groups`` (label -> job groups). Jobs
        are listed newest first, so the walk stops at the first job an
        earlier call already saw."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        store = self._jsc.statusStore()
        by_group = {g: label for label, gs in groups.items() for g in gs}
        stages: dict[str, set[int]] = {label: set() for label in groups}
        jobs = {label: 0 for label in groups}
        newest = self._last_job
        listed = store.jobsList(None)  # a Scala Seq, newest job first
        for i in range(listed.length()):
            j = listed.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            g = j.jobGroup()
            label = by_group.get(g.get()) if g.isDefined() else None
            if label is not None:
                jobs[label] += 1
                ids = j.stageIds()
                stages[label].update(ids.apply(i) for i in range(ids.size()))
        self._last_job = newest
        return {label: self._stage_sums(store, stages[label], jobs[label]) for label in groups}

    @staticmethod
    def _stage_sums(store, stage_ids: set[int], n_jobs: int) -> dict[str, float]:
        out = {name: 0.0 for name, _, _ in _STAGE_FIELDS}
        out["exec.jobs"] = float(n_jobs)
        out["exec.stages"] = 0.0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage that never ran has no attempt
                continue
            if st.numCompleteTasks() == 0:  # skipped: its shuffle output was reused
                continue
            out["exec.stages"] += 1
            for name, getter, scale in _STAGE_FIELDS:
                out[name] += getattr(st, getter)() * scale
        out["exec.python_gap_s"] = out["exec.executor_run_s"] - out["exec.executor_cpu_s"]
        return out

    def held(self) -> tuple[int, int]:
        """(CacheManager entries, persistent RDDs) the session holds now."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return int(cm.numCachedEntries()), int(self.spark.sparkContext._jsc.getPersistentRDDs().size())


def stream_listener(spark):
    """Register (once per session) a StreamingQueryListener that keeps
    every query-progress event, and return it. ``events`` holds
    (run id, progress) pairs; ``started`` maps run id to (operation
    current at start, start time) and ``ended`` run id to end time.
    Spark calls onQueryStarted synchronously inside ``start()``; the
    other events arrive through the listener bus (see
    ``Run.settle``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.op: str | None = None
            self.started: dict[str, tuple[str | None, float]] = {}
            self.ended: dict[str, float] = {}
            self.events: list[tuple[str, dict]] = []

        def onQueryStarted(self, event):
            self.started[str(event.runId)] = (self.op, time.perf_counter())

        def onQueryProgress(self, event):
            self.events.append((str(event.progress.runId), json.loads(event.progress.json)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.ended[str(event.runId)] = time.perf_counter()

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


# ----------------------------------------------------------------- host


def cpu_times() -> list[int]:
    """The host's aggregate CPU tick counters from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings (the 8th counter, steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


# ----------------------------------------------------------------- memory


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants (the JVM and the Python workers
    it forks), from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def stop_descendants(stop, timeout_s: float = 60.0) -> None:
    """Call ``stop`` (which ends the JVM), then wait until every process
    this one had started (the JVM, the Python worker daemon and its
    workers) has exited."""
    pids = _tree(os.getpid())[1:]
    stop()
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            try:  # reap it if it is our own child
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)


def _tree_rss_bytes(root: int) -> int:
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    including reaped children (utime + stime + cutime + cstime). Time
    the hypervisor steals from the guest is not charged to it."""
    total, tick = 0, os.sysconf("SC_CLK_TCK")
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


class RssSampler:
    """Samples the resident memory of this process tree on a thread and
    keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
