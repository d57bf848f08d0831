"""Timing, spans, Spark job metrics and the process-tree RSS sampler.

``Recorder.call`` wraps every public engine call the benchmark makes. With
tracing off it is a timer. With tracing on it also tags the call's Spark
jobs with ``setJobGroup(<span id>)`` and keeps a span (name, start, end,
parent, op id) in memory; after the op, outside the timed region,
``Recorder.settle`` reads each span's jobs, stages, tasks and executor
figures from the status store, which works with the Spark UI off.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    sid: str
    name: str
    start: float
    end: float
    parent: str | None
    op: int | None
    jobs: list[dict] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3

    def total(self, key: str) -> float:
        return sum(j[key] for j in self.jobs)


class Recorder:
    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.spans: list[Span] = []
        self._pending: list[Span] = []
        self._n = 0
        self.tracing = trace  # the traced pass toggles this per op

    def call(self, name: str, fn, op: int | None = None, parent=None):
        """Run ``fn()``; return (result, seconds, span id or None)."""
        sid = None
        if isinstance(parent, Span):
            parent = parent.sid
        if self.tracing:
            sid = f"s{self._n}"
            self._n += 1
            self.sc.setJobGroup(sid, name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            t1 = time.perf_counter()
            print(f"[perfbench] {name} {t1 - t0:.3f}s", file=sys.stderr)
            if sid is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                span = Span(sid, name, t0, t1, parent, op)
                self.spans.append(span)
                self._pending.append(span)
        return out, t1 - t0, sid

    def open_op(self, name: str, op: int) -> Span | None:
        """Open the enclosing span of one workload op. It launches no Spark
        job of its own: the calls made under it are its children."""
        if not self.tracing:
            return None
        span = Span(f"s{self._n}", name, time.perf_counter(), 0.0, None, op)
        self._n += 1
        self.spans.append(span)
        return span

    @staticmethod
    def close_op(span: Span | None) -> None:
        if span is not None:
            span.end = time.perf_counter()

    def settle(self) -> None:
        """Attach Spark job/stage figures to the spans recorded since the
        last call. Runs between ops, never inside a timed region."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for span in self._pending:
            for jid in sorted(tracker.getJobIdsForGroup(span.sid)):
                span.jobs.append(_job_figures(store, jid))
        self._pending = []


def _job_figures(store, jid: int) -> dict:
    jd = store.job(jid)
    out = {"name": jd.name(), "stages": 0, "tasks": 0, "wall_ms": 0}
    if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
        out["wall_ms"] = (
            jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
        )
    out.update({k: 0 for k in STAGE_FIELDS})
    ids = jd.stageIds()
    for i in range(ids.size()):
        st = store.lastStageAttempt(ids.apply(i))
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        for k, getter in STAGE_FIELDS.items():
            out[k] += getattr(st, getter)()
    return out


def trivial_job_ms(spark) -> float:
    """One trivial Spark job: the fixed cost every job pays."""
    t = time.perf_counter()
    spark.range(1).count()
    return (time.perf_counter() - t) * 1e3


# --------------------------------------------------------------------------
# Statistics
# --------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """The highest nearest-rank percentile with at least 10 samples beyond
    it: (value, percentile, n), or None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


# --------------------------------------------------------------------------
# Peak RSS of the process tree (driver Python, JVM, Python workers)
# --------------------------------------------------------------------------


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree. Python processes count
    proportionally (PSS), so pages the forked workers share with their
    parent count once and the figure does not swing with how many idle
    workers are alive; the JVM counts its RSS (reading its smaps would
    contend with the JVM's own memory management)."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    is_jvm = f.read().strip() == "java"
                if is_jvm:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 2**20
