"""Tracing for the per-layer run, measured from outside the engine.

Spans are recorded around calls into each layer's public functions and
kept in memory until the run ends. The catalog layer is traced by
wrapping its public loaders where the engine's modules imported them,
plus ``DataFrameReader.parquet``; the Spark work an execution launches
is read back from Spark's status store by job group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass

CATALOG_LOADERS = ("load_tables", "load_events", "load_events_us", "load_documents", "register_views")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder. ``op`` is the id of the operation (one
    query execution or one stream run) the spans belong to."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def total(self, name: str, op: int | None = None) -> float:
        """Summed duration of spans called ``name`` (of operation ``op``
        when given). A span nested inside another of the same name is not
        counted twice."""
        out = 0.0
        for s in self.spans:
            if s.name != name or (op is not None and s.op != op) or self._has_ancestor(s, name):
                continue
            out += s.end - s.start
        return out

    def count(self, name: str, op: int | None = None) -> int:
        return sum(1 for s in self.spans if s.name == name and (op is None or s.op == op))

    def _has_ancestor(self, span: Span, name: str) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def _patch(self, owner: object, attr: str, span_name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, traced)

    def wrap_catalog(self) -> None:
        """Trace the catalog's public loaders in every engine module that
        holds a reference to them, and every ``DataFrameReader.parquet``."""
        from pyspark.sql.readwriter import DataFrameReader

        from datafusion_streams_spark import catalog

        originals = {name: getattr(catalog, name) for name in CATALOG_LOADERS}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("datafusion_streams_spark"):
                continue
            for name, fn in originals.items():
                if getattr(mod, name, None) is fn:
                    self._patch(mod, name, "catalog.call")
        self._patch(DataFrameReader, "parquet", "catalog.parquet_read")

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class JobStats:
    """Spark work of one job group, summed over its jobs' stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    busy_s: float = 0.0  # wall time covered by at least one job


def _opt_s(opt) -> float | None:
    """Seconds since the epoch from a Scala ``Option[Date]``."""
    return opt.get().getTime() / 1000 if opt.isDefined() else None


def group_stats(spark, group: str, window: tuple[float, float], settle_s: float = 5.0) -> JobStats:
    """Read the jobs of ``group`` submitted within ``window`` (wall-clock
    seconds) from Spark's status store, which works with the UI
    disabled. Listener events arrive asynchronously, so this waits up
    to ``settle_s`` for every job of the group to finish."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    no_status = sc._jvm.java.util.ArrayList()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [store.job(j) for j in job_ids]
        if all(_opt_s(j.completionTime()) is not None for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    out = JobStats()
    intervals = []
    lo, hi = window
    for job in jobs:
        start, end = _opt_s(job.submissionTime()), _opt_s(job.completionTime())
        # the store keeps milliseconds; allow for the rounding
        if start is None or not lo - 0.01 <= start <= hi + 0.01:
            continue
        out.jobs += 1
        intervals.append((max(start, lo), min(end or hi, hi)))
        ids = job.stageIds()
        for i in range(ids.size()):
            attempts = store.stageData(ids.apply(i), False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                out.failed_tasks += st.numFailedTasks()
                out.run_s += st.executorRunTime() / 1000
                out.cpu_s += st.executorCpuTime() / 1e9
                out.gc_s += st.jvmGcTime() / 1000
                out.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.input_bytes += st.inputBytes()
    out.busy_s = covered(intervals)
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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
