"""Outside-in tracer: wrapper spans around the engine's public calls.

Nothing in the engine is edited. :meth:`Tracer.enable` replaces public
functions and methods of the layer modules with wrappers that record a
span (name, layer, start, end, parent, operation id) and restores the
originals on :meth:`Tracer.disable`, so the same process can run traced
and untraced operations side by side. Spans stay in memory and are
written out once, when the benchmark ends.

Spark work is counted from the job ids the status tracker reports, not
from job groups: job groups are thread-local and
``compression.compress_chunks`` submits from its own thread pool.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from typing import Callable, Optional

from timescaledb_spark import caggs, catalog, compression, hypertable, jobs
from timescaledb_spark import sqlapi, sqlgapfill

# (owner, attribute, layer). Modules resolve these names at call time
# (``from .compression import compress_chunks`` inside the job payload,
# ``from .sqlapi import ts_sql`` inside ``TSSession.sql``), so replacing
# the attribute is enough for every internal caller to pass through it.
TRACED = (
    (catalog.JsonlTable, "read", "catalog"),
    (catalog.JsonlTable, "append", "catalog"),
    (catalog.JsonlTable, "replace", "catalog"),
    (sqlapi, "ts_sql", "sqlapi"),
    (hypertable.Hypertable, "read", "hypertable"),
    (hypertable.Hypertable, "insert", "hypertable"),
    (compression, "compress_chunks", "compression"),
    (compression, "compress_chunk", "compression"),
    (caggs.ContinuousAggregate, "refresh", "caggs"),
    (caggs.ContinuousAggregate, "read", "caggs"),
    (caggs.ContinuousAggregate, "quantiles", "caggs"),
    (jobs.JobRegistry, "run_pending", "jobs"),
    (jobs.JobRegistry, "run_job", "jobs"),
    (sqlgapfill, "time_bucket_gapfill", "operators"),
)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total if cur_e is None else total + cur_e - cur_s


class Span:
    __slots__ = ("sid", "name", "layer", "start", "end", "parent", "op", "info")

    def __init__(self, sid, name, layer, start, parent, op):
        self.sid = sid
        self.name = name
        self.layer = layer
        self.start = start
        self.end: Optional[float] = None
        self.parent = parent
        self.op = op
        self.info: dict = {}

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op: Optional[str] = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._originals: list[tuple] = []
        self._root: Optional[int] = None

    # -------------------------------------------------------------- spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, layer: str) -> Span:
        st = self._stack()
        parent = st[-1].sid if st else self._root
        with self._lock:
            sp = Span(len(self.spans), name, layer, time.perf_counter(), parent, self.op)
            self.spans.append(sp)
        st.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    def begin_op(self, op: str, kind: str) -> Span:
        """Root span of one client operation; spans opened on other
        threads (compression workers) attach to it."""
        self.op = op
        sp = self.start(kind, "client")
        self._root = sp.sid
        return sp

    def end_op(self, sp: Span) -> None:
        self.finish(sp)
        self._root = None

    # ------------------------------------------------------------ wrapping
    def _wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            sp = tracer.start(name, layer)
            try:
                out = fn(*a, **kw)
                if name == "compress_chunks":
                    sp.info["chunks"] = len(out)
                    sp.info["before"] = sum(r.get("before_bytes", 0) for r in out)
                    sp.info["after"] = sum(r.get("after_bytes", 0) for r in out)
                elif name == "compress_chunk":
                    sp.info["chunks"] = 1
                    sp.info["before"] = out.get("before_bytes", 0)
                    sp.info["after"] = out.get("after_bytes", 0)
                elif name == "refresh":
                    sp.info["ranges"] = len(out)
                elif name == "run_job":
                    sp.info["ok"] = bool(out.get("success"))
                return out
            finally:
                tracer.finish(sp)

        return traced

    def _counting_open(self, *a, **kw):
        """Stands in for ``open`` inside the catalog module: a catalog
        read that opens its file re-parsed it, one that does not was
        served from the parse cache."""
        mode = a[1] if len(a) > 1 else kw.get("mode", "r")
        if "r" in mode and str(a[0]).endswith(".jsonl"):
            st = self._stack()
            if st:
                st[-1].info["parsed"] = True
        return open(*a, **kw)

    def enable(self) -> None:
        if self._originals:
            return
        for owner, attr, layer in TRACED:
            fn = getattr(owner, attr)
            self._originals.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, attr, layer))
        catalog.open = self._counting_open

    def disable(self) -> None:
        for owner, attr, fn in reversed(self._originals):
            setattr(owner, attr, fn)
        self._originals.clear()
        if "open" in vars(catalog):
            del catalog.open

    # ---------------------------------------------------------- spark work
    def _sc(self):
        return self.spark.sparkContext

    def spark_mark(self) -> int:
        """Highest Spark job id seen so far (-1 before the first job)."""
        ids = self._sc().statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def spark_work(self, since: int) -> dict:
        """Jobs, executed stages, tasks and input records of every job
        started after ``since``. Drains the listener bus first so the
        status store has seen every job end."""
        sc = self._sc()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs_ = [j for j in tracker.getJobIdsForGroup(None) if j > since]
        stages = tasks = records = 0
        spans = []
        for j in jobs_:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = tracker.getStageInfo(s)
                if si is None or si.numCompletedTasks == 0:
                    continue  # skipped (reused) or evicted stage
                stages += 1
                tasks += si.numCompletedTasks
                records += int(store.lastStageAttempt(s).inputRecords())
        return {
            "jobs": len(jobs_),
            "stages": stages,
            "tasks": tasks,
            "input_records": records,
            "busy_ms": union_length(spans),
        }

    # ------------------------------------------------------------- reports
    def self_ms(self) -> dict:
        """Self time per layer, ms: each span's duration minus the part
        of its interval covered by its children."""
        kids: dict = {}
        for sp in self.spans:
            if sp.parent is not None and sp.end is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        out: dict = {}
        for sp in self.spans:
            if sp.end is None:
                continue
            covered = union_length(
                (max(s, sp.start), min(e, sp.end)) for s, e in kids.get(sp.sid, ())
            )
            key = (sp.op, sp.layer)
            out[key] = out.get(key, 0.0) + (sp.end - sp.start - covered) * 1e3
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.as_dict(), default=str) + "\n")
