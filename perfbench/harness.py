"""Closed-loop operation timing, failure counting and metric reduction.

One client issues one operation at a time and waits for its reply. Each
operation is timed from the call to the last row returned (read), to
the acknowledgement (write) or to the end of a scheduler tick
(maintenance). In a traced run, iterations alternate between traced and
untraced, so the same run yields the per-layer numbers (traced
iterations) and the tracing overhead (traced minus untraced latency).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import DataFrame
from reference import NOMINAL_MS


def pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


def at_ref(op: dict) -> float:
    """An operation's latency at the reference box's speed, scaled by the
    host-speed reference samples around it (see reference.py)."""
    return op["ms"] * NOMINAL_MS / op["ref_ms"]


def parquet_files(root: str) -> set:
    out = set()
    for d, _, files in os.walk(root):
        out.update(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Harness:
    def __init__(self, ts, reference, tracer=None):
        self.ts = ts
        self.reference = reference  # sampled after every timed operation
        self.tracer = tracer
        self.ops: list[dict] = []
        self.failed = 0
        self.checks: dict = {}
        self.timed = False
        self.t_start = self.t_end = 0.0

    # ------------------------------------------------------------ running
    def start_timed(self) -> None:
        self.timed = True
        self.t_start = time.perf_counter()

    def stop_timed(self) -> None:
        self.t_end = time.perf_counter()
        self.timed = False

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def run(self, kind: str, cls: str, fn, traced: bool = False):
        """Run one operation. ``fn`` returns a DataFrame (collected here,
        inside the timed region), a scheduler tick's job results, or
        anything else for a write. Returns the rows / results, or None
        when the operation failed."""
        traced = bool(self.tracer) and traced and self.timed
        rec = {"kind": kind, "cls": cls, "traced": traced, "timed": self.timed}
        tr = self.tracer
        if traced:
            rec["op"] = f"op{len(self.ops)}"
            mark = tr.spark_mark()
            data_dir = os.path.join(self.ts.catalog_root, "data")
            files_before = parquet_files(data_dir) if cls == "write" else None
            tr.enable()
            root = tr.begin_op(rec["op"], kind)
        samples = self.reference.samples
        before = samples[-1] if self.timed and samples else None
        out, df = None, None
        t0 = time.perf_counter()
        try:
            out = fn()
            if isinstance(out, DataFrame):
                df = out
                out = df.collect()
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            if cls == "maintenance":
                rec["jobs_run"] = len(out)
                bad = [r for r in out if not r.get("success")]
                if bad:
                    raise RuntimeError(f"job failed: {bad[0].get('error')}")
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            rec["failed"] = True
            out = None
        finally:
            if traced:
                tr.end_op(root)
                tr.disable()
        if traced:
            rec["spark"] = tr.spark_work(mark)
            if df is not None and out is not None:
                rec["rows"] = len(out)
                rec["scanned_dirs"] = len({os.path.dirname(f) for f in df.inputFiles()})
                rec["total_dirs"] = len({os.path.dirname(f) for f in parquet_files(data_dir)})
            if files_before is not None:
                rec["files_written"] = len(parquet_files(data_dir) - files_before)
        if self.timed:
            after = self.reference.sample()
            # the host's speed during the operation: mean of the samples
            # just before and just after it (only after, for the first)
            rec["ref_ms"] = after if before is None else (before + after) / 2
        self.ops.append(rec)
        return out

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        if not ok:
            print(f"correctness check failed: {name}", file=sys.stderr)
            self.failed += 1

    # ----------------------------------------------------------- reducing
    def _timed_ok(self, cls: str, traced=False) -> list:
        return [
            o
            for o in self.ops
            if o["timed"] and o["cls"] == cls and o["traced"] == traced
            and not o.get("failed")
            and (cls != "maintenance" or o.get("jobs_run"))
        ]

    def _lat(self, cls: str, traced=False) -> list:
        return [o["ms"] for o in self._timed_ok(cls, traced)]

    def _typed_p50(self, cls: str, traced=False, latency=lambda o: o["ms"]) -> float:
        """Mean over operation types of each type's median latency: every
        query type of a mix weighs the same, and the figure does not jump
        between the modes of a mix of fast and slow types."""
        by: dict = {}
        for o in self._timed_ok(cls, traced):
            by.setdefault(o["kind"], []).append(latency(o))
        return statistics.fmean(pct(v, 50) for v in by.values()) if by else 0.0

    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    def client_metrics(self, primary: str, rows_per_write: float) -> dict:
        """Client-side figures from untraced timed operations. ``primary``
        is the class whose latency is the workload's op latency. The
        ``_at_ref`` figures are at the reference box's speed (see
        reference.py); the timed phase leaves out reference samples."""
        secs = self.t_end - self.t_start - self.reference.total_s
        untraced = [o for o in self.ops if o["timed"] and not o["traced"] and "ms" in o]
        busy_at_ref = sum(at_ref(o) for o in untraced) / 1e3
        timed = [o for o in self.ops if o["timed"] and not o.get("failed")]
        reads, writes = self._lat("read"), self._lat("write")
        maint = self._lat("maintenance")
        prim = self._lat(primary)
        n_primary = sum(1 for o in timed if o["cls"] == primary)
        n_writes = sum(1 for o in timed if o["cls"] == "write")
        return {
            "op_p50_ms_at_ref": self._typed_p50(primary, latency=at_ref),
            "ops_per_s_at_ref": len(self._timed_ok(primary)) / busy_at_ref,
            "op_p50_ms": self._typed_p50(primary),
            "reference_p50_ms": self.reference.p50_ms(),
            "reference_samples": len(self.reference.samples),
            "op_p90_ms": pct(prim, 90),
            "ops_per_s": n_primary / secs,
            "op_samples": len(prim),
            "read_p50_ms": pct(reads, 50),
            "read_p90_ms": pct(reads, 90),
            "write_p50_ms": pct(writes, 50),
            "write_p90_ms": pct(writes, 90),
            "maintenance_p50_ms": pct(maint, 50),
            "ingest_rows_per_s": n_writes * rows_per_write / secs,
            "error_rate": self.failed / max(1, self.attempted()),
            "timed_seconds": secs,
        }

    def layer_metrics(self, primary: str) -> dict:
        """Per-layer figures from the traced timed operations."""
        tr = self.tracer
        ops = [o for o in self.ops if o["traced"] and not o.get("failed")]
        ids = {o["op"] for o in ops}
        n = max(1, len(ops))
        spans = [s for s in tr.spans if s.op in ids and s.end is not None]
        byid = {s.sid: s for s in tr.spans}

        def durs(layer, *names, outermost=False):
            out = []
            for s in spans:
                if s.layer != layer or (names and s.name not in names):
                    continue
                if outermost and s.parent is not None and byid[s.parent].layer == layer:
                    continue
                out.append((s.end - s.start) * 1e3)
            return out

        self_ms = tr.self_ms()
        cat_reads = [s for s in spans if s.layer == "catalog" and s.name == "read"]
        cat_writes = [s for s in spans if s.layer == "catalog" and s.name != "read"]
        reads = [o for o in ops if "rows" in o]
        writes = [o for o in ops if "files_written" in o]
        sp = [o["spark"] for o in ops]
        # compression runs in set-up for tsbs_read: counted over the whole run
        comp = [
            s for s in tr.spans
            if s.layer == "compression" and s.end is not None
            and (s.parent is None or byid[s.parent].layer != "compression")
        ]
        comp_chunks = sum(s.info.get("chunks", 0) for s in comp)
        comp_after = sum(s.info.get("after", 0) for s in comp)
        refreshes = [s for s in spans if s.layer == "caggs" and s.name == "refresh"]
        ticks = [s for s in spans if s.name == "run_pending"]
        runs = [s for s in spans if s.name == "run_job"]
        trac, untr = self._typed_p50(primary, traced=True), self._typed_p50(primary)
        return {
            "catalog.read_calls_per_op": len(cat_reads) / n,
            "catalog.write_calls_per_op": len(cat_writes) / n,
            "catalog.busy_ms_per_op": sum(
                v for (op, layer), v in self_ms.items() if op in ids and layer == "catalog"
            ) / n,
            "catalog.cache_hit_ratio": (
                1 - sum(1 for s in cat_reads if s.info.get("parsed")) / len(cat_reads)
                if cat_reads else 0.0
            ),
            "sqlapi.plan_ms_p50": pct(durs("sqlapi", "ts_sql"), 50),
            "spark.exec_ms_p50": pct([o["spark"]["busy_ms"] for o in ops], 50),
            "spark.jobs_per_op": sum(s["jobs"] for s in sp) / n,
            "spark.stages_per_op": sum(s["stages"] for s in sp) / n,
            "spark.tasks_per_op": sum(s["tasks"] for s in sp) / n,
            "hypertable.read_ms_p50": pct(durs("hypertable", "read"), 50),
            "hypertable.chunks_scanned_ratio": (
                sum(o["scanned_dirs"] for o in reads) / max(1, sum(o["total_dirs"] for o in reads))
            ),
            "hypertable.rows_scanned_per_row_returned": (
                sum(o["spark"]["input_records"] for o in reads)
                / max(1, sum(o["rows"] for o in reads))
            ),
            "hypertable.insert_ms_p50": pct(durs("hypertable", "insert"), 50),
            "hypertable.files_written_per_insert": (
                sum(o["files_written"] for o in writes) / max(1, len(writes))
            ),
            "compression.compress_ms_per_chunk": (
                sum((s.end - s.start) * 1e3 for s in comp) / comp_chunks if comp_chunks else 0.0
            ),
            "compression.bytes_ratio": (
                sum(s.info.get("before", 0) for s in comp) / comp_after if comp_after else 0.0
            ),
            "caggs.refresh_ms_p50": pct([(s.end - s.start) * 1e3 for s in refreshes], 50),
            "caggs.ranges_per_refresh": (
                statistics.fmean(s.info.get("ranges", 0) for s in refreshes) if refreshes else 0.0
            ),
            "caggs.serve_ms_p50": pct(durs("caggs", "read", "quantiles", outermost=True), 50),
            "jobs.tick_ms_p50": pct([(s.end - s.start) * 1e3 for s in ticks], 50),
            "jobs.runs_per_tick": len(runs) / len(ticks) if ticks else 0.0,
            "jobs.failures": sum(1 for s in runs if not s.info.get("ok")),
            "operators.gapfill_ms_p50": pct(durs("operators"), 50),
            "trace.overhead_ms_p50": trac - untr if trac and untr else 0.0,
            "client.read_p50_ms": pct(self._lat("read"), 50),
            "client.write_p50_ms": pct(self._lat("write"), 50),
            "client.maintenance_p50_ms": pct(self._lat("maintenance"), 50),
        }
