"""Benchmark entry point.

    python3 perfbench/run.py --workload tsbs_read --seed 1 --seconds 13 --trace 0

Run from the root of a source checkout. Starts a local Spark session on
every core this process may use, makes the workload's inputs from the
seed, sets up, measures a closed loop for ``--seconds`` seconds with a
host-speed reference sample after every operation (see reference.py),
checks the results, and prints one JSON object as the last line of standard
output: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. Exits 1 when a correctness check failed, 2 when the
engine sources are missing, 3 on timeout.

Everything the run writes stays under ``.perfbench/`` in the checkout:
the run's catalog root and inputs (deleted at the end) and one result
record per run in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170
# (name, unit) of the end-to-end metrics, printed with --trace 0
E2E = (
    ("setup_s", "s"),
    ("op_p50_ms_at_ref", "ms"),
    ("ops_per_s_at_ref", "1/s"),
    ("stored_bytes_per_row", "B/row"),
    ("memory_mb", "MB"),
)
def layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if "_ms" in name:
        return "ms"
    if name.endswith("ratio") or name.endswith("per_row_returned"):
        return "ratio"
    return "B" if name.startswith("storage.bytes") else "count"


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def pin_environment(work: str) -> int:
    """Same settings on every run: all usable cores, a bounded driver
    heap, UTC, and every scratch directory inside the checkout."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()
    return ncpu


def jvm_memory(spark) -> tuple[int, int]:
    """(peak RSS, heap in use after a full GC) of the JVM, bytes. Peak RSS
    follows the collector's timing from run to run; the live heap does
    not, so the printed metric uses the latter."""
    jvm = spark.sparkContext._jvm
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
        peak = next(int(line.split()[1]) * 1024 for line in f if line.startswith("VmHWM:"))
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return peak, rt.totalMemory() - rt.freeMemory()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()  # later finalizers must not call into the exited JVM
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "timescaledb_spark")):
        print(f"error: no engine sources (timescaledb_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    t_setup = time.perf_counter()
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ncpu = pin_environment(work)

    import pyspark

    from harness import Harness, dir_bytes, parquet_files
    from reference import Reference
    from timescaledb_spark import TSSession, build_spark
    from tracer import Tracer

    spark = build_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:TieredStopAtLevel=1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    code = 0
    try:
        root = os.path.join(work, "root")
        ts = TSSession(spark, root)
        tracer = Tracer(spark) if args.trace else None
        h = Harness(ts, Reference(spark, os.path.join(work, "reference")), tracer)
        w = WORKLOADS[args.workload](spark, ts, h, args.seed, args.seconds, os.path.join(work, "data"))
        if tracer:
            tracer.enable()  # set-up compression is traced too (see harness)
            tracer.op = "setup"
        w.setup()
        if tracer:
            tracer.disable()
        setup_s = time.perf_counter() - t_setup
        h.start_timed()
        w.timed()
        h.stop_timed()
        w.verify()

        rows = w.rows_ingested()
        stored = dir_bytes(root)
        py_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
        jvm_peak, jvm_live = jvm_memory(spark)
        client = h.client_metrics(w.primary, w.rows_per_write)
        client["peak_rss_mb"] = (py_peak + jvm_peak) / 2**20
        e2e = {
            "setup_s": setup_s,
            "op_p50_ms_at_ref": client["op_p50_ms_at_ref"],
            "ops_per_s_at_ref": client["ops_per_s_at_ref"],
            "stored_bytes_per_row": stored / max(1, rows),
            "memory_mb": (py_peak + jvm_live) / 2**20,
        }
        correct = h.failed == 0  # a failed check counts as failed too
        if tracer:
            data = os.path.join(root, "data")
            chunk_dirs = {
                os.path.join(d, c) for d, dirs, _ in os.walk(data) for c in dirs if c.startswith("_chunk=")
            }
            layers = h.layer_metrics(w.primary)
            layers["storage.files_per_chunk"] = len(parquet_files(data)) / max(1, len(chunk_dirs))
            layers["storage.bytes_on_disk"] = stored
            layers["client.op_p50_ms"] = client["op_p50_ms"]
            layers["client.ops_per_s"] = client["ops_per_s"]
            layers["reference.p50_ms"] = client["reference_p50_ms"]
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "git_commit": git_commit(),
            "nproc": ncpu,
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
            "rows_ingested": rows,
            "raw_bytes": w.files.raw_bytes,
            "client": client,
            "checks": h.checks,
            "ops": [
                {k: o[k] for k in ("kind", "cls", "timed", "traced", "ms", "ref_ms", "failed") if k in o}
                for o in h.ops
            ],
            "correct": correct,
            "attempted": h.attempted(),
            "failed": h.failed,
            "metrics": metrics,
        }
        stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
        results = os.path.join(OUT, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, stamp + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        if tracer:
            tracer.write(os.path.join(results, stamp + "-spans.jsonl"))
        if not correct:
            code = 1
    finally:
        signal.alarm(0)
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {"correct": correct, "attempted": h.attempted(), "failed": h.failed, "metrics": metrics}
        )
    )
    return code


if __name__ == "__main__":
    try:
        sys.exit(main())
    except TimeoutError as e:
        print(f"error: {e}", file=sys.stderr)
        sys.exit(3)
