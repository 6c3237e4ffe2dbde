#!/usr/bin/env python
"""Plan cost of the benchmark's read statements: py4j round trips and
Spark jobs started while a statement is planned (before ``collect()``),
and for the cagg reads also the Spark jobs ``collect()`` runs.

``--workload tsbs_read`` (default) builds perfbench's ``tsbs_read``
hypertable (40 hosts x 12 h at 10 s, 1-hour chunks x 4 ``hostname``
space partitions, all compressed) in a temp dir, plans each query type
a few times (first pass warms the scan relation), and prints one JSON
line per query type with the round trips and jobs of its last planning,
then a summary line.

``--workload cagg_realtime`` runs perfbench's ``cagg_realtime`` set-up
(a week of readings, an hourly realtime cagg with max/avg/count and a
DDSketch, refreshed, plus the warm-up appends and refresh-policy tick)
and one more append above the watermark, then prints the same figures
for its two reads — ``daily_max`` (``ts.sql`` over the cagg) and
``daily_p95`` (``quantiles([0.95], grain="1 day")``) — and for the same
p95 in SQL through the rollup route, ``sql_p95``
(``approx_percentile(0.95, rollup(sk_user))`` by day and hostname) and
``sql_p95_rank`` (plus ``approx_percentile_rank(50, rollup(sk_user))``),
plus ``collect_jobs`` and Spark's own ``analysis_ms`` and
``optimization_ms`` (``queryExecution().tracker()``, median over the
reps). Then it runs the
refresh-policy tick of the next iteration — a 2-range refresh (the
hour just completed and the late batch) — and prints its Spark jobs, py4j
round trips, ms and ranges as the ``refresh_tick`` row.

Usage:
    python scripts/plan_cost.py [--workload W] [--seed N] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))


class RoundTrips:
    """Counts py4j commands this thread sends to the JVM (py4j's own
    thread that releases garbage-collected objects is not counted)."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0
        owner = threading.get_ident()
        orig = self.client.send_command

        def counting(*a, **kw):
            if threading.get_ident() == owner:
                self.n += 1
            return orig(*a, **kw)

        self.client.send_command = counting


def main(argv) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--workload", choices=("tsbs_read", "cagg_realtime"), default="tsbs_read"
    )
    args = ap.parse_args(argv)
    if args.workload == "cagg_realtime":
        return cagg_realtime(args)

    import numpy as np
    import pyarrow.parquet as pq

    from queries import QUERY_TYPES, query_pair
    from tsbs import EPOCH_US, CpuGenerator, US
    from timescaledb_spark import TSSession, build_spark
    from timescaledb_spark.compression import compress_chunks, enable_columnstore

    spark = build_spark(app_name="ts_plan_cost")
    root = tempfile.mkdtemp(prefix="ts_plan_cost_")
    ts = TSSession(spark, root)
    gen = CpuGenerator(args.seed, hosts=40, step_s=10)
    t_hi = EPOCH_US + 12 * 3600 * US
    ht = ts.create_hypertable(
        "cpu", "time", chunk_interval="1 hour", space_column="hostname",
        num_partitions=4,
    )
    batch = os.path.join(root, "batch.parquet")
    pq.write_table(gen.rows(EPOCH_US, t_hi), batch)
    ht.insert(spark.read.parquet(batch))
    enable_columnstore(ht, segmentby=["hostname"], orderby=[("time", "desc")])
    compress_chunks(ht)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rt = RoundTrips(spark)
    rng = np.random.default_rng(args.seed)
    out = {}
    for _ in range(args.reps):
        for kind in QUERY_TYPES:
            sql, _ = query_pair(kind, rng, gen.hostnames, EPOCH_US, t_hi)
            jobs0 = max(tracker.getJobIdsForGroup(None), default=-1)
            n0 = rt.n
            df = ts.sql(sql)
            trips = rt.n - n0
            jobs = [j for j in tracker.getJobIdsForGroup(None) if j > jobs0]
            out[kind] = {"query": kind, "py4j_round_trips": trips, "plan_jobs": len(jobs)}
            df.collect()
    for row in out.values():
        print(json.dumps(row))
    print(json.dumps({
        "max_plan_jobs": max(r["plan_jobs"] for r in out.values()),
        "max_round_trips_non_gapfill": max(
            r["py4j_round_trips"] for k, r in out.items() if k != "gapfill-locf"
        ),
        "gapfill_round_trips": out["gapfill-locf"]["py4j_round_trips"],
    }))
    spark.stop()
    return 0


class _NoReference:
    """perfbench's host-speed reference, unused outside the timed loop."""

    samples: list = []

    def sample(self) -> float:
        return 0.0


def _phase_ms(df, phase: str) -> float:
    """Duration of one planning phase of ``df``'s query, from Spark's
    ``QueryPlanningTracker``."""
    got = df._jdf.queryExecution().tracker().phases().get(phase)
    return float(got.get().durationMs()) if got.isDefined() else 0.0


def cagg_realtime(args) -> int:
    import time

    from harness import Harness
    from queries import MIN_US
    from tsbs import US
    from workloads import DAILY_MAX, CaggRealtime

    from timescaledb_spark.caggs import ContinuousAggregate

    from timescaledb_spark import TSSession, build_spark

    spark = build_spark(app_name="ts_plan_cost")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="ts_plan_cost_")
    ts = TSSession(spark, os.path.join(root, "root"))
    w = CaggRealtime(
        spark, ts, Harness(ts, _NoReference()), args.seed, 13, os.path.join(root, "data")
    )
    w.setup()
    w.insert(w.ht, 1 + w.WARMUP, "append")
    p95 = (
        "SELECT time_bucket('1 day', bucket) AS day, hostname, "
        "approx_percentile(0.95, rollup(sk_user)) AS p95{} "
        "FROM cpu_hourly GROUP BY day, hostname"
    )
    reads = {
        "daily_max": lambda: ts.sql(DAILY_MAX),
        "daily_p95": lambda: w.cagg.quantiles([0.95], grain="1 day", realtime=True),
        "sql_p95": lambda: ts.sql(p95.format("")),
        "sql_p95_rank": lambda: ts.sql(
            p95.format(", approx_percentile_rank(50, rollup(sk_user)) AS r50")
        ),
    }
    tracker = spark.sparkContext.statusTracker()
    rt = RoundTrips(spark)

    def jobs_since(j0):
        return len([j for j in tracker.getJobIdsForGroup(None) if j > j0])

    out, phases = {}, {}
    for _ in range(args.reps):
        for name, plan in reads.items():
            j0 = max(tracker.getJobIdsForGroup(None), default=-1)
            n0 = rt.n
            df = plan()
            trips, plan_jobs = rt.n - n0, jobs_since(j0)
            j1 = max(tracker.getJobIdsForGroup(None), default=-1)
            rows = len(df.collect())
            for ph in ("analysis", "optimization"):
                phases.setdefault((name, ph), []).append(_phase_ms(df, ph))
            out[name] = {
                "query": name,
                "py4j_round_trips": trips,
                "plan_jobs": plan_jobs,
                "collect_jobs": jobs_since(j1),
                "rows": rows,
                **{f"{ph}_ms": statistics.median(phases[name, ph]) for ph in ("analysis", "optimization")},
            }
    ranges = []
    refresh = ContinuousAggregate.refresh

    def counted(self, *a, **kw):
        done = refresh(self, *a, **kw)
        ranges.append(len(done))
        return done

    ContinuousAggregate.refresh = counted
    now = (w.t_end + (w.WARMUP + 1) * w.APPEND_MIN * MIN_US) / US
    j0, n0, t0 = max(tracker.getJobIdsForGroup(None), default=-1), rt.n, time.perf_counter()
    ts.jobs.run_pending(now=now)
    out["refresh_tick"] = {
        "query": "refresh_tick",
        "spark_jobs": jobs_since(j0),
        "py4j_round_trips": rt.n - n0,
        "ms": round((time.perf_counter() - t0) * 1e3, 1),
        "ranges": ranges,
    }
    ContinuousAggregate.refresh = refresh
    for row in out.values():
        print(json.dumps(row))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
