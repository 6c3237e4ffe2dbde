#!/usr/bin/env python
"""Plan cost of the TSBS dashboard statements: py4j round trips and
Spark jobs per ``ts.sql`` call, before any ``collect()``.

Builds perfbench's ``tsbs_read`` hypertable (40 hosts x 12 h at 10 s,
1-hour chunks x 4 ``hostname`` space partitions, all compressed) in a
temp dir, plans each query type a few times (first pass warms the scan
relation), and prints one JSON line per query type with the round
trips and jobs of its last planning, then a summary line.

Usage:
    python scripts/plan_cost.py [--seed N] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
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
    args = ap.parse_args(argv)

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


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
