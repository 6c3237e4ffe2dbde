"""Deterministic streaming replay of a parquet table with watermark
heartbeats.

Append-mode streaming aggregates emit a window/session only when the
watermark passes its end — and a watermark only advances on a LATER
micro-batch, so a finite replay would leave the final windows unemitted
forever. The fix mirrors an idle-source watermark tick: append
``n_heartbeats`` far-future sentinel rows, one file each, so under
``maxFilesPerTrigger=1`` every heartbeat is its own micro-batch. Two
ticks flush everything: tick 1 closes all but the last real window,
tick 2 closes the rest. Sentinel rows carry ``event_type='_sentinel'``
and their own windows never close, so filtering them out of the sink
yields exactly the batch answer.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

SENTINEL = "_sentinel"
_SENT_NS = 4102444800 * 1_000_000_000  # 2100-01-01
_DAY_NS = 86_400 * 1_000_000_000

#: staged replay dirs by (source path, n_heartbeats) — reused across
#: calls and removed at interpreter exit
_REPLAY_DIRS: dict = {}


def _cleanup_replay_dirs() -> None:  # pragma: no cover — atexit hook
    for d in _REPLAY_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)
    _REPLAY_DIRS.clear()


import atexit  # noqa: E402

atexit.register(_cleanup_replay_dirs)


#: inferred staged-file schema per replay dir — inference is a
#: footer-sampling Spark job (~0.1s), so one inference serves every
#: later gate run; stamped with the staged file's own parquet schema
#: (a local footer read), so a dir re-staged at the same path from
#: another schema is re-inferred — staging pins the file's mtime and
#: a restage may keep its size, so neither can stamp it
_REPLAY_SCHEMAS: dict = {}


def _read_replay_dir(spark: SparkSession, tmp: str, src: str) -> DataFrame:
    """Build the streaming frame over an already-staged replay dir."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import pyarrow.parquet as papq

    part = os.path.join(tmp, "part-000.parquet")
    stamp = papq.read_schema(part)
    hit = _REPLAY_SCHEMAS.get(tmp)
    if hit is None or not hit[0].equals(stamp, check_metadata=True):
        hit = (stamp, spark.read.parquet(part).schema)
        _REPLAY_SCHEMAS[tmp] = hit
    schema = hit[1]
    ts_is_ns = {
        f.name: f.dataType.simpleString() for f in schema.fields
    }.get("ts") == "bigint"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp)
    )
    if ts_is_ns:
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        sdf = sdf.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return sdf.select(*[f.name for f in schema.fields])


def heartbeat_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    n_heartbeats: int = 2,
) -> DataFrame:
    """readStream over ``<sf_dir>/<table>.parquet`` plus heartbeat files,
    one micro-batch per file (data first, then each heartbeat). Returns
    the stream with ``ts`` converted to µs TimestampType, sentinel rows
    included (filter ``event_type != SENTINEL`` after aggregating)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    src = os.path.join(sf_dir, f"{table}.parquet")
    # the staged dir (a full copy of the source file) is reused across
    # calls for the same source and removed at interpreter exit —
    # without this every gate run leaked a copy of the table into /tmp
    cache_key = (os.path.abspath(src), n_heartbeats)
    cached = _REPLAY_DIRS.get(cache_key)
    if cached and os.path.isdir(cached):
        tmp = cached
        return _read_replay_dir(spark, tmp, src)
    tmp = tempfile.mkdtemp(prefix="ts_replay_")
    _REPLAY_DIRS[cache_key] = tmp
    shutil.copy(src, os.path.join(tmp, "part-000.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # heartbeat files are written driver-side with pyarrow at the DATA
    # file's physical schema — no Spark write jobs in the hot path
    arrow_schema = papq.read_schema(src)

    def sentinel_value(field, ts_ns_val):
        t = field.type
        if field.name == "ts":
            if pa.types.is_timestamp(t):
                unit = t.unit
                div = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[unit]
                return pa.scalar(ts_ns_val // div, type=t)
            return pa.scalar(ts_ns_val, type=t)  # stored as int64 ns
        if field.name == "event_type":
            return pa.scalar(SENTINEL, type=t)
        if pa.types.is_integer(t):
            return pa.scalar(-1, type=t)
        if pa.types.is_floating(t):
            return pa.scalar(0.0, type=t)
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return pa.scalar("", type=t)
        return pa.scalar(None, type=t)

    for i in range(1, n_heartbeats + 1):
        ts_ns_val = _SENT_NS + (i - 1) * _DAY_NS
        cols = [
            pa.array([sentinel_value(f, ts_ns_val)], type=f.type)
            for f in arrow_schema
        ]
        dst = os.path.join(tmp, f"part-{i:03d}.parquet")
        papq.write_table(
            pa.Table.from_arrays(cols, schema=arrow_schema),
            dst,
            version="2.6",  # keep ns timestamps ns, matching the data file
        )
        # FileStreamSource orders batches by mtime: data, then heartbeats
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
    os.utime(
        os.path.join(tmp, "part-000.parquet"),
        (1_000_000_000, 1_000_000_000),
    )
    return _read_replay_dir(spark, tmp, src)


def run_to_memory_sink(
    agg: DataFrame, sink_name: str, state_partitions: int = 8
) -> None:
    """Drive an append-mode streaming frame to a memory sink under
    availableNow and wait for completion.

    Stateful streaming creates one state store per shuffle partition
    per micro-batch; the replay runs 3 micro-batches, so the batch-mode
    partition count (sized for table scans) triples its per-partition
    state overhead here. Temporarily lower it for the stream — this is
    harness-local tuning; a production stream sizes partitions to state
    volume, not to this conf's batch default."""
    spark = agg.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
