"""Lifecycle-operator queries for the driver correctness gate.

Round-1 verdict: retention, upsert, update/delete, chunk surgery,
recompression, and streaming replay were pytest-only — implemented and
oracle-tested, but invisible to the driver's CORRECTNESS gate. Each query
here runs the actual lifecycle operation on a scratch hypertable built
from the sf parquet tables, then returns an aggregation whose DuckDB
oracle is plain SQL over the same tables (reference test parity:
``test/sql/update.sql``, ``upsert.sql``, ``tsl/test/sql/merge_chunks.sql``,
``recompress_chunk_segmentwise.sql``, ``bgw_policy.sql``).

Every scratch hypertable uses 7-day chunks on the epoch-aligned grid
(``range_start = ts_us - ts_us % week_us``), so chunk boundaries are
compile-time constants the oracle SQL can encode.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import time_bucket
from .queries import DAY, WEEK, _bucket_sql, query
from .sources import load_table

_US = 1_000_000


def _epoch_us(iso_date: str) -> int:
    from datetime import datetime, timezone

    return int(
        datetime.fromisoformat(iso_date).replace(tzinfo=timezone.utc).timestamp()
    ) * _US


def _grid_floor(us: int, width: int = WEEK) -> int:
    return us - us % width


def _scratch(spark: SparkSession, prefix: str):
    from .session import TSSession

    return TSSession(spark, tempfile.mkdtemp(prefix=prefix))


_DAILY_AGG = "count(*) AS n, sum(value) AS sum_v"


def _daily(df: DataFrame) -> DataFrame:
    return df.groupBy(time_bucket("1 day", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v")
    )


# ---------------------------------------------------------------------------
# retention: drop_chunks (sql/ddl_api.sql:89; tsl/test/sql/bgw_policy.sql)
# ---------------------------------------------------------------------------

_RETAIN_CUT = "2024-01-16"
#: drop_chunks(older_than=CUT) drops chunks with range_end <= CUT; the
#: surviving prefix therefore starts at the epoch-week floor of CUT.
_RETAIN_FLOOR = _grid_floor(_epoch_us(_RETAIN_CUT))


@query(
    "q_retention",
    f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket, {_DAILY_AGG}
    FROM events
    WHERE epoch_us(ts) >= {_RETAIN_FLOOR}
    GROUP BY 1
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention: ingest events, drop_chunks(older_than='2024-01-16'),
    aggregate the survivors. Whole-chunk directory drops, never row
    deletes (hypertable.py drop_chunks; sql/ddl_api.sql:89)."""
    ts = _scratch(spark, "ts_retention_")
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    ht.drop_chunks(older_than=_RETAIN_CUT)
    return _daily(ht.read())


# ---------------------------------------------------------------------------
# upsert (test/sql/upsert.sql; src/nodes/modify_hypertable.c)
# ---------------------------------------------------------------------------

@query(
    "q_upsert",
    f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket,
           count(*) AS n,
           sum(CASE WHEN event_id % 10 = 0 THEN value + 1000 ELSE value END) AS sum_v
    FROM events
    GROUP BY 1
    """,
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert: re-send every 10th event with value+1000; keyed replace on
    event_id must leave counts identical and shift sums exactly."""
    ts = _scratch(spark, "ts_upsert_")
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ht.insert(ev)
    changed = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    ht.upsert(changed, keys=["event_id"])
    return _daily(ht.read())


# ---------------------------------------------------------------------------
# update + delete (test/sql/update.sql, delete.sql)
# ---------------------------------------------------------------------------

_UPD_LO, _UPD_HI = "2024-01-05", "2024-01-12"
_DEL_LO, _DEL_HI = "2024-01-20 03:00:00", "2024-01-25 09:00:00"


@query(
    "q_update_delete",
    f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket,
           count(*) AS n,
           sum(CASE WHEN event_type = 'click'
                     AND epoch_us(ts) >= {_epoch_us(_UPD_LO)}
                     AND epoch_us(ts) < {_epoch_us(_UPD_HI)}
                    THEN value * 2 ELSE value END) AS sum_v
    FROM events
    WHERE NOT (epoch_us(ts) >= {_epoch_us(_DEL_LO.replace(' ', 'T'))}
               AND epoch_us(ts) < {_epoch_us(_DEL_HI.replace(' ', 'T'))})
    GROUP BY 1
    """,
)
def q_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE .. WHERE over a chunk-pruned window (doubles click values),
    then DELETE of an off-grid time range (partial chunks rewritten with
    the complement predicate, full chunks dropped as directories)."""
    ts = _scratch(spark, "ts_upddel_")
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    ht.update_where(
        {"value": "value * 2"},
        f"event_type = 'click' AND ts >= '{_UPD_LO}' AND ts < '{_UPD_HI}'",
        start=_UPD_LO,
        end=_UPD_HI,
    )
    from .hypertable import _to_internal

    ht.delete_range(_to_internal(_DEL_LO), _to_internal(_DEL_HI))
    return _daily(ht.read())


# ---------------------------------------------------------------------------
# SQL MERGE (tsl/test/sql/cagg_query_using_merge.sql; ON CONFLICT arbiter
# in src/nodes/modify_hypertable.c)
# ---------------------------------------------------------------------------

@query(
    "q_sql_merge",
    f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket, count(*) AS n, sum(v) AS sum_v
    FROM (
        SELECT ts, value + CASE WHEN event_id % 7 = 0 THEN 100 ELSE 0 END AS v
        FROM events
        UNION ALL
        SELECT ts, value AS v FROM events WHERE event_id % 11 = 0
    ) merged
    GROUP BY 1
    """,
)
def q_sql_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE INTO a hypertable: every 7th event matched (UPDATE SET
    value = t.value + s.value with s.value = 100), every 11th re-sent
    under a fresh event_id (NOT MATCHED -> INSERT *). Routed through
    Hypertable.merge_into — chunk-local full-outer merge, dynamic
    partition overwrite of hit chunks only."""
    ts = _scratch(spark, "ts_sqlmerge_")
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ht.insert(ev)
    src = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "value", F.lit(100.0)
    ).unionByName(
        ev.filter(F.col("event_id") % 11 == 0).withColumn(
            "event_id", F.col("event_id") + F.lit(10_000_000)
        )
    )
    src.createOrReplaceTempView("merge_src")
    ts.sql(
        """
        MERGE INTO events t USING merge_src s
        ON t.ts = s.ts AND t.event_id = s.event_id
        WHEN MATCHED THEN UPDATE SET value = t.value + s.value
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    return _daily(ht.read())


# ---------------------------------------------------------------------------
# merge_chunks + split_chunk (tsl/test/sql/merge_chunks.sql, chunk_utils)
# ---------------------------------------------------------------------------

@query(
    "q_merge_split_roundtrip",
    f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket, {_DAILY_AGG}
    FROM events
    GROUP BY 1
    """,
)
def q_merge_split_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk surgery invariant: merge the first two chunks, split another
    at an off-grid instant — row contents (and thus any aggregate) must
    be unchanged, and reads must route through the irregular slices."""
    from .chunkops import merge_chunks, split_chunk

    ts = _scratch(spark, "ts_surgery_")
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    chunks = sorted(ht.chunks(), key=lambda c: c["range_start"])
    merge_chunks(ht, [chunks[0]["range_start"], chunks[1]["range_start"]])
    split_chunk(ht, chunks[3]["range_start"], at="2024-01-20 12:00:00")
    return _daily(ht.read())


# ---------------------------------------------------------------------------
# recompress after append-to-compressed (recompress_chunk_segmentwise.sql)
# ---------------------------------------------------------------------------

@query(
    "q_recompress",
    f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket, {_DAILY_AGG}
    FROM events
    GROUP BY 1
    """,
)
def q_recompress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compress-append-recompress: ingest 6/7 of events, convert every
    chunk to columnstore, append the held-back 1/7 (landing inside the
    compressed ranges → chunks drop to rowstore), recompress them, and
    aggregate — equal to aggregating all events."""
    from .compression import compress_chunks, enable_columnstore, recompress_chunk

    ts = _scratch(spark, "ts_recompress_")
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ht.insert(ev.filter(F.col("event_id") % 7 != 3))
    enable_columnstore(ht, segmentby=["event_type"], orderby=["ts"])
    compress_chunks(ht)
    ht.insert(ev.filter(F.col("event_id") % 7 == 3))
    for c in ht.chunks():
        if c["status"] != "columnstore":
            recompress_chunk(ht, c)
    return _daily(ht.read())


# ---------------------------------------------------------------------------
# streaming replay idempotency (SURVEY §2.8; tsl streaming ingest path)
# ---------------------------------------------------------------------------

@query(
    "q_stream_replay",
    f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket, {_DAILY_AGG}
    FROM events
    GROUP BY 1
    """,
)
def q_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest: batch 1 is processed twice with the same
    batch_id (a foreachBatch crash-replay) — the second call must be
    skipped, or counts would double. Batches partition events by id."""
    from .streaming import StreamIngest

    ts = _scratch(spark, "ts_replay_")
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ingest = StreamIngest(ht, checkpoint_dir=tempfile.mkdtemp(prefix="ckpt_"))
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    ingest.process_batch(b1, 1)
    replay = ingest.process_batch(b1, 1)
    assert replay.get("replayed"), "replayed batch must be skipped"
    ingest.process_batch(b2, 2)
    return _daily(ht.read())


# ---------------------------------------------------------------------------
# join through compressed chunks (tsl/test/shared/sql/decompress_join.sql)
# ---------------------------------------------------------------------------

_DJ_LO, _DJ_HI = "1996-01-01", "1998-01-01"


@query(
    "q_decompress_join",
    f"""
    SELECT p.p_brand AS brand,
           count(*) AS n,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '{_DJ_LO}'
      AND l.l_shipdate <  TIMESTAMP '{_DJ_HI}'
    GROUP BY p.p_brand
    """,
)
def q_decompress_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable ⋈ plain table under transparent decompression
    (tsl/test/shared/sql/decompress_join.sql): ingest lineitem as a
    hypertable on l_shipdate, convert every chunk to columnstore, then
    time-filter + broadcast-join the part dimension and aggregate. Chunk
    exclusion must skip chunks outside [lo, hi) BEFORE any decompression
    — pruning happens on catalog ranges, so compressed chunks never even
    get their footers read when excluded."""
    from .compression import compress_chunks, enable_columnstore

    ts = _scratch(spark, "ts_djoin_")
    ht = ts.create_hypertable("lineitem", "l_shipdate", chunk_interval="180 days")
    ht.insert(load_table(spark, sf_dir, "lineitem"))
    enable_columnstore(ht, segmentby=["l_returnflag"], orderby=["l_shipdate"])
    compress_chunks(ht)
    part = load_table(spark, sf_dir, "part")
    li = ht.read(start=_DJ_LO, end=_DJ_HI)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).cast("double").alias("revenue"),
        )
    )


@query(
    "q_alter_schema",
    """
    SELECT CASE WHEN event_id % 3 = 2 THEN 'x' || event_type ELSE 'eu' END AS site,
           count(*) AS n,
           sum(value) AS sum_v
    FROM events
    GROUP BY 1
    """,
)
def q_alter_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMN mid-stream (src/process_utility.c DDL
    propagation; PG fast-default semantics): a third of the rows land
    before the ALTER (files lack the column → reads fill the default),
    a third after it without the column (insert conformance fills the
    default into the files), a third with explicit values. The final
    aggregation groups by the evolved column across all three file
    generations — one scan, no chunk was ever rewritten for the ALTER."""
    from .session import TSSession

    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_alter_"))
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ht.insert(ev.filter(F.col("event_id") % 3 == 0))
    ht.add_column("site", "string", default="eu")
    ht.insert(ev.filter(F.col("event_id") % 3 == 1))
    ht.insert(
        ev.filter(F.col("event_id") % 3 == 2).withColumn(
            "site", F.concat(F.lit("x"), F.col("event_type"))
        )
    )
    return (
        ht.read()
        .groupBy("site")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"))
    )


# ---------------------------------------------------------------------------
# Structured Streaming windowed aggregation (SURVEY §2.8 low-latency tier)
# ---------------------------------------------------------------------------

@query(
    "q_stream_windowed",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(value) AS sum_v
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming query end-to-end, in the
    SCALE-CORRECT output mode: readStream over the events parquet ->
    watermarked 1-day tumbling windowed_agg -> memory sink in APPEND
    mode under availableNow. Complete mode would rematerialize ALL
    window state every trigger — unbounded at 100 TB; append emits each
    window exactly once, when the watermark closes it (watermark
    heartbeats flush the tail — see streaming/replay.py). The sink then
    holds every real window exactly once and must equal the batch
    oracle (SURVEY §2.8: tumbling windows == time_bucket)."""
    import uuid as _uuid

    from .streaming.replay import (
        SENTINEL,
        heartbeat_stream,
        run_to_memory_sink,
    )
    from .streaming.windows import windowed_agg

    sdf = heartbeat_stream(spark, sf_dir, "events")
    agg = windowed_agg(
        sdf, "ts",
        {"n": "cast(count(1) as bigint)", "sum_v": "sum(value)"},
        window="1 day", group_by=("event_type",), watermark="1 hour",
    )
    sink = f"stream_win_{_uuid.uuid4().hex[:8]}"
    run_to_memory_sink(agg, sink)
    return spark.table(sink).filter(
        F.col("event_type") != SENTINEL
    ).select(
        F.col("win_start").alias("bucket"), "event_type", "n", "sum_v"
    )


@query(
    "q_stream_sessions",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 3 DAY
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 3 DAY AS session_end,
           CAST(count(*) AS BIGINT) AS n,
           sum(value) AS sum_v
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSIONIZATION via Spark's built-in session_window —
    events separated by more than the gap open a new session; a session
    closes (and emits, append mode) when the watermark passes last_event
    + gap. The DuckDB oracle is the classic batch gaps-and-islands
    rewrite (lag > gap -> break, running sum -> session id), proving
    the streaming operator computes exactly the batch sessions on fully
    replayed data. Built-in operator, no custom state — the Spark-first
    shape for session windows."""
    import uuid as _uuid

    from .streaming.replay import (
        SENTINEL,
        heartbeat_stream,
        run_to_memory_sink,
    )

    sdf = heartbeat_stream(spark, sf_dir, "events")
    # heartbeats aggregate too (their user_id is -1, far-future ts, so
    # they share no session with real rows) and are dropped from the
    # SINK, not the stream: a pre-aggregation filter would be pushed
    # below the EventTimeWatermark node by Catalyst and the heartbeats
    # would never advance the watermark
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "3 days").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("sum_v"),
        )
    )
    sink = f"stream_sess_{_uuid.uuid4().hex[:8]}"
    run_to_memory_sink(agg, sink)
    return spark.table(sink).filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n",
        "sum_v",
    )


# ---------------------------------------------------------------------------
# MERGE .. NOT MATCHED BY SOURCE (test/sql/merge_not_matched_by_source.sql)
# ---------------------------------------------------------------------------

@query(
    "q_merge_by_source",
    f"""
    WITH src AS (
      SELECT ts, event_id, user_id, event_type, value + 1000 AS value, props
      FROM events WHERE event_id % 5 = 0
      UNION ALL
      SELECT ts, event_id + 10000000 AS event_id, user_id, event_type,
             value + 5 AS value, props
      FROM events WHERE event_id % 5 = 1
    ),
    kept AS (
      SELECT t.ts,
             CASE WHEN s.event_id IS NOT NULL THEN s.value
                  ELSE -1.0 END AS value
      FROM events t LEFT JOIN src s ON t.event_id = s.event_id
      WHERE NOT (s.event_id IS NULL AND t.event_id % 7 = 3)
      UNION ALL
      SELECT s.ts, s.value FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM events t WHERE t.event_id = s.event_id)
    )
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           sum(value) AS sum_v
    FROM kept GROUP BY 1
    """,
)
def q_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-clause MERGE with PG17 by-source arms over a multi-chunk
    hypertable (test/sql/merge_not_matched_by_source.sql): matched rows
    take the source value, missing sources insert, unmatched targets
    with event_id%7=3 delete, the rest update to a sentinel — the final
    daily rollup must equal the oracle's set-algebra restatement."""
    ts = _scratch(spark, "ts_mrgsrc_")
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ht.insert(ev)
    src = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    ).unionByName(
        ev.filter(F.col("event_id") % 5 == 1)
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
        .withColumn("value", F.col("value") + F.lit(5.0))
    )
    ht.merge_into(
        src, ["event_id"],
        matched_update={"value": "excluded.value"},
        insert_not_matched=True,
        not_matched_by_source=[
            {"condition": "target.event_id % 7 = 3", "action": "delete"},
            {"action": {"value": "-1.0"}},
        ],
    )
    return (
        ht.read()
        .groupBy(time_bucket("1 day", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"))
    )


@query(
    "q_create_table_with",
    """
    SELECT CAST(user_id % 10 AS INT) AS cohort,
           count(*) AS n,
           sum(value) AS sum_v
    FROM events
    GROUP BY 1
    """,
)
def q_create_table_with(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern one-statement hypertable DDL
    (``src/with_clause/create_table_with_clause.c:16``): CREATE TABLE ..
    WITH (tsdb.hypertable, tsdb.partition_column, tsdb.chunk_interval,
    tsdb.segmentby), ingest, then the round-8 maintenance aliases over
    the first chunk (``sql/maintenance_utils.sql:58-113``:
    compress → compact_chunk → rebuild_columnstore) before aggregating
    across rowstore + columnstore chunks in one scan."""
    import tempfile as _tf

    from .compression import compact_chunk, compress_chunk, rebuild_columnstore
    from .session import TSSession

    ts = TSSession(spark, _tf.mkdtemp(prefix="ts_ctw_"))
    ts.sql(
        "CREATE TABLE events (ts TIMESTAMPTZ NOT NULL, user_id BIGINT, "
        "value DOUBLE PRECISION) WITH (tsdb.hypertable, "
        "tsdb.partition_column='ts', tsdb.chunk_interval='7 days', "
        "tsdb.segmentby='user_id', tsdb.orderby='ts desc')"
    )
    ht = ts.get_hypertable("events")
    ht.insert(load_table(spark, sf_dir, "events").select("ts", "user_id", "value"))
    start = ht.chunks()[0]["range_start"]
    compress_chunk(ht, start)
    compact_chunk(ht, start)
    rebuild_columnstore(ht, start)
    return (
        ht.read()
        .groupBy(F.pmod("user_id", F.lit(10)).cast("int").alias("cohort"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"))
    )


@query(
    "q_copy_binary",
    """
    WITH src AS (
      SELECT ts, event_id,
             CASE WHEN event_id % 100 = 0 THEN NULL ELSE value END AS v,
             event_type
      FROM events WHERE event_id % 5 = 0
    )
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(v) AS BIGINT) AS n_val,
           sum(v) AS sum_v,
           CAST(sum(length(event_type)) AS BIGINT) AS len_t
    FROM src GROUP BY 1, 2
    """,
)
def q_copy_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``COPY t FROM 'dump' WITH (FORMAT binary)`` (round 14; the
    reference's PG-binary COPY path, ``src/copy.c`` — the one COPY
    format previously missing): a deterministic events subset is
    encoded as a real PGCOPY binary stream (signature/flags/extension
    header, int16 field counts, int32 field lengths, network-order
    field bytes, -1 trailer — ``sources/pgcopy.py:write_pgcopy``),
    then COPY'd into a schema-declared hypertable via the SQL route —
    ``binaryFile`` scan + ``mapInPandas`` decode, normal chunk-routed
    insert. NULLs (every 100th event's value) and UTF-8 strings ride
    the wire; the oracle replays the same subset arithmetic straight
    from parquet, so any decode drift (epoch offset, endianness, NULL
    map, string encoding) breaks the hash."""
    import os as _os
    import tempfile as _tf

    from .session import TSSession
    from .sources.pgcopy import write_pgcopy

    sub = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select(
            "ts",
            "event_id",
            F.when(F.col("event_id") % 100 != 0, F.col("value")).alias("v"),
            "event_type",
        )
    )
    ddl = "ts timestamp, event_id bigint, v double, event_type string"
    d = _tf.mkdtemp(prefix="ts_cpbin_")
    path = _os.path.join(d, "events.bin")
    write_pgcopy([tuple(r) for r in sub.collect()], ddl, path)

    ts = TSSession(spark, _tf.mkdtemp(prefix="ts_cpbin_wh_"))
    ts.sql(
        "CREATE TABLE evb (ts TIMESTAMPTZ NOT NULL, event_id BIGINT, "
        "v DOUBLE PRECISION, event_type TEXT) WITH (tsdb.hypertable, "
        "tsdb.partition_column='ts', tsdb.chunk_interval='7 days')"
    )
    ts.sql(f"COPY evb FROM '{path}' WITH (FORMAT binary)")
    ht = ts.get_hypertable("evb")
    return (
        ht.read()
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("v").alias("n_val"),
            F.sum("v").alias("sum_v"),
            F.sum(F.length("event_type")).alias("len_t"),
        )
    )


@query(
    "q_uuid_hypertable",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(value) AS sum_v
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-22'
    GROUP BY 1, 2
    """,
)
def q_uuid_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UUIDv7 "time" partitioning end-to-end (round 14; reference
    test/sql/uuid.sql, src/uuid.c): events keyed by a deterministic
    UUIDv7 (ts + event_id seed) into a uuid-partitioned hypertable —
    chunk routing, pruned reads, and bucketing all derive from the
    EMBEDDED ms(+sub-ms) timestamp, never a timestamp column. The read
    window is ms-aligned, where embedded and raw time agree exactly
    (the sub-ms 12-bit field floors within the ms), so the DuckDB
    oracle is the plain timestamp replay; any drift in the uuid
    encode/extract/boundary math breaks the hash."""
    import tempfile as _tf

    from .functions.uuid7 import to_uuidv7, uuid_timestamp
    from .session import TSSession

    ts = TSSession(spark, _tf.mkdtemp(prefix="ts_uuidht_"))
    ht = ts.create_hypertable(
        "uuid_events", "id", chunk_interval="7 days", time_type="uuid"
    )
    ev = load_table(spark, sf_dir, "events")
    ht.insert(
        ev.select(
            to_uuidv7("ts", F.col("event_id").cast("string")).alias("id"),
            "event_type",
            "value",
        )
    )
    got = ht.read(start="2024-01-08", end="2024-01-22")
    return got.groupBy(
        F.date_trunc("day", uuid_timestamp("id")).alias("bucket"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
    )
