"""Round-15 ADVICE regressions.

1. Batched refresh with max_batches must NOT advance the watermark over
   deferred (never-materialized) ranges — realtime reads would silently
   drop those buckets (reference derives the watermark from the max
   bucket actually materialized, materialize.c:762).
2. A dirty range with an infinite sentinel edge and NO data bound to
   clamp to (empty hypertable) must stay a single batch — the splitting
   loop must never enumerate buckets from INT64_MIN.
3. UUID hypertables must canonicalize uppercase UUIDv7 text at insert
   time: the pushable text-range prune filter compares lexicographically
   and 'A' < 'a', so uppercase stored rows would vanish from pruned
   reads.
4. INSERT .. RETURNING must return the rows actually inserted, pinned
   BEFORE the write — a self-referential source (INSERT INTO t
   SELECT .. FROM t) re-evaluated afterwards returns doubled rows.
5. NB classification of NULL-text documents: F.size(NULL tokens) is -1,
   which made the OOV count negative; NULL docs must score as
   zero-token docs in both engines.
"""

import datetime
import struct
import tempfile
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession

BASE = datetime.datetime(2026, 1, 1)
DAY_US = 86_400_000_000


@pytest.fixture()
def ts(spark, tmp_path):
    return TSSession(spark, str(tmp_path / "ts"))


def _mk(spark, n_hours=96):
    rows = [
        (BASE + timedelta(hours=h), f"loc_{h % 3}", float(h))
        for h in range(n_hours)
    ]
    return spark.createDataFrame(rows, "ts timestamp, loc string, v double")


def _full(df):
    from timescaledb_spark.functions import time_bucket

    return df.groupBy(time_bucket("1 day", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v")
    )


def _rows(df):
    return {(r["bucket"], r["n"], round(r["sum_v"], 9)) for r in df.collect()}


def test_deferred_batches_cap_watermark(ts, spark):
    ht = ts.create_hypertable("ev", "ts", chunk_interval="7 days")
    ht.insert(_mk(spark))  # 4 full days
    cagg = ts.create_cagg(
        "evd", ht, bucket_width="1 day",
        aggs={"n": "count(*)", "sum_v": "sum(v)"},
    )
    # oldest-first, one bucket per batch, only 2 batches this call:
    # the infinite lead batch + day 0 — days 1-3 are DEFERRED
    ranges = cagg.refresh(buckets_per_batch=1, max_batches=2)
    assert len(ranges) == 2
    base_us = int(BASE.timestamp() * 1e6)
    # watermark capped at the lowest deferred range start (day 1), NOT
    # at the window end: the deferred buckets are absent from the mat
    # table and must stay on the realtime raw side
    assert cagg.watermark() == base_us + DAY_US
    assert _rows(cagg.read(realtime=True)) == _rows(_full(ht.read()))
    # the deferred ranges survive in the log and the next call finishes
    log = ts.catalog.materialization_invalidation_log.find(cagg_id=cagg.id)
    assert log, "deferred ranges must be re-queued"
    cagg.refresh(buckets_per_batch=1)
    assert cagg.watermark() == base_us + 4 * DAY_US
    assert _rows(cagg.read(realtime=False)) == _rows(_full(ht.read()))


def test_newest_first_deferred_keeps_realtime_correct(ts, spark):
    ht = ts.create_hypertable("ev2", "ts", chunk_interval="7 days")
    ht.insert(_mk(spark))
    cagg = ts.create_cagg(
        "ev2d", ht, bucket_width="1 day",
        aggs={"n": "count(*)", "sum_v": "sum(v)"},
    )
    # newest-first: materializes the NEWEST batches, defers the oldest —
    # the watermark must stay at/below the lowest deferred start, so the
    # whole span still serves from the raw side
    cagg.refresh(
        buckets_per_batch=1, max_batches=2, refresh_newest_first=True
    )
    base_us = int(BASE.timestamp() * 1e6)
    assert cagg.watermark() <= base_us
    assert _rows(cagg.read(realtime=True)) == _rows(_full(ht.read()))


def test_empty_hypertable_batched_refresh_terminates(ts, spark):
    # sentinel-edged dirty range with NO data bounds (no chunks): must
    # stay one batch instead of enumerating buckets from INT64_MIN
    ts.sql(
        "CREATE TABLE mt (ts TIMESTAMPTZ NOT NULL, v DOUBLE PRECISION) "
        "WITH (tsdb.hypertable, tsdb.partition_column='ts', "
        "tsdb.chunk_interval='7 days')"
    )
    ht = ts.get_hypertable("mt")
    cagg = ts.create_cagg(
        "mtd", ht, bucket_width="1 day", aggs={"n": "count(*)"}
    )
    ranges = cagg.refresh(buckets_per_batch=2)
    assert len(ranges) <= 1  # single (empty) batch, not 1e13 of them


def _uuid7_at(dt: datetime.datetime, seq: int = 0) -> str:
    """Canonical (lowercase) UUIDv7 text embedding dt's unix-ms."""
    ms = int(dt.timestamp() * 1000)
    hx = f"{ms:012x}"
    return f"{hx[:8]}-{hx[8:12]}-7{seq:03x}-8{seq:03x}-{seq:012x}"


def test_uuid_uppercase_insert_survives_pruned_read(ts, spark):
    ht = ts.create_hypertable(
        "uu", "uid", chunk_interval="7 days", time_type="uuid"
    )
    uids = [_uuid7_at(BASE + timedelta(days=i), seq=i) for i in range(4)]
    # rows 0/2 lowercase, rows 1/3 UPPERCASE text — PG's uuid input is
    # case-insensitive, so both must round-trip identically
    rows = [
        (u.upper() if i % 2 else u, float(i)) for i, u in enumerate(uids)
    ]
    ht.insert(spark.createDataFrame(rows, "uid string, v double"))
    lo = int(BASE.timestamp() * 1e6)
    got = ht.read(start=lo, end=lo + 4 * DAY_US)
    assert got.count() == 4
    # stored form is canonical lowercase
    assert all(r["uid"] == r["uid"].lower() for r in got.collect())
    # a window that clips to days 1-2 must include the uppercase row 1
    got2 = ht.read(start=lo + DAY_US, end=lo + 3 * DAY_US)
    assert sorted(r["v"] for r in got2.collect()) == [1.0, 2.0]


def test_insert_returning_self_referential(ts, spark):
    ts.sql(
        "CREATE TABLE sr (ts TIMESTAMPTZ NOT NULL, v DOUBLE PRECISION) "
        "WITH (tsdb.hypertable, tsdb.partition_column='ts', "
        "tsdb.chunk_interval='7 days')"
    )
    ts.sql(
        "INSERT INTO sr VALUES "
        "(TIMESTAMP '2026-01-01 00:00:00', 1.0), "
        "(TIMESTAMP '2026-01-01 01:00:00', 2.0)"
    )
    # INSERT INTO t SELECT .. FROM t: the RETURNING set must be the 2
    # source rows pinned before the write, not the 4 rows visible after
    ret = ts.sql(
        "INSERT INTO sr SELECT ts + INTERVAL '1' DAY AS ts, v + 10 AS v "
        "FROM sr RETURNING *"
    )
    got = sorted((r["v"] for r in ret.collect()))
    assert got == [11.0, 12.0]
    assert ts.get_hypertable("sr").read().count() == 4


def test_pgcopy_low_flag_bits_ignored(spark):
    from pyspark.sql import types as T

    from timescaledb_spark.sources.pgcopy import (
        PGCOPY_SIGNATURE,
        iter_pgcopy_tuples,
        write_pgcopy,
    )

    # bits 0-15 are backwards-COMPATIBLE per the COPY BINARY spec: a
    # reader must ignore them, not abort
    blob = bytearray(write_pgcopy([(1,), (2,)], "x int"))
    struct.pack_into(">I", blob, len(PGCOPY_SIGNATURE), 0x0000BEEF)
    got = list(iter_pgcopy_tuples(bytes(blob), T.StructType.fromDDL("x int")))
    assert got == [(1,), (2,)]
    # a critical bit other than OID still aborts
    struct.pack_into(">I", blob, len(PGCOPY_SIGNATURE), 1 << 17)
    with pytest.raises(ValueError, match="flag"):
        list(iter_pgcopy_tuples(bytes(blob), T.StructType.fromDDL("x int")))
    # the OID bit keeps its specific message
    struct.pack_into(">I", blob, len(PGCOPY_SIGNATURE), 1 << 16)
    with pytest.raises(ValueError, match="OID"):
        list(iter_pgcopy_tuples(bytes(blob), T.StructType.fromDDL("x int")))


def test_alter_job_config_merge(ts, spark):
    ht = ts.create_hypertable("aj", "ts", chunk_interval="7 days")
    ht.insert(_mk(spark, n_hours=4))
    jid = ts.jobs.add_compression_policy("aj", "1 day")
    before = ts.jobs.list()[-1]["config"]
    assert before["compress_after"] == "1 day"
    # merge: given keys take precedence, untouched keys survive
    row = ts.jobs.alter_job(jid, config_merge={"compress_after": "2 days"})
    assert row["config"]["compress_after"] == "2 days"
    assert row["config"]["hypertable"] == "aj"
    assert row["config"]["recompress_unordered"] is True
    # both config and config_merge is an error (job_api.c:426)
    with pytest.raises(ValueError, match="config_merge"):
        ts.jobs.alter_job(jid, config={"a": 1}, config_merge={"b": 2})
    # replace semantics still replace wholesale
    row = ts.jobs.alter_job(jid, config={"hypertable": "aj",
                                         "compress_after": "3 days"})
    assert "recompress_unordered" not in row["config"]
    # SQL route
    ts.sql(
        f"SELECT alter_job({jid}, "
        f"config_merge => '{{\"compress_after\": \"4 days\"}}')"
    )
    assert ts.jobs.list()[-1]["config"]["compress_after"] == "4 days"
    assert ts.jobs.list()[-1]["config"]["hypertable"] == "aj"


def test_recompress_unordered_policy(ts, spark):
    from timescaledb_spark.compression import (
        compress_chunk,
        compress_chunks,
        enable_columnstore,
    )

    ht = ts.create_hypertable("ru", "ts", chunk_interval="1 day")
    ht.insert(_mk(spark, n_hours=48))  # 2 chunks
    enable_columnstore(ht, segmentby=["loc"], orderby=[("ts", "asc")])
    for c in ht.chunks():
        compress_chunk(ht, c)
    assert all(not c.get("unordered") for c in ht.chunks())
    # append into the FIRST (columnstore) chunk only → unordered bit
    ht.insert(spark.createDataFrame(
        [(BASE + timedelta(hours=2), "loc_9", 99.0)],
        "ts timestamp, loc string, v double",
    ))
    flags = {c["range_start"]: bool(c.get("unordered")) for c in ht.chunks()}
    starts = sorted(flags)
    assert flags[starts[0]] is True and flags[starts[1]] is False
    # recompress_unordered=False skips the unordered chunk
    assert compress_chunks(ht, recompress_unordered=False) == []
    assert ht.chunks()[0].get("unordered") is True
    # default (True) folds exactly the unordered chunk and clears the bit
    done = compress_chunks(ht)
    assert len(done) == 1 and done[0]["chunk"] == starts[0]
    assert all(not c.get("unordered") for c in ht.chunks())
    # policy plumbing: config flag reaches the proc
    jid = ts.jobs.add_compression_policy(
        "ru", "1 hour", recompress_unordered=False
    )
    ht.insert(spark.createDataFrame(
        [(BASE + timedelta(hours=3), "loc_8", 98.0)],
        "ts timestamp, loc string, v double",
    ))
    res = ts.jobs.run_job(jid)
    assert res["result"]["compressed_chunks"] == 0
    ts.jobs.alter_job(jid, config_merge={"recompress_unordered": True})
    res = ts.jobs.run_job(jid)
    assert res["result"]["compressed_chunks"] == 1
