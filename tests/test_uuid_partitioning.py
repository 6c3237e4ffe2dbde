"""UUIDv7 "time" partitioning (round 14; reference test/sql/uuid.sql,
src/uuid.c): a hypertable partitioned on a UUIDv7 column routes by the
embedded unix-ms timestamp, prunes chunk reads from timestamp bounds,
rejects non-v7 inserts, and supports caggs bucketing by the embedded
time."""

import datetime

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.functions.uuid7 import (
    to_uuidv7,
    to_uuidv7_boundary,
    uuid_timestamp,
    uuid_version,
)
from timescaledb_spark.session import TSSession


def _mk(spark, n_days=5, per_day=6):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=d, hours=h), d * 100 + h,
         float(d * 10 + h))
        for d in range(n_days)
        for h in range(per_day)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, dev int, temp double")
    return df.select(
        to_uuidv7("ts", F.col("dev").cast("string")).alias("id"),
        "dev",
        "temp",
    )


@pytest.fixture()
def ts(spark, tmp_path):
    return TSSession(spark, str(tmp_path / "ts"))


def test_uuid_routing_and_chunks(ts, spark):
    ht = ts.create_hypertable(
        "uuid_events", "id", chunk_interval="1 day", time_type="uuid"
    )
    ht.insert(_mk(spark))
    chunks = ht.chunks()
    assert len(chunks) == 5  # one per day
    # chunk ranges are µs of the embedded timestamps
    lo = min(c["range_start"] for c in chunks)
    assert lo == int(datetime.datetime(
        2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1e6)


def test_uuid_read_pruning_and_bounds(ts, spark):
    ht = ts.create_hypertable(
        "uuid_events", "id", chunk_interval="1 day", time_type="uuid"
    )
    ht.insert(_mk(spark))
    got = ht.read(start="2024-01-02", end="2024-01-04")
    assert got.count() == 12  # 2 days x 6 rows
    # plan scans only the surviving chunk dirs
    from timescaledb_spark.plans.inspect import scanned_paths

    assert 0 < scanned_paths(got) <= 2
    # sub-day bound: exact µs residual filter on top of the coarse one
    fine = ht.read(start="2024-01-02 03:00:00", end="2024-01-03")
    assert fine.count() == 3  # hours 3,4,5 of day 2


def test_uuid_non_v7_insert_rejected(ts, spark):
    ht = ts.create_hypertable(
        "u2", "id", chunk_interval="1 day", time_type="uuid"
    )
    bad = spark.createDataFrame(
        [("123e4567-e89b-42d3-a456-426614174000", 1, 1.0)],
        "id string, dev int, temp double",
    )
    with pytest.raises(Exception):
        ht.insert(bad)
    assert ht.df().count() == 0


def test_uuid_sql_ddl_and_accessors(ts, spark):
    ts.sql(
        "CREATE TABLE uuid_events (id UUID PRIMARY KEY, device INT, "
        "temp DOUBLE PRECISION) WITH (tsdb.hypertable, "
        "tsdb.partition_column='id', tsdb.chunk_interval='1 day')"
    )
    ht = ts.get_hypertable("uuid_events")
    assert ht.row["time_type"] == "uuid"
    src = _mk(spark).toDF("id", "device", "temp")
    ht.insert(src)
    assert len(ht.chunks()) == 5
    # uuid_timestamp accessor round-trips the embedded time
    r = (
        ht.df()
        .select(uuid_timestamp("id").alias("t"), uuid_version("id").alias("v"))
        .agg(F.min("t").alias("mn"), F.max("v").alias("mv"))
        .collect()[0]
    )
    assert r["mn"] == datetime.datetime(2024, 1, 1)
    assert r["mv"] == 7


def test_uuid_retention_and_show_chunks(ts, spark):
    ht = ts.create_hypertable(
        "u3", "id", chunk_interval="1 day", time_type="uuid"
    )
    ht.insert(_mk(spark))
    older = ht.show_chunks(older_than="2024-01-03")
    assert len(older) == 2
    ht.drop_chunks(older_than="2024-01-03")
    assert len(ht.chunks()) == 3
    assert ht.df().count() == 18


def test_uuid_cagg_buckets_by_embedded_time(ts, spark):
    ht = ts.create_hypertable(
        "u4", "id", chunk_interval="1 day", time_type="uuid"
    )
    ht.insert(_mk(spark))
    cagg = ts.create_cagg(
        "u4_daily", ht, bucket_width="1 day",
        aggs={"n": "count(*)", "s": "sum(temp)"}, group_by=[],
    )
    cagg.refresh()
    got = {
        (r["bucket"], r["n"], r["s"])
        for r in cagg.read(realtime=False).collect()
    }
    want = {
        (r["b"], r["n"], r["s"])
        for r in ht.df()
        .groupBy(F.date_trunc("day", uuid_timestamp("id")).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("temp").alias("s"))
        .collect()
    }
    assert got == want
    # realtime union over late data
    late = _mk(spark, n_days=1).select(
        F.col("id"), (F.col("dev") + 1000).alias("dev"), "temp"
    )
    # shift the late batch to day 6 via fresh uuids
    base = datetime.datetime(2024, 1, 6)
    late = spark.createDataFrame(
        [(base + datetime.timedelta(hours=h),) for h in range(3)],
        "ts timestamp",
    ).select(
        to_uuidv7("ts").alias("id"),
        F.lit(9).alias("dev"),
        F.lit(1.0).alias("temp"),
    )
    ht.insert(late)
    rt = cagg.read(realtime=True)
    assert rt.filter(
        F.col("bucket") == datetime.datetime(2024, 1, 6)
    ).collect()[0]["n"] == 3


def test_uuid_boundary_pushdown_filter(ts, spark):
    """The coarse bound is a plain string comparison on the uuid column
    (pushable); boundary uuids order correctly against real v7 ids."""
    df = _mk(spark)
    b = to_uuidv7_boundary(F.lit("2024-01-03").cast("timestamp"))
    n_ge = df.filter(F.col("id") >= b).count()
    assert n_ge == 18  # Jan 3, 4, 5


def test_uuid_compression_roundtrip(ts, spark):
    """compress/decompress on uuid chunks (tsl/test/sql/
    compression_uuid.sql): the sorted rewrite orders by the uuid column
    (canonical v7 text order == embedded time order)."""
    from timescaledb_spark.compression import (
        compress_chunk,
        decompress_chunk,
        enable_columnstore,
    )

    ht = ts.create_hypertable(
        "uc", "id", chunk_interval="1 day", time_type="uuid"
    )
    ht.insert(_mk(spark))
    enable_columnstore(ht, segmentby=["dev"])
    n0 = ht.df().count()
    c = ht.chunks()[0]
    compress_chunk(ht, c["range_start"])
    assert ht.df().count() == n0
    assert ht.read(start="2024-01-01", end="2024-01-02").count() == 6
    decompress_chunk(ht, c["range_start"])
    assert ht.df().count() == n0
