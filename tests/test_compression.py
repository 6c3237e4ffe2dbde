"""Columnstore: compress/recompress round-trips, sparse-index parity
(row-group stats become tight after clustering), chunk skipping stats.
Mirrors tsl/test/sql/compression.sql result-shape assertions."""

import glob
import os
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from timescaledb_spark.compression import (
    chunk_compression_stats,
    compress_chunk,
    compress_chunks,
    decompress_chunk,
    enable_columnstore,
    recompress_chunk,
    reorder_chunk,
)
from timescaledb_spark.session import TSSession

BASE = datetime(2026, 1, 1)


@pytest.fixture()
def ts(spark, tmp_path):
    return TSSession(spark, str(tmp_path / "ts"))


def mk_metrics(spark, n=5000, devices=20, start=BASE):
    """FIXTURES F2: metrics(time, device_id, v1, v2)."""
    return (
        spark.range(n)
        .select(
            (F.lit(start) + F.make_interval(secs=F.col("id") * 10)).alias("time"),
            F.pmod(F.col("id"), F.lit(devices)).cast("int").alias("device_id"),
            (F.col("id") * 0.001).alias("v1"),
            F.when(F.pmod("id", F.lit(100)) == 0, None)
            .otherwise(F.rand(7) * 100)
            .alias("v2"),
        )
    )


def sorted_rows(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def test_compress_roundtrip_and_stats(ts, spark):
    ht = ts.create_hypertable("metrics", "time", chunk_interval="1 day")
    src = mk_metrics(spark)
    ht.insert(src)
    enable_columnstore(ht, segmentby=["device_id"], orderby=[("time", "desc")])
    before = sorted_rows(ht.read())
    results = compress_chunks(ht)
    assert len(results) == len(ht.chunks())
    after = sorted_rows(ht.read())
    assert before == after  # result-set equality through the rewrite
    st = chunk_compression_stats(ht)
    assert all(s["status"] == "columnstore" for s in st)
    assert all(s["before"] > 0 and s["after"] > 0 for s in st)


def test_clustering_tightens_rowgroup_stats(ts, spark):
    """The sparse-index analog: after segmentby clustering, each file's
    device_id min==max range is narrow, so `WHERE device_id = k` skips
    most files/row-groups (qual_pushdown.c parity)."""
    ht = ts.create_hypertable("metrics", "time", chunk_interval="7 days")
    ht.insert(mk_metrics(spark, n=20000))
    enable_columnstore(ht, segmentby=["device_id"], orderby=[("time", "asc")])
    chunk = ht.chunks()[0]
    # small file target to force several files at test scale (at real
    # scale the default 128 MB target produces the same layout shape)
    compress_chunk(ht, chunk, target_file_bytes=64 * 1024)
    path = os.path.join(ht.data_dir, f"_chunk={chunk['range_start']}")
    spans = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["device_id"]).statistics
            spans.append(st.max - st.min)
    assert spans and max(spans) <= 19  # and typically far tighter
    # most row groups cover < the full 20-device span
    assert sum(1 for s in spans if s < 19) >= max(1, len(spans) // 2)


def test_recompress_after_late_insert(ts, spark):
    ht = ts.create_hypertable("metrics", "time", chunk_interval="1 day")
    ht.insert(mk_metrics(spark, n=2000))
    enable_columnstore(ht, segmentby=["device_id"])
    compress_chunks(ht)
    # rows appended into an already-compressed chunk
    late = mk_metrics(spark, n=50, start=BASE + timedelta(hours=2))
    ht.insert(late)
    before = sorted_rows(ht.read())
    recompress_chunk(ht, ht.chunks()[0])
    assert sorted_rows(ht.read()) == before


def test_decompress_flips_status(ts, spark):
    ht = ts.create_hypertable("metrics", "time", chunk_interval="1 day")
    ht.insert(mk_metrics(spark, n=500))
    enable_columnstore(ht, segmentby=["device_id"])
    c = ht.chunks()[0]
    compress_chunk(ht, c)
    assert ht.chunks()[0]["status"] == "columnstore"
    decompress_chunk(ht, c)
    assert ht.chunks()[0]["status"] == "rowstore"


def test_chunk_skipping_on_stats(ts, spark):
    """enable_chunk_skipping analog: value ranges disjoint per chunk →
    where_stats prunes chunks entirely (chunk_column_stats.c)."""
    ht = ts.create_hypertable("metrics", "time", chunk_interval="1 day")
    # v1 = id*0.001 grows over time → per-chunk v1 ranges are disjoint
    ht.insert(mk_metrics(spark, n=20000, devices=5))
    enable_columnstore(ht, segmentby=["device_id"])
    compress_chunks(ht, recompress=True)
    stats = ts.catalog.chunk_column_stats.find(hypertable_id=ht.id)
    assert stats  # segmentby stats recorded
    # add v1 stats
    for c in ht.chunks():
        compress_chunk(ht, c, stats_columns=["v1"])
    full = ht.read(where_stats={"v1": (0.0, 0.5)})
    some = full.filter(F.col("v1") <= 0.5)
    # chunk pruning must not lose rows
    assert some.count() == ht.read().filter(F.col("v1") <= 0.5).count()
    # and it actually pruned: fewer chunk dirs scanned than the full read
    from timescaledb_spark.plans.inspect import scanned_paths

    assert scanned_paths(full) < scanned_paths(ht.read())


def test_reorder_chunk(ts, spark):
    ht = ts.create_hypertable("metrics", "time", chunk_interval="7 days")
    ht.insert(mk_metrics(spark, n=3000))
    before = sorted_rows(ht.read())
    reorder_chunk(ht, ht.chunks()[0], by=["v2"])
    assert sorted_rows(ht.read()) == before


def test_compress_requires_settings(ts, spark):
    ht = ts.create_hypertable("metrics", "time", chunk_interval="1 day")
    ht.insert(mk_metrics(spark, n=100))
    with pytest.raises(ValueError, match="columnstore not enabled"):
        compress_chunk(ht, ht.chunks()[0])


def test_auto_segmentby_picks_even_low_cardinality(ts, spark):
    """get_segmentby_defaults (sql/compression_defaults.sql analog):
    prefers the column whose values segment tuples most evenly; unique
    ids and the time dimension are never picked."""
    from pyspark.sql import functions as F

    from timescaledb_spark.compression import (
        enable_columnstore,
        get_segmentby_defaults,
    )

    ht = ts.create_hypertable("auto_sb", "ts", chunk_interval="1 day")
    df = spark.range(600).select(
        F.timestamp_micros(
            (F.lit(1704067200000000) + F.col("id") * 60_000_000).cast("long")
        ).alias("ts"),
        F.col("id").alias("event_id"),                      # unique: excluded
        (F.col("id") % 3).cast("string").alias("device"),   # even 3-way
        F.when(F.col("id") % 100 == 0, "rare").otherwise("common").alias("skewed"),
        (F.col("id") * 1.0).alias("value"),                  # double: not a candidate
    )
    ht.insert(df)
    got = get_segmentby_defaults(ht)
    assert got["columns"] == ["device"]
    assert got["confidence"] > 0
    # the "auto" spelling wires it into enable_columnstore
    enable_columnstore(ht, segmentby="auto")
    s = ts.catalog.compression_settings.find_one(hypertable_id=ht.id)
    assert s["segmentby"] == ["device"]


def test_auto_segmentby_empty_when_nothing_qualifies(ts, spark):
    from pyspark.sql import functions as F

    from timescaledb_spark.compression import get_segmentby_defaults

    ht = ts.create_hypertable("auto_none", "ts", chunk_interval="1 day")
    ht.insert(
        spark.range(50).select(
            F.timestamp_micros(
                (F.lit(1704067200000000) + F.col("id") * 60_000_000).cast("long")
            ).alias("ts"),
            F.col("id").alias("uid"),  # unique -> fails rows-per-segment
        )
    )
    got = get_segmentby_defaults(ht)
    assert got["columns"] == []


def test_compress_preserves_space_partition_layout(spark, tmp_path):
    """Compressing a chunk of a SPACE-partitioned hypertable must keep
    the _space= subdir layout — flattening it makes multi-chunk basePath
    reads fail on conflicting partition depths and corrupts later
    inserts into the chunk."""
    from timescaledb_spark.session import TSSession

    ts = TSSession(spark, str(tmp_path / "sp"))
    ht = ts.create_hypertable(
        "spc", "ts", chunk_interval="1 day",
        space_column="device", num_partitions=4,
    )
    df = spark.range(96).select(
        F.timestamp_micros(
            (F.lit(1704067200000000) + F.col("id") * 1_800_000_000)
            .cast("long")
        ).alias("ts"),
        (F.col("id") % 8).cast("int").alias("device"),
        F.col("id").cast("double").alias("value"),
    )
    ht.insert(df)
    assert len(ht.chunks()) == 2
    enable_columnstore(ht, segmentby=["device"], orderby=[("ts", "asc")])
    compress_chunk(ht, ht.chunks()[0])
    # multi-chunk read across compressed + uncompressed chunks
    assert ht.df().count() == 96
    assert ht.read(start="2024-01-01", end="2024-01-03").count() == 96
    # appends into the compressed chunk still work and are visible
    ht.insert(
        spark.createDataFrame(
            [(datetime(2024, 1, 1, 1, 30), 3, 999.0)],
            "ts timestamp, device int, value double",
        )
    )
    assert ht.df().count() == 97
    assert ht.df().filter(F.col("value") == 999.0).count() == 1
    # per-device pruned read agrees
    assert ht.df().filter(F.col("device") == 3).count() == 13
