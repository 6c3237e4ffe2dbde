"""Every engine write of table data uses the per-type parquet encoding
of ``storage.writer``: float and double columns are written without a
dictionary, a string (segmentby) column keeps its dictionary, and every
value round-trips bit-exact — NaN, ±inf, −0.0 and NULL included.

A float column with a space in its name is covered on every path. One
with a dot in its name keeps its dictionary: parquet-mr keys the
per-column switch by dot path, so ``x.y`` names a nested field that is
not there (``test_dotted_float_column_keeps_dictionary``)."""

from __future__ import annotations

import glob
import math
import os
import struct

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from timescaledb_spark.chunkops import merge_chunks, split_chunk
from timescaledb_spark.compression import compress_chunk, enable_columnstore, reorder_chunk
from timescaledb_spark.session import TSSession

T0_US = 1704067200000000  # 2024-01-01
STEP_US = 1_800_000_000  # 30 min: 48 rows per daily chunk
HOUR_US = 3_600_000_000
SPECIAL = [math.nan, math.inf, -math.inf, -0.0, None, 1.5]
FLOATS = ["v", "f", "a b"]


def _rows(n=96):
    """``(ts_us, host, v, f, a b)``: the special values cycle through
    ``v`` and ``f``; ``a b`` takes many distinct values."""
    return [
        (T0_US + i * STEP_US, f"h{i % 3}", SPECIAL[i % 6], SPECIAL[(i + 1) % 6], i * 0.25 - 3.0)
        for i in range(n)
    ]


def _frame(spark, rows):
    return spark.createDataFrame(
        [(t, h, v, f, ab) for t, h, v, f, ab in rows],
        "t long, host string, v double, f float, `a b` double",
    ).select(F.timestamp_micros("t").alias("ts"), "host", "v", "f", "`a b`").coalesce(1)


def _bits(x, fmt):
    return None if x is None else struct.pack(fmt, x)


def _key(t, host, v, f, ab):
    return (t, host, _bits(v, "<d"), _bits(f, "<f"), _bits(ab, "<d"))


def _read_keys(df):
    rows = df.select(F.unix_micros("ts").alias("t"), "host", "v", "f", "`a b`").collect()
    return sorted(_key(*r) for r in rows)


def _assert_encoding(root, floats=FLOATS, dict_cols=("host",)):
    files = [
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if "/." not in p
    ]
    assert files, f"no parquet files under {root}"
    for p in files:
        md = pq.ParquetFile(p).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                col = rg.column(i)
                name = col.path_in_schema
                if name in floats:
                    assert not col.has_dictionary_page, (p, name, col.encodings)
                    assert col.compression == "ZSTD", (p, name)
                if name in dict_cols:
                    assert col.has_dictionary_page, (p, name, col.encodings)


@pytest.fixture()
def ts(spark, tmp_path):
    return TSSession(spark, str(tmp_path / "ts"))


def _insert(ht, spark):
    return _rows()


def _compress(ht, spark):
    enable_columnstore(ht, segmentby=["host"], orderby=[("ts", "desc")])
    compress_chunk(ht, ht.chunks()[0])
    return _rows()


def _reorder(ht, spark):
    reorder_chunk(ht, ht.chunks()[0], by=["host", "ts"])
    return _rows()


def _merge(ht, spark):
    merge_chunks(ht, [c["range_start"] for c in ht.chunks()])
    return _rows()


def _split(ht, spark):
    c = ht.chunks()[0]
    split_chunk(ht, c, c["range_start"] + 12 * HOUR_US)
    return _rows()


def _add_dimension(ht, spark):
    ht.add_dimension("host", num_partitions=2)
    return _rows()


def _fill(ht, spark):
    # explicit NULLs into the pre-ADD chunk rewrite it with the default
    # materialized
    ht.add_column("site", "string", default="eu")
    late = [(T0_US + 1 + k, "h9", SPECIAL[k], SPECIAL[-k], math.inf) for k in range(6)]
    ht.insert(_frame(spark, late).withColumn("site", F.lit(None).cast("string")))
    return _rows() + late


def _replace_ranges(ht, spark):
    # a range covering part of the first chunk: its other rows are
    # rewritten through the staged replace
    ht.delete_range(T0_US, T0_US + 6 * HOUR_US)
    return [r for r in _rows() if r[0] >= T0_US + 6 * HOUR_US]


def _writeback(ht, spark):
    ht.delete_where("host = 'h0'")
    return [r for r in _rows() if r[1] != "h0"]


@pytest.mark.parametrize(
    "op",
    [
        _insert,
        _compress,
        _reorder,
        _merge,
        _split,
        _add_dimension,
        _fill,
        _replace_ranges,
        _writeback,
    ],
    ids=lambda f: f.__name__.strip("_"),
)
def test_hypertable_write_path_encoding(ts, spark, op):
    ht = ts.create_hypertable("enc", "ts", chunk_interval="1 day")
    ht.insert(_frame(spark, _rows()))
    want = sorted(_key(*r) for r in op(ht, spark))
    _assert_encoding(ht.data_dir)
    assert _read_keys(ht.df()) == want


def test_plain_table_write_paths_encoding(ts, spark):
    rows = _rows(48)
    ts.create_table("dim", _frame(spark, rows[:24]))
    src = _frame(spark, rows[24:])
    src.createOrReplaceTempView("dim_src")
    try:
        ts.sql("INSERT INTO dim SELECT * FROM dim_src")
    finally:
        spark.catalog.dropTempView("dim_src")
    path = ts.catalog.plain_table.find_one(name="dim")["path"]
    _assert_encoding(path)
    assert _read_keys(spark.read.parquet(path)) == sorted(_key(*r) for r in rows)


def test_dotted_float_column_keeps_dictionary(ts, spark):
    rows = _rows(48)
    df = _frame(spark, rows).withColumn("x.y", F.col("v"))
    ts.create_table("dotted", df)
    path = ts.catalog.plain_table.find_one(name="dotted")["path"]
    _assert_encoding(path, dict_cols=("host", "x.y"))
    got = spark.read.parquet(path).select("v", "`x.y`").collect()
    assert len(got) == len(rows)
    assert all(_bits(r[0], "<d") == _bits(r[1], "<d") for r in got)
