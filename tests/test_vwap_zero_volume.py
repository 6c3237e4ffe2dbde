"""A candlestick bucket whose volume sums to 0 has a NULL vwap (not a
DIVIDE_BY_ZERO error), in the raw ``candlestick_agg`` and in the cagg
candlestick family (``candlestick_at_grain`` and SQL
``vwap(rollup(...))``)."""

from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.functions.stats import candlestick_agg
from timescaledb_spark.session import TSSession

T0 = datetime.datetime(2024, 1, 1)
ROWS = [
    # hour 0 of dev a trades no volume; hour 1 does
    (T0, "a", 10.0, 0.0),
    (T0 + datetime.timedelta(minutes=30), "a", 12.0, 0.0),
    (T0 + datetime.timedelta(hours=1), "a", 20.0, 2.0),
    (T0 + datetime.timedelta(hours=1, minutes=30), "a", 30.0, 2.0),
]
SCHEMA = "ts timestamp, dev string, p double, vol double"


def test_raw_candlestick_zero_volume_vwap_is_null(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {
        r["bucket"]: r["vwap"]
        for r in candlestick_agg(df, "ts", "p", "vol", bucket_width="1 hour").collect()
    }
    assert got[T0] is None
    assert got[T0 + datetime.timedelta(hours=1)] == pytest.approx(25.0)


@pytest.fixture(scope="module")
def cagg(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_vwap0_"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="1 day")
    ht.insert(spark.createDataFrame(ROWS, SCHEMA))
    c = ts.create_cagg(
        "c", ht, bucket_width="1 hour", aggs={}, group_by=["dev"],
        candlesticks={"ohlc": {"price": "p", "volume": "vol"}},
    )
    c.refresh()
    return ts, c


def test_cagg_candlestick_zero_volume_vwap_is_null(cagg):
    _, c = cagg
    got = {
        r["bucket"]: r["vwap"]
        for r in c.candlestick_at_grain("ohlc", realtime=False).collect()
    }
    assert got[T0] is None
    assert got[T0 + datetime.timedelta(hours=1)] == pytest.approx(25.0)


def test_sql_vwap_rollup_zero_volume_is_null(cagg):
    ts, _ = cagg
    rows = ts.sql(
        "SELECT bucket, vwap(rollup(ohlc)) AS w FROM c GROUP BY bucket"
    ).collect()
    got = {r["bucket"]: r["w"] for r in rows}
    assert got[T0] is None
    assert got[T0 + datetime.timedelta(hours=1)] == pytest.approx(25.0)
