"""Chunk rewrites that replace a chunk dir (``add_dimension``, the
fill materialization of an insert after ``add_column``) keep an intact
copy when the swap-in fails: the chunk still reads every row, and a
retry of the same operation succeeds."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession

T0_US = 1704067200000000


@pytest.fixture()
def ts(spark, tmp_path):
    return TSSession(spark, str(tmp_path / "ts"))


def _batch(spark, n):
    return spark.range(n).select(
        F.timestamp_micros(
            (F.lit(T0_US) + F.col("id") * 1_800_000_000).cast("long")
        ).alias("ts"),
        (F.col("id") % 6).cast("int").alias("device"),
        F.col("id").cast("double").alias("value"),
    )


def _fail_swap_in_once(monkeypatch, prefix):
    """Make the first ``os.replace`` of a staged ``prefix*`` dir onto
    its chunk path raise; every other rename goes through."""
    real = os.replace
    failed = []

    def flaky(src, dst, *a, **k):
        if not failed and os.path.basename(str(src)).startswith(prefix):
            failed.append(src)
            raise OSError("injected swap-in failure")
        return real(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", flaky)
    return failed


def test_add_dimension_survives_failed_swap_in(ts, spark, monkeypatch):
    ht = ts.create_hypertable("dimswap", "ts", chunk_interval="1 day")
    ht.insert(_batch(spark, 96))  # two daily chunks
    want = sorted(r["value"] for r in ht.df().collect())
    failed = _fail_swap_in_once(monkeypatch, ".tmp_dim_")
    with pytest.raises(OSError, match="injected"):
        ht.add_dimension("device", num_partitions=2)
    assert failed
    assert sorted(r["value"] for r in ht.df().collect()) == want
    assert not ht.row.get("space_column")
    ht.add_dimension("device", num_partitions=2)
    assert ht.row["space_column"] == "device"
    assert sorted(r["value"] for r in ht.df().collect()) == want


def test_fill_materialization_survives_failed_swap_in(ts, spark, monkeypatch):
    ht = ts.create_hypertable("fillswap", "ts", chunk_interval="1 day")
    ht.insert(_batch(spark, 4))
    ht.add_column("site", "string", default="eu")
    # an explicit NULL into the pre-ADD chunk forces the one-time
    # rewrite that materializes the default into the chunk's files
    late = spark.createDataFrame(
        [(datetime(2024, 1, 1, 12, 1), 1, 9.0, None)],
        "ts timestamp, device int, value double, site string",
    )
    failed = _fail_swap_in_once(monkeypatch, ".tmp_fill_")
    with pytest.raises(OSError, match="injected"):
        ht.insert(late)
    assert failed
    rows = {r["value"]: r["site"] for r in ht.df().collect()}
    assert rows == {0.0: "eu", 1.0: "eu", 2.0: "eu", 3.0: "eu"}
    ht.insert(late)
    rows = {r["value"]: r["site"] for r in ht.df().collect()}
    assert rows == {0.0: "eu", 1.0: "eu", 2.0: "eu", 3.0: "eu", 9.0: None}
