"""Space-dimension chunk exclusion."""

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.plans import scanned_paths
from timescaledb_spark.session import TSSession

T0_US = 1704067200000000


def test_space_dimension_exclusion(spark, tmp_path):
    ts = TSSession(spark, str(tmp_path / "ts"))
    ht = ts.create_hypertable(
        "m", "ts", chunk_interval="1 day", space_column="device", num_partitions=4
    )
    df = spark.range(3 * 24 * 8).select(
        F.timestamp_micros(
            (F.lit(T0_US) + (F.col("id") / 8).cast("long") * 3600 * 1_000_000)
        ).alias("ts"),
        (F.col("id") % 8).cast("int").alias("device"),
        F.col("id").cast("double").alias("value"),
    )
    ht.insert(df)
    one = ht.read(space_key=3)
    # the scan's paths are the matching _space sub-dirs, not whole chunks
    from timescaledb_spark.plans.inspect import _plan

    txt = _plan(one)
    assert "_space" in txt.split("PartitionFilters:")[1].split("\n")[0]
    assert scanned_paths(one) == len(ht.chunks())
    rows = one.collect()
    assert rows and all(r["device"] == 3 for r in rows)
    assert len(rows) == 3 * 24  # device 3's share
    # combined time + space pruning: one chunk × two space buckets
    both = ht.read(start="2024-01-02", end="2024-01-03", space_key=[3, 5])
    assert both.count() == 2 * 24
    assert scanned_paths(both) == 2
    assert "_space" in _plan(both).split("PartitionFilters:")[1].split("\n")[0]
    with pytest.raises(ValueError, match="no space dimension"):
        ts.create_hypertable("flat", "ts").insert(df.select("ts", "value")) or None
        ts.get_hypertable("flat").read(space_key=1)
