"""Skew utilities (salted agg/join) and space-dimension chunk exclusion.

Probe conclusions these tests pin semantics for (scripts/scale_probe.py,
50%-hot-key): AQE skew-join splitting matched or beat salted_join every
round (r6: 2.56s vs 3.08s) — the documented guidance is AQE for joins,
salting for aggregations whose partial state can't map-side compress
(r6 measured 3.5x there); see pipeline/skew.py's module docstring."""

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.pipeline.skew import salted_agg, salted_join
from timescaledb_spark.plans import scanned_paths
from timescaledb_spark.session import TSSession

T0_US = 1704067200000000


def test_salted_agg_matches_plain(spark):
    # 100k rows, 90% on one hot key
    df = spark.range(100_000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("k"), F.col("id") % 50)
        ).alias("k"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    got = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in salted_agg(
            df, ["k"], {"n": ("count", "v"), "s": ("sum", "v"), "mn": ("min", "v"), "mx": ("max", "v")}
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="non-mergeable"):
        salted_agg(df, ["k"], {"a": ("avg", "v")})


def test_salted_join_matches_plain(spark):
    big = spark.range(50_000).select(
        F.when(F.col("id") % 5 < 4, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dim")
    )
    got = salted_join(big, small, ["k"], salt_n=8)
    want = big.join(small, ["k"])
    assert got.count() == want.count() == 50_000
    assert (
        got.agg(F.sum(F.col("payload") + F.col("dim"))).collect()[0][0]
        == want.agg(F.sum(F.col("payload") + F.col("dim"))).collect()[0][0]
    )
    # left join keeps unmatched rows exactly once
    small2 = small.filter(F.col("k") < 50)
    got_l = salted_join(big, small2, ["k"], salt_n=8, how="left")
    want_l = big.join(small2, ["k"], "left")
    assert got_l.count() == want_l.count()


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
