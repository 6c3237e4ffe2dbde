"""first/last, histogram, uuidv7 — oracle-checked."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.functions import (
    first,
    histogram,
    last,
    time_bucket,
    to_uuidv7,
    to_uuidv7_boundary,
    uuid_timestamp_micros,
    uuid_version,
    width_bucket,
)
from .oracle import assert_match


def test_first_last_vs_argmin(tsdata, duck):
    df = (
        tsdata.table("events")
        .groupBy("user_id")
        .agg(
            first("value", "ts").alias("first_v"),
            last("value", "ts").alias("last_v"),
            first("event_type", "ts").alias("first_t"),
        )
    )
    sql = """
        SELECT user_id,
               arg_min(value, ts) AS first_v,
               arg_max(value, ts) AS last_v,
               arg_min(event_type, ts) AS first_t
        FROM events GROUP BY user_id
    """
    assert_match(df, duck, sql)


def test_first_last_per_bucket(tsdata, duck):
    """l_shipdate is day-granular → ties; use a deterministic composite
    bookend key (time, orderkey, linenumber) folded into one int64 so both
    engines break ties identically."""
    key = (
        F.unix_micros(F.col("l_shipdate").cast("timestamp")) / 1_000_000
    ).cast("long") * F.lit(100_000_000) + F.col("l_orderkey") * F.lit(10) + F.col(
        "l_linenumber"
    )
    df = (
        tsdata.table("lineitem")
        .groupBy(time_bucket("7 days", "l_shipdate").alias("bucket"))
        .agg(
            first("l_extendedprice", key).alias("open_price"),
            last("l_extendedprice", key).alias("close_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    w = 7 * 86_400_000_000
    e = "epoch_us(l_shipdate)"
    k = "(epoch(l_shipdate)::BIGINT * 100000000 + l_orderkey * 10 + l_linenumber)"
    sql = f"""
        SELECT make_timestamp({e} - ((({e} - 946857600000000) % {w} + {w}) % {w})) AS bucket,
               arg_min(l_extendedprice, {k}) AS open_price,
               arg_max(l_extendedprice, {k}) AS close_price,
               count(*) AS n
        FROM lineitem GROUP BY 1
    """
    assert_match(df, duck, sql)


def test_width_bucket_and_histogram(tsdata, duck, spark):
    # histogram(value, 0, 200, 10) over events per event_type
    df = (
        tsdata.table("events")
        .groupBy("event_type")
        .agg(histogram("value", 0.0, 200.0, 10).alias("hist"))
    )
    rows = {r["event_type"]: r["hist"] for r in df.collect()}
    # oracle: compute bucket counts in duckdb with the width_bucket formula
    dsql = """
        SELECT event_type,
               CASE WHEN value < 0 THEN 0
                    WHEN value >= 200 THEN 11
                    ELSE 1 + CAST(floor((value - 0)/(200 - 0) * 10) AS INT)
               END AS b,
               count(*) AS n
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    """
    expect: dict = {}
    for et, b, n in duck.execute(dsql).fetchall():
        expect.setdefault(et, [0] * 12)[b] = n
    assert rows == expect
    # every value accounted for
    total = duck.execute(
        "SELECT count(*) FROM events WHERE value IS NOT NULL"
    ).fetchone()[0]
    assert sum(sum(h) for h in rows.values()) == total


def test_histogram_nulls_ignored(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (1, None), (1, 5.0), (1, 99.0), (1, -3.0)], "g int, v double"
    )
    h = df.groupBy("g").agg(histogram("v", 0.0, 10.0, 5).alias("h")).collect()[0]["h"]
    # -3 -> underflow(0); 1.0 -> bucket 1; 5.0 -> bucket 3; 99 -> overflow(6)
    assert h == [1, 1, 0, 1, 0, 0, 1]
    assert len(h) == 7


def test_uuidv7_roundtrip(spark):
    df = spark.createDataFrame(
        [(datetime(2026, 1, 15, 12, 30, 45, 123456),), (datetime(2000, 1, 3),)],
        "ts timestamp",
    )
    out = df.select(
        to_uuidv7("ts").alias("u"),
        to_uuidv7_boundary("ts").alias("ub"),
        F.unix_micros("ts").alias("us"),
    ).collect()
    for r in out:
        assert uuid_version_of(r["u"]) == 7
        assert uuid_version_of(r["ub"]) == 7
    # extraction: ms-exact, sub-ms within 1µs quantization
    df2 = df.select(
        "ts", uuid_timestamp_micros(to_uuidv7("ts")).alias("us2"),
        F.unix_micros("ts").alias("us"),
        uuid_version(to_uuidv7("ts")).alias("ver"),
    )
    for r in df2.collect():
        assert abs(r["us2"] - r["us"]) <= 1
        assert r["ver"] == 7


def uuid_version_of(u: str) -> int:
    return int(u[14], 16)


def test_uuidv7_ordering(spark):
    """UUIDv7 string order == timestamp order (the point of v7 keys)."""
    df = spark.range(1000).select(
        F.timestamp_micros(F.lit(1700000000000000) + F.col("id") * 1234567).alias("ts")
    )
    out = df.select(to_uuidv7("ts").alias("u"), "ts").collect()
    us = [r["u"] for r in sorted(out, key=lambda r: r["ts"])]
    assert us == sorted(us)


def test_interpolated_average_cross_bucket(spark):
    """A value carried across a bucket boundary must weight BOTH buckets
    (the toolkit interpolated_average contract) — the naive per-bucket
    time_weight would miss the carried-in portion entirely."""
    from timescaledb_spark.functions.counters import interpolated_average

    us = 1_000_000
    h = 3600 * us
    rows = [
        # t=30min v=10 -> holds until t=90min (spans the 1h boundary)
        (1, h // 2, 10.0),
        (2, h + h // 2, 20.0),   # t=90min v=20 -> holds until t=120min
        (3, 2 * h, 0.0),         # terminator at t=120min (no weight)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, us long, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"), "value")
    out = {
        r["bucket"].minute + r["bucket"].hour * 60: r
        for r in interpolated_average(
            df, "1 hour", "ts", "value", tiebreak=["event_id"]
        ).collect()
    }
    # bucket 0: only [30min, 60min) covered, all at v=10
    assert out[0]["tw_avg"] == pytest.approx(10.0)
    # bucket 1: [60,90) at v=10 carried in, [90,120) at v=20
    assert out[60]["tw_avg"] == pytest.approx(15.0)
    assert out[60]["n_segments"] == 2
    # terminator contributes no third bucket
    assert set(out) == {0, 60}


def test_interpolated_average_equals_time_weight_within_span(spark):
    """Weighted-recombining the per-bucket averages reproduces the
    whole-group time_weight integral (conservation property)."""
    import random

    from timescaledb_spark.functions.counters import (
        interpolated_average,
        time_weighted_avg,
    )

    rnd = random.Random(7)
    us = 1_000_000
    rows = [
        (i, rnd.randrange(0, 6 * 3600 * us), float(rnd.randrange(100)))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, us long, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"), "value")
    whole = time_weighted_avg(df, "ts", "value", tiebreak=["event_id"]).collect()[0]
    parts = interpolated_average(
        df, "30 minutes", "ts", "value", tiebreak=["event_id"]
    ).collect()
    # recombine: sum(avg_b * covered_b) / sum(covered_b); covered is not
    # returned, so recompute it as sum over segments — instead verify via
    # integral equality: sum(avg*cover) where cover = n/a -> use exact
    # integral from the operator's own internals by re-deriving weights
    span_lo = min(t for _, t, _ in rows)
    span_hi = max(t for _, t, _ in rows)
    h = 1800 * us
    covered = {}
    for b in range(span_lo // h * h, span_hi // h * h + h, h):
        lo, hi = max(b, span_lo), min(b + h, span_hi)
        if hi > lo:
            covered[b // h] = hi - lo
    integral = sum(
        r["tw_avg"] * covered[int(r["bucket"].timestamp() * us) // h]
        for r in parts
    )
    assert integral / (span_hi - span_lo) == pytest.approx(
        whole["tw_avg"], rel=1e-9
    )


def test_interpolated_delta_boundary_split_and_reset(spark):
    """A counter segment crossing the bucket edge splits its increase
    linearly between the buckets, and a reset (drop) counts the
    post-reset value as the increase — prometheus semantics."""
    from timescaledb_spark.functions.counters import interpolated_delta

    us = 1_000_000
    h = 3600 * us
    rows = [
        (1, h // 2, 0.0),        # t=30m   c=0
        (2, h + h // 2, 100.0),  # t=90m   c=100 (segment spans the edge)
        (3, h + h // 2 + 600 * us, 20.0),  # t=100m reset: 100 -> 20
        (4, 2 * h, 50.0),        # t=120m  c=50 (adjusted 150)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, us long, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"), "value")
    out = {
        r["bucket"].hour * 60 + r["bucket"].minute: r
        for r in interpolated_delta(
            df, "1 hour", "ts", "value", tiebreak=["event_id"]
        ).collect()
    }
    # bucket 0: [30m, 60m) is half of the 0->100 segment's span -> +50
    assert out[0]["delta"] == pytest.approx(50.0)
    # bucket 1: rest of that segment (+50), reset step (+20 post-reset
    # value), then 20->50 (+30) -> 100 total
    assert out[60]["delta"] == pytest.approx(100.0)
    # rate divides by covered seconds: bucket 0 covers 30 minutes
    assert out[0]["rate"] == pytest.approx(50.0 / 1800)
    # total increase conserved: 100 (ramp) + 20 (post-reset) + 30
    assert sum(r["delta"] for r in out.values()) == pytest.approx(150.0)


def test_interpolated_delta_matches_counter_agg_total(spark):
    """Summing per-bucket interpolated deltas reproduces counter_agg's
    whole-span delta (conservation under bucketing)."""
    import random

    from timescaledb_spark.functions.counters import (
        counter_agg,
        interpolated_delta,
    )

    rnd = random.Random(11)
    us = 1_000_000
    t, v, rows = 0, 0.0, []
    for i in range(300):
        t += rnd.randrange(1, 30 * 60) * us
        v = v + rnd.randrange(10) if rnd.random() > 0.05 else float(rnd.randrange(5))
        rows.append((i, t, float(v)))
    df = spark.createDataFrame(
        rows, "event_id long, us long, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"), "value")
    whole = counter_agg(df, "ts", "value", tiebreak=["event_id"]).collect()[0]
    parts = interpolated_delta(
        df, "45 minutes", "ts", "value", tiebreak=["event_id"]
    ).collect()
    assert sum(r["delta"] for r in parts) == pytest.approx(
        whole["delta"], rel=1e-9
    )


def test_freq_sketch_bounds_under_pressure(spark):
    """With capacity far below the distinct-key count, every merged
    count is a valid lower bound within N/capacity of the truth, and
    the dominant heavy hitter still surfaces at rank 1."""
    import random

    from timescaledb_spark.functions.stats import freq_sketch_topn

    rnd = random.Random(3)
    rows = [("hot",)] * 3000 + [("warm",)] * 800 + [
        (f"cold_{rnd.randrange(5000)}",) for _ in range(6000)
    ]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "v string").repartition(8)
    got = {
        r["v"]: r["freq_lb"]
        for r in freq_sketch_topn(df, "v", n=5, capacity=32).collect()
    }
    n_total = len(rows)
    # 8 partitions x (N_p / 32) total undercount budget = N/32 overall
    budget = n_total / 32
    assert "hot" in got and got["hot"] <= 3000 and got["hot"] >= 3000 - budget
    top = max(got, key=lambda k: got[k])
    assert top == "hot"
    truth = {"hot": 3000, "warm": 800}
    for v, lb in got.items():
        true = truth.get(v, rows.count((v,)))
        assert lb <= true <= lb + budget


def test_freq_sketch_exact_when_capacity_suffices(spark):
    """capacity >= distinct keys -> merged lower bounds equal exact
    counts (the q_freq_sketch gate's contract)."""
    from timescaledb_spark.functions.stats import freq_sketch_topn, topn

    df = spark.createDataFrame(
        [(i, f"k{i % 7}") for i in range(10_000)], "id long, v string"
    ).repartition(16)
    sk = {r["v"]: r["freq_lb"] for r in freq_sketch_topn(df, "v", n=7, capacity=16).collect()}
    ex = {r["v"]: r["freq"] for r in topn(df, "v", n=7).collect()}
    assert sk == ex


def test_freq_sketch_grouped_high_cardinality_repartitions(spark):
    """Advice/VERDICT r9: a high-cardinality ``by`` makes per-task state
    groups_in_partition x capacity; ``repartition_groups=True`` hash-
    partitions on the group key so each group lands in exactly one task
    (state |groups|/shuffle_partitions x capacity). With capacity >= the
    per-group distinct values, results stay exact."""
    from timescaledb_spark.functions.stats import freq_sketch_topn, topn
    from timescaledb_spark.plans.inspect import shuffle_count

    n_groups = 5_000
    df = spark.createDataFrame(
        [(f"g{i % n_groups}", f"v{(i * 7) % 3}") for i in range(50_000)],
        "grp string, v string",
    ).repartition(32)
    out = freq_sketch_topn(
        df, "v", n=3, capacity=8, by=["grp"], repartition_groups=True
    )
    # the group-key exchange is present (the documented price of the
    # per-task memory bound)
    assert shuffle_count(out) >= 2  # repartition(grp) + merge groupBy
    got = {(r["grp"], r["v"]): r["freq_lb"] for r in out.collect()}
    exact = {
        (r["grp"], r["v"]): r["freq"]
        for r in topn(df, "v", n=3, by=["grp"]).collect()
    }
    assert got == exact
