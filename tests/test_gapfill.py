"""GapFill operator: spine generation, locf, interpolate — closed-form and
oracle-checked (mirrors tsl/test/shared/sql/gapfill.sql.in edge cases)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.operators import interpolate, locf, time_bucket_gapfill
from .oracle import assert_match

H = 3_600_000_000


@pytest.fixture(scope="module")
def sensor_df(spark):
    """FIXTURES.md F3-style: linear ramp per sensor with deleted spans."""
    rows = []
    base = 1_700_000_000_000_000  # µs
    for sensor in range(3):
        for minute in range(0, 180):
            if 60 <= minute < 120 and sensor == 0:
                continue  # hole: hour 2 missing for sensor 0
            if sensor == 2 and minute >= 90:
                continue  # sensor 2: data only in first half
            rows.append(
                (
                    sensor,
                    datetime.utcfromtimestamp((base + minute * 60_000_000) / 1e6),
                    float(minute),
                )
            )
    return spark.createDataFrame(rows, "sensor int, ts timestamp, value double")


def test_spine_no_groups(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 30), 1.0)], "ts timestamp, v double"
    )
    out = time_bucket_gapfill(
        df,
        "1 hour",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 1, 1, 6),
        aggs={"v": F.avg("v")},
    )
    rows = out.orderBy("bucket").collect()
    assert len(rows) == 6
    assert rows[0]["bucket"] == datetime(2024, 1, 1, 0)
    assert rows[-1]["bucket"] == datetime(2024, 1, 1, 5)
    assert rows[0]["v"] == 1.0 and rows[1]["v"] is None


def test_unaligned_start_aligns_to_bucket(spark):
    """start is bucketed first (align_with_time_bucket, gapfill_exec.c:345)."""
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 1, 0), 1.0)], "ts timestamp, v double"
    )
    out = time_bucket_gapfill(
        df,
        "1 hour",
        "ts",
        start=datetime(2024, 1, 1, 0, 45),
        finish=datetime(2024, 1, 1, 3, 1),
        aggs={"v": F.avg("v")},
    )
    buckets = [r["bucket"] for r in out.orderBy("bucket").collect()]
    assert buckets == [
        datetime(2024, 1, 1, 0),
        datetime(2024, 1, 1, 1),
        datetime(2024, 1, 1, 2),
        datetime(2024, 1, 1, 3),
    ]


def test_rows_outside_range_pass_through(spark):
    """Actual rows beyond finish are returned un-gapfilled
    (gapfill_exec.c:1061)."""
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0), 1.0), (datetime(2024, 1, 1, 9), 9.0)],
        "ts timestamp, v double",
    )
    out = time_bucket_gapfill(
        df,
        "1 hour",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 1, 1, 3),
        aggs={"v": F.avg("v")},
        fill={"v": locf()},
    )
    rows = {r["bucket"]: r["v"] for r in out.collect()}
    assert len(rows) == 4  # 3 spine + 1 outside
    assert rows[datetime(2024, 1, 1, 9)] == 9.0
    assert rows[datetime(2024, 1, 1, 1)] == 1.0  # locf'd
    assert rows[datetime(2024, 1, 1, 2)] == 1.0


def test_locf_basic_and_prev(sensor_df):
    out = time_bucket_gapfill(
        sensor_df.filter(F.col("sensor") == 0),
        "1 hour",
        "ts",
        start=datetime(2023, 11, 14, 21, 0),  # one hour before data begins
        finish=datetime(2023, 11, 15, 2, 0),
        group_by=["sensor"],
        aggs={"v": F.avg("value")},
        fill={"v": locf(prev=-1.0)},
    )
    rows = {r["bucket"]: r["v"] for r in out.collect()}
    # data starts 22:13 (base epoch 2023-11-14T22:13:20Z floor hour 22:00)
    first_data_bucket = min(b for b, v in rows.items() if v is not None and v >= 0)
    # leading bucket(s) get prev=-1.0
    assert rows[datetime(2023, 11, 14, 21)] == -1.0
    # the missing hour is locf'd from the previous hour's average
    assert all(v is not None for v in rows.values())


def test_locf_null_handling(spark):
    """Actual NULL row resets carry (treat_null_as_missing=False) vs is
    skipped (True)."""
    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0), 10.0),
            (datetime(2024, 1, 1, 1), None),  # actual row, NULL value
            # hour 2 missing
        ],
        "ts timestamp, v double",
    )
    kw = dict(
        width="1 hour",
        time_col="ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 1, 1, 4),
        aggs={"v": F.max("v")},
    )
    strict = time_bucket_gapfill(df, fill={"v": locf()}, **kw)
    got = {r["bucket"].hour: r["v"] for r in strict.collect()}
    assert got == {0: 10.0, 1: None, 2: None, 3: None}
    lax = time_bucket_gapfill(
        df, fill={"v": locf(treat_null_as_missing=True)}, **kw
    )
    got = {r["bucket"].hour: r["v"] for r in lax.collect()}
    assert got == {0: 10.0, 1: 10.0, 2: 10.0, 3: 10.0}


def test_interpolate_closed_form(spark):
    """Linear ramp: interpolated values equal the ramp exactly."""
    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0), 0.0),
            (datetime(2024, 1, 1, 4), 40.0),
        ],
        "ts timestamp, v double",
    )
    out = time_bucket_gapfill(
        df,
        "1 hour",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 1, 1, 5),
        aggs={"v": F.avg("v")},
        fill={"v": interpolate()},
    )
    got = {r["bucket"].hour: r["v"] for r in out.collect()}
    assert got == {0: 0.0, 1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0}


def test_interpolate_boundaries_null_without_lookup(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 2), 20.0)], "ts timestamp, v double"
    )
    out = time_bucket_gapfill(
        df,
        "1 hour",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 1, 1, 5),
        aggs={"v": F.avg("v")},
        fill={"v": interpolate()},
    )
    got = {r["bucket"].hour: r["v"] for r in out.collect()}
    assert got == {0: None, 1: None, 2: 20.0, 3: None, 4: None}


def test_interpolate_prev_next_lookups(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 2), 20.0)], "ts timestamp, v double"
    )
    out = time_bucket_gapfill(
        df,
        "1 hour",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 1, 1, 5),
        aggs={"v": F.avg("v")},
        fill={
            "v": interpolate(
                prev=(datetime(2023, 12, 31, 23), 0.0),
                next=(datetime(2024, 1, 1, 5), 50.0),
            )
        },
    )
    got = {r["bucket"].hour: r["v"] for r in out.collect()}
    # 23:00->2:00 ramp 0->20 (3h): 0:00 = 20/3*1, 1:00 = 40/3
    assert got[0] == pytest.approx(20 / 3)
    assert got[1] == pytest.approx(40 / 3)
    assert got[2] == 20.0
    # 2:00->5:00 ramp 20->50: 3:00=30, 4:00=40
    assert got[3] == pytest.approx(30.0)
    assert got[4] == pytest.approx(40.0)


def test_interpolate_integer_rounds(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0), 0), (datetime(2024, 1, 1, 3), 10)],
        "ts timestamp, v bigint",
    )
    out = time_bucket_gapfill(
        df,
        "1 hour",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 1, 1, 4),
        aggs={"v": F.max("v")},
        fill={"v": interpolate()},
    )
    got = {r["bucket"].hour: r["v"] for r in out.collect()}
    # 10/3 = 3.33 -> 3; 20/3 = 6.67 -> 7  (numeric rounding, not truncation)
    assert got == {0: 0, 1: 3, 2: 7, 3: 10}


def test_int_time_gapfill(spark):
    df = spark.createDataFrame(
        [(0, 1.0), (30, 4.0)], "t bigint, v double"
    )
    out = time_bucket_gapfill(
        df,
        10,
        "t",
        start=0,
        finish=40,
        aggs={"v": F.avg("v")},
        fill={"v": locf()},
    )
    got = {r["bucket"]: r["v"] for r in out.collect()}
    assert got == {0: 1.0, 10: 1.0, 20: 1.0, 30: 4.0}


def test_month_gapfill(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 15), 1.0), (datetime(2024, 5, 20), 5.0)],
        "ts timestamp, v double",
    )
    out = time_bucket_gapfill(
        df,
        "1 month",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 6, 1),
        aggs={"v": F.avg("v")},
        fill={"v": interpolate()},
    )
    rows = out.orderBy("bucket").collect()
    assert [r["bucket"].month for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0]["v"] == 1.0 and rows[4]["v"] == 5.0
    assert rows[2]["v"] is not None  # interpolated


def test_gapfill_vs_duckdb_oracle(tsdata, duck):
    """Full gapfill+locf over events per user vs a DuckDB window-function
    oracle."""
    start, finish = datetime(2024, 1, 1), datetime(2024, 3, 1)
    df = time_bucket_gapfill(
        tsdata.table("events"),
        "1 day",
        "ts",
        start=start,
        finish=finish,
        group_by=["user_id"],
        aggs={"sum_v": F.sum("value")},
        fill={"sum_v": locf()},
    )
    day = 86_400_000_000
    sql = f"""
    WITH agg AS (
      SELECT user_id,
             make_timestamp(epoch_us(ts) - ((epoch_us(ts) - 946857600000000) % {day}
                            + {day}) % {day}) AS bucket,
             sum(value) AS sum_v
      FROM events
      GROUP BY 1, 2
    ), spine AS (
      SELECT u.user_id, b.bucket
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-02-29', INTERVAL 1 DAY)) AS bucket
      ) b
    ), j AS (
      SELECT s.user_id, s.bucket, a.sum_v, a.bucket IS NOT NULL AS present
      FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.bucket = a.bucket
      UNION ALL
      SELECT a.user_id, a.bucket, a.sum_v, true FROM agg a
      WHERE a.bucket < TIMESTAMP '2024-01-01' OR a.bucket >= TIMESTAMP '2024-03-01'
    )
    SELECT user_id, bucket,
           last_value(CASE WHEN present THEN sum_v END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_v
    FROM j
    """
    assert_match(df, duck, sql)


# ---------------------------------------------------------------------------
# round-7 review regressions: NULL groups, DST, month-path edges, axes
# ---------------------------------------------------------------------------

def test_null_group_key_fills_like_any_group(spark):
    """NULL group keys must join null-safely: one row per bucket, gaps
    filled from the NULL group's own data."""
    df = spark.createDataFrame(
        [
            (None, datetime(2024, 1, 1), 1.0),
            (None, datetime(2024, 1, 3), 2.0),
            ("g1", datetime(2024, 1, 1), 5.0),
        ],
        "g string, ts timestamp, value double",
    )
    out = time_bucket_gapfill(
        df, "1 day", "ts", datetime(2024, 1, 1), datetime(2024, 1, 4),
        group_by=["g"], aggs={"v": F.avg("value")}, fill={"v": locf()},
    ).collect()
    null_rows = sorted(
        ((r["bucket"], r["v"]) for r in out if r["g"] is None)
    )
    assert null_rows == [
        (datetime(2024, 1, 1), 1.0),
        (datetime(2024, 1, 2), 1.0),  # locf carry, not a duplicate pair
        (datetime(2024, 1, 3), 2.0),
    ]


def test_dst_spring_forward_no_duplicate_bucket(spark):
    """The nonexistent local hour at spring-forward must not emit a
    duplicate UTC bucket."""
    df = spark.createDataFrame(
        [(datetime(2024, 3, 10, 7, 30), 1.0)], "ts timestamp, value double"
    )
    out = time_bucket_gapfill(
        df, "1 hour", "ts",
        datetime(2024, 3, 10, 5, 0), datetime(2024, 3, 10, 10, 0),
        aggs={"v": F.avg("value")}, fill={"v": None},
        timezone="America/New_York",
    ).collect()
    buckets = [r["bucket"] for r in out]
    assert len(buckets) == len(set(buckets)), buckets


def test_month_gapfill_int_and_date_start(spark):
    from datetime import date as _date

    df = spark.createDataFrame(
        [(datetime(2024, 2, 10), 5.0)], "ts timestamp, value double"
    )
    # int µs start
    out = time_bucket_gapfill(
        df, "1 month", "ts", 1704067200000000, datetime(2024, 4, 1),
        aggs={"v": F.avg("value")}, fill={"v": None},
    ).collect()
    assert len(out) == 3
    # date start/finish
    out = time_bucket_gapfill(
        df, "1 month", "ts", _date(2024, 1, 1), _date(2024, 4, 1),
        aggs={"v": F.avg("value")}, fill={"v": None},
    ).collect()
    assert len(out) == 3


def test_month_gapfill_rejects_inverted_window(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 5, 2), 1.0)], "ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="finish must be after"):
        time_bucket_gapfill(
            df, "1 month", "ts", datetime(2024, 5, 10), datetime(2024, 5, 1),
            aggs={"v": F.avg("value")},
        )


def test_month_interpolate_prev_uses_month_axis(spark):
    """prev/next tuples carry TIMES; on a month spine they must convert
    to the month index, or the linear weights degenerate."""
    df = spark.createDataFrame(
        [(datetime(2024, 3, 15), 5.0)], "ts timestamp, value double"
    )
    out = {
        r["bucket"]: r["v"]
        for r in time_bucket_gapfill(
            df, "1 month", "ts", datetime(2024, 1, 1), datetime(2024, 4, 1),
            aggs={"v": F.avg("value")},
            fill={"v": interpolate(prev=(datetime(2023, 12, 1), 0.0))},
        ).collect()
    }
    # ramp 0 (Dec) -> 5 (Mar): Jan ~ 5/3, Feb ~ 10/3
    assert abs(out[datetime(2024, 1, 1)] - 5 / 3) < 1e-9
    assert abs(out[datetime(2024, 2, 1)] - 10 / 3) < 1e-9
    assert out[datetime(2024, 3, 1)] == 5.0


def test_gapfill_null_time_raises(spark):
    """gapfill_exec.c:1417 parity: a NULL row time is an error, not a
    pass-through (and the window gap expansion relies on it)."""
    import pytest
    from pyspark.sql import functions as F
    from timescaledb_spark.operators import time_bucket_gapfill

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "a", 1.0), (None, "a", 2.0)],
        "ts string, g string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    gf = time_bucket_gapfill(
        df, "1 hour", "ts", start="2024-01-01", finish="2024-01-01 06:00:00",
        group_by=["g"], aggs={"s": F.sum("v")},
    )
    with pytest.raises(Exception, match="ts cannot be NULL"):
        gf.collect()


def test_sql_gapfill_parses_statement_once(spark, tmp_path, monkeypatch):
    """A gapfill statement bounded only by its WHERE is parsed once: the
    default start/finish come from the statement's own tree, not from a
    second parse of the WHERE text."""
    from timescaledb_spark import sqltree
    from timescaledb_spark.session import TSSession

    ts = TSSession(spark, str(tmp_path))
    ht = ts.create_hypertable("g", "ts", chunk_interval="1 day")
    ht.insert(spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 30), 1.0), (datetime(2024, 1, 1, 3, 10), 4.0)],
        "ts timestamp, v double",
    ))
    parses = []
    parse = sqltree._parse
    monkeypatch.setattr(
        sqltree, "_parse", lambda *a, **k: parses.append(a[1]) or parse(*a, **k)
    )
    rows = ts.sql(
        "SELECT time_bucket_gapfill('1 hour', ts) AS b, locf(avg(v)) AS v "
        "FROM g WHERE ts >= '2024-01-01 00:00:00' AND ts < '2024-01-01 05:00:00' "
        "GROUP BY b ORDER BY b"
    ).collect()
    assert len(parses) == 1
    assert [r["v"] for r in rows] == [1.0, 1.0, 1.0, 4.0, 4.0]
