"""Declared query inventory — the driver correctness gate surface.

Every entry pairs a Spark DataFrame builder (``QUERIES``) with an
ANSI-SQL DuckDB oracle (``ORACLES``) computing the same result with the
same column names. Keys map to SURVEY.md §2 inventory items; docstrings
cite the reference implementation.

Conventions:
- Deterministic results only: bookend aggregates use composite tie-break
  keys; no floating-point-order-dependent reductions beyond sum/avg over
  doubles (duckdb and spark both sum in arbitrary order — values in the
  testdata are small enough for 10-significant-digit stability).
- Oracle formulas encode the reference semantics explicitly (FIXTURES.md
  "Oracle protocol"): time_bucket = ts - pmod(ts - origin, width) at µs
  precision, origin Mon 2000-01-03.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import (
    first,
    histogram,
    last,
    time_bucket,
    time_bucket_int,
    to_unix_microseconds,
)
from .functions.smoothing import asap_smooth_sql
from .sources import load_table

ORIGIN_US = 946_857_600_000_000

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# value: SQL string, or a zero-arg callable returning one (resolved at
# oracle_sql() time, so building the text costs nothing at import)
ORACLES: dict[str, object] = {}


def query(name: str, oracle=None):
    def deco(fn):
        if name in QUERIES:
            # a duplicate silently SHADOWS the earlier gate: the first
            # query and its oracle vanish from the driver surface and
            # the shared name corrupts gate-rotation history (this
            # happened to q_stats_agg in r2-r7)
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _bucket_sql(width_us: int, expr: str, origin: int = ORIGIN_US) -> str:
    """DuckDB SQL for the reference time_bucket formula (src/time_bucket.c)."""
    d = f"(epoch_us({expr}) - {origin})"
    return f"make_timestamp(epoch_us({expr}) - (({d} % {width_us} + {width_us}) % {width_us}))"


HOUR = 3_600_000_000
DAY = 86_400_000_000
WEEK = 7 * DAY


# ---------------------------------------------------------------------------
# time_bucket + aggregates (SURVEY §2.4; src/time_bucket.c, vector_agg/)
# ---------------------------------------------------------------------------

@query(
    "q_bucket_hourly",
    f"""
    SELECT {_bucket_sql(HOUR, 'ts')} AS bucket,
           count(*) AS n,
           sum(value) AS sum_v,
           avg(value) AS avg_v,
           min(value) AS min_v,
           max(value) AS max_v
    FROM events GROUP BY 1
    """,
)
def q_bucket_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup: time_bucket('1 hour') + the vectorized-agg set
    (tsl/src/nodes/vector_agg/ — count/sum/avg/min/max come from Spark's
    codegen HashAggregate, the Catalyst analog)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(time_bucket("1 hour", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
        F.avg("value").alias("avg_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


@query(
    "q_bucket_daily_by_type",
    f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket,
           event_type,
           count(*) AS n,
           sum(value) AS sum_v,
           stddev_samp(value) AS sd_v
    FROM events GROUP BY 1, 2
    """,
)
def q_bucket_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        time_bucket("1 day", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
        F.stddev_samp("value").alias("sd_v"),
    )


@query(
    "q_bucket_month",
    """
    WITH m AS (SELECT (year(ts)*12 + month(ts) - 1) AS midx, value FROM events),
    b AS (SELECT midx - (((midx - 24000) % 1 + 1) % 1) AS bidx, value FROM m)
    SELECT CAST(make_date(CAST(bidx // 12 AS INT), CAST(bidx % 12 + 1 AS INT), 1)
                AS TIMESTAMP) AS bucket,
           count(*) AS n, sum(value) AS sum_v
    FROM b GROUP BY 1
    """,
)
def q_bucket_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-width month bucket (bucket_month, src/time_bucket.c:157)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(time_bucket("1 month", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v")
    )


@query(
    "q_bucket_offset_tz",
    f"""
    WITH shifted AS (
      SELECT make_timestamp(epoch_us(ts) - 1800000000) AS s, value FROM events
    )
    SELECT make_timestamp(epoch_us(s)
             - ((epoch_us(s) - {ORIGIN_US}) % {DAY} + {DAY}) % {DAY}
             + 1800000000) AS bucket,
           count(*) AS n
    FROM shifted GROUP BY 1
    """,
)
def q_bucket_offset_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset variant (ts_timestamptz_offset_bucket, src/time_bucket.c:245)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        time_bucket("1 day", "ts", offset="30 minutes").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_int_bucket",
    """
    SELECT l_orderkey - ((l_orderkey % 1000 + 1000) % 1000) AS bucket,
           count(*) AS n, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY 1
    """,
)
def q_int_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer time_bucket (ts_int64_bucket, src/time_bucket.c:84)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(time_bucket_int(1000, "l_orderkey").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# bookends first/last (SURVEY §2.4; src/agg_bookend.c)
# ---------------------------------------------------------------------------

@query(
    "q_first_last",
    f"""
    SELECT user_id,
           {_bucket_sql(WEEK, 'ts')} AS bucket,
           arg_min(value, epoch_us(ts)*1000 + (event_id % 1000)) AS first_v,
           arg_max(value, epoch_us(ts)*1000 + (event_id % 1000)) AS last_v,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last bookend aggregates == min_by/max_by (sql/bookend.sql:50,63);
    composite key makes tie-breaking deterministic across engines."""
    ev = load_table(spark, sf_dir, "events")
    key = to_unix_microseconds("ts") * F.lit(1000) + F.pmod(
        F.col("event_id"), F.lit(1000)
    )
    return ev.groupBy(
        "user_id", time_bucket("7 days", "ts").alias("bucket")
    ).agg(
        first("value", key).alias("first_v"),
        last("value", key).alias("last_v"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# histogram (SURVEY §2.4; src/histogram.c)
# ---------------------------------------------------------------------------

@query(
    "q_histogram",
    """
    WITH counts AS (
      SELECT event_type,
             CASE WHEN value < 0 THEN 0
                  WHEN value >= 200 THEN 11
                  ELSE 1 + CAST(floor(value / 200 * 10) AS INT) END AS b,
             count(*) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), spine AS (
      SELECT event_type, b
      FROM (SELECT DISTINCT event_type FROM events)
      CROSS JOIN (SELECT unnest(range(0, 12)) AS b)
    )
    SELECT s.event_type,
           string_agg(CAST(coalesce(c.n, 0) AS VARCHAR), ',' ORDER BY s.b) AS hist
    FROM spine s LEFT JOIN counts c ON s.event_type = c.event_type AND s.b = c.b
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram(value, 0, 200, 10) → int[12] incl. under/overflow buckets
    (src/histogram.c:33-49, width_bucket_float8 semantics).

    The array is emitted comma-joined as a string so the result is
    hashable for the driver's canonicalizer (arrays aren't)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.array_join(
            histogram("value", 0.0, 200.0, 10).cast("array<string>"), ","
        ).alias("hist")
    )


# ---------------------------------------------------------------------------
# counter aggregates + time weighting (toolkit hyperfunction families
# counter_agg/rate/delta and time_weight/average — prometheus semantics)
# ---------------------------------------------------------------------------

@query(
    "q_counter_agg",
    """
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us, value,
             lag(value) OVER w AS pv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           sum(CASE WHEN pv IS NULL THEN 0
                    WHEN value < pv THEN value
                    ELSE value - pv END) AS delta,
           CASE WHEN max(us) > min(us)
                THEN sum(CASE WHEN pv IS NULL THEN 0
                              WHEN value < pv THEN value
                              ELSE value - pv END)
                     / ((max(us) - min(us)) / 1000000.0)
           END AS rate,
           CAST(sum(CASE WHEN pv IS NOT NULL AND value < pv
                         THEN 1 ELSE 0 END) AS BIGINT) AS num_resets,
           CAST(sum(CASE WHEN pv IS NOT NULL AND value <> pv
                         THEN 1 ELSE 0 END) AS BIGINT) AS num_changes,
           min(us) AS first_us,
           max(us) AS last_us
    FROM s GROUP BY user_id
    """,
)
def q_counter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """counter_agg/delta/rate with prometheus reset semantics (toolkit
    counter_agg family): a drop in the raw series is a reset and the
    post-reset value counts as the increment. One shuffle on user_id;
    the lag window and the final aggregate share it."""
    from .functions.counters import counter_agg

    ev = load_table(spark, sf_dir, "events")
    return counter_agg(
        ev, "ts", "value", by=["user_id"], tiebreak=["event_id"]
    ).select(
        "user_id", "n", "delta", "rate", "num_resets", "num_changes",
        "first_us", "last_us",
    )


@query(
    "q_time_weight",
    """
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us, value,
             lead(epoch_us(ts)) OVER w AS nxt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CASE WHEN max(us) > min(us)
                THEN sum(value * (coalesce(nxt, us) - us)) / (max(us) - min(us))
                ELSE arg_min(value, us) END AS tw_avg,
           CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY user_id
    """,
)
def q_time_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_weight('LOCF') -> average (toolkit time_weight family): each
    sample's value holds until the next sample; irregular sampling stops
    skewing the mean toward burst periods."""
    from .functions.counters import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev, "ts", "value", by=["user_id"], tiebreak=["event_id"])


@query(
    "q_state_agg",
    """
    WITH s AS (
      SELECT user_id, event_type AS state, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER w AS nxt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, state,
           CAST(sum(coalesce(nxt, us) - us) AS BIGINT) AS duration_us,
           CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY 1, 2
    """,
)
def q_state_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """state_agg -> duration_in (toolkit state_agg family): time each
    user spends in each event_type state under LOCF holding."""
    from .functions.state import state_durations

    ev = load_table(spark, sf_dir, "events")
    return state_durations(
        ev, "ts", "event_type", by=["user_id"], tiebreak=["event_id"]
    )


@query(
    "q_state_timeline",
    """
    WITH s AS (
      SELECT user_id, event_id, event_type AS state, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER w AS nxt,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), i AS (
      SELECT *, sum(chg) OVER (
        PARTITION BY user_id ORDER BY us, event_id
        ROWS UNBOUNDED PRECEDING
      ) AS isl
      FROM s
    )
    SELECT user_id, min(state) AS state,
           CAST(min(us) AS BIGINT) AS start_us,
           CAST(coalesce(max(nxt), max(us)) AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n
    FROM i GROUP BY user_id, isl
    """,
)
def q_state_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """state_agg -> state_timeline (toolkit accessor family, round 9):
    per user, consecutive same-state samples compress to (state,
    start_us, end_us) period rows under LOCF holding — output bounded
    by state CHANGES, not samples. One exchange feeds both window
    passes; the island groupBy is map-combined. Completes the
    state_agg accessor set alongside duration_in (q_state_agg),
    state_periods, and state_at."""
    from .functions.state import state_timeline

    ev = load_table(spark, sf_dir, "events")
    return state_timeline(
        ev, "ts", "event_type", by=["user_id"], tiebreak=["event_id"]
    )


@query(
    "q_heartbeat",
    """
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN nxt IS NULL THEN 7200000000
                    WHEN nxt - us < 7200000000 THEN nxt - us
                    ELSE 7200000000 END) AS BIGINT) AS live_us,
           CAST(1 + sum(CASE WHEN nxt - us > 7200000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS num_live_ranges,
           min(us) AS first_us,
           max(us) AS last_us,
           CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY user_id
    """,
)
def q_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """heartbeat_agg (toolkit): every event asserts 2h of liveness; the
    union of those windows gives live time and disjoint live ranges per
    user — interleaved-union algebra expressed as capped gap sums."""
    from .functions.state import heartbeat_agg

    ev = load_table(spark, sf_dir, "events")
    return heartbeat_agg(
        ev, "ts", by=["user_id"], liveness="2 hours", tiebreak=["event_id"]
    )


@query(
    "q_gauge_agg",
    """
    WITH s AS (
      SELECT user_id, value, epoch_us(ts) AS us,
             epoch_us(ts)*1000 + (event_id % 1000) AS k,
             lag(value) OVER w AS pv,
             lag(epoch_us(ts)) OVER w AS pus
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           arg_max(value, k) - arg_min(value, k) AS delta,
           CASE WHEN max(us) > min(us)
                THEN (arg_max(value, k) - arg_min(value, k))
                     / ((max(us) - min(us)) / 1000000.0)
                END AS rate,
           arg_max(value - pv, k) AS idelta,
           CASE WHEN arg_max(pus, k) IS NOT NULL
                THEN arg_max(value - pv, k)
                     / ((max(us) - arg_max(pus, k)) / 1000000.0)
                END AS irate,
           CAST(coalesce(sum(CASE WHEN pv IS NOT NULL
                THEN CAST(value <> pv AS INT) END), 0) AS BIGINT)
             AS num_changes,
           min(us) AS first_us,
           max(us) AS last_us
    FROM s GROUP BY 1
    """,
)
def q_gauge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gauge_agg -> delta/rate/idelta/irate (toolkit gauge family):
    counter_agg's twin for metrics that may decrease — no reset
    handling, delta is last - first."""
    from .functions.counters import gauge_agg

    ev = load_table(spark, sf_dir, "events")
    return gauge_agg(ev, "ts", "value", by=["user_id"], tiebreak=["event_id"])


@query(
    "q_stats_agg",
    """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS num_vals,
           sum(value) AS sum_v,
           avg(value) AS average,
           stddev_samp(value) AS stddev,
           var_samp(value) AS variance,
           skewness(value) * (count(value) - 2)
             / sqrt(count(value) * (count(value) - 1.0)) AS skewness,
           kurtosis_pop(value) AS kurtosis
    FROM events GROUP BY 1
    """,
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats_agg(value) one-variable rollup (toolkit stats_agg family):
    moments via built-in codegen aggregates. Spark's skewness/kurtosis
    are the POPULATION forms (g1/g2); the oracle converts DuckDB's
    sample-adjusted G1 with (n-2)/sqrt(n(n-1)) and uses kurtosis_pop."""
    from .functions.stats import stats_agg_1d

    ev = load_table(spark, sf_dir, "events")
    return stats_agg_1d(ev, "value", by=["event_type"])


@query(
    "q_stats_regr",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           regr_slope(value, epoch_us(ts) / 1000000.0) AS slope,
           regr_intercept(value, epoch_us(ts) / 1000000.0) AS intercept,
           corr(value, epoch_us(ts) / 1000000.0) AS corr,
           covar_samp(value, epoch_us(ts) / 1000000.0) AS covariance,
           regr_r2(value, epoch_us(ts) / 1000000.0)
             AS determination_coefficient
    FROM events GROUP BY 1
    """,
)
def q_stats_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats_agg(y, x) two-variable form -> slope/intercept/corr/
    covariance/r2 (toolkit 2D stats_agg; value regressed on time)."""
    from .functions.stats import stats_agg_2d

    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_sec", F.unix_micros("ts") / F.lit(1_000_000.0)
    )
    return stats_agg_2d(ev, "t_sec", "value", by=["event_type"])


@query(
    "q_candlestick",
    f"""
    SELECT event_type,
           {_bucket_sql(DAY, 'ts')} AS bucket,
           arg_min(value, epoch_us(ts)*1000 + (event_id % 1000)) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, epoch_us(ts)*1000 + (event_id % 1000)) AS close,
           CAST(sum(event_id % 7 + 1) AS DOUBLE) AS volume,
           sum(value * (event_id % 7 + 1)) / sum(event_id % 7 + 1) AS vwap,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_candlestick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """candlestick_agg(ts, price, volume) -> OHLC + volume + vwap per
    day bucket (toolkit financial family); open/close are bookends on a
    composite (time, event_id) key, same shape as first/last."""
    from .functions.stats import candlestick_agg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "vol", (F.pmod("event_id", F.lit(7)) + F.lit(1)).cast("double")
    )
    return candlestick_agg(
        ev, "ts", "value", "vol", bucket_width="1 day",
        by=["event_type"], tiebreak=["event_id"],
    )


@query(
    "q_percentile_agg",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99,
           CAST(count(value) AS BIGINT) AS num_vals
    FROM events GROUP BY 1
    """,
)
def q_percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_agg -> approx_percentile (toolkit UddSketch family).
    Exact continuous percentiles here (Spark `percentile` ==
    quantile_cont interpolation); percentile_approx is the documented
    sketch path for 100 TB groups (functions/stats.py:percentile_agg
    exact=False)."""
    from .functions.stats import percentile_agg

    ev = load_table(spark, sf_dir, "events")
    return percentile_agg(
        ev, "value", percentiles=(0.5, 0.9, 0.99), by=["event_type"]
    )


@query(
    "q_topn",
    """
    SELECT user_id, event_type, freq FROM (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS freq,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY count(*) DESC, event_type ASC
             ) AS rnk
      FROM events GROUP BY 1, 2
    ) WHERE rnk <= 3
    """,
)
def q_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn(freq_agg(..), 3) (toolkit SpaceSavings frequency family):
    exact two-phase count + per-group rank; deterministic tiebreak on
    the value itself."""
    from .functions.stats import topn

    ev = load_table(spark, sf_dir, "events")
    return topn(ev, "event_type", n=3, by=["user_id"])


# ---------------------------------------------------------------------------
# gapfill + locf + interpolate (SURVEY §2.1 GapFill node; tsl/src/nodes/gapfill/)
# ---------------------------------------------------------------------------

_GAPFILL_SPINE = f"""
    WITH agg AS (
      SELECT user_id,
             {_bucket_sql(DAY, 'ts')} AS bucket,
             sum(value) AS sum_v
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT u.user_id, b.bucket
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-03-30', INTERVAL 1 DAY)) AS bucket
      ) b
    ), j AS (
      SELECT s.user_id, s.bucket, a.sum_v, a.bucket IS NOT NULL AS present
      FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.bucket = a.bucket
      UNION ALL
      SELECT a.user_id, a.bucket, a.sum_v, true FROM agg a
      WHERE a.bucket < TIMESTAMP '2024-01-01' OR a.bucket >= TIMESTAMP '2024-03-31'
    )
"""


@query(
    "q_gapfill_locf",
    _GAPFILL_SPINE
    + """
    SELECT user_id, bucket,
           last_value(CASE WHEN present THEN sum_v END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_v
    FROM j
    """,
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket_gapfill + locf (GapFill node, gapfill_exec.c:1695 +
    locf.c): daily spine per user over [2024-01-01, 2024-03-31)."""
    from datetime import datetime

    from .operators import locf, time_bucket_gapfill

    ev = load_table(spark, sf_dir, "events")
    return time_bucket_gapfill(
        ev,
        "1 day",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 3, 31),
        group_by=["user_id"],
        aggs={"sum_v": F.sum("value")},
        fill={"sum_v": locf()},
    )


@query(
    "q_gapfill_interpolate",
    _GAPFILL_SPINE
    + """
    , w AS (
      SELECT user_id, bucket, sum_v, present,
             last_value(CASE WHEN present
                             THEN struct_pack(t := epoch_us(bucket), v := sum_v)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(CASE WHEN present
                              THEN struct_pack(t := epoch_us(bucket), v := sum_v)
                         END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
      FROM j
    )
    SELECT user_id, bucket,
           CASE WHEN present THEN sum_v
                WHEN pv IS NULL OR nv IS NULL THEN NULL
                ELSE (pv.v * (nv.t - epoch_us(bucket))
                      + nv.v * (epoch_us(bucket) - pv.t))
                     / CAST(nv.t - pv.t AS DOUBLE)
           END AS sum_v
    FROM w
    """,
)
def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket_gapfill + interpolate (interpolate.c linear formula
    y=(y0(x1-x)+y1(x-x0))/(x1-x0) on µs bucket coordinates)."""
    from datetime import datetime

    from .operators import interpolate, time_bucket_gapfill

    ev = load_table(spark, sf_dir, "events")
    return time_bucket_gapfill(
        ev,
        "1 day",
        "ts",
        start=datetime(2024, 1, 1),
        finish=datetime(2024, 3, 31),
        group_by=["user_id"],
        aggs={"sum_v": F.sum("value")},
        fill={"sum_v": interpolate()},
    )


_TZ = "America/New_York"
# q_gapfill_tz window: UTC instants whose New-York wall clock is midnight
# Jan 1 (EST, UTC-5) and midnight Apr 5 (EDT, UTC-4) — the spine crosses
# the 2024-03-10 spring-forward, so local-midnight instants shift by 1 h.
_TZ_START, _TZ_FINISH = "2024-01-01 05:00:00", "2024-04-05 04:00:00"


@query(
    "q_gapfill_tz",
    f"""
    WITH agg AS (
      SELECT event_type,
             CAST(timezone('{_TZ}',
                  date_trunc('day', timezone('{_TZ}', ts::TIMESTAMPTZ)))
                  AS TIMESTAMP) AS bucket,
             sum(value) AS sum_v
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT t.event_type, CAST(timezone('{_TZ}', b.lb) AS TIMESTAMP) AS bucket
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-04-04', INTERVAL 1 DAY)) AS lb
      ) b
    ), j AS (
      SELECT s.event_type, s.bucket, a.sum_v, a.bucket IS NOT NULL AS present
      FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.bucket = a.bucket
      UNION ALL
      SELECT a.event_type, a.bucket, a.sum_v, true FROM agg a
      WHERE a.bucket < TIMESTAMP '{_TZ_START}' OR a.bucket >= TIMESTAMP '{_TZ_FINISH}'
    )
    SELECT event_type, bucket,
           last_value(CASE WHEN present THEN sum_v END IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_v
    FROM j
    """,
)
def q_gapfill_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone gapfill (ts_gapfill_timestamptz_timezone_bucket,
    sql/gapfill.sql:23): daily spine in America/New_York wall-clock time
    crossing the 2024-03-10 DST spring-forward — post-transition bucket
    instants are 04:00 UTC instead of 05:00. locf carries January totals
    across the gap."""
    from .operators import locf, time_bucket_gapfill

    ev = load_table(spark, sf_dir, "events")
    return time_bucket_gapfill(
        ev,
        "1 day",
        "ts",
        start=_TZ_START,
        finish=_TZ_FINISH,
        group_by=["event_type"],
        aggs={"sum_v": F.sum("value")},
        fill={"sum_v": locf()},
        timezone=_TZ,
    )


@query(
    "q_uuid_bucket",
    f"""
    WITH u AS (
      SELECT value,
             (epoch_us(ts) // 1000) * 1000
             + (((epoch_us(ts) % 1000) * 4096 // 1000) * 1000 // 4096) AS us2
      FROM events
    )
    SELECT make_timestamp(us2 - ((us2 - {ORIGIN_US}) % {DAY} + {DAY}) % {DAY})
             AS bucket,
           count(*) AS n,
           sum(value) AS sum_v
    FROM u GROUP BY 1
    """,
)
def q_uuid_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket over UUIDv7 keys (ts_uuid_bucket, sql/time_bucket.sql:18):
    events keyed by a UUIDv7 built from ts, bucketed daily straight from
    the uuid. The oracle replicates the ms+12-bit-frac timestamp encoding
    roundtrip arithmetically (sub-ms precision loss and all)."""
    from .functions.uuid7 import time_bucket_uuid, to_uuidv7

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(to_uuidv7("ts").alias("u"), "value")
    return keyed.groupBy(time_bucket_uuid("1 day", "u").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v")
    )


# ---------------------------------------------------------------------------
# columnstore (SURVEY §2.3; tsl/src/compression/)
# ---------------------------------------------------------------------------

@query(
    "q_columnstore_roundtrip",
    """
    SELECT l_returnflag,
           count(*) AS n,
           sum(l_extendedprice) AS sum_price,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
    GROUP BY 1
    """,
)
def q_columnstore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest lineitem as a hypertable, convert every chunk to columnstore
    (segmentby=l_returnflag cluster + orderby sort + bloom filters,
    tsl/src/compression/api.c:889), then aggregate through a chunk-pruned
    read — results must be identical to aggregating the raw table."""
    import tempfile
    from datetime import datetime

    from .compression import compress_chunks, enable_columnstore
    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_columnstore_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("lineitem", "l_shipdate", chunk_interval="365 days")
    ht.insert(load_table(spark, sf_dir, "lineitem"))
    enable_columnstore(ht, segmentby=["l_returnflag"], orderby=[("l_shipdate", "asc")])
    compress_chunks(ht)
    return (
        ht.read(start=datetime(1994, 1, 1), end=datetime(1996, 1, 1))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_extendedprice").alias("sum_price"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )


@query(
    "q_last_point",
    """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) = 1
    """,
)
def q_last_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkipScan analog (tsl/src/nodes/skip_scan/README.md): latest row
    per user via a stats-first newest-chunks-backward walk that stops
    once every key is seen — O(recent chunks), not O(rows)."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_lastpoint_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ht.insert(ev)
    return ht.last_point(
        by="user_id", tiebreak=["event_id"], keys=ev.select("user_id")
    )


@query(
    "q_ordered_scan",
    """
    SELECT 'head' AS part, ts, event_id, value FROM (
      SELECT ts, event_id, value FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
      ORDER BY ts LIMIT 100)
    UNION ALL
    SELECT 'tail' AS part, ts, event_id, value FROM (
      SELECT ts, event_id, value FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
      ORDER BY ts DESC LIMIT 100)
    """,
)
def q_ordered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-append analog (src/planner/expand_hypertable.c:1024,
    should_chunk_append planner.c:1018, golden
    test/sql/plan_ordered_append.sql): time-ordered hypertable read with
    NO global sort — catalog-ordered per-chunk local sorts unioned in
    time order, zero Exchange. The gate takes the first 100 rows off the
    ascending stream and the first 100 off the descending stream
    (collect order = union partition order), so a broken ordering
    changes the row SET and fails the order-insensitive hash compare."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_ordered_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="3 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cols = ["ts", "event_id", "value"]
    head = (
        ht.read_ordered(start="2024-01-05", end="2024-01-25", columns=cols)
        .limit(100)
        .select(F.lit("head").alias("part"), *cols)
    )
    tail = (
        ht.read_ordered(
            start="2024-01-05", end="2024-01-25", desc=True, columns=cols
        )
        .limit(100)
        .select(F.lit("tail").alias("part"), *cols)
    )
    return head.unionByName(tail)


@query(
    "q_bucket_date",
    """
    SELECT DATE '1970-01-01'
             + CAST(dd - ((dd - 10959) % 7 + 7) % 7 AS INT) AS wbucket,
           CAST(date_trunc('month', d) AS DATE) AS mbucket,
           CAST(count(*) AS BIGINT) AS n,
           sum(l_quantity) AS sum_qty
    FROM (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dd,
             l_quantity
      FROM lineitem
    )
    GROUP BY 1, 2
    """,
)
def q_bucket_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket DATE overloads (sql/time_bucket.sql): 7-day buckets on
    the day-index grid anchored at 2000-01-03 (day 10959, the reference's
    Monday origin) plus 1-month date buckets — both return DateType."""
    from .functions.time import time_bucket_date

    li = load_table(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    return (
        li.select(d.alias("d"), "l_quantity")
        .groupBy(
            time_bucket_date("7 days", F.col("d")).alias("wbucket"),
            time_bucket_date("1 month", F.col("d")).alias("mbucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# continuous aggregates (SURVEY §2.5; tsl/src/continuous_aggs/)
# ---------------------------------------------------------------------------

_CAGG_ORACLE = f"""
    SELECT {_bucket_sql(DAY, 'ts')} AS bucket,
           event_type,
           count(*) AS n,
           sum(value) AS sum_v,
           avg(value) AS avg_v
    FROM events GROUP BY 1, 2
"""


def _cagg_setup(spark: SparkSession, sf_dir: str, name: str):
    """Build a scratch engine root, ingest events, define a daily cagg."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix=f"ts_cagg_{name}_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        name,
        ht,
        bucket_width="1 day",
        aggs={"n": "count(*)", "sum_v": "sum(value)", "avg_v": "avg(value)"},
        group_by=["event_type"],
    )
    return ts, ht, cagg


@query("q_cagg_refresh", _CAGG_ORACLE)
def q_cagg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cagg lifecycle: ingest → invalidation → two-phase refresh →
    materialized read (refresh.c:735, materialize.c:442). The oracle is a
    plain aggregation — the protocol must converge to it."""
    _, _, cagg = _cagg_setup(spark, sf_dir, "q1")
    cagg.refresh()
    return cagg.read(realtime=False)


@query("q_cagg_realtime", _CAGG_ORACLE)
def q_cagg_realtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realtime union view (common.c:1745): materialize only the first half
    of the range; the union of mat + raw-above-watermark must equal the
    full aggregation, with no double-counted boundary bucket."""
    ts, ht, cagg = _cagg_setup(spark, sf_dir, "q2")
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    mid = lo + (hi - lo) // 2
    cagg.refresh(start=lo, end=mid)
    return cagg.read(realtime=True)


@query("q_cagg_late_data", _CAGG_ORACLE)
def q_cagg_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data invalidation: refresh everything, then insert a random 10%
    sample AGAIN... would break equality — instead split ingest: first 90%,
    refresh, then the remaining 10% arrives late (below the threshold →
    logged → re-refresh picks up exactly the dirty buckets). Final mat
    equals the full aggregation over all rows."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_q3_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    early = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) != 0)
    late = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == 0)
    ht.insert(early)
    cagg = ts.create_cagg(
        "q3",
        ht,
        bucket_width="1 day",
        aggs={"n": "count(*)", "sum_v": "sum(value)", "avg_v": "avg(value)"},
        group_by=["event_type"],
    )
    cagg.refresh()
    ht.insert(late)  # arrives late, lands below the threshold → invalidation
    cagg.refresh()
    return cagg.read(realtime=False)


@query(
    "q_cagg_sketch",
    lambda: """
    SELECT b_day AS bucket, event_type, CAST(n AS BIGINT) AS n, p50, p95
    FROM ({est})
    """.format(
        est=__import__(
            "timescaledb_spark.functions.ddsketch", fromlist=["x"]
        ).ddsketch_quantiles_sql(
            f"""(SELECT {_bucket_sql(DAY, 'ts')} AS b_day,
                        event_type, value FROM events) s""",
            "value",
            by=("b_day", "event_type"),
            qs=(0.5, 0.95),
        )
    ),
)
def q_cagg_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-STATE continuous aggregate (round 10; the toolkit
    ``percentile_agg``-inside-a-cagg idiom — mat table stores mergeable
    partials, ``tsl/src/continuous_aggs/finalize.c`` partial-vs-final
    discussion): an HOURLY cagg stores DDSketch states
    (map<log-bucket, count>) per event_type; only the first half of the
    range is materialized, so serving DAILY p50/p95 must (a) merge
    stored hourly states below the watermark with raw-computed states
    above it (realtime union), and (b) roll 24 hourly states into each
    day. Bucket counts add losslessly (Masson VLDB'19 §2.3), so the
    result is bit-identical to the oracle's sketch built directly from
    raw rows at day grain — the property that makes sketch caggs
    correct at any serving grain with zero raw rescans below the
    watermark."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_sk_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        "qsk",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        sketches={"sk_value": {"value": "value", "alpha": 0.01}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.quantiles([0.5, 0.95], grain="1 day", realtime=True)


@query(
    "q_cagg_counter",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type,
             floor(value * 1000000 + 0.5) AS v, ts, event_id
      FROM events
    ), st AS (
      SELECT bucket, event_type, v,
             lag(v) OVER (
               PARTITION BY bucket, event_type ORDER BY ts, event_id
             ) AS prev
      FROM s
    )
    SELECT bucket, event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(CASE WHEN prev IS NULL THEN 0
                    WHEN v < prev THEN v ELSE v - prev END) AS delta,
           CAST(sum(CASE WHEN v < prev THEN 1 ELSE 0 END) AS BIGINT)
             AS num_resets,
           CAST(sum(CASE WHEN prev IS NOT NULL AND v <> prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS num_changes
    FROM st GROUP BY 1, 2
    """,
)
def q_cagg_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-STATE continuous aggregate (round 10; the toolkit
    ``delta(rollup(counter_agg(...)))`` idiom): an HOURLY cagg stores
    mergeable counter partials (first/last value+time, within-bucket
    reset-adjusted delta, reset count) per event_type; only the first
    half of the range is materialized, so serving DAILY delta must
    (a) union mat-side partials below the watermark with raw-computed
    partials above it, and (b) merge 24 hourly partials per day —
    each bucket boundary contributes exactly one reset-adjusted step,
    which makes the served delta/resets IDENTICAL to counter_agg over
    the raw rows of each day (the decomposition the oracle replays).
    Values are quantized to integer-valued doubles so sums are exact
    in any order cross-engine."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_cnt_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cv", F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("double")
    )
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qcnt",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        counters={"cnt": {"value": "cv", "tiebreak": ["event_id"]}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.counter_at_grain(grain="1 day", realtime=True).select(
        "bucket", "event_type", "n", "delta", "num_resets", "num_changes"
    )


@query(
    "q_cagg_gauge",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type,
             floor(value * 1000000 + 0.5) AS v,
             epoch_us(ts) AS us, ts, event_id
      FROM events
    ), o AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY bucket, event_type
               ORDER BY ts DESC, event_id DESC
             ) AS rn_d,
             row_number() OVER (
               PARTITION BY bucket, event_type
               ORDER BY ts ASC, event_id ASC
             ) AS rn_a,
             lag(v) OVER (
               PARTITION BY bucket, event_type ORDER BY ts, event_id
             ) AS prev
      FROM s
    )
    SELECT bucket, event_type,
           CAST(count(*) AS BIGINT) AS n,
           max(CASE WHEN rn_d = 1 THEN v END)
             - max(CASE WHEN rn_a = 1 THEN v END) AS delta,
           max(CASE WHEN rn_d = 1 THEN v - prev END) AS idelta
    FROM o GROUP BY 1, 2
    """,
)
def q_cagg_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gauge-STATE continuous aggregate (round 10; toolkit
    ``delta(rollup(gauge_agg(...)))``): hourly partials record
    first/last value+time AND the final within-bucket step, so daily
    serving recovers delta (= last − first of the day) and idelta
    (= the day's final step — falling back to the bucket-boundary step
    when the day's last hour holds one sample) exactly, identical to
    ``gauge_agg`` over each day's raw rows. Half-materialized range
    exercises the realtime union. Values quantized to integer-valued
    doubles (exact cross-engine in any order)."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_gauge_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cv", F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("double")
    )
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qgauge",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        gauges={"g": {"value": "cv", "tiebreak": ["event_id"]}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.gauge_at_grain(grain="1 day", realtime=True).select(
        "bucket", "event_type", "n", "delta", "idelta"
    )


@query(
    "q_cagg_stats",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type, floor(value * 100 + 0.5) AS v
      FROM events
    )
    SELECT bucket, event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(v) AS sum,
           sum(v) / count(*) AS avg,
           CASE WHEN count(*) > 1 THEN
             sqrt(greatest(
               (sum(v*v) - sum(v)*sum(v)/count(*)) / (count(*) - 1), 0))
           END AS stddev
    FROM s GROUP BY 1, 2
    """,
)
def q_cagg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-STATE continuous aggregate (round 10; toolkit
    ``rollup(stats_agg(...))`` accessors): hourly moments partials
    (n, Σx, Σx², min, max) merge fieldwise to any grain; daily
    n/sum/avg/stddev served from them equals the same naive-moments
    formula over each day's raw rows. Values are quantized so every
    moment stays an exactly-representable integer (Σx² bounded well
    under 2^53) — sums are then exact in ANY order on both engines and
    the final division/sqrt are IEEE-deterministic, making the oracle
    comparison bit-stable."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_stats_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cv", F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("double")
    )
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qstats",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        stats_aggs={"st": {"value": "cv"}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.stats_at_grain(grain="1 day", realtime=True).select(
        "bucket", "event_type", "n", "sum", "avg", "stddev"
    )


@query(
    "q_cagg_stats2d",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type,
             floor(value * 100 + 0.5) AS x,
             CAST(user_id AS DOUBLE) AS y
      FROM events
    ), f AS (
      SELECT bucket, event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM s GROUP BY 1, 2
    )
    SELECT bucket, event_type, n,
           sx / n AS average_x,
           sy / n AS average_y,
           (sxy - sx*sy/n)
             / nullif(greatest(sxx - sx*sx/n, 0), 0) AS slope,
           (sy - (sxy - sx*sy/n)
                   / nullif(greatest(sxx - sx*sx/n, 0), 0) * sx) / n
             AS intercept,
           (sxy - sx*sy/n) / nullif(CAST(n - 1 AS DOUBLE), 0)
             AS covariance,
           (sxy - sx*sy/n)
             / nullif(sqrt(greatest(sxx - sx*sx/n, 0)
                           * greatest(syy - sy*sy/n, 0)), 0) AS corr
    FROM f
    """,
)
def q_cagg_stats2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D stats-STATE continuous aggregate (round 12; toolkit
    ``stats_agg(y, x) → rollup → slope()/intercept()/corr()``): hourly
    comoment partials (n, Σx, Σy, Σx², Σy², Σxy) merge fieldwise to any
    grain; daily regression stats served from them equal the standard
    parallel-merge comoment corrections over each day's raw rows.
    Inputs quantized (x integer-valued, y small ints) so every sum is
    exactly representable — the final divisions/sqrt are then
    IEEE-deterministic and the oracle replay matches bit-for-bit.
    Half-range refresh exercises the realtime union: the raw side
    builds the same comoment states above the watermark."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_s2d_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "x", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double")
    ).withColumn("y", F.col("user_id").cast("double"))
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qs2d",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        stats_aggs={"st2": {"value": "x", "y": "y"}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.stats2d_at_grain(grain="1 day", realtime=True).select(
        "bucket", "event_type", "n", "average_x", "average_y",
        "slope", "intercept", "covariance", "corr",
    )


@query(
    "q_cagg_topn",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type, CAST(user_id % 20 AS VARCHAR) AS v
      FROM events
    ), c AS (
      SELECT bucket, event_type, v,
             CAST(count(*) AS BIGINT) AS freq_lb
      FROM s GROUP BY 1, 2, 3
    ), r AS (
      SELECT bucket, event_type, v AS value, freq_lb,
             row_number() OVER (
               PARTITION BY bucket, event_type
               ORDER BY freq_lb DESC, v ASC
             ) AS rk
      FROM c
    )
    SELECT bucket, event_type, value, freq_lb FROM r WHERE rk <= 5
    """,
)
def q_cagg_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency (Misra–Gries) partials in a continuous aggregate
    (round 12; toolkit ``topn(rollup(freq_agg(...)), n)`` — "top
    values per hour, served per day"): the mat table stores a
    capacity-bounded heavy-hitter summary per (bucket, group); serving
    merges per-value lower bounds and re-ranks. With capacity (64) ≥
    every bucket's distinct count (20), the stored counts are EXACT,
    so the served top-5 equals an exact SQL replay — the same
    exactness contract as q_freq_sketch. Half-range refresh exercises
    the realtime union (raw-side summaries above the watermark)."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_topn_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", (F.col("user_id") % 20).cast("string")
    )
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qtopn",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        freq_aggs={"fq": {"value": "v", "capacity": 64}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.topn_at_grain(
        n=5, grain="1 day", realtime=True
    ).select("bucket", "event_type", "value", "freq_lb")


@query(
    "q_cagg_maxn",
    """
    WITH r AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type, value,
             row_number() OVER (
               PARTITION BY CAST(date_trunc('day', ts) AS TIMESTAMP),
                            event_type
               ORDER BY value DESC
             ) AS rk
      FROM events
    )
    SELECT bucket, event_type, value FROM r WHERE rk <= 3
    """,
)
def q_cagg_maxn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_n candidate-list partials in a continuous aggregate (round
    12; toolkit ``into_values(rollup(max_n(...)))``): each hourly
    bucket stores its 3 largest values; any coarser grain's top-3 is
    the top-3 of the concatenated candidate lists — exactly mergeable,
    so the daily serve equals a direct SQL rank over the raw rows.
    Equal values make WHICH duplicate survives ambiguous but the
    output VALUE multiset identical, so the hash compare is stable."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_maxn_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        "qmaxn",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        maxn_aggs={"mx": {"value": "value", "n": 3}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.max_n_at_grain(
        grain="1 day", realtime=True
    ).select("bucket", "event_type", "value")


@query(
    "q_cagg_maxn_by",
    """
    WITH r AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type, value, event_id AS data,
             row_number() OVER (
               PARTITION BY CAST(date_trunc('day', ts) AS TIMESTAMP),
                            event_type
               ORDER BY value DESC, event_id DESC
             ) AS rk
      FROM events WHERE value IS NOT NULL
    )
    SELECT bucket, event_type, value, data FROM r WHERE rk <= 3
    """,
)
def q_cagg_maxn_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_n_by payload partials in a continuous aggregate (round 13;
    toolkit ``max_n_by(value, data, n)`` + ``into_values(rollup(...))``
    — top-n values each carrying an accompanying payload, e.g. the
    device that produced the reading): hourly states hold parallel
    (vals, data) arrays ordered by (value, payload) so value ties
    resolve deterministically; any coarser grain's top-3 is the top-3
    of the concatenated entries on the (value, data) total order —
    bit-stable vs a direct two-key SQL rank over the raw rows. The SQL
    route exercises CREATE MV parsing and the SRF serve; half-range
    refresh keeps the realtime union in the path."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_mxb_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    ts.sql(
        "CREATE MATERIALIZED VIEW qmxb WITH (timescaledb.continuous) "
        "AS SELECT time_bucket('1 hour', ts) AS bucket, event_type, "
        "max_n_by(value, event_id, 3) AS mx FROM events GROUP BY 1, 2"
    )
    cagg = ts.get_cagg("qmxb")
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return ts.sql(
        "SELECT time_bucket('1 day', bucket) AS bucket, event_type, "
        "into_values(rollup(mx)) AS value FROM qmxb GROUP BY 1, 2"
    )


@query(
    "q_cagg_heartbeat",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type, epoch_us(ts) AS us
      FROM events
    ), w AS (
      SELECT bucket, event_type, us,
             lead(us) OVER (
               PARTITION BY bucket, event_type ORDER BY us
             ) AS nxt
      FROM s
    )
    SELECT bucket, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN nxt IS NULL THEN 300000000
                    ELSE least(nxt - us, 300000000) END) AS BIGINT)
             AS live_us,
           CAST(1 + sum(CASE WHEN nxt - us > 300000000 THEN 1 ELSE 0
                        END) AS BIGINT) AS num_live_ranges
    FROM w GROUP BY 1, 2
    """,
)
def q_cagg_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat (liveness) partials in a continuous aggregate (round
    12; toolkit ``rollup(heartbeat_agg(...))`` →
    ``live_time/num_live_ranges``): each hourly bucket stores the
    union length of its heartbeats' 5-minute liveness intervals; the
    daily serve applies one boundary correction per adjacent pair, so
    it equals the interval-algebra replay over the raw beats of each
    day — all exact int64 µs, bit-stable. Duplicate timestamps
    permute zero-length gaps only, so the lead order never changes
    the sums. Half-range refresh exercises the realtime union."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_hb_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        "qhb",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        heartbeat_aggs={"hb": {"liveness": "5 minutes"}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.heartbeat_at_grain(grain="1 day", realtime=True).select(
        "bucket", "event_type", "n", "live_us", "num_live_ranges"
    )


@query(
    "q_state_interpolated_dur",
    """
    WITH seg AS (
      SELECT epoch_us(ts) AS t1, event_type AS s,
             lead(epoch_us(ts)) OVER (ORDER BY ts, event_id) AS t2
      FROM events
    ), f AS (
      SELECT t1, t2 FROM seg WHERE s = 'click' AND t2 > t1
    ), ex AS (
      SELECT t1, t2,
             unnest(range((t1 // 86400000000) * 86400000000,
                          ((t2 - 1) // 86400000000) * 86400000000 + 1,
                          86400000000)) AS b
      FROM f
    )
    SELECT make_timestamp(b) AS bucket,
           CAST(sum(least(t2, b + 86400000000) - greatest(t1, b))
                AS BIGINT) AS duration_us
    FROM ex GROUP BY 1
    """,
)
def q_state_interpolated_dur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toolkit ``interpolated_duration_in`` (round 12): LOCF state held
    ACROSS bucket edges — each 'click' segment of the global
    event-stream state machine explodes over the daily buckets it
    overlaps and contributes its exact int64-µs overlap, so a day the
    state merely carries into still accrues time (what per-bucket
    duration_in gets wrong). One window + bounded explode + one
    map-combined groupBy (functions/state.py:interpolated_duration_in;
    the toolkit two-step accessor over state_agg)."""
    from .functions.state import interpolated_duration_in

    ev = load_table(spark, sf_dir, "events")
    return interpolated_duration_in(
        ev, "click", "1 day", "ts", "event_type", by=[],
        tiebreak=["event_id"],
    )


@query(
    "q_cagg_interp_duration",
    """
    WITH seg AS (
      SELECT epoch_us(ts) AS t1, event_type AS s,
             lead(epoch_us(ts)) OVER (ORDER BY ts, event_id) AS t2
      FROM events
    ), f AS (
      SELECT t1, t2 FROM seg WHERE s = 'click' AND t2 > t1
    ), ex AS (
      SELECT t1, t2,
             unnest(range((t1 // 86400000000) * 86400000000,
                          ((t2 - 1) // 86400000000) * 86400000000 + 1,
                          86400000000)) AS b
      FROM f
    )
    SELECT make_timestamp(b) AS bucket,
           CAST(sum(least(t2, b + 86400000000) - greatest(t1, b))
                AS BIGINT) AS duration_us
    FROM ex GROUP BY 1
    """,
)
def q_cagg_interp_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interpolated_duration_in SERVED FROM STATE PARTIALS (round 12;
    toolkit ``interpolated_duration_in(state, rollup(state_agg(...)),
    …)``): hourly state-agg partials hold per-state within-bucket LOCF
    durations plus first/last state+time; the daily serve lands
    within-parent held time in its (nesting) target bucket and
    explodes each boundary segment — [A.last_us, B.first_us) held at
    A's last state — over the day buckets it overlaps, reproducing
    the raw global LOCF state machine exactly (all int64 µs,
    bit-stable vs the oracle replay). Half-range refresh exercises the
    realtime union: raw-side state partials above the watermark merge
    seamlessly into the boundary chain."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_idur_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        "qidur",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=[],
        state_aggs={
            "sa": {"state": "event_type", "tiebreak": ["event_id"]}
        },
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.interpolated_duration_in_at_grain(
        "click", grain="1 day", realtime=True
    ).select("bucket", "duration_us")


_TDIGEST_ORACLE = """
    WITH arr AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type,
             list(value ORDER BY value) AS vs,
             count(value) AS n,
             min(value) AS min_val, max(value) AS max_val,
             avg(value) AS mean
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT bucket, event_type, n, min_val, max_val, mean,
      CASE WHEN n = 1 THEN vs[1] ELSE
        vs[CAST(floor(0.5 * (n - 1)) AS INT) + 1]
        + (vs[least(CAST(floor(0.5 * (n - 1)) AS INT) + 2, CAST(n AS INT))]
           - vs[CAST(floor(0.5 * (n - 1)) AS INT) + 1])
          * (0.5 * (n - 1) - floor(0.5 * (n - 1))) END AS p50,
      CASE WHEN n = 1 THEN vs[1] ELSE
        vs[CAST(floor(0.9 * (n - 1)) AS INT) + 1]
        + (vs[least(CAST(floor(0.9 * (n - 1)) AS INT) + 2, CAST(n AS INT))]
           - vs[CAST(floor(0.9 * (n - 1)) AS INT) + 1])
          * (0.9 * (n - 1) - floor(0.9 * (n - 1))) END AS p90
    FROM arr
"""


@query("q_tdigest", _TDIGEST_ORACLE)
def q_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest raw-scan aggregate (round 13; toolkit ``tdigest(size,
    value)`` + ``approx_percentile``, Dunning & Ertl arXiv:1902.04023):
    per (day, event_type) digests built Spark-native — one rank window,
    k1 scale-function binning, bounded ≤ delta collect
    (functions/tdigest.py). At this delta every group stays LOSSLESS
    (singleton centroids), so extraction is exact type-7
    (percentile_cont) interpolation and the oracle replays it
    bit-for-bit over DuckDB sorted lists — the same identical-operand
    discipline as the comoment oracles."""
    from .functions.tdigest import tdigest, tdigest_quantiles
    from .functions.time import time_bucket

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        time_bucket("1 day", "ts").alias("bucket"), "event_type", "value"
    )
    st = tdigest(d, "value", by=["bucket", "event_type"], delta=65536)
    return tdigest_quantiles(
        st, [0.5, 0.9], by=["bucket", "event_type"]
    )


_TDIGEST_FIXTURE: dict = {}


def _tdigest_cagg_fixture(spark: SparkSession, sf_dir: str):
    """Shared hourly delta=65536 t-digest cagg over events, half-range
    refreshed — reused by the three t-digest cagg gates, whose r13 rigs
    were three IDENTICAL builds (VERDICT r13 minor #3: the two slowest
    bench gates were mostly fixture cost). Built once per
    (session, sf_dir) through the SQL ``CREATE MATERIALIZED VIEW``
    route so the parse path stays covered (the ``tdigest_aggs=`` API
    path is covered by ``tests/test_tdigest.py``); every gate serve is
    read-only over the materialized states."""
    import tempfile

    from .session import TSSession

    key = (id(spark.sparkContext), sf_dir)
    hit = _TDIGEST_FIXTURE.get(key)
    if hit is not None:
        return hit
    root = tempfile.mkdtemp(prefix="ts_cagg_td_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    ts.sql(
        "CREATE MATERIALIZED VIEW qtd WITH (timescaledb.continuous) "
        "AS SELECT time_bucket('1 hour', ts) AS bucket, event_type, "
        "tdigest(65536, value) AS td FROM events GROUP BY 1, 2"
    )
    cagg = ts.get_cagg("qtd")
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    _TDIGEST_FIXTURE[key] = (ts, cagg)
    return ts, cagg


@query("q_cagg_tdigest", _TDIGEST_ORACLE)
def q_cagg_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest percentile partials in a continuous aggregate (round
    13; toolkit ``tdigest`` inside a cagg + ``approx_percentile(q,
    rollup(...))`` — the rank-error sibling of the DDSketch
    ``percentile_agg`` family): hourly digests materialize per
    event_type, the daily serve merges states commutatively (re-sort +
    re-bin by cumulative weight) and extracts exact type-7 quantiles
    while the merged digest stays lossless. Half-range refresh
    exercises the realtime union: raw-side digests above the watermark
    merge with mat-side states."""
    _, cagg = _tdigest_cagg_fixture(spark, sf_dir)
    return cagg.tdigest_quantiles_at_grain(
        [0.5, 0.9], grain="1 day", realtime=True
    )


@query(
    "q_cagg_tdigest_rank",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           round(CAST(count(*) FILTER (value <= 50.0) AS DOUBLE)
                 / count(*), 6) AS rank_50
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_cagg_tdigest_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile_rank(value, rollup(tdigest(...)))`` (round
    13; the toolkit's inverse/CDF accessor on the t-digest family,
    previously refused in the SQL route): the full SQL path — hourly
    tdigest partials, daily state merge, rank extraction — against a
    DuckDB exact-fraction replay. At delta=65536 every merged digest
    stays lossless, so the served rank is EXACTLY count(≤v)/n and the
    gate hash-checks bit-for-bit (identical double division + 6-dp
    round on both sides). Half-range refresh keeps the realtime union
    in the serve (shared fixture: :func:`_tdigest_cagg_fixture`)."""
    ts, _ = _tdigest_cagg_fixture(spark, sf_dir)
    return ts.sql(
        "SELECT time_bucket('1 day', bucket) AS bucket, event_type, "
        "approx_percentile_rank(50.0, rollup(td)) AS rank_50 "
        "FROM qtd GROUP BY 1, 2"
    )


@query(
    "q_sql_percentile_array",
    """
    WITH arr AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type,
             list(value ORDER BY value) AS vs,
             count(value) AS n
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT bucket, event_type,
      CASE WHEN n = 1 THEN vs[1] ELSE
        vs[CAST(floor(0.5 * (n - 1)) AS INT) + 1]
        + (vs[least(CAST(floor(0.5 * (n - 1)) AS INT) + 2, CAST(n AS INT))]
           - vs[CAST(floor(0.5 * (n - 1)) AS INT) + 1])
          * (0.5 * (n - 1) - floor(0.5 * (n - 1))) END AS p50,
      CASE WHEN n = 1 THEN vs[1] ELSE
        vs[CAST(floor(0.9 * (n - 1)) AS INT) + 1]
        + (vs[least(CAST(floor(0.9 * (n - 1)) AS INT) + 2, CAST(n AS INT))]
           - vs[CAST(floor(0.9 * (n - 1)) AS INT) + 1])
          * (0.9 * (n - 1) - floor(0.9 * (n - 1))) END AS p90
    FROM arr
    """,
)
def q_sql_percentile_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile_array(array[...], rollup(...))`` (round 13;
    the toolkit's multi-quantile accessor): one SQL call serves a
    percentile LIST per bucket/group from stored t-digest states —
    parsed as N approx_percentile items packed into one array column
    in argument order. At delta=65536 the digests stay lossless, so
    the served array is exact type-7. The GATE unpacks the array into
    scalar ``p50``/``p90`` columns (the driver's pandas canonicalizer
    cannot hash list values — round 14); the SQL route itself keeps
    its array return. Half-range refresh keeps the realtime union in
    the path (shared fixture: :func:`_tdigest_cagg_fixture`)."""
    ts, _ = _tdigest_cagg_fixture(spark, sf_dir)
    out = ts.sql(
        "SELECT time_bucket('1 day', bucket) AS bucket, event_type, "
        "approx_percentile_array(array[0.5, 0.9], rollup(td)) AS ps "
        "FROM qtd GROUP BY 1, 2"
    )
    return out.selectExpr(
        "bucket", "event_type", "ps[0] AS p50", "ps[1] AS p90"
    )


@query(
    "q_cagg_heartbeat_interp",
    """
    WITH b AS (
      SELECT epoch_us(ts) AS t, event_type FROM events
    ), seg AS (
      SELECT event_type, t AS t1,
             least(t + 300000000,
                   coalesce(lead(t) OVER (PARTITION BY event_type
                                          ORDER BY t),
                            t + 300000000)) AS t2
      FROM b
    ), ex AS (
      SELECT event_type, t1, t2,
             unnest(range((t1 // 86400000000) * 86400000000,
                          ((t2 - 1) // 86400000000) * 86400000000 + 1,
                          86400000000)) AS d
      FROM seg WHERE t2 > t1
    ), nb AS (
      SELECT event_type, (t // 86400000000) * 86400000000 AS d,
             count(*) AS n
      FROM b GROUP BY 1, 2
    ), agg AS (
      SELECT ex.event_type, ex.d,
             CAST(sum(least(t2, ex.d + 86400000000)
                      - greatest(t1, ex.d)) AS BIGINT) AS live_us
      FROM ex JOIN nb ON nb.event_type = ex.event_type AND nb.d = ex.d
      GROUP BY 1, 2
    )
    SELECT make_timestamp(agg.d) AS bucket, agg.event_type, nb.n,
           agg.live_us,
           CAST(86400000000 - agg.live_us AS BIGINT) AS dead_us
    FROM agg JOIN nb ON nb.event_type = agg.event_type
                    AND nb.d = agg.d
    """,
)
def q_cagg_heartbeat_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toolkit DECLARED-INTERVAL heartbeat serve (round 13;
    ``interpolated_live_time``/``interpolated_dead_time`` — the
    clipped sibling of q_cagg_heartbeat, closing the r12 ADVICE
    deviation note): each day bucket clips its beats' liveness at its
    own edges and inherits the previous bucket's cross-edge tail, so
    ``live_us`` equals the interval-algebra replay of the raw per-beat
    segments ``[t, min(t+L, next))`` clipped per day, and ``dead_us``
    is the day's remainder. Served from hourly partials with ONE extra
    lag window over per-day merged stats (caggs.py
    heartbeat_interpolated_at_grain) — O(buckets), not O(beats).
    Half-range refresh exercises the realtime union."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_hbi_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        "qhbi",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        heartbeat_aggs={"hb": {"liveness": "5 minutes"}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.heartbeat_interpolated_at_grain(
        grain="1 day", realtime=True
    ).select("bucket", "event_type", "n", "live_us", "dead_us")


@query(
    "q_cagg_hier_counter",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type,
             floor(value * 1000000 + 0.5) AS v, ts, event_id
      FROM events
    ), st AS (
      SELECT bucket, event_type, v,
             lag(v) OVER (
               PARTITION BY bucket, event_type ORDER BY ts, event_id
             ) AS prev
      FROM s
    )
    SELECT bucket, event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(CASE WHEN prev IS NULL THEN 0
                    WHEN v < prev THEN v ELSE v - prev END) AS delta,
           CAST(sum(CASE WHEN v < prev THEN 1 ELSE 0 END) AS BIGINT)
             AS num_resets,
           CAST(sum(CASE WHEN prev IS NOT NULL AND v <> prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS num_changes
    FROM st GROUP BY 1, 2
    """,
)
def q_cagg_hier_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical counter cagg (round 11; cagg-on-cagg × the toolkit
    rollup idiom): a DAILY child cagg stores ORDERED MERGES of the
    hourly parent's counter states — each adjacent parent pair adds one
    reset-adjusted boundary step, so the child's stored states (and
    anything served from them) are IDENTICAL to counter partials built
    from the raw rows at day grain; the oracle replays exactly that
    decomposition. Two refresh generations, zero raw rescans in the
    child's refresh (it reads only the parent's mat table)."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_hierc_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cv", F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("double")
    )
    ht.insert(ev)
    hourly = ts.create_cagg(
        "qhc_h",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        counters={"cnt": {"value": "cv", "tiebreak": ["event_id"]}},
    )
    hourly.refresh()
    daily = ts.create_cagg(
        "qhc_d",
        "_mat_qhc_h",
        bucket_width="1 day",
        aggs={},
        group_by=["event_type"],
        counters={"cnt_d": {"rollup_of": "cnt"}},
    )
    daily.refresh()
    return daily.counter_at_grain("cnt_d", realtime=False).select(
        "bucket", "event_type", "n", "delta", "num_resets", "num_changes"
    )


@query(
    "q_cagg_timeweight",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type, floor(value) AS v,
             epoch_us(ts) AS us, ts, event_id
      FROM events
    ), seg AS (
      SELECT bucket, event_type, v, us,
             lead(us) OVER (
               PARTITION BY bucket, event_type ORDER BY ts, event_id
             ) AS nxt
      FROM s
    )
    SELECT bucket, event_type,
           CASE WHEN max(us) - min(us) > 0 THEN
             sum(v * (nxt - us)) FILTER (WHERE nxt IS NOT NULL)
               / (max(us) - min(us))
           ELSE min(v) END AS tw_avg,
           CAST(count(*) AS BIGINT) AS n
    FROM seg GROUP BY 1, 2
    """,
)
def q_cagg_timeweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weight-STATE continuous aggregate (round 11; the toolkit
    ``average(rollup(time_weight('LOCF', ...)))`` idiom): hourly
    partials store (bookends, within-bucket LOCF integral) per
    event_type; only the first half of the range is materialized, so
    serving DAILY time-weighted averages must (a) union mat-side
    partials with raw-computed ones above the watermark and (b) merge
    24 hourly partials per day, adding one LOCF boundary segment per
    adjacent pair — a value set in one hour carries across every
    following empty boundary, which per-bucket time_weight gets wrong.
    The result is IDENTICAL to time_weight -> average over each day's
    raw rows (the decomposition the oracle replays). Values quantized
    to integers so every v·Δt_µs product and their sums stay exactly
    representable — bit-stable in any order cross-engine, one final
    IEEE division."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_tw_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "qv", F.floor(F.col("value")).cast("double")
    )
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qtw",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        time_weights={"tw": {"value": "qv", "tiebreak": ["event_id"]}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.time_weighted_at_grain(grain="1 day", realtime=True).select(
        "bucket", "event_type", "tw_avg", "n"
    )


@query(
    "q_cagg_interpolated",
    """
    WITH seg AS (
      SELECT event_type, epoch_us(ts) AS us, floor(value) AS v,
             lead(epoch_us(ts)) OVER w AS nxt
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s2 AS (
      SELECT * FROM seg WHERE nxt > us
    ), ex AS (
      SELECT event_type, us, v, nxt,
             unnest(range((us // 86400000000) * 86400000000,
                          ((nxt - 1) // 86400000000) * 86400000000 + 1,
                          86400000000)) AS b
      FROM s2
    )
    SELECT make_timestamp(b) AS bucket, event_type,
           sum(v * CAST(least(nxt, b + 86400000000) - greatest(us, b)
                        AS DOUBLE))
             / sum(CAST(least(nxt, b + 86400000000) - greatest(us, b)
                        AS DOUBLE)) AS tw_avg
    FROM ex GROUP BY 1, 2
    """,
)
def q_cagg_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated average SERVED FROM STORED PARTIALS (round 11; the
    toolkit ``interpolated_average(rollup(time_weight(...)))`` idiom):
    the hourly cagg's time-weight states merge into DAILY averages of
    the group's ONE global LOCF step function — a value carried across
    a day boundary (or across an entirely empty day) fills the next
    bucket, which per-bucket time_weight cannot do. Half-materialized
    range exercises the realtime union; each boundary segment explodes
    over the day buckets it overlaps with exact int64-µs arithmetic,
    so the regrouped product sums match the oracle's flat replay
    bit-for-bit (integer-quantized values)."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_itw_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "qv", F.floor(F.col("value")).cast("double")
    )
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qitw",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        time_weights={"tw": {"value": "qv", "tiebreak": ["event_id"]}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.interpolated_average_at_grain(
        grain="1 day", realtime=True
    ).select("bucket", "event_type", "tw_avg")


@query(
    "q_cagg_interpolated_rate",
    """
    WITH l AS (
      SELECT event_type, ts, event_id, epoch_us(ts) AS us,
             floor(value) AS value,
             lag(floor(value)) OVER w AS pv
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), adj AS (
      SELECT event_type, us, event_id,
             value + sum(CASE WHEN value < pv THEN pv ELSE 0.0 END)
               OVER (PARTITION BY event_type ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS va
      FROM l
    ), seg AS (
      SELECT event_type, us AS t1, va AS v1,
             lead(us) OVER w2 AS t2, lead(va) OVER w2 AS v2
      FROM adj
      WINDOW w2 AS (PARTITION BY event_type ORDER BY us, event_id)
    ), s2 AS (
      SELECT * FROM seg WHERE t2 > t1
    ), ex AS (
      SELECT event_type, t1, v1, t2, v2,
             unnest(range((t1 // 86400000000) * 86400000000,
                          ((t2 - 1) // 86400000000) * 86400000000 + 1,
                          86400000000)) AS b
      FROM s2
    )
    SELECT make_timestamp(b) AS bucket, event_type,
           sum((v1 + (v2 - v1) * CAST(least(t2, b + 86400000000) - t1
                 AS DOUBLE) / CAST(t2 - t1 AS DOUBLE))
             - (v1 + (v2 - v1) * CAST(greatest(t1, b) - t1 AS DOUBLE)
                  / CAST(t2 - t1 AS DOUBLE))) AS delta,
           sum((v1 + (v2 - v1) * CAST(least(t2, b + 86400000000) - t1
                 AS DOUBLE) / CAST(t2 - t1 AS DOUBLE))
             - (v1 + (v2 - v1) * CAST(greatest(t1, b) - t1 AS DOUBLE)
                  / CAST(t2 - t1 AS DOUBLE)))
             / (sum(CAST(least(t2, b + 86400000000) - greatest(t1, b)
                  AS DOUBLE)) / 1e6) AS rate
    FROM ex GROUP BY 1, 2
    """,
)
def q_cagg_interpolated_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated counter delta/rate SERVED FROM STORED PARTIALS
    (round 11; toolkit ``interpolated_delta/rate(rollup(counter_agg))``):
    daily deltas are the reset-adjusted counter's interpolated values at
    day edges — every edge falls inside a boundary segment between
    adjacent hourly partials, so (first/last value+time, delta) recover
    the adjusted series exactly; within-span pieces telescope to the
    stored deltas and boundary pieces share the raw interpolation
    formula operand-for-operand (bitwise with quantized values;
    adjusted values anchored at the group's first sample). The oracle
    replays the full raw decomposition. Half-materialized range
    exercises the realtime union."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_irate_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "qv", F.floor(F.col("value")).cast("double")
    )
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qirate",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        counters={"cnt": {"value": "qv", "tiebreak": ["event_id"]}},
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.interpolated_delta_at_grain(
        grain="1 day", realtime=True
    ).select("bucket", "event_type", "delta", "rate")


@query(
    "q_cagg_candle",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type, floor(value * 100) AS p,
             CAST(user_id % 50 + 1 AS DOUBLE) AS vol, ts, event_id
      FROM events
    ), o AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY bucket, event_type
               ORDER BY ts ASC, event_id ASC
             ) AS rn_a,
             row_number() OVER (
               PARTITION BY bucket, event_type
               ORDER BY ts DESC, event_id DESC
             ) AS rn_d
      FROM s
    )
    SELECT bucket, event_type,
           max(CASE WHEN rn_a = 1 THEN p END) AS open,
           max(p) AS high,
           min(p) AS low,
           max(CASE WHEN rn_d = 1 THEN p END) AS close,
           sum(vol) AS volume,
           sum(p * vol) / sum(vol) AS vwap,
           CAST(count(*) AS BIGINT) AS n
    FROM o GROUP BY 1, 2
    """,
)
def q_cagg_candle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick-STATE continuous aggregate (round 11; the toolkit
    ``rollup(candlestick_agg(...))`` financial idiom): hourly OHLC
    partials merge to exact DAILY candles — open from the earliest
    parent bucket, close from the latest, high/low/volume/Σp·v
    commutatively — identical to candlestick_agg over each day's raw
    rows. Half-materialized range exercises the realtime union. Prices
    and volumes quantized to integer-valued doubles so the vwap
    numerator/denominator sums are exact in any order cross-engine."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_candle_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("cp", F.floor(F.col("value") * 100).cast("double"))
        .withColumn(
            "cvol", (F.col("user_id") % 50 + 1).cast("double")
        )
    )
    ht.insert(ev)
    cagg = ts.create_cagg(
        "qcandle",
        ht,
        bucket_width="1 hour",
        aggs={},
        group_by=["event_type"],
        candlesticks={
            "ohlc": {
                "price": "cp",
                "volume": "cvol",
                "tiebreak": ["event_id"],
            }
        },
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.candlestick_at_grain(grain="1 day", realtime=True).select(
        "bucket", "event_type", "open", "high", "low", "close",
        "volume", "vwap", "n",
    )


@query(
    "q_cagg_stateagg",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             event_type AS state, epoch_us(ts) AS us, ts, event_id
      FROM events
    ), seg AS (
      SELECT bucket, state, us,
             lead(us) OVER (
               PARTITION BY bucket ORDER BY ts, event_id
             ) AS nxt
      FROM s
    )
    SELECT bucket, state,
           CAST(sum(coalesce(nxt, us) - us) AS BIGINT) AS duration_us,
           CAST(count(*) AS BIGINT) AS n
    FROM seg GROUP BY 1, 2
    """,
)
def q_cagg_stateagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-agg-STATE continuous aggregate (round 11; the toolkit
    ``duration_in(state, rollup(state_agg(...)))`` idiom): hourly
    partials store per-state LOCF durations + bookends per bucket;
    serving DAILY durations merges 24 partials per day, each boundary
    gap landing on the earlier partial's LAST state — identical to
    ``state_agg`` over each day's raw rows (the decomposition the
    oracle replays). Half-materialized range exercises the realtime
    union; all durations are exact int64 µs."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_sagg_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        "qsagg",
        ht,
        bucket_width="1 hour",
        aggs={},
        state_aggs={
            "sa": {"state": "event_type", "tiebreak": ["event_id"]}
        },
    )
    lo = min(c["range_start"] for c in ht.chunks())
    hi = max(c["range_end"] for c in ht.chunks())
    cagg.refresh(start=lo, end=lo + (hi - lo) // 2)
    return cagg.state_durations_at_grain(
        grain="1 day", realtime=True
    ).select("bucket", "state", "duration_us", "n")


@query(
    "q_cagg_monthly",
    """
    SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
           count(*) AS n, sum(value) AS sum_v
    FROM events GROUP BY 1
    """,
)
def q_cagg_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-width (calendar month) cagg
    (continuous_aggs_bucket_function; month buckets at default origin ==
    calendar months, so the oracle is date_trunc). Exercises the
    month-aware floor/ceil refresh-window algebra."""
    import tempfile

    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_cagg_month_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        "qm", ht, bucket_width="1 month",
        aggs={"n": "count(*)", "sum_v": "sum(value)"},
    )
    cagg.refresh()
    return cagg.read(realtime=False)


@query(
    "q_cagg_join",
    f"""
    SELECT {_bucket_sql(DAY, 'e.ts')} AS bucket,
           c.c_mktsegment AS c_mktsegment,
           count(*) AS n,
           sum(e.value) AS sum_v
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q_cagg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cagg whose defining query joins the hypertable to a plain dimension
    table (tsl/test/sql/cagg_joins.sql; validation common.c:886-892) —
    daily rollup enriched with the customer market segment, dim side
    broadcast at refresh. Late data still converges through the normal
    invalidation path."""
    import tempfile

    from .session import TSSession

    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_cagg_join_"))
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ts.create_table("customer_dim", load_table(spark, sf_dir, "customer"))
    ht.insert(ev.filter(F.pmod(F.col("event_id"), F.lit(9)) != 0))
    cagg = ts.create_cagg(
        "qj",
        ht,
        bucket_width="1 day",
        aggs={"n": "count(*)", "sum_v": "sum(value)"},
        group_by=["c_mktsegment"],
        join={"table": "customer_dim", "on": "user_id = c_custkey", "how": "inner"},
    )
    cagg.refresh()
    ht.insert(ev.filter(F.pmod(F.col("event_id"), F.lit(9)) == 0))  # late
    cagg.refresh()
    return cagg.read(realtime=False)


@query(
    "q_cagg_window",
    f"""
    WITH agg AS (
      SELECT {_bucket_sql(DAY, 'ts')} AS bucket,
             event_type,
             count(*) AS n,
             sum(value) AS sum_v
      FROM events GROUP BY 1, 2
    )
    SELECT bucket, event_type, n, sum_v,
           CAST(rank() OVER (PARTITION BY bucket ORDER BY sum_v DESC) AS BIGINT)
             AS seg_rank
    FROM agg
    """,
)
def q_cagg_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cagg with a window function over the aggregated rows (experimental
    in the reference behind timescaledb.enable_cagg_window_functions,
    src/guc.c:1031): per-day rank of event types by total value. The OVER
    clause partitions by bucket, so partial refreshes stay correct."""
    import tempfile

    from .session import TSSession

    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_cagg_win_"))
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    cagg = ts.create_cagg(
        "qw",
        ht,
        bucket_width="1 day",
        aggs={"n": "count(*)", "sum_v": "sum(value)"},
        group_by=["event_type"],
        window_fns={
            "seg_rank": "rank() OVER (PARTITION BY bucket ORDER BY sum_v DESC)"
        },
        enable_window_functions=True,
    )
    cagg.refresh()
    return cagg.read(realtime=False)


# ---------------------------------------------------------------------------
# Inherited relational operators over time-series data (SURVEY §2.7)
# ---------------------------------------------------------------------------

@query(
    "q_tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price,
           avg(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide aggregate w/ predicate pushdown (vectorized-agg
    parity, tsl/src/nodes/vector_agg/)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join with broadcast dims (decompress_join parity,
    tsl/test/shared/sql/decompress_join.sql): small dimension tables are
    explicitly broadcast — no shuffle of the fact table for them."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_window_lag",
    f"""
    WITH b AS (
      SELECT user_id, {_bucket_sql(DAY, 'ts')} AS bucket, sum(value) AS sum_v
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, bucket, sum_v,
           sum_v - lag(sum_v) OVER (PARTITION BY user_id ORDER BY bucket) AS delta,
           row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS rn
    FROM b
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions over bucketed series (inherited operators, §2.7)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "user_id", time_bucket("1 day", "ts").alias("bucket")
    ).agg(F.sum("value").alias("sum_v"))
    w = W.partitionBy("user_id").orderBy("bucket")
    return b.select(
        "user_id",
        "bucket",
        "sum_v",
        (F.col("sum_v") - F.lag("sum_v").over(w)).alias("delta"),
        F.row_number().over(w).alias("rn"),
    )


@query(
    "q_distinct_last_per_user",
    """
    SELECT user_id,
           max(epoch_us(ts)) AS last_us,
           arg_max(event_type, epoch_us(ts)*1000 + (event_id % 1000)) AS last_type
    FROM events GROUP BY user_id
    """,
)
def q_distinct_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkipScan-equivalent DISTINCT ON (tsl/src/nodes/skip_scan/): Spark has
    no loose index scan; groupBy+max_by is the documented fallback
    (SURVEY §4 item 12) — same result, scan-based."""
    ev = load_table(spark, sf_dir, "events")
    key = to_unix_microseconds("ts") * F.lit(1000) + F.pmod(
        F.col("event_id"), F.lit(1000)
    )
    return ev.groupBy("user_id").agg(
        F.max(to_unix_microseconds("ts")).alias("last_us"),
        F.max_by("event_type", key).alias("last_type"),
    )


@query(
    "q_approx_row_count",
    "SELECT count(*) AS n FROM events",
)
def q_approx_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approximate_row_count`` (sql/size_utils.sql:311): estimated from
    parquet footer metadata without scanning data — exact on a
    freshly-written hypertable, hence oracle-comparable to count(*)."""
    import tempfile

    from .session import TSSession

    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_arc_"))
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    return spark.createDataFrame([(ht.approximate_row_count(),)], "n bigint")


@query(
    "q_uuidv7",
    """
    SELECT event_id,
           printf('%08x-%04x-%04x-8000-000000000000',
                  (epoch_us(ts) // 1000) >> 16,
                  (epoch_us(ts) // 1000) & 65535,
                  28672 + ((epoch_us(ts) % 1000) * 4096) // 1000) AS u,
           (epoch_us(ts) // 1000) * 1000
             + ((((epoch_us(ts) % 1000) * 4096) // 1000) * 1000) // 4096 AS ts_us,
           7 AS ver
    FROM events
    """,
)
def q_uuidv7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UUIDv7 family (sql/uuidv7.sql:5-40; src/uuid.c): boundary UUID from
    each timestamp, then round-trip extraction of the microsecond
    timestamp and the version nibble. The oracle rebuilds the same RFC
    9562 layout with hex printf — bit-identical strings."""
    from .functions.uuid7 import to_uuidv7_boundary, uuid_timestamp_micros, uuid_version

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        to_uuidv7_boundary("ts").alias("u"),
        uuid_timestamp_micros(to_uuidv7_boundary("ts")).alias("ts_us"),
        uuid_version(to_uuidv7_boundary("ts")).alias("ver"),
    )


# The driver's correctness gate verifies the FIRST `GATE_WINDOW` entries of
# queries() in iteration order. The ordering below is derived dynamically
# from the committed CORRECTNESS_r*.json artifacts so no registered query
# can fall permanently outside the window: never-driver-verified queries
# come first, then failed-last-time, then least-recently-verified — the
# rotated-out tail is exactly the most-recently-green set (which stays
# covered by the local pytest DuckDB-oracle mirror in tests/).
GATE_WINDOW = 50

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def gate_history(repo_root: str = _REPO_ROOT) -> dict[str, tuple[int, bool]]:
    """name -> (last driver round that checked it, green in that round).

    A round's check counts green when the value hash matched, or — for
    the weaker rows-only checks on non-SQL-expressible ops — when rows
    matched without error.
    """
    hist: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is not None:
                green = bool(row.get("hash_match"))
            else:
                green = row.get("err") is None and bool(row.get("rows_match"))
            prev = hist.get(name)
            if prev is None or rnd >= prev[0]:
                hist[name] = (rnd, green)
    return hist


def gate_order(names, hist: dict[str, tuple[int, bool]] | None = None) -> list[str]:
    """Order gate names: never-verified first, then every query whose
    LAST driver check failed (regardless of round — a failure must be
    re-verified next round, not after the green backlog rotates
    through), then greens oldest-round-first; name is the deterministic
    tie-break."""
    if hist is None:
        hist = gate_history()

    def key(n):
        if n not in hist:
            return (0, 0, n)
        rnd, ok = hist[n]
        return (1 if not ok else 2, rnd, n)

    return sorted(names, key=key)


def _ordered(d: dict) -> dict:
    return {k: d[k] for k in gate_order(d)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extra_inventories()
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_extra_inventories()
    return _ordered(
        {k: (v() if callable(v) else v) for k, v in ORACLES.items()}
    )


def _load_extra_inventories() -> None:
    """Import satellite query modules that register via @query (deferred
    to avoid a circular import at module load)."""
    from . import (  # noqa: F401
        queries_lifecycle,
        queries_pipeline,
        queries_relational,
        queries_sql,
    )


@query(
    "q_interpolated_avg",
    """
    WITH seg AS (
      SELECT event_type, epoch_us(ts) AS us, value AS v,
             lead(epoch_us(ts)) OVER w AS nxt
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s2 AS (
      SELECT * FROM seg WHERE nxt > us
    ), ex AS (
      SELECT event_type, us, v, nxt,
             unnest(range((us // 3600000000) * 3600000000,
                          ((nxt - 1) // 3600000000) * 3600000000 + 1,
                          3600000000)) AS b
      FROM s2
    )
    SELECT event_type,
           make_timestamp(b) AS bucket,
           sum(v * CAST(least(nxt, b + 3600000000) - greatest(us, b) AS DOUBLE))
             / sum(CAST(least(nxt, b + 3600000000) - greatest(us, b) AS DOUBLE))
             AS tw_avg,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM ex GROUP BY 1, 2
    """,
)
def q_interpolated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toolkit interpolated_average (time_weight rolled across bucket
    boundaries): hourly LOCF time-weighted average per event_type where
    values carried over a boundary weight BOTH buckets; one window + a
    bounded segment-explode + one map-combined groupBy."""
    from .functions.counters import interpolated_average

    ev = load_table(spark, sf_dir, "events")
    return interpolated_average(
        ev, "1 hour", "ts", "value", by=["event_type"], tiebreak=["event_id"]
    )


@query(
    "q_interpolated_rate",
    """
    WITH l AS (
      SELECT event_type, ts, event_id, epoch_us(ts) AS us, value,
             lag(value) OVER w AS pv
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), adj AS (
      SELECT event_type, us, event_id,
             value + sum(CASE WHEN value < pv THEN pv ELSE 0.0 END)
               OVER (PARTITION BY event_type ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS va
      FROM l
    ), seg AS (
      SELECT event_type, us AS t1, va AS v1,
             lead(us) OVER w2 AS t2, lead(va) OVER w2 AS v2
      FROM adj
      WINDOW w2 AS (PARTITION BY event_type ORDER BY us, event_id)
    ), s2 AS (
      SELECT * FROM seg WHERE t2 > t1
    ), ex AS (
      SELECT event_type, t1, v1, t2, v2,
             unnest(range((t1 // 3600000000) * 3600000000,
                          ((t2 - 1) // 3600000000) * 3600000000 + 1,
                          3600000000)) AS b
      FROM s2
    )
    SELECT event_type,
           make_timestamp(b) AS bucket,
           sum((v1 + (v2 - v1) * CAST(least(t2, b + 3600000000) - t1 AS DOUBLE)
                  / CAST(t2 - t1 AS DOUBLE))
             - (v1 + (v2 - v1) * CAST(greatest(t1, b) - t1 AS DOUBLE)
                  / CAST(t2 - t1 AS DOUBLE))) AS delta,
           sum((v1 + (v2 - v1) * CAST(least(t2, b + 3600000000) - t1 AS DOUBLE)
                  / CAST(t2 - t1 AS DOUBLE))
             - (v1 + (v2 - v1) * CAST(greatest(t1, b) - t1 AS DOUBLE)
                  / CAST(t2 - t1 AS DOUBLE)))
             / (sum(CAST(least(t2, b + 3600000000) - greatest(t1, b) AS DOUBLE))
                / 1e6) AS rate,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM ex GROUP BY 1, 2
    """,
)
def q_interpolated_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toolkit counter_agg -> interpolated_delta/interpolated_rate:
    hourly reset-adjusted counter deltas where a segment crossing the
    bucket boundary splits its increase between the buckets by linear
    interpolation; two windows + a bounded segment-explode + one
    map-combined groupBy."""
    from .functions.counters import interpolated_delta

    ev = load_table(spark, sf_dir, "events")
    return interpolated_delta(
        ev, "1 hour", "ts", "value", by=["event_type"], tiebreak=["event_id"]
    )


@query(
    "q_freq_sketch",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS freq_lb
    FROM events GROUP BY 1
    ORDER BY freq_lb DESC, event_type LIMIT 3
    """,
)
def q_freq_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toolkit freq_agg/topn_agg via per-partition Misra-Gries sketches
    (the shuffle-capped scale path behind exact topn): with capacity >=
    the distinct-key count the sketch never decrements, so its merged
    lower bounds EQUAL the exact counts and the oracle is plain
    count(*) top-n — the documented exactness condition this gate
    pins."""
    from .functions.stats import freq_sketch_topn

    ev = load_table(spark, sf_dir, "events")
    return freq_sketch_topn(ev, "event_type", n=3, capacity=64)


@query(
    "q_distinct_skipscan",
    """
    SELECT DISTINCT event_type FROM (
      SELECT event_type FROM events
      UNION ALL
      SELECT 'x_' || event_type AS event_type FROM events WHERE event_id < 40
    )
    """,
)
def q_distinct_skipscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic DISTINCT SkipScan analog (round 9; tsl/src/nodes/
    skip_scan/planner.c:576 — the plain `SELECT DISTINCT key` shape that
    last_point's DISTINCT ON walk doesn't cover): compress_chunk records
    each columnstore chunk's segment keys in the catalog, so DISTINCT
    over compressed chunks is a catalog read with zero I/O; a post-
    compression insert invalidates exactly the chunks it touched, which
    are then the ONLY chunks scanned. This gate exercises the mixed
    path: full compress, then new rows with new values land in a few
    chunks — the result must still equal DISTINCT over everything."""
    import tempfile

    from .compression import compress_chunks, enable_columnstore
    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_skipscan_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events")
    ht.insert(ev)
    enable_columnstore(ht, segmentby=["event_type"], orderby=[("ts", "asc")])
    compress_chunks(ht)
    extra = ev.filter(F.col("event_id") < 40).withColumn(
        "event_type", F.concat(F.lit("x_"), F.col("event_type"))
    )
    ht.insert(extra)
    return ht.distinct_values("event_type")


@query(
    "q_distinct_multi",
    """
    SELECT DISTINCT event_type, seg FROM (
      SELECT event_type, CAST(user_id % 8 AS BIGINT) AS seg FROM events
      UNION ALL
      SELECT 'x_' || event_type AS event_type,
             CAST(user_id % 8 AS BIGINT) AS seg
      FROM events WHERE event_id < 40
    )
    """,
)
def q_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite DISTINCT SkipScan (round 10; the reference accelerates
    multi-key DISTINCT over any ordered index prefix,
    tsl/src/nodes/skip_scan/planner.c:576): compress_chunk records each
    columnstore chunk's distinct segmentby TUPLES, so
    ``SELECT DISTINCT a, b`` over compressed chunks is answered from
    the catalog with zero I/O — post-compression inserts invalidate
    exactly the chunks they touch, which become the only scanned ones.
    Mixed path exercised like q_distinct_skipscan."""
    import tempfile

    from .compression import compress_chunks, enable_columnstore
    from .session import TSSession

    root = tempfile.mkdtemp(prefix="ts_skipmulti_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "seg", (F.col("user_id") % 8).cast("long")
    )
    ht.insert(ev)
    enable_columnstore(
        ht, segmentby=["event_type", "seg"], orderby=[("ts", "asc")]
    )
    compress_chunks(ht)
    extra = ev.filter(F.col("event_id") < 40).withColumn(
        "event_type", F.concat(F.lit("x_"), F.col("event_type"))
    )
    ht.insert(extra)
    return ht.distinct_values(["event_type", "seg"])


@query(
    "q_max_n_by",
    """
    SELECT event_type, value, ts, event_id
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY event_type ORDER BY value DESC, event_id ASC
    ) <= 5
    """,
)
def q_max_n_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toolkit max_n_by (round 9; the largest-VALUES family, distinct
    from the frequency topn): per event type, the 5 largest readings
    with their timestamp and id payload. Grouped path = one shuffle
    into a ranked window, output bounded by groups x n; the global
    form is TakeOrderedAndProject. event_id tiebreak keeps the
    selection deterministic across engines."""
    from .functions.stats import max_n_by

    ev = load_table(spark, sf_dir, "events")
    return max_n_by(
        ev, "value", ["ts", "event_id"], n=5, by=["event_type"],
        tiebreak=["event_id"],
    )


# LTTB is deterministic, so the oracle replicates the ALGORITHM in a
# recursive CTE: per series, bucket bounds are numpy's
# linspace(1, n-1, n_out-1).astype(int64) (same float64 arithmetic:
# i*((n-2)/22)+1 truncated), and each recursion step picks the
# max-triangle-area point of bucket k against the previously kept point
# and the NEXT bucket's average — ties broken by first index, matching
# np.argmax. Buckets are 2-4 points here, where DuckDB's sequential avg
# is bitwise-equal to numpy's mean, so the selection is exact.
_LTTB_ORACLE = """
WITH RECURSIVE
pts AS (
  SELECT user_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS i,
         CAST(epoch_us(ts) AS DOUBLE) AS x,
         CAST(value AS DOUBLE) AS y
  FROM events
),
ns AS (SELECT user_id, count(*) AS n FROM pts GROUP BY user_id),
bounds AS (
  SELECT ns.user_id, g.bi,
         CAST(trunc(CASE WHEN g.bi = 22 THEN CAST(ns.n - 1 AS DOUBLE)
              ELSE g.bi * ((ns.n - 2.0) / 22.0) + 1.0 END) AS BIGINT) AS b
  FROM ns, (SELECT unnest(range(0, 23)) AS bi) g
  WHERE ns.n > 24
),
buckets AS (
  SELECT b0.user_id, b0.bi AS k, b0.b AS lo, b1.b AS hi,
         b1.b AS nlo,
         LEAST(COALESCE(b2.b, ns.n - 1), ns.n - 1) AS nhi,
         ns.n AS n
  FROM bounds b0
  JOIN bounds b1 ON b1.user_id = b0.user_id AND b1.bi = b0.bi + 1
  LEFT JOIN bounds b2 ON b2.user_id = b0.user_id AND b2.bi = b0.bi + 2
  JOIN ns ON ns.user_id = b0.user_id
  WHERE b0.bi <= 21
),
avgs AS (
  SELECT bk.user_id, bk.k, avg(p.x) AS avx, avg(p.y) AS avy
  FROM buckets bk JOIN pts p
    ON p.user_id = bk.user_id AND p.i >= bk.nlo AND p.i < bk.nhi
  GROUP BY bk.user_id, bk.k
),
avgs2 AS (
  SELECT bk.user_id, bk.k,
         COALESCE(a.avx, pl.x) AS avx, COALESCE(a.avy, pl.y) AS avy
  FROM buckets bk
  LEFT JOIN avgs a ON a.user_id = bk.user_id AND a.k = bk.k
  JOIN pts pl ON pl.user_id = bk.user_id AND pl.i = bk.n - 1
),
rec AS (
  SELECT user_id, 0 AS k, CAST(0 AS BIGINT) AS a FROM ns WHERE n > 24
  UNION ALL
  SELECT user_id, k + 1, j FROM (
    SELECT r.user_id, r.k, p.i AS j,
           row_number() OVER (
             PARTITION BY r.user_id
             ORDER BY abs((pa.x - av.avx) * (p.y - pa.y)
                        - (pa.x - p.x) * (av.avy - pa.y)) DESC, p.i ASC
           ) AS rn
    FROM rec r
    JOIN pts pa ON pa.user_id = r.user_id AND pa.i = r.a
    JOIN buckets bk ON bk.user_id = r.user_id AND bk.k = r.k
    JOIN avgs2 av ON av.user_id = r.user_id AND av.k = r.k
    JOIN pts p ON p.user_id = r.user_id AND p.i >= bk.lo AND p.i < bk.hi
    WHERE r.k <= 21
  ) s WHERE s.rn = 1
),
kept AS (
  SELECT user_id, a AS i FROM rec
  UNION ALL
  SELECT user_id, n - 1 AS i FROM ns WHERE n > 24
  UNION ALL
  SELECT p.user_id, p.i FROM pts p JOIN ns ON ns.user_id = p.user_id
  WHERE ns.n <= 24
)
SELECT p.user_id, p.ts, p.value
FROM pts p JOIN kept k ON k.user_id = p.user_id AND k.i = p.i
"""


@query("q_lttb", _LTTB_ORACLE)
def q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """largest_triangle_three_buckets downsample (toolkit lttb): each
    user's series reduced to 24 representative points; first/last kept,
    interior points maximize triangle area. Hash-gated against the
    recursive-CTE oracle above (exact point selection), plus numpy
    exactness tests in tests/test_downsample.py."""
    from .functions.downsample import lttb

    ev = load_table(spark, sf_dir, "events")
    return lttb(ev, "ts", "value", n_out=24, by=["user_id"])


@query(
    "q_asap_smooth",
    asap_smooth_sql(
        table="events",
        time_col="ts",
        value_col="value",
        id_cols="user_id",
        resolution=24,
    ),
)
def q_asap_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASAP smoothing (round 9; toolkit asap_smooth, Rong & Bailis
    VLDB'17): per-user series bucketed to 24 trailing points, then the
    roughness-minimizing kurtosis-preserving moving-average window is
    SEARCHED as part of the plan — candidate windows explode over the
    downsampled points only, trailing averages via an rn-range join,
    argmin on 6dp-rounded metrics so the oracle's selection can't drift.
    The chosen window `w` is part of the output, so the hash gates the
    search itself, not just the smoothing math."""
    from .functions.smoothing import asap_smooth

    ev = load_table(spark, sf_dir, "events")
    return asap_smooth(ev, "ts", "value", resolution=24, by=["user_id"])
