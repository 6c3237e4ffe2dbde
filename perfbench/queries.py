"""TSBS devops query shapes over the ``cpu`` hypertable, in the engine's
SQL dialect and in DuckDB's, plus the result comparison the correctness
check uses.

Times are compared as epoch microseconds on both sides and floats with
a relative tolerance, so engine and oracle may sum in different orders.
"""

from __future__ import annotations

import calendar
import math
from datetime import datetime

from tsbs import METRICS, US

MIN_US = 60 * US
HOUR_US = 3600 * US
DAY_US = 24 * HOUR_US

# the dashboard mix, cycled in this order
QUERY_TYPES = (
    "single-groupby-1-1-1",
    "single-groupby-5-1-12",
    "double-groupby-1",
    "cpu-max-all-8",
    "high-cpu-1",
    "groupby-orderby-limit",
    "lastpoint",
    "gapfill-locf",
)


def _ts(us: int) -> str:
    return datetime.utcfromtimestamp(us / US).strftime("%Y-%m-%d %H:%M:%S")


def _hosts(names) -> str:
    return ", ".join(f"'{h}'" for h in names)


def _bucket_duck(width_us: int) -> str:
    return f"(epoch_us(time) // {width_us}) * {width_us}"


def query_pair(kind: str, rng, hostnames, t_lo: int, t_hi: int) -> tuple[str, str]:
    """One instance of query ``kind``: (engine SQL, DuckDB SQL). Hosts and
    windows are drawn from ``rng`` inside the data range [t_lo, t_hi)."""

    def window(hours: int) -> tuple[int, int]:
        span = hours * HOUR_US
        slots = max(1, (t_hi - t_lo - span) // HOUR_US + 1)
        a = t_lo + int(rng.integers(0, slots)) * HOUR_US
        return a, a + span

    def host_sample(k: int):
        return sorted(rng.choice(hostnames, k, replace=False).tolist())

    if kind in ("single-groupby-1-1-1", "single-groupby-5-1-12"):
        hours, nm = (1, 1) if kind.endswith("1-1-1") else (12, 5)
        a, b = window(hours)
        hs = _hosts(host_sample(1))
        sel = ", ".join(f"max({m}) AS {m}" for m in METRICS[:nm])
        return (
            f"SELECT time_bucket('1 minute', time) AS minute, {sel} FROM cpu "
            f"WHERE hostname IN ({hs}) AND time >= '{_ts(a)}' AND time < '{_ts(b)}' "
            f"GROUP BY minute ORDER BY minute",
            f"SELECT {_bucket_duck(MIN_US)} AS minute, {sel} FROM cpu "
            f"WHERE hostname IN ({hs}) AND epoch_us(time) >= {a} AND epoch_us(time) < {b} "
            f"GROUP BY minute ORDER BY minute",
        )
    if kind == "double-groupby-1":
        a, b = window(12)
        return (
            f"SELECT time_bucket('1 hour', time) AS hour, hostname, "
            f"avg(usage_user) AS usage_user FROM cpu "
            f"WHERE time >= '{_ts(a)}' AND time < '{_ts(b)}' "
            f"GROUP BY hour, hostname ORDER BY hour, hostname",
            f"SELECT {_bucket_duck(HOUR_US)} AS hour, hostname, "
            f"avg(usage_user) AS usage_user FROM cpu "
            f"WHERE epoch_us(time) >= {a} AND epoch_us(time) < {b} "
            f"GROUP BY hour, hostname ORDER BY hour, hostname",
        )
    if kind == "cpu-max-all-8":
        a, b = window(8)
        hs = _hosts(host_sample(8))
        sel = ", ".join(f"max({m}) AS {m}" for m in METRICS)
        return (
            f"SELECT time_bucket('1 hour', time) AS hour, hostname, {sel} FROM cpu "
            f"WHERE hostname IN ({hs}) AND time >= '{_ts(a)}' AND time < '{_ts(b)}' "
            f"GROUP BY hour, hostname ORDER BY hour, hostname",
            f"SELECT {_bucket_duck(HOUR_US)} AS hour, hostname, {sel} FROM cpu "
            f"WHERE hostname IN ({hs}) AND epoch_us(time) >= {a} AND epoch_us(time) < {b} "
            f"GROUP BY hour, hostname ORDER BY hour, hostname",
        )
    if kind == "high-cpu-1":
        a, b = window(12)
        hs = _hosts(host_sample(1))
        cols = ", ".join(METRICS)
        return (
            f"SELECT time, hostname, {cols} FROM cpu WHERE usage_user > 90.0 "
            f"AND hostname IN ({hs}) AND time >= '{_ts(a)}' AND time < '{_ts(b)}'",
            f"SELECT epoch_us(time) AS time, hostname, {cols} FROM cpu "
            f"WHERE usage_user > 90.0 AND hostname IN ({hs}) "
            f"AND epoch_us(time) >= {a} AND epoch_us(time) < {b}",
        )
    if kind == "groupby-orderby-limit":
        _, b = window(1)
        return (
            f"SELECT time_bucket('1 minute', time) AS minute, max(usage_user) AS m "
            f"FROM cpu WHERE time < '{_ts(b)}' GROUP BY minute ORDER BY minute DESC LIMIT 5",
            f"SELECT {_bucket_duck(MIN_US)} AS minute, max(usage_user) AS m FROM cpu "
            f"WHERE epoch_us(time) < {b} GROUP BY minute ORDER BY minute DESC LIMIT 5",
        )
    if kind == "lastpoint":
        return (
            "SELECT hostname, max(time) AS time, last(usage_user, time) AS usage_user "
            "FROM cpu GROUP BY hostname ORDER BY hostname",
            "SELECT hostname, max(epoch_us(time)) AS time, "
            "arg_max(usage_user, time) AS usage_user FROM cpu GROUP BY hostname "
            "ORDER BY hostname",
        )
    if kind == "gapfill-locf":
        a, b = window(2)
        hs = _hosts(host_sample(1))
        return (
            f"SELECT time_bucket_gapfill('1 minute', time) AS minute, "
            f"locf(avg(usage_user)) AS usage_user FROM cpu "
            f"WHERE hostname IN ({hs}) AND time >= '{_ts(a)}' AND time < '{_ts(b)}' "
            f"GROUP BY minute",
            f"WITH agg AS (SELECT {_bucket_duck(MIN_US)} AS minute, "
            f"avg(usage_user) AS v FROM cpu WHERE hostname IN ({hs}) "
            f"AND epoch_us(time) >= {a} AND epoch_us(time) < {b} GROUP BY minute), "
            f"spine AS (SELECT unnest(range({a}, {b}, {MIN_US})) AS minute) "
            f"SELECT spine.minute, last_value(agg.v IGNORE NULLS) OVER "
            f"(ORDER BY spine.minute ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            f"FROM spine LEFT JOIN agg USING (minute)",
        )
    raise ValueError(f"unknown query type {kind!r}")


def canon(v):
    if isinstance(v, datetime):
        return calendar.timegm(v.timetuple()) * US + v.microsecond
    return v


def rows_match(got, want, ordered: bool = False) -> bool:
    """Same multiset of rows (same sequence if ``ordered``); floats equal
    to 1e-9 relative."""
    g = [tuple(canon(v) for v in r) for r in got]
    w = [tuple(canon(v) for v in r) for r in want]
    if len(g) != len(w):
        return False
    if not ordered:
        key = lambda r: tuple(  # noqa: E731
            (v is None, round(v, 6) if isinstance(v, float) else v) for v in r
        )
        g, w = sorted(g, key=key), sorted(w, key=key)
    for rg, rw in zip(g, w):
        if len(rg) != len(rw):
            return False
        for a, b in zip(rg, rw):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True
