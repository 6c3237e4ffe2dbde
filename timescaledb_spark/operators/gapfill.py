"""``time_bucket_gapfill`` + ``locf`` + ``interpolate``.

Reference: the GapFill custom plan node
(``tsl/src/nodes/gapfill/gapfill_exec.c:1695``) with the semantics:

- Buckets are generated per aggregation group from
  ``time_bucket(width, start)`` (``align_with_time_bucket``,
  gapfill_exec.c:345-390) stepping ``width`` while ``< finish``
  (gapfill_exec.c:1053). Actual rows outside [start, finish) pass
  through un-gapfilled (gapfill_exec.c:1061).
- ``locf(col)`` (locf.c): gap rows carry the value of the last *actual*
  row — including NULL (an actual NULL row resets the carried value to
  NULL). ``treat_null_as_missing=True`` skips NULL values both when
  carrying and on actual rows (gapfill_exec.c:1326). The optional
  ``prev`` expression seeds leading gaps that have no prior actual row
  (locf.c:77-80: evaluated at ``gapfill_start``).
- ``interpolate(col)`` (interpolate.c): gap rows get linear interpolation
  ``y = (y0*(x1-x) + y1*(x-x0)) / (x1-x0)`` between the LAST actual row
  (NULL value → NULL result, interpolate.c:76-88) and the NEXT actual row.
  Integer columns round (numeric-based math, interpolate.c:165-230);
  floats use double math. Optional ``prev`` / ``next`` (time, value)
  records serve rows before the first / after the last actual row.

Spark-first implementation: one aggregation, a ``sequence()``-exploded
bucket spine per group, a full-outer join, and window functions — all
JVM-side; no Python UDFs. Expressions are SQL text, so building the
plan costs a handful of JVM calls rather than one per Column node. The spine explode is per-group and parallel;
nothing collects to the driver, so a 100 TB hypertable gapfills at the
cardinality of (groups × buckets), which is the output size.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.time import (
    DEFAULT_ORIGIN_MONTHS,
    DEFAULT_ORIGIN_US,
    parse_interval,
)
from ..hypertable import _to_internal
from ..scan import q, sql_literal

_BUS = "_ts_bucket_us"


@dataclass(frozen=True)
class locf:  # noqa: N801 — mirrors the SQL function name
    """Fill spec: last observation carried forward (sql/gapfill.sql:27)."""

    prev: Union[Column, float, int, None] = None
    treat_null_as_missing: bool = False


@dataclass(frozen=True)
class interpolate:  # noqa: N801
    """Fill spec: linear interpolation (sql/gapfill.sql:31-43).

    ``prev`` / ``next``: optional (time_us | timestamp, value) tuples used
    when there is no actual row before/after — the reference's RECORD
    lookup expressions.
    """

    prev: Optional[tuple] = None
    next: Optional[tuple] = None


FillSpec = Union[locf, interpolate, None]


def _null_ts_guard(ts_sql: str, bucket_sql: str) -> str:
    """Reference parity: a NULL row time errors
    (``gapfill_exec.c:1417`` "ts cannot be NULL") instead of producing a
    NULL bucket."""
    return (
        f"CASE WHEN {ts_sql} IS NULL THEN raise_error("
        "'invalid time_bucket_gapfill argument: ts cannot be NULL "
        f"(gapfill_exec.c:1417)') ELSE {bucket_sql} END"
    )


def _pbucket(value_us: int, width_us: int, origin_us: int) -> int:
    """Python-side time_bucket (same floor-mod formula)."""
    return value_us - ((value_us - origin_us) % width_us + width_us) % width_us


def _local_us(instant_us: int, tz: str) -> int:
    """UTC instant µs -> local wall-clock µs in ``tz`` (IANA tzdb — the
    same database Spark's from_utc_timestamp consults)."""
    from datetime import timezone as _tz
    from zoneinfo import ZoneInfo

    dt = datetime.fromtimestamp(instant_us // 1_000_000, tz=_tz.utc).astimezone(
        ZoneInfo(tz)
    )
    return instant_us + int(dt.utcoffset().total_seconds()) * 1_000_000


def _over(group_by: list, order: str, frame: str = "") -> str:
    """``OVER (PARTITION BY … ORDER BY …[ frame])`` text."""
    part = f"PARTITION BY {', '.join(q(g) for g in group_by)} " if group_by else ""
    return f"OVER ({part}ORDER BY {order}{frame})"


def _bucketed(df: DataFrame, group_by: list, bucket_sql: str, aggs: dict) -> DataFrame:
    """Aggregate ``df`` per (group, bucket); ``aggs`` values are SQL
    text or Columns."""
    return (
        df.groupBy(*group_by, F.expr(bucket_sql).alias(_BUS))
        .agg(
            *[
                F.expr(f"{c} AS {q(n)}") if isinstance(c, str) else c.alias(n)
                for n, c in aggs.items()
            ]
        )
        .withColumn("_present", F.lit(True))
    )


def _spine(bucketed: DataFrame, b0: int, b_last: int, w: int) -> DataFrame:
    """The ungrouped bucket spine, one row per bucket in ``[b0, b_last]``."""
    return bucketed.sparkSession.range(1).selectExpr(
        f"explode(sequence({b0}, {b_last}, {w})) AS {_BUS}"
    )


def _nullsafe_spine_join(
    spine: DataFrame,
    bucketed: DataFrame,
    group_by: list,
    value_cols: list,
) -> DataFrame:
    """Full-outer join of the bucket spine against the aggregated rows —
    used only for the ungrouped path (a literal one-row spine source;
    grouped gapfill uses :func:`_expand_gaps`, which needs no join)."""
    return spine.join(bucketed, on=[_BUS], how="full_outer")


def _expand_gaps(
    bucketed: DataFrame,
    group_by: list,
    value_cols: list,
    b0: int,
    b_last: int,
    w: int,
) -> DataFrame:
    """Grouped gap generation WITHOUT a spine join: per group (window
    ``partitionBy(group) orderBy(bucket)``), each actual bucket row
    explodes itself plus the gap buckets up to the next actual bucket,
    clamped to ``[b0, b_last]``; the first row per group also emits the
    leading gaps ``[b0, first_bucket)``. Output row-set is identical to
    the spine full-outer join (all spine buckets + actual buckets outside
    the range pass through, gapfill_exec.c:1061) but costs one window
    sort instead of a distinct + a null-safe full-outer join — and the
    fill windows in :func:`_apply_fills` use the same partitioning, so
    the whole fill phase is a single exchange. NULL group keys need no
    special-casing: they are ordinary window partition keys.

    All ``_BUS`` values and ``b0`` are aligned to the same ``origin mod
    w`` grid, so ``greatest``/``least`` clamps stay on the grid. Per-row
    sequence arrays are bounded by the spine length — the same bound the
    join formulation's per-group ``sequence()`` spine had."""
    groups = [q(g) for g in group_by]
    vals = [q(c) for c in value_cols]
    win = _over(group_by, _BUS)
    bus = f"CAST({_BUS} AS BIGINT)"
    # window exprs must be projected before they can feed a generator
    staged = bucketed.selectExpr(
        *groups,
        f"{bus} AS _gf_self",
        f"lead({bus}) {win} AS _gf_next",
        f"(row_number() {win} = 1) AS _gf_first",
        *vals,
    )
    empty = "CAST(array() AS ARRAY<BIGINT>)"
    # leading gaps (first row only): [b0, min(bus - w, b_last)]
    lead_hi = f"least(_gf_self - {w}, {b_last})"
    # trailing gaps: [max(bus + w, b0), min(next - w (or b_last), b_last)]
    gap_lo = f"greatest(_gf_self + {w}, {b0})"
    gap_hi = f"least(coalesce(_gf_next - {w}, {b_last}), {b_last})"
    buses = (
        f"concat(CASE WHEN _gf_first AND ({b0} <= {lead_hi}) "
        f"THEN sequence({b0}, {lead_hi}, {w}) ELSE {empty} END, "
        f"array(_gf_self), "
        f"CASE WHEN {gap_lo} <= {gap_hi} "
        f"THEN sequence({gap_lo}, {gap_hi}, {w}) ELSE {empty} END)"
    )
    exploded = staged.selectExpr(
        *groups, "_gf_self", f"explode({buses}) AS _gf_bus", *vals
    )
    return exploded.selectExpr(
        *groups,
        f"_gf_bus AS {_BUS}",
        *[f"CASE WHEN _gf_bus = _gf_self THEN {c} END AS {c}" for c in vals],
        "(_gf_bus = _gf_self) AS _present",
    )


def time_bucket_gapfill(
    df: DataFrame,
    width: Union[str, int],
    time_col: str,
    start: Union[int, str, datetime, date],
    finish: Union[int, str, datetime, date],
    group_by: Sequence[str] = (),
    aggs: Optional[dict[str, Union[Column, str]]] = None,
    fill: Optional[dict[str, FillSpec]] = None,
    bucket_alias: str = "bucket",
    timezone: Optional[str] = None,
) -> DataFrame:
    """Aggregate ``df`` by time bucket (+ ``group_by``), generating rows for
    missing buckets in ``[start, finish)`` and applying per-column fills.

    ``aggs``: output column name -> aggregate expression (a Column, or
    SQL text).
    ``fill``: output column name -> locf(...) / interpolate(...) / None.
    ``timezone``: bucket in local wall-clock time of an IANA zone — the
    reference's ``ts_gapfill_timestamptz_timezone_bucket`` overload
    (sql/gapfill.sql:23). The spine steps uniformly in LOCAL time, so
    bucket instants are non-uniform in UTC across a DST transition
    (23 h/25 h days) — exactly the reference semantics; locf/interpolate
    window math runs on the local-time axis.

    Expressions are built as SQL text (a few ``selectExpr`` calls), not
    Column trees, to keep driver-side plan construction to a handful of
    JVM calls.
    """
    if aggs is None:
        raise ValueError("aggs is required")
    fill = fill or {}
    group_by = list(group_by)
    dtypes = dict(df.dtypes)
    tdt = dtypes.get(time_col)
    if tdt is None:
        raise ValueError(f"no column {time_col!r}")
    is_ts = tdt.startswith("timestamp") or tdt == "date"
    if timezone is not None and not is_ts:
        raise ValueError("timezone gapfill needs a timestamp column")

    # --- bucket grid (all int64 internal units: µs or verbatim ints) ------
    tc = q(time_col)
    if is_ts:
        iv = parse_interval(width)
        if iv.months:
            return _gapfill_month(
                df, iv.months, time_col, start, finish, group_by, aggs, fill,
                bucket_alias, timezone,
            )
        width_i = iv.us
        origin = DEFAULT_ORIGIN_US
        ts_col = f"CAST({tc} AS TIMESTAMP)"
        if timezone is not None:
            # _BUS is the LOCAL-wall-clock bucket start in µs; the output
            # converts each local bucket back to its UTC instant.
            internal = (
                f"unix_micros(from_utc_timestamp({ts_col}, {sql_literal(timezone)}))"
            )
        else:
            internal = f"unix_micros({ts_col})"
    else:
        if not isinstance(width, int):
            width_i = parse_interval(width).us
        else:
            width_i = width
        origin = 0
        internal = f"CAST({tc} AS BIGINT)"

    start_i, finish_i = _to_internal(start), _to_internal(finish)
    if start_i is None or finish_i is None:
        raise ValueError("start and finish are required (gapfill_exec.c:390)")
    if is_ts and timezone is not None:
        start_i, finish_i = _local_us(start_i, timezone), _local_us(finish_i, timezone)
    b0 = _pbucket(start_i, width_i, origin)
    if finish_i <= b0:
        raise ValueError("finish must be after time_bucket(width, start)")
    b_last = b0 + ((finish_i - 1 - b0) // width_i) * width_i

    if not group_by and (b_last - b0) // width_i >= 5_000_000:
        import warnings

        warnings.warn(
            "gapfill without group_by runs its fill windows in a single "
            "task; a spine this large (>5M buckets) will serialize — add a "
            "group_by dimension or split the window",
            stacklevel=2,
        )

    # reference parity (gapfill_exec.c:1417): a NULL row time is an
    # error, not a pass-through — and the window gap expansion below
    # relies on every bucket being non-NULL (a NULL bucket would sort
    # first and re-emit the whole spine as leading gaps)
    bucket_us = _null_ts_guard(
        internal, f"{internal} - pmod({internal} - {origin}, {width_i})"
    )
    bucketed = _bucketed(df, group_by, bucket_us, aggs)

    if group_by:
        joined = _expand_gaps(bucketed, group_by, list(aggs), b0, b_last, width_i)
    else:
        joined = _spine(bucketed, b0, b_last, width_i).join(
            bucketed, on=[_BUS], how="full_outer"
        )
    if is_ts and timezone is not None:
        axis_of = lambda v: _local_us(_to_internal(v), timezone)  # noqa: E731
    else:
        axis_of = _to_internal
    out = _apply_fills(joined, group_by, list(aggs), fill, axis_of=axis_of)

    if is_ts and timezone is not None:
        tz = sql_literal(timezone)
        # DST spring-forward: a nonexistent local hour maps to the same
        # UTC instant as the following hour — drop the phantom spine row
        # (its local time does not survive a local->UTC->local round
        # trip), or downstream consumers see duplicate bucket keys
        out = out.filter(
            f"unix_micros(from_utc_timestamp(to_utc_timestamp("
            f"timestamp_micros({_BUS}), {tz}), {tz})) = {_BUS}"
        )
        bucket_out = f"to_utc_timestamp(timestamp_micros({_BUS}), {tz})"
    elif is_ts:
        bucket_out = f"timestamp_micros({_BUS})"
    else:
        bucket_out = _BUS
    return out.selectExpr(
        *[q(g) for g in group_by],
        f"{bucket_out} AS {q(bucket_alias)}",
        *[q(n) for n in aggs],
    )


def _gapfill_month(
    df, width_months, time_col, start, finish, group_by, aggs, fill,
    bucket_alias, timezone=None,
):
    """Month-width gapfill: bucket the month index (bucket_month,
    src/time_bucket.c:157); the spine is a month-index sequence. With
    ``timezone``, the month index is taken in local wall-clock time and
    bucket instants are the local month starts converted back to UTC."""
    def py_midx(v) -> int:
        if isinstance(v, int):
            # internal µs (the int time-dimension form never reaches the
            # month path; ints here are µs since epoch)
            from datetime import timezone as _tzmod

            v = datetime.fromtimestamp(v / 1_000_000, tz=_tzmod.utc).replace(
                tzinfo=None
            )
        if isinstance(v, str):
            v = datetime.fromisoformat(v)
        if isinstance(v, date) and not isinstance(v, datetime):
            v = datetime(v.year, v.month, v.day)
        if timezone is not None:
            from datetime import timezone as _tzmod
            from zoneinfo import ZoneInfo

            if v.tzinfo is None:
                v = v.replace(tzinfo=_tzmod.utc)
            v = v.astimezone(ZoneInfo(timezone))
        return v.year * 12 + v.month - 1

    def month_start_us(midx: int) -> int:
        """UTC instant of the bucket start for month index ``midx`` —
        the LOCAL month start when a timezone is set."""
        y, mo = divmod(midx, 12)
        naive = datetime(y, mo + 1, 1)
        if timezone is None:
            return _to_internal(naive)
        from zoneinfo import ZoneInfo

        from datetime import timezone as _tzmod

        localized = naive.replace(tzinfo=ZoneInfo(timezone))
        return int(localized.astimezone(_tzmod.utc).timestamp() * 1_000_000)

    m0_raw = py_midx(start)
    w = width_months
    om = DEFAULT_ORIGIN_MONTHS
    b0 = m0_raw - ((m0_raw - om) % w + w) % w
    finish_i = _to_internal(finish)
    if finish_i is None:
        raise ValueError("start and finish are required (gapfill_exec.c:390)")
    if finish_i <= month_start_us(b0):
        # same contract as the fixed-width path
        raise ValueError("finish must be after time_bucket(width, start)")
    # last bucket = largest month-index bucket whose start instant < finish
    m = b0
    while True:
        nxt = m + w
        if month_start_us(nxt) >= finish_i:
            break
        m = nxt
    b_last = m

    tcol = q(time_col)
    if timezone is not None:
        tcol = f"from_utc_timestamp(CAST({tcol} AS TIMESTAMP), {sql_literal(timezone)})"
    midx = f"(year({tcol}) * 12 + month({tcol}) - 1)"
    bmidx = _null_ts_guard(tcol, f"{midx} - pmod({midx} - {om}, {w})")
    bucketed = _bucketed(df, group_by, bmidx, aggs)
    if group_by:
        joined = _expand_gaps(bucketed, group_by, list(aggs), b0, b_last, w)
    else:
        joined = _spine(bucketed, b0, b_last, w).join(
            bucketed, on=[_BUS], how="full_outer"
        )
    # interpolate prev/next tuples carry TIMES: the fill axis here is the
    # MONTH INDEX, so convert them onto it (a raw µs x0 against a ~e2
    # month-index x degenerates the linear weights)
    out = _apply_fills(joined, group_by, list(aggs), fill, axis_of=py_midx)
    bucket_ts = (
        f"CAST(make_date(CAST(floor({_BUS} / 12) AS INT), "
        f"CAST(pmod({_BUS}, 12) + 1 AS INT), 1) AS TIMESTAMP)"
    )
    if timezone is not None:
        bucket_ts = f"to_utc_timestamp({bucket_ts}, {sql_literal(timezone)})"
    return out.selectExpr(
        *[q(g) for g in group_by],
        f"{bucket_ts} AS {q(bucket_alias)}",
        *[q(n) for n in aggs],
    )


def _apply_fills(
    joined: DataFrame,
    group_by: list[str],
    value_cols: list[str],
    fill: dict[str, FillSpec],
    axis_of=None,
) -> DataFrame:
    """One projection that fills every value column (``_present`` is
    dropped). ``axis_of``: converts a user-facing prev/next TIME onto
    the spine axis — internal µs for the plain path, local-wall-clock
    µs under a timezone, the month index for month widths. Defaults to
    internal µs."""
    if axis_of is None:
        axis_of = _to_internal
    present = "(_present IS NOT NULL AND _present)"
    w_upto = _over(group_by, _BUS, " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    # "next actual row" = first non-null over (1 FOLLOWING, UNBOUNDED
    # FOLLOWING) — but Spark evaluates an UnboundedFollowing frame by
    # RECOMPUTING the aggregate for every row (O(n²) per partition:
    # WindowExec's UnboundedFollowingWindowFunctionFrame). The mirrored
    # growing frame — last non-null over (UNBOUNDED PRECEDING,
    # 1 PRECEDING) under DESCENDING spine order — selects exactly the
    # same row (the spine axis is unique within a partition, so the
    # mirror is unambiguous) and runs incrementally in O(n). Costs one
    # extra in-partition sort, no exchange. Measured at sf0.1:
    # q_gapfill_interpolate's fill job 2.4s -> see plans/r16.
    w_after_desc = _over(
        group_by, f"{_BUS} DESC", " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    )

    out = joined
    dtypes = None
    items: dict[str, str] = {}
    for i, (name, spec) in enumerate(fill.items()):
        if spec is None:
            continue
        col = q(name)
        if isinstance(spec, locf):
            prev = spec.prev
            if isinstance(prev, Column):
                # an expression seed is projected once, then referenced
                out = out.withColumn(f"_gf_prev{i}", prev)
                prev = f"_gf_prev{i}"
            elif prev is not None:
                prev = sql_literal(prev)
            if spec.treat_null_as_missing:
                actual = f"{present} AND {col} IS NOT NULL"
                carried = f"last(CASE WHEN {actual} THEN {col} END, true) {w_upto}"
                filled = carried if prev is None else f"coalesce({carried}, {prev})"
                items[name] = f"CASE WHEN {actual} THEN {col} ELSE {filled} END"
            else:
                # carry the last ACTUAL row's value, NULL included; the
                # prev expression only serves rows with no prior actual row
                last_actual = (
                    f"last(CASE WHEN {present} THEN struct({col} AS v) END, "
                    f"true) {w_upto}"
                )
                gap_val = f"({last_actual}).v"
                if prev is not None:
                    gap_val = (
                        f"CASE WHEN ({last_actual}) IS NULL THEN {prev} "
                        f"ELSE {gap_val} END"
                    )
                items[name] = f"CASE WHEN {present} THEN {col} ELSE {gap_val} END"
        elif isinstance(spec, interpolate):
            if dtypes is None:
                dtypes = dict(joined.dtypes)
            dtype = dtypes[name]
            # prev = last actual row; NULL value there → NULL result
            # (interpolate.c:76-88 tuple_returned resets on NULL)
            actual = (
                f"CASE WHEN {present} THEN struct({_BUS} AS t, {col} AS v) END"
            )
            last_actual = f"(last({actual}, true) {w_upto})"
            next_actual = f"(last({actual}, true) {w_after_desc})"
            prev_t, prev_v = f"{last_actual}.t", f"{last_actual}.v"
            next_t, next_v = f"{next_actual}.t", f"{next_actual}.v"
            if spec.prev is not None:
                pt = sql_literal(axis_of(spec.prev[0]))
                pv = sql_literal(spec.prev[1])
                prev_t = f"CASE WHEN {last_actual} IS NULL THEN {pt} ELSE {prev_t} END"
                prev_v = f"CASE WHEN {last_actual} IS NULL THEN {pv} ELSE {prev_v} END"
            if spec.next is not None:
                nt = sql_literal(axis_of(spec.next[0]))
                nv = sql_literal(spec.next[1])
                next_t = f"CASE WHEN {next_actual} IS NULL THEN {nt} ELSE {next_t} END"
                next_v = f"CASE WHEN {next_actual} IS NULL THEN {nv} ELSE {next_v} END"
            x = f"CAST({_BUS} AS DOUBLE)"
            x0, x1 = f"CAST({prev_t} AS DOUBLE)", f"CAST({next_t} AS DOUBLE)"
            y0, y1 = f"CAST({prev_v} AS DOUBLE)", f"CAST({next_v} AS DOUBLE)"
            interp = f"(({y0} * ({x1} - {x}) + {y1} * ({x} - {x0})) / ({x1} - {x0}))"
            if dtype in ("smallint", "int", "bigint", "long", "integer", "short"):
                interp = f"CAST(round({interp}) AS {dtype})"
            else:
                interp = f"CAST({interp} AS {dtype})"
            items[name] = (
                f"CASE WHEN {present} THEN {col} ELSE CASE WHEN ({prev_v}) IS NULL "
                f"OR ({next_v}) IS NULL THEN NULL ELSE {interp} END END"
            )
        else:
            raise TypeError(f"unknown fill spec {spec!r} for {name!r}")
    return out.selectExpr(
        *[q(g) for g in group_by],
        _BUS,
        *[f"{items[c]} AS {q(c)}" if c in items else q(c) for c in value_cols],
    )
