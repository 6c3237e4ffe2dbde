"""Continuous aggregates: incrementally-refreshed materialized aggregates
with the reference's invalidation-log / threshold / watermark protocol.

Reference: ``tsl/src/continuous_aggs/`` — protocol per its README:

- creation seeds the materialization invalidation log with the entire
  range (``create.c``; README "initial state ... invalidates the entire
  range"), so never-materialized regions stay dirty until refreshed.
- DML appends one (lowest, greatest) modified range per batch to the
  hypertable invalidation log, suppressed above the invalidation
  threshold (``insert.c:208``, ``invalidation_threshold.c``) — implemented
  in ``Hypertable._capture_invalidation``.
- ``refresh(start, end)`` is two-phase (``refresh.c:735``):
  txn 1 moves the threshold to the window end; txn 2 moves hypertable-log
  entries into every cagg's materialization log
  (``invalidation_process_hypertable_log``), cuts the refreshed cagg's log
  against the bucket-aligned window (``invalidation.c`` range algebra),
  merges overlapping dirty ranges, and per range deletes + re-inserts the
  materialized rows (``materialize.c:442-489``), then advances the
  watermark.
- Since v2.7 the mat table stores FINALIZED aggregate values
  (``sql/updates/2.24.0--2.25.0.sql:193-201`` removed partials), so
  refresh is plain re-aggregation of dirty ranges — which maps exactly to
  Spark aggregation + chunk-wise rewrite.
- realtime reads are ``mat WHERE bucket < watermark UNION ALL
  agg(raw WHERE time >= watermark)`` (``common.c:1745 build_union_query``).

Scale: refresh cost is O(dirty range), not O(table) — the dirty ranges
prune the raw-side scan through chunk exclusion, and the mat-side rewrite
only touches overlapping mat chunks.
"""

from __future__ import annotations

import os
import time as _time
from datetime import datetime, timezone as _tz
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, functions as F

from .cagg_families import (
    BY_KEY,
    CANDLESTICK,
    COUNTER,
    FAMILIES,
    FREQ,
    GAUGE,
    HEARTBEAT,
    MAXN,
    SKETCH,
    STATE_AGG,
    STATS,
    TDIGEST,
    TIME_WEIGHT,
    _join,
    _maxn_order,
    _maxn_params,
    _over,
    _q,
    _top,
    counter_steps,
    normalize,
    partials,
)
from .functions.time import DEFAULT_ORIGIN_US, parse_interval
from .hypertable import Hypertable, _to_internal

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1


def _grain_floor(us, width: int, origin_us: int):
    """Origin-aligned bucket floor on an int64-µs column — the column
    analog of ``time_bucket``'s fixed-width formula
    (``functions/time.py:_bucket_us_expr``). Every at-grain accessor
    must bucket with the CAGG'S origin (2000-01-03 for timestamps, 0
    for integer time), never epoch ``DIV``: DIV mislabels widths whose
    grid is not epoch-anchored (weeks: Thursday- vs Monday-aligned)
    and truncates toward zero for pre-epoch timestamps, and — worse —
    puts target edges strictly inside parent bucket spans, breaking
    the partial accessors' exactness premise."""
    return us - F.pmod(
        us - F.lit(int(origin_us)).cast("long"),
        F.lit(int(width)).cast("long"),
    )


def _grain_floor_sql(us: str, width: int, origin_us: int) -> str:
    """SQL-string form of :func:`_grain_floor` (round 17, see _over)."""
    return (
        f"({us} - pmod({us} - CAST({int(origin_us)} AS BIGINT), "
        f"CAST({int(width)} AS BIGINT)))"
    )


def _validate_window_fns(window_fns: dict, bucket_alias: str) -> None:
    """Guarded window-function support, matching the reference's
    validation behind ``timescaledb.enable_cagg_window_functions``
    (``tsl/src/continuous_aggs/common.c:672``): a partition that spans
    buckets gives wrong results after a partial refresh, because each
    refresh recomputes windows only over its dirty bucket ranges.
    Spark window frames never cross partition boundaries, so requiring
    every OVER clause to PARTITION BY the bucket column is exactly the
    bucket-locality guarantee — ORDER BY and ROWS/RANGE frames are then
    free within the bucket."""
    import re

    def _blank_literals(expr: str) -> str:
        """Replace single-quoted SQL literals ('' escape included) with
        spaces of equal length, so neither the OVER finder nor the paren
        scan trips on quoted parens/keywords; offsets are preserved."""
        out, i, n = list(expr), 0, len(expr)
        while i < n:
            if expr[i] == "'":
                j = i + 1
                while j < n:
                    if expr[j] == "'":
                        if j + 1 < n and expr[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                for k in range(i, min(j + 1, n)):
                    out[k] = " "
                i = j + 1
            else:
                i += 1
        return "".join(out)

    def _over_bodies(expr: str) -> list[str]:
        """Balanced-paren extraction of every OVER (...) body — a plain
        regex can neither span nested parens (ORDER BY coalesce(n, 0))
        nor avoid false-matching identifiers ending in 'over'; quoted
        literals are blanked first so "instr(s, '(')" can't unbalance
        the scan."""
        blanked = _blank_literals(expr)
        out = []
        for m in re.finditer(r"\bover\s*\(", blanked, re.I):
            depth, i = 1, m.end()
            while i < len(blanked) and depth:
                if blanked[i] == "(":
                    depth += 1
                elif blanked[i] == ")":
                    depth -= 1
                i += 1
            if depth == 0:
                # body taken from the BLANKED text: the check below only
                # reads bare identifiers, never literal contents
                out.append(blanked[m.end() : i - 1])
        return out

    for col, expr in window_fns.items():
        overs = _over_bodies(expr)
        if not overs:
            raise ValueError(
                f"window_fns[{col!r}] has no OVER clause: {expr!r}"
            )
        for ov in overs:
            pm = re.search(
                r"partition\s+by\s+(.+?)(?:\border\s+by\b|\brows\b|"
                r"\brange\b|\bgroups\b|$)",
                ov,
                re.I | re.S,
            )
            cols = (
                [
                    c.strip().strip('"').lower()
                    for c in pm.group(1).split(",")
                    if c.strip()
                ]
                if pm
                else []
            )
            if bucket_alias.lower() not in cols:
                raise ValueError(
                    f"window_fns[{col!r}]: the OVER clause must PARTITION "
                    f"BY the bucket column {bucket_alias!r} — a window "
                    f"spanning buckets is recomputed per dirty range on "
                    f"refresh and would give wrong results "
                    f"(tsl/src/continuous_aggs/common.c:672, GUC "
                    f"enable_cagg_window_functions)"
                )


def _pbucket(v: int, w: int, origin: int) -> int:
    # clamp to avoid int64 wraparound at the infinite sentinels
    if v <= INT64_MIN + w:
        return INT64_MIN
    if v >= INT64_MAX - w:
        return v
    return v - ((v - origin) % w + w) % w



class ContinuousAggregate:
    def __init__(self, ts, row: dict):
        self.ts = ts
        self.row = row

    # ------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        ts,
        name: str,
        hypertable: Union[str, Hypertable],
        bucket_width: str,
        aggs: dict[str, str],
        group_by: Sequence[str] = (),
        time_column: Optional[str] = None,
        bucket_alias: str = "bucket",
        materialized_only: bool = False,
        where: Optional[str] = None,
        join: Optional[dict] = None,
        window_fns: Optional[dict[str, str]] = None,
        enable_window_functions: bool = False,
        mat_chunk_interval: Union[str, int, None] = None,
        **families: Optional[dict[str, dict]],
    ) -> "ContinuousAggregate":
        """``CREATE MATERIALIZED VIEW .. WITH (timescaledb.continuous)``
        (``tsl/src/continuous_aggs/create.c:600``).

        ``aggs``: output column -> Spark SQL aggregate expression over the
        source hypertable's columns (the "partial view" query).
        ``where``: optional row filter in the defining query (the
        reference allows WHERE clauses in cagg definitions,
        ``cagg_validate_query``).
        ``join``: enrich the hypertable with a plain table registered via
        ``TSSession.create_table`` before bucketing —
        ``{"table": name, "on": col | [cols] | "a = b" expr,
        "how": "inner" | "left"}``. Only INNER and LEFT joins, like the
        reference (``tsl/src/continuous_aggs/common.c:886-892``); the time
        dimension always comes from the hypertable side (``common.c:1808``).
        The dim side is broadcast at refresh, so a join adds zero shuffles.
        Like the reference, changes to the joined table do NOT invalidate
        the cagg — dirty ranges track hypertable DML only.
        ``window_fns``: output column -> window expression evaluated over
        the *aggregated* rows (e.g. ``"rank() OVER (PARTITION BY bucket
        ORDER BY sum_v DESC)"``). Gated off by default like the
        reference's ``timescaledb.enable_cagg_window_functions``
        (``src/guc.c:1031``; validation ``common.c:665-695``): partitions
        that span buckets give unexpected results after partial refresh,
        because each refresh recomputes windows only over its dirty
        ranges. Keep every OVER clause partitioned by the bucket column.
        ``mat_chunk_interval``: the materialization hypertable's chunk
        interval (``WITH (timescaledb.chunk_time_interval=...)``).

        ``**families``: one keyword per partial-state family, named by
        the family's catalog key — output column -> spec. The mat table
        then stores a mergeable PARTIAL state per (bucket, group) for the
        column instead of a finished number, served at any coarser grain
        by the family's ``*_at_grain`` accessor. Every family's spec is
        documented on its entry (``doc``) in
        :data:`timescaledb_spark.cagg_families.FAMILIES`. A spec
        ``{"rollup_of": parent_col}`` over a cagg's mat table defines a
        hierarchical child whose states merge the parent's.
        """
        unknown = sorted(set(families) - set(BY_KEY))
        if unknown:
            raise TypeError(
                f"create() got an unexpected keyword argument {unknown[0]!r}"
            )
        if isinstance(hypertable, str):
            hypertable = Hypertable.get(ts, hypertable)
        cat = ts.catalog
        if cat.continuous_agg.find_one(name=name):
            raise ValueError(f"cagg {name!r} already exists")
        if join is not None:
            how = join.get("how", "inner")
            if how not in ("inner", "left"):
                raise ValueError(
                    "only INNER or LEFT joins are supported in continuous "
                    "aggregates (tsl/src/continuous_aggs/common.c:892)"
                )
            if not cat.plain_table.find_one(name=join["table"]):
                raise KeyError(
                    f"join table {join['table']!r} not registered "
                    "(TSSession.create_table)"
                )
        if window_fns and not enable_window_functions:
            raise ValueError(
                "window functions in continuous aggregates are experimental; "
                "pass enable_window_functions=True "
                "(timescaledb.enable_cagg_window_functions, src/guc.c:1031)"
            )
        if window_fns:
            _validate_window_fns(window_fns, bucket_alias)
        if isinstance(bucket_width, int):
            # integer time dimension: width in raw internal units
            from .functions.time import Interval

            iv = Interval(us=bucket_width)
        else:
            iv = parse_interval(bucket_width)

        def _check_nesting(col: str, prow: dict) -> None:
            """Hierarchical caggs must NEST: the child bucket width an
            integer multiple of the parent's, else each parent partial
            is silently misattributed to the child bucket containing
            the parent's bucket START (a 90-minute child over an hourly
            parent splits nothing — it just mislabels). The reference
            rejects this at create time ('should be multiple of the
            parent', tsl/src/continuous_aggs/common.c:1380-1409), as
            does it reject fixed-width children over variable
            (month-width) parents (common.c:1341-1354). Month child
            over fixed parent additionally requires the parent width to
            divide one day — month boundaries are midnights, and the
            shared midnight-anchored origin then makes every month edge
            a parent edge (stricter than the reference's estimated-
            width check, which is what our exactness claim needs)."""
            p_us = int(prow.get("bucket_width_us") or 0)
            p_months = int(prow.get("bucket_width_months") or 0)
            pname = prow.get("name", "?")
            if iv.months:
                if p_months:
                    if iv.months % p_months or iv.months < p_months:
                        raise ValueError(
                            f"rollup_of={col!r}: child bucket width "
                            f"({iv.months} months) must be an integer "
                            f"multiple of parent cagg {pname!r}'s "
                            f"({p_months} months)"
                        )
                elif p_us <= 0 or (86_400_000_000 % p_us):
                    raise ValueError(
                        f"rollup_of={col!r}: a month-width child over "
                        f"fixed-width parent cagg {pname!r} needs the "
                        f"parent width to divide 1 day so month "
                        f"boundaries land on parent bucket edges"
                    )
            elif p_months:
                raise ValueError(
                    f"rollup_of={col!r}: cannot create a fixed-width "
                    f"child over month-width parent cagg {pname!r} "
                    f"(tsl/src/continuous_aggs/common.c:1341)"
                )
            elif p_us <= 0 or iv.us % p_us or iv.us < p_us:
                raise ValueError(
                    f"rollup_of={col!r}: child bucket width ({iv.us} "
                    f"us) must be an integer multiple (>= 1x) of "
                    f"parent cagg {pname!r}'s ({p_us} us) — "
                    f"non-nesting hierarchical caggs misattribute "
                    f"parent partials "
                    f"(tsl/src/continuous_aggs/common.c:1384)"
                )

        # a rollup_of child's parent: the cagg whose mat table this is
        prow = cat.continuous_agg.find_one(mat_table=hypertable.name)
        taken = set(aggs) | set(group_by) | {bucket_alias}
        specs: dict[str, Optional[dict]] = {}
        for fam in FAMILIES:
            norm: dict[str, dict] = {}
            for col, spec in (families.get(fam.key) or {}).items():
                if col in taken:
                    raise ValueError(
                        f"{fam.kind} column {col!r} collides with another "
                        f"output column"
                    )
                taken.add(col)
                if "rollup_of" in spec and prow is not None:
                    _check_nesting(col, prow)
                pspec = ((prow or {}).get(fam.key) or {}).get(
                    spec.get("rollup_of")
                )
                norm[col] = normalize(fam, col, spec, pspec)
            specs[fam.key] = norm or None
        tcol = time_column or hypertable.time_column
        is_uuid = hypertable.row.get("time_type") == "uuid"
        # UUIDv7 dimensions bucket by their embedded timestamp, so the
        # cagg's buckets ARE timestamps (time_bucket_uuid returns one)
        is_ts = is_uuid or (hypertable.row.get("time_type") or "timestamp") in (
            "timestamp",
            "timestamp_ntz",
            "date",
        )
        if iv.months and not is_ts:
            raise ValueError("month-width buckets need a timestamp dimension")
        row = {
            "id": cat.next_id("cagg"),
            "name": name,
            "hypertable_id": hypertable.id,
            "hypertable_name": hypertable.name,
            "time_column": tcol,
            "bucket_width_us": iv.us,
            "bucket_width_months": iv.months,  # variable-width bucket_function
            "bucket_origin_us": DEFAULT_ORIGIN_US if is_ts else 0,
            "time_is_timestamp": is_ts,
            "time_is_uuid": is_uuid,
            "bucket_alias": bucket_alias,
            "group_by": list(group_by),
            "aggs": aggs,
            "materialized_only": materialized_only,
            "where": where,
            "join": join,
            "window_fns": window_fns,
            **specs,
            "mat_table": f"_mat_{name}",
            "created_at": _time.time(),
        }
        # materialization hypertable FIRST (create.c:267): if its name
        # collides, nothing has been written yet — appending the cagg
        # row before this left a broken half-created cagg behind on
        # failure. Bucket column is the open dimension; chunk interval
        # follows the reference: the SOURCE's interval × 10 for
        # non-hierarchical caggs (create.c:104 MATPARTCOL_INTERVAL_FACTOR,
        # create.c:626-631 — hierarchical children inherit the parent
        # mat interval unchanged), floored at 10 buckets so a coarse
        # cagg over a finely-chunked raw table still gets multi-row
        # chunks. The old 10-buckets-only default produced ~50-row mat
        # chunks at the x100 probe tier (1,460 dirs for 72k rows) whose
        # listing dominated every at-grain serve; callers can override
        # with mat_chunk_interval (the WITH (timescaledb.
        # chunk_time_interval=...) analog, create.c:619-623).
        nominal_us = iv.us if not iv.months else iv.months * 31 * 86_400_000_000
        src_interval = int(hypertable.row.get("chunk_interval") or 0)
        is_hier = prow is not None
        if mat_chunk_interval is not None:
            mat_interval = (
                int(mat_chunk_interval)
                if isinstance(mat_chunk_interval, int)
                else parse_interval(mat_chunk_interval).us
            )
            if mat_interval <= 0:
                raise ValueError("mat_chunk_interval must be positive")
        else:
            mat_interval = max(
                src_interval * (1 if is_hier else 10), nominal_us * 10
            )
        Hypertable.create(ts, row["mat_table"], bucket_alias, chunk_interval=mat_interval)
        cat.continuous_agg.append([row])
        # seed: entire range invalid (README "initial state")
        cat.materialization_invalidation_log.append(
            [
                {
                    "cagg_id": row["id"],
                    "lowest_modified_value": INT64_MIN,
                    "greatest_modified_value": INT64_MAX,
                }
            ]
        )
        cat.cagg_watermark.append([{"cagg_id": row["id"], "watermark": None}])
        return cls(ts, row)

    @classmethod
    def get(cls, ts, name: str) -> "ContinuousAggregate":
        row = ts.catalog.continuous_agg.find_one(name=name)
        if not row:
            raise KeyError(f"no cagg {name!r}")
        return cls(ts, row)

    @property
    def id(self) -> int:
        return self.row["id"]

    @property
    def name(self) -> str:
        return self.row["name"]

    @property
    def width(self) -> int:
        return int(self.row["bucket_width_us"])

    @property
    def origin(self) -> int:
        return int(self.row["bucket_origin_us"])

    def _source(self) -> Hypertable:
        return Hypertable.get(self.ts, self.row["hypertable_name"])

    def _mat(self) -> Hypertable:
        return Hypertable.get(self.ts, self.row["mat_table"])

    def _bucket_expr(self, df: DataFrame):
        from .functions.time import time_bucket, time_bucket_int

        if self.row.get("time_is_uuid"):
            from .functions.time import Interval
            from .functions.uuid7 import time_bucket_uuid

            months = int(self.row.get("bucket_width_months") or 0)
            iv = Interval(months=months) if months else Interval(us=self.width)
            return time_bucket_uuid(iv, self.row["time_column"]).alias(
                self.row["bucket_alias"]
            )
        if self.row["time_is_timestamp"]:
            from .functions.time import Interval

            months = int(self.row.get("bucket_width_months") or 0)
            iv = Interval(months=months) if months else Interval(us=self.width)
            return time_bucket(iv, self.row["time_column"]).alias(
                self.row["bucket_alias"]
            )
        return time_bucket_int(self.width, self.row["time_column"]).alias(
            self.row["bucket_alias"]
        )

    def _floor_us(self, v: int) -> int:
        """Bucket start containing internal time ``v``. Fixed widths use
        the closed-form formula; month widths floor the month index
        (driver-side calendar math — the analog of the reference's
        ``ts_compute_inscribed_bucketed_refresh_window`` for variable
        buckets)."""
        months = int(self.row.get("bucket_width_months") or 0)
        if not months:
            return _pbucket(v, self.width, self.origin)
        guard = 32 * 86_400_000_000 * (months + 1)
        if v <= INT64_MIN + guard:
            return INT64_MIN
        if v >= INT64_MAX - guard:
            return v
        dt = datetime.fromtimestamp(v // 1_000_000, tz=_tz.utc)
        midx = dt.year * 12 + dt.month - 1
        origin_midx = 2000 * 12  # DEFAULT_ORIGIN_MONTHS (Jan 2000)
        b = midx - ((midx - origin_midx) % months + months) % months
        y, mo = divmod(b, 12)
        return int(datetime(y, mo + 1, 1, tzinfo=_tz.utc).timestamp() * 1_000_000)

    def _next_us(self, bucket_start: int) -> int:
        """Start of the bucket after the one starting at ``bucket_start``."""
        months = int(self.row.get("bucket_width_months") or 0)
        if not months:
            return bucket_start + self.width
        if bucket_start in (INT64_MIN, INT64_MAX):
            return bucket_start
        dt = datetime.fromtimestamp(bucket_start // 1_000_000, tz=_tz.utc)
        midx = dt.year * 12 + dt.month - 1 + months
        y, mo = divmod(midx, 12)
        return int(datetime(y, mo + 1, 1, tzinfo=_tz.utc).timestamp() * 1_000_000)

    def _aggregate(
        self, raw: DataFrame, only_cols: Optional[Sequence[str]] = None
    ) -> DataFrame:
        """The 'partial view' query:
        [join dim] + [where] + bucket + group_by + aggs + [sketch
        states] + [window_fns]. ``only_cols`` restricts the build to
        the named output columns — the single-family realtime serve
        path (:meth:`read`): untouched families' partial builds (and
        their 1:1 joins) are never planned at all."""
        j = self.row.get("join")
        if j:
            dim = self.ts.read_table(j["table"])
            on = j.get("on")
            if isinstance(on, str) and not on.replace("_", "").isalnum():
                on = F.expr(on)  # "a = b" join condition
            raw = raw.join(F.broadcast(dim), on=on, how=j.get("how", "inner"))
        if self.row.get("where"):
            raw = raw.filter(F.expr(self.row["where"]))
        exprs = [
            F.expr(e).alias(n)
            for n, e in self.row["aggs"].items()
            if only_cols is None or n in only_cols
        ]
        keys = [self.row["bucket_alias"], *self.row["group_by"]]
        parts = [
            p for p in partials(self.row) if only_cols is None or p[1] in only_cols
        ]
        agg = None
        if exprs or not parts:
            agg = raw.groupBy(
                self._bucket_expr(raw), *self.row["group_by"]
            ).agg(*exprs)
        for fam, col, spec in parts:
            # every state is null-aware: it emits a row for EVERY (bucket,
            # group) of the raw rows, with a NULL state when the partial's
            # inputs are all NULL (strict PG aggregate semantics) — so this
            # join chain is always 1:1 and inner; AQE sees two
            # pre-aggregated (small) sides
            sk = self._build_state(fam.for_spec(spec), raw, col, spec)
            agg = sk if agg is None else _join(agg, sk, keys, "inner", [col])
        if only_cols is None:
            for col, expr in (self.row.get("window_fns") or {}).items():
                agg = agg.withColumn(col, F.expr(expr))
        return agg

    def _build_state(self, fam, raw: DataFrame, col: str, spec: dict):
        """One family column's states per (bucket, group): built from the
        raw rows, or — for a hierarchical ``rollup_of`` child — the
        family's merge over the PARENT cagg's stored states written back
        as a state (cagg_on_cagg.sql × the toolkit rollup idiom). The
        merge input is ``(bucket, group…, _src, _st)`` with ``_src`` the
        parent bucket in internal µs; NULL parent states are kept, so an
        all-NULL child group still gets a row with a NULL state."""
        src = spec.get("rollup_of")
        if not src:
            return fam.state(self, raw, col, spec)
        gb = list(self.row["group_by"])
        keys = [self.row["bucket_alias"], *gb]
        d = raw.select(
            self._bucket_expr(raw),
            *gb,
            self._raw_time_us(raw).alias("_src"),
            F.col(src).alias("_st"),
        )
        return fam.pack(fam.merge(d, keys, spec), d, keys, col, spec)

    def _raw_time_us(self, raw: DataFrame):
        """int64 internal units of the cagg's time column on ``raw``."""
        tcol = self.row["time_column"]
        if self.row.get("time_is_uuid"):
            from .functions.uuid7 import uuid_timestamp_micros

            return uuid_timestamp_micros(F.col(tcol))
        if self.row["time_is_timestamp"]:
            dt = dict(raw.dtypes).get(tcol, "timestamp")
            if dt == "date":
                return (
                    F.datediff(
                        F.col(tcol), F.lit("1970-01-01").cast("date")
                    ).cast("long")
                    * F.lit(86_400_000_000)
                )
            return F.unix_micros(F.col(tcol).cast("timestamp"))
        return F.col(tcol).cast("long")

    # ------------------------------------------------------------ serving
    def _resolve(self, fam, col: Optional[str]):
        """``(column, spec)`` of a family column; ``col=None`` picks the
        cagg's only column of that family."""
        specs = self.row.get(fam.key) or {}
        if not specs:
            raise ValueError(
                f"cagg {self.name!r} has no {fam.kind} columns (pass "
                f"{fam.key}= to create_cagg)"
            )
        if col is None:
            if len(specs) > 1:
                raise ValueError(
                    f"cagg {self.name!r} has several {fam.kind} columns "
                    f"{sorted(specs)}; pass the column name"
                )
            col = next(iter(specs))
        if col not in specs:
            raise KeyError(f"no {fam.kind} column {col!r}")
        return col, specs[col]

    def _serve(
        self, fam, col, grain, group_by, realtime, start, end, finalize=None
    ) -> DataFrame:
        """Every ``*_at_grain`` accessor: the :meth:`_partial_frame`
        scaffold, then the family's merge of the parent partials inside
        each target bucket (the same merge a ``rollup_of`` child stores),
        then ``finalize`` (default: the family's) into output columns."""
        col, spec = self._resolve(fam, col)
        fam = fam.for_spec(spec)
        if fam.ordered:
            self._require_full_group_by(group_by, fam)
        d, keys_gb, bucket, grain_all = self._partial_frame(
            col, grain, group_by, realtime, start, end
        )
        keys = keys_gb if grain_all else ["_tgt", *keys_gb]
        out = (finalize or fam.finalize)(fam.merge(d, keys, spec), keys, spec)
        return out if grain_all else out.withColumnRenamed("_tgt", bucket)

    def _require_full_group_by(self, group_by, fam) -> None:
        """Ordered partials (counter, gauge, time-weight, state-agg,
        heartbeat) are only mergeable WITHIN one series: regrouping on a
        subset of the cagg's group columns would merge partials from
        different series into one ordered-by-``_src`` window, making the
        boundary math nondeterministic (several partials share each
        parent bucket) and semantically wrong. Commutative states keep
        free regrouping."""
        if group_by is None:
            return
        missing = [c for c in self.row["group_by"] if c not in set(group_by)]
        if missing:
            raise ValueError(
                f"{fam.serve}(group_by=...) must include every group "
                f"column of cagg {self.name!r} (missing {missing}): "
                f"{fam.kind} partials are only mergeable within a single "
                f"series"
            )

    def _partial_frame(
        self, col: str, grain, group_by, realtime, start, end
    ):
        """Shared serving scaffold: read the column (realtime union
        included), apply bucket-aligned ``[start, end)`` bounds, compute
        the target bucket, and return ``(frame(_tgt?, group…, _src,
        _st), group_cols, bucket_alias, grain_is_all)``."""
        from .functions.time import time_bucket

        bucket = self.row["bucket_alias"]
        gb = list(self.row["group_by"] if group_by is None else group_by)
        df = self.read(realtime=realtime, only_cols=[col])
        if start is not None or end is not None:
            bc = F.col(bucket)
            if self.row["time_is_timestamp"]:
                conv = lambda x: F.lit(x).cast("timestamp")  # noqa: E731
            else:
                conv = lambda x: F.lit(int(x))  # noqa: E731
            if start is not None:
                df = df.filter(bc >= conv(start))
            if end is not None:
                df = df.filter(bc < conv(end))
        # strict rollup semantics: a NULL state (a group whose partial
        # inputs were all NULL) is skipped at merge time, like the
        # toolkit's strict rollup() aggregate. Filter AFTER the rename
        # select — a filter on the raw state column between the mat
        # read and the select trips Spark 4.1.2's RemoveRedundantAliases
        # into an unresolved plan (same bug family as d42cb25).
        if grain == "all":
            # no constant target column: a literal group/partition key
            # trips Catalyst's RemoveRedundantAliases into an unresolved
            # plan (observed on the gauge accessor) and adds nothing
            return (
                df.select(
                    *gb,
                    F.col(bucket).alias("_src"),
                    F.col(col).alias("_st"),
                ).filter(F.col("_st").isNotNull()),
                gb,
                bucket,
                True,
            )
        if grain is not None:
            if not self.row["time_is_timestamp"]:
                from .functions.time import time_bucket_int

                tgt = time_bucket_int(int(grain), bucket)
            else:
                tgt = time_bucket(grain, bucket)
        else:
            tgt = F.col(bucket)
        return (
            df.select(
                tgt.alias("_tgt"),
                *gb,
                F.col(bucket).alias("_src"),
                F.col(col).alias("_st"),
            ).filter(F.col("_st").isNotNull()),
            gb,
            bucket,
            False,
        )

    def _interp_frame(self, fam, col, grain, realtime, method: str):
        """Shared scaffold of the interpolated accessors: the column's
        non-NULL states ``(group…, _src, _st)`` at the cagg's own grain,
        ``_src`` in internal µs, plus the target width — a positive
        multiple of the cagg's fixed bucket width, so that every target
        edge is a parent edge."""
        from .functions.time import parse_interval

        col, _spec = self._resolve(fam, col)
        if grain is None:
            raise ValueError(f"{method} needs an explicit grain")
        if self.row["time_is_timestamp"]:
            iv = parse_interval(grain)
            if iv.months:
                raise ValueError("needs a fixed-width grain")
            width = iv.us
        else:
            width = int(grain)
        pw = int(self.row["bucket_width_us"])
        if (
            self.row.get("bucket_width_months")
            or width <= 0
            or width % pw != 0
        ):
            raise ValueError(
                "grain must be a positive integer multiple of the "
                "cagg's fixed bucket width (parent buckets must nest)"
            )
        gb = list(self.row["group_by"])
        bucket = self.row["bucket_alias"]
        df = self.read(realtime=realtime, only_cols=[col])
        if self.row["time_is_timestamp"]:
            src_us = F.unix_micros(F.col(bucket).cast("timestamp"))
        else:
            src_us = F.col(bucket).cast("long")
        base = df.select(
            *gb, src_us.alias("_src"), F.col(col).alias("_st")
        ).filter(F.col("_st").isNotNull())
        return base, gb, width

    def _target_buckets(self, df: DataFrame, gb, *cols) -> DataFrame:
        """Interpolated output: the int64-µs target bucket ``_b`` back
        as the cagg's bucket column."""
        if self.row["time_is_timestamp"]:
            bcol = F.timestamp_micros(F.col("_b"))
        else:
            bcol = F.col("_b")
        return df.select(bcol.alias(self.row["bucket_alias"]), *gb, *cols)

    def counter_at_grain(
        self,
        counter_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve reset-adjusted counter results at any coarser grain
        from the stored partials — the toolkit
        ``delta(rollup(counter_agg(...)))`` idiom. Merging consecutive
        bucket partials within each target bucket adds each boundary
        step once (reset-adjusted), so the result equals
        ``counter_agg`` over the raw rows of the target grain exactly;
        no raw rescan below the watermark. ``start``/``end`` filter
        whole parent buckets (bucket-aligned ``[start, end)``).

        Output: ``(bucket?, group…, n, delta, rate, num_resets,
        first_us, last_us)``; ``grain=None`` keeps the cagg's own grain,
        ``"all"`` collapses to one row per group."""
        return self._serve(COUNTER, counter_col, grain, group_by, realtime, start, end)

    def gauge_at_grain(
        self,
        gauge_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve gauge results at any coarser grain from the stored
        partials (toolkit ``delta(rollup(gauge_agg(...)))``):
        delta = last − first value of the target bucket, idelta/irate =
        the final step (falling back to the bucket-boundary step when
        the last parent bucket holds a single sample) — identical to
        ``gauge_agg`` over the raw rows of the target grain.

        Output: ``(bucket?, group…, n, delta, rate, idelta, irate,
        first_us, last_us)``."""
        return self._serve(GAUGE, gauge_col, grain, group_by, realtime, start, end)

    def stats_at_grain(
        self,
        stats_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve 1-D statistics at any coarser grain from the stored
        moments partials (toolkit ``rollup(stats_agg(...))``
        accessors): fieldwise add/min/max merge, then
        n/sum/avg/stddev/variance (sample)/min/max extraction."""
        if stats_col is None:
            # resolve BEFORE the 2-D guard, or a cagg whose only stats
            # column is 2-D slips into the 1-D serve
            specs = self.row.get(STATS.key) or {}
            if len(specs) == 1:
                stats_col = next(iter(specs))
        if stats_col is not None and self._is_stats2d(stats_col):
            raise ValueError(
                f"{stats_col!r} is a 2-D stats partial — use "
                f"stats2d_at_grain for slope/intercept/corr/covariance"
            )
        return self._serve(STATS, stats_col, grain, group_by, realtime, start, end)

    def stats2d_at_grain(
        self,
        stats_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve 2-D linear-regression statistics at any coarser grain
        from the stored comoment partials — the toolkit
        ``stats_agg(y, x) → rollup → slope()/intercept()/corr()``
        idiom (the regression-over-time dashboard query; PG's
        ``regr_*`` family). Fieldwise sums merge, then the standard
        comoment corrections: ``Cxy = Σxy − ΣxΣy/n`` etc. With
        integer-quantized inputs every sum is exact, so the final
        divisions are IEEE-deterministic and a SQL replay of the same
        formulas matches bit-for-bit (the q_cagg_stats discipline).
        Subset ``group_by`` regrouping is allowed — comoments are
        commutative states.

        Output: ``(bucket?, group…, n, average_x, average_y, sum_x,
        sum_y, slope, intercept, covariance, corr,
        determination_coefficient)`` — slope/corr NULL for a
        degenerate x (all equal), covariance NULL for n ≤ 1, like
        ``regr_slope``/``covar_samp``."""
        if stats_col is None:
            two_d = [
                c for c in (self.row.get(STATS.key) or {}) if self._is_stats2d(c)
            ]
            if len(two_d) != 1:
                raise ValueError(
                    f"cagg {self.name!r} has {len(two_d)} 2-D stats "
                    f"columns; pass stats_col"
                )
            stats_col = two_d[0]
        if not self._is_stats2d(stats_col):
            raise ValueError(
                f"{stats_col!r} is not a 2-D stats partial (create "
                f"with {STATS.key}={{col: {{'value': x, 'y': y}}}})"
            )
        return self._serve(STATS, stats_col, grain, group_by, realtime, start, end)

    def _is_stats2d(self, col: str) -> bool:
        spec = (self.row.get(STATS.key) or {}).get(col)
        return bool(spec) and "y" in spec

    def interpolated_average_at_grain(
        self,
        tw_col: Optional[str] = None,
        grain=None,
        realtime: Optional[bool] = None,
    ) -> DataFrame:
        """Serve the toolkit ``interpolated_average(rollup(
        time_weight(...)), start, width, prev, next)`` idiom from the
        stored partials: each group's samples define ONE global LOCF
        step function; each target bucket's average is the integral of
        that step function over the bucket divided by the covered
        duration — so a value set before an EMPTY bucket still fills
        it, and a segment crossing a bucket edge splits its weight
        between both buckets (what per-bucket time_weight gets wrong;
        semantics of functions/counters.py:interpolated_average, which
        is the raw-scan analog).

        From the partials this is exact with zero raw rescans below
        the watermark: within-parent integrals land in their parent's
        target bucket, and each boundary segment (prev parent's last
        sample → next parent's first) explodes over the target buckets
        it overlaps with exact int64-µs overlap arithmetic — the same
        product set as the raw computation, regrouped, so sums match
        bit-for-bit when values are integer-quantized. Target ``grain``
        must be a multiple of the cagg's bucket width (parents must
        nest). LOCF partials only.

        Output: ``(bucket, group…, tw_avg)`` — one row per target
        bucket the step function overlaps, empty-gap buckets included.
        """
        from pyspark.sql import Window

        _col, spec = self._resolve(TIME_WEIGHT, tw_col)
        if str(spec.get("method", "locf")).lower() != "locf":
            raise ValueError(
                "interpolated_average_at_grain needs a LOCF time_weight "
                "(linear interpolation across gaps is interpolated_delta "
                "territory)"
            )
        base, gb, width = self._interp_frame(
            TIME_WEIGHT, tw_col, grain, realtime, "interpolated_average_at_grain"
        )
        st = F.col("_st")
        w = Window.partitionBy(*gb).orderBy(F.col("_src").asc())
        prev_last_us = F.lag(st["last_us"]).over(w)
        prev_last_val = F.lag(st["last_val"]).over(w)
        seg = base.select(
            *gb,
            st.alias("_st"),
            prev_last_us.alias("_pt"),
            prev_last_val.alias("_pv"),
        )
        wl = F.lit(width).cast("long")
        org = int(self.row.get("bucket_origin_us") or 0)
        # within-parent piece: the stored integral, covering
        # [first_us, last_us] — one target bucket (parents nest:
        # the target grid shares the cagg's bucket origin, so with
        # width a multiple of the parent width every target edge is
        # a parent edge — origin-aligned floor, NOT epoch DIV, which
        # would mislabel e.g. weekly buckets Thursday-aligned and
        # truncate toward zero for pre-epoch timestamps)
        within = seg.select(
            *gb,
            _grain_floor(st["first_us"], width, org).alias("_b"),
            st["integral"].alias("_num"),
            (st["last_us"] - st["first_us"]).cast("double").alias("_den"),
        )
        # boundary piece: LOCF segment [prev.last_us, first_us) at the
        # previous parent's last value, exploded over the target
        # buckets it overlaps (bounded by gap span / width)
        bnd = seg.filter(
            F.col("_pt").isNotNull() & (st["first_us"] > F.col("_pt"))
        ).select(
            *gb,
            F.col("_pt").alias("_t1"),
            st["first_us"].alias("_t2"),
            F.col("_pv").alias("_v"),
        )
        b0 = _grain_floor(F.col("_t1"), width, org)
        b1 = _grain_floor(F.col("_t2") - F.lit(1).cast("long"), width, org)
        ex = bnd.select(
            *gb,
            "_t1",
            "_t2",
            "_v",
            F.explode(F.sequence(b0, b1, wl)).alias("_b"),
        )
        overlap = F.least(F.col("_t2"), F.col("_b") + wl) - F.greatest(
            F.col("_t1"), F.col("_b")
        )
        pieces = within.unionByName(
            ex.select(
                *gb,
                "_b",
                (F.col("_v") * overlap.cast("double")).alias("_num"),
                overlap.cast("double").alias("_den"),
            )
        )
        out = (
            pieces.groupBy(*gb, "_b")
            .agg(
                F.sum("_num").alias("_num"),
                F.sum("_den").alias("_den"),
            )
            .filter(F.col("_den") > 0)
        )

        return self._target_buckets(
            out, gb, (F.col("_num") / F.col("_den")).alias("tw_avg")
        )

    def interpolated_delta_at_grain(
        self,
        counter_col: Optional[str] = None,
        grain=None,
        realtime: Optional[bool] = None,
    ) -> DataFrame:
        """Serve the toolkit ``interpolated_delta/interpolated_rate(
        rollup(counter_agg(...)), start, width, prev, next)`` idiom
        from the stored counter partials: the reset-adjusted counter is
        a monotone piecewise-linear function; each target bucket's
        delta is its interpolated value at the bucket edges (a segment
        crossing an edge splits its increase between both buckets),
        rate divides by the covered duration. Exact from partials with
        zero raw rescans because every target edge (a multiple of the
        parent width) falls inside a BOUNDARY segment between adjacent
        partials — never strictly inside a parent's sample span — so
        the adjusted values at all evaluation points are recoverable
        from (first/last value+time, delta) alone: within-span pieces
        telescope to the stored delta, boundary pieces interpolate
        between exactly-known endpoints (semantics of
        functions/counters.py:interpolated_delta, the raw-scan analog).
        Target ``grain`` must be a multiple of the cagg's bucket width.

        Output: ``(bucket, group…, delta, rate)``."""
        from pyspark.sql import Window

        base, gb, width = self._interp_frame(
            COUNTER, counter_col, grain, realtime, "interpolated_delta_at_grain"
        )
        st = F.col("_st")
        knots = counter_steps(base, gb)
        wc = Window.partitionBy(*gb).orderBy(F.col("_src").asc())
        cum_binc = F.sum("_binc").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum_delta_before = F.sum(st["delta"]).over(
            wc.rowsBetween(Window.unboundedPreceding, -1)
        )
        # anchor at the group's first sample VALUE (raw va(sample 1) =
        # v1): differences would cancel the anchor mathematically, but
        # the float interpolation below rounds differently under a
        # constant shift — anchoring reproduces the raw path's adjusted
        # values exactly (bit-for-bit with integer-quantized inputs)
        anchor = F.first(st["first_val"]).over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        vf = anchor + cum_binc + F.coalesce(cum_delta_before, F.lit(0.0))
        knots = knots.select(
            *gb,
            "_src",
            st["first_us"].alias("_fu"),
            st["last_us"].alias("_lu"),
            vf.alias("_vf"),
            (vf + st["delta"]).alias("_vl"),
        )
        wk = Window.partitionBy(*gb).orderBy(F.col("_src").asc())
        within = knots.select(
            *gb,
            F.col("_fu").alias("_t1"),
            F.col("_vf").alias("_v1"),
            F.col("_lu").alias("_t2"),
            F.col("_vl").alias("_v2"),
        )
        boundary = knots.select(
            *gb,
            F.lag("_lu").over(wk).alias("_t1"),
            F.lag("_vl").over(wk).alias("_v1"),
            F.col("_fu").alias("_t2"),
            F.col("_vf").alias("_v2"),
        ).filter(F.col("_t1").isNotNull())
        seg = within.unionByName(boundary).filter(
            F.col("_t2") > F.col("_t1")
        )
        wl = F.lit(width).cast("long")
        # origin-aligned target grid (same origin as the cagg's own
        # buckets, so target edges are parent edges — see
        # interpolated_average_at_grain)
        org = int(self.row.get("bucket_origin_us") or 0)
        b0 = _grain_floor(F.col("_t1"), width, org)
        b1 = _grain_floor(F.col("_t2") - F.lit(1).cast("long"), width, org)
        ex = seg.select(
            *gb,
            "_t1",
            "_v1",
            "_t2",
            "_v2",
            F.explode(F.sequence(b0, b1, wl)).alias("_b"),
        )
        lo = F.greatest(F.col("_t1"), F.col("_b"))
        hi = F.least(F.col("_t2"), F.col("_b") + wl)
        span = (F.col("_t2") - F.col("_t1")).cast("double")
        dv = F.col("_v2") - F.col("_v1")
        va_lo = F.col("_v1") + dv * (lo - F.col("_t1")).cast("double") / span
        va_hi = F.col("_v1") + dv * (hi - F.col("_t1")).cast("double") / span
        out = ex.groupBy(*gb, "_b").agg(
            F.sum(va_hi - va_lo).alias("delta"),
            (
                F.sum(va_hi - va_lo)
                / (F.sum((hi - lo).cast("double")) / F.lit(1e6))
            ).alias("rate"),
        )

        return self._target_buckets(out, gb, "delta", "rate")

    def time_weighted_at_grain(
        self,
        tw_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve exact time-weighted averages at any coarser grain from
        the stored partials — the toolkit
        ``average(rollup(time_weight(...)))`` idiom. Merging the
        consecutive parent partials inside each target bucket adds one
        interpolated boundary segment per adjacent pair (LOCF:
        ``A.last_val·Δt``; linear: ``(A.last_val+B.first_val)/2·Δt``),
        so the result equals ``time_weight → average`` over the raw
        rows of the target grain exactly; a single-sample target bucket
        returns that value (matching
        functions/counters.py:time_weighted_avg).

        Output: ``(bucket?, group…, tw_avg, n, first_us, last_us)``."""
        return self._serve(TIME_WEIGHT, tw_col, grain, group_by, realtime, start, end)

    def candlestick_at_grain(
        self,
        candle_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve exact OHLC/volume/vwap at any coarser grain from the
        stored partials — the toolkit ``rollup(candlestick_agg(...))``
        idiom. Parent buckets partition time disjointly, so the target
        bucket's open comes from its EARLIEST parent partial and its
        close from the LATEST (keyed on the partial's own first/last
        sample time — ``_src`` is unique per parent bucket within a
        group); high/low/volume/pv merge commutatively, so subset
        ``group_by`` regrouping is allowed (unlike counters/gauges,
        nothing here depends on a single series' ordering beyond the
        disjoint buckets). When a subset ``group_by`` merges SERIES
        that share a first/last sample timestamp, the per-series
        tiebreak columns are not recoverable from the partials, so
        the equal-time winner is instead chosen deterministically by
        price value: ties on ``first_us`` take the LOWEST open, ties
        on ``last_us`` the HIGHEST close (exact only when equal-time
        ties carry equal prices — same caveat as the toolkit's
        unspecified equal-time ordering).

        Output: ``(bucket?, group…, open, high, low, close, volume,
        vwap, n, first_us, last_us)``."""
        return self._serve(CANDLESTICK, candle_col, grain, group_by, realtime, start, end)

    def state_durations_at_grain(
        self,
        state_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve exact per-state held durations at any coarser grain
        from the stored partials — the toolkit ``duration_in(state,
        rollup(state_agg(...)))`` idiom for every state at once.
        Merging consecutive partials inside a target bucket adds each
        boundary gap to the EARLIER partial's last state (LOCF), so
        the result equals ``state_durations`` over the raw rows of the
        target grain exactly.

        Output: ``(bucket?, group…, state, duration_us, n)``."""
        return self._serve(STATE_AGG, state_col, grain, group_by, realtime, start, end)

    def topn_at_grain(
        self,
        freq_col: Optional[str] = None,
        n: int = 10,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve the ``n`` most frequent values at any coarser grain
        from the stored Misra–Gries states — the toolkit
        ``topn(rollup(freq_agg(...)), n)`` idiom ("top URLs per hour,
        served per day"). Per-value lower bounds sum across merged
        states; any value with true frequency > N/(capacity+1) is
        guaranteed to surface, counts are lower bounds — and EXACT
        (so the top-n itself is exact) whenever every source bucket's
        distinct count fits its capacity. Subset ``group_by``
        regrouping is allowed (commutative merge). Deterministic order:
        count desc, value asc.

        Output: ``(bucket?, group…, value, freq_lb)``."""
        def finalize(m, keys, spec):
            served = FREQ.finalize(m, keys, spec)
            return _top(served, keys, ["freq_lb DESC", "value ASC"], n).drop("_rk")

        return self._serve(FREQ, freq_col, grain, group_by, realtime, start, end, finalize)

    def max_n_at_grain(
        self,
        maxn_col: Optional[str] = None,
        n: Optional[int] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve the ``n`` largest/smallest values at any coarser grain
        from the stored candidate lists — the toolkit
        ``into_values(rollup(max_n(...)))`` idiom. Exact at every
        grain: the target's top-n is the top-n of the concatenated
        per-bucket candidate lists (each list kept at least as many
        values as any request can need). ``n`` defaults to the stored
        list length; requesting more raises. Subset ``group_by``
        regrouping is allowed.

        Output: ``(bucket?, group…, value)`` rows, best-first —
        ``(bucket?, group…, value, data)`` for a ``max_n_by`` column
        (value ties ordered by payload in the list's direction)."""
        maxn_col, spec = self._resolve(MAXN, maxn_col)
        keep, desc, has_by = _maxn_params(spec)
        if n is None:
            n = keep
        if n > keep:
            raise ValueError(
                f"max_n_at_grain(n={n}) exceeds the stored candidate "
                f"list length ({keep}) — recreate the cagg with a "
                f"larger n"
            )
        order = _maxn_order(desc, has_by, "value", "data")

        def finalize(m, keys, spec):
            return _top(MAXN.finalize(m, keys, spec), keys, order, n).drop("_rk")

        return self._serve(MAXN, maxn_col, grain, group_by, realtime, start, end, finalize)

    def interpolated_duration_in_at_grain(
        self,
        state,
        state_col: Optional[str] = None,
        grain=None,
        realtime: Optional[bool] = None,
    ) -> DataFrame:
        """Serve the toolkit ``interpolated_duration_in(state,
        rollup(state_agg(...)), start, width, prev, next)`` idiom from
        the stored state partials: the samples define ONE global LOCF
        state machine; each target bucket accrues the time the machine
        spent in ``state`` within it — so a state carried across a
        bucket edge (or through an empty bucket) still accrues there,
        what per-bucket ``duration_in`` gets wrong.

        Exact from partials with zero raw rescans below the watermark:
        within-parent held time lies inside the parent's sample span
        (⊆ one target bucket, since parents nest on the shared
        origin-aligned grid) and lands there; each boundary segment
        ([A.last_us, B.first_us) held at A's last state) explodes over
        the target buckets it overlaps with exact int64-µs overlap
        arithmetic (functions/state.py:interpolated_duration_in is the
        raw-scan analog — with non-NULL state samples the two agree
        bit-for-bit; NULL samples end a raw segment but are transparent
        to the partials' LOCF, the state_agg convention). Target
        ``grain`` must be a multiple of the cagg's bucket width.

        Output: ``(bucket, group…, duration_us)``."""
        base, gb, width = self._interp_frame(
            STATE_AGG, state_col, grain, realtime, "interpolated_duration_in_at_grain"
        )
        # SQL-string expression build (round 17, see _over)
        gbq = [_q(g) for g in gb]
        wo = _over(gb, ["_src ASC"])
        seg = base.selectExpr(
            *gbq,
            "_st",
            f"lag(_st.last_us) OVER ({wo}) AS _pt",
            f"lag(_st.last_state) OVER ({wo}) AS _ps",
        )
        org = int(self.row.get("bucket_origin_us") or 0)
        ssq = "'" + str(state).replace("'", "''") + "'"
        # within-parent piece: the stored per-state held time for the
        # requested state, entirely inside one target bucket
        within = seg.selectExpr(
            *gbq,
            _grain_floor_sql("_st.first_us", width, org) + " AS _b",
            f"coalesce(element_at(_st.durations, {ssq}).d, "
            f"CAST(0 AS BIGINT)) AS _d",
        ).filter(F.col("_d") > 0)
        # boundary piece: LOCF segment at the previous parent's last
        # state, exploded over the target buckets it overlaps
        bnd = seg.filter(
            F.expr(
                f"_pt IS NOT NULL AND _st.first_us > _pt "
                f"AND _ps <=> {ssq}"
            )
        ).selectExpr(*gbq, "_pt AS _t1", "_st.first_us AS _t2")
        b0 = _grain_floor_sql("_t1", width, org)
        b1 = _grain_floor_sql("(_t2 - CAST(1 AS BIGINT))", width, org)
        ex = bnd.selectExpr(
            *gbq,
            "_t1",
            "_t2",
            f"explode(sequence({b0}, {b1}, "
            f"CAST({int(width)} AS BIGINT))) AS _b",
        )
        pieces = within.unionByName(
            ex.selectExpr(
                *gbq,
                "_b",
                f"least(_t2, _b + CAST({int(width)} AS BIGINT)) - "
                f"greatest(_t1, _b) AS _d",
            )
        )
        out = pieces.groupBy(*gb, "_b").agg(
            F.expr("sum(_d)").alias("duration_us")
        )

        return self._target_buckets(out, gb, "duration_us")

    def heartbeat_at_grain(
        self,
        hb_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve exact liveness statistics at any coarser grain from
        the stored heartbeat partials — the toolkit
        ``rollup(heartbeat_agg(...))`` → ``live_time/dead_time/
        num_live_ranges`` idiom. Identical to ``heartbeat_agg`` over
        the raw heartbeats of the target grain: within-bucket unions
        are stored, each adjacent pair adds one boundary correction.
        ``dead_us`` is the uncovered time within the observed span
        ``[first_us, last_us + L)``. Ordered merge within one series —
        full ``group_by`` required like counters/gauges.

        Output: ``(bucket?, group…, n, live_us, dead_us,
        num_live_ranges, first_us, last_us)``.

        DOCUMENTED DEVIATION from toolkit ``heartbeat_agg(ts, start,
        agg_interval, liveness)``: the toolkit declares an aggregation
        interval and clips liveness at its edges; this accessor
        measures over the OBSERVED span instead — the last beat's
        liveness tail is never clipped at the bucket edge (``live_us``
        can exceed the bucket span; the tail is not credited to the
        next bucket) and ``dead_us`` covers ``[first_us, last_us+L)``,
        not a declared interval. Self-consistent and exact for "how
        much liveness did this bucket's own heartbeats assert"; for
        toolkit-style declared-interval numbers use
        :meth:`heartbeat_interpolated_at_grain`, which clips each
        bucket to its own span and credits cross-edge tails to the
        next bucket."""
        return self._serve(HEARTBEAT, hb_col, grain, group_by, realtime, start, end)

    def heartbeat_interpolated_at_grain(
        self,
        hb_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Toolkit-style DECLARED-INTERVAL heartbeat serve —
        ``interpolated_live_time`` / ``interpolated_dead_time``
        (toolkit heartbeat_agg with start/agg_interval): each target
        bucket is its own declared interval, so

        - the last beat's liveness tail is CLIPPED at the bucket edge
          and the clipped portion is credited to the NEXT bucket that
          has beats (only the previous bucket's last beat can reach —
          every earlier beat's credited span ends at the next beat,
          which is still inside its own bucket);
        - ``dead_us`` is ``bucket_width − live_us`` (time before the
          first beat / after the last tail inside the bucket counts
          dead, unlike :meth:`heartbeat_at_grain`'s observed-span
          rule).

        Exactly the interval-algebra replay of the raw per-beat
        segments ``[t, min(t+L, next_t))`` clipped per bucket (the
        oracle-gate contract). Buckets with no heartbeats of their own
        emit no row, even when a previous tail reaches into them.
        Fixed-width grains only. One extra ``lag`` window over the
        per-bucket merged stats — O(buckets), not O(beats)."""
        from .functions.time import parse_interval
        from pyspark.sql import Window

        _col, spec = self._resolve(HEARTBEAT, hb_col)
        liv = int(spec["liveness_us"])
        if grain == "all":
            raise ValueError(
                "interpolated heartbeat needs a fixed-width grain "
                "(each bucket is the declared agg interval)"
            )
        if grain is None:
            if self.row.get("bucket_width_months"):
                raise ValueError(
                    "interpolated heartbeat needs a fixed-width grain"
                )
            width = int(self.row["bucket_width_us"])
        elif isinstance(grain, int):
            width = int(grain)
        else:
            iv = parse_interval(grain)
            if iv.months:
                raise ValueError(
                    "interpolated heartbeat needs a fixed-width grain"
                )
            width = iv.us
        base = self.heartbeat_at_grain(
            hb_col, grain, group_by, realtime, start, end
        )
        bucket = self.row["bucket_alias"]
        gb = list(self.row["group_by"] if group_by is None else group_by)
        if self.row["time_is_timestamp"]:
            tgt_us = F.unix_micros(F.col(bucket))
        else:
            tgt_us = F.col(bucket).cast("long")
        w = Window.partitionBy(*gb).orderBy(F.col(bucket).asc())
        prev_last = F.lag("last_us").over(w)
        ll = F.lit(liv).cast("long")
        wl = F.lit(width).cast("long")
        tail_out = F.greatest(
            F.lit(0).cast("long"),
            F.col("last_us") + ll - (tgt_us + wl),
        )
        reach = F.least(prev_last + ll, F.col("first_us"))
        carry = F.when(
            prev_last.isNotNull(),
            F.greatest(F.lit(0).cast("long"), reach - tgt_us),
        ).otherwise(F.lit(0).cast("long"))
        live2 = F.col("live_us") - tail_out + carry
        # the carried tail is a separate range unless it touches the
        # first beat ([start, reach) meets [first_us, ...) iff
        # reach == first_us)
        ranges2 = F.col("num_live_ranges") + F.when(
            (carry > 0) & (reach < F.col("first_us")), F.lit(1)
        ).otherwise(F.lit(0))
        return base.select(
            bucket,
            *gb,
            "n",
            live2.alias("live_us"),
            (wl - live2).alias("dead_us"),
            ranges2.alias("num_live_ranges"),
        )

    def tdigest_quantiles_at_grain(
        self,
        qs: Sequence[float],
        td_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve percentiles from the stored t-digest states — the
        toolkit ``approx_percentile(q, rollup(tdigest(...)))`` idiom.
        States merge commutatively (re-sort + re-bin by cumulative
        weight), so any coarser grain and any SUBSET regrouping are
        allowed, like the sketch family. Exact (type-7 /
        ``percentile_cont``) whenever the merged digest stays lossless
        (total values per served group ≤ delta) — the oracle-gate
        contract; rank-error ≲ π/(2·delta) otherwise.

        Output: ``(bucket?, group…, n, min_val, max_val, p50, …)``."""
        from .functions.tdigest import tdigest_quantiles

        def finalize(m, keys, spec):
            return tdigest_quantiles(m, list(qs), by=keys, state_col="_td")

        return self._serve(TDIGEST, td_col, grain, group_by, realtime, start, end, finalize)

    def tdigest_summary_at_grain(
        self,
        td_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """The t-digest's EXACT scalar accessors (``num_vals`` /
        ``min_val`` / ``max_val``) served at any grain — the no-quantile
        projection of :meth:`tdigest_quantiles_at_grain` (the SQL
        accessor route's entry point)."""
        return self.tdigest_quantiles_at_grain(
            [], td_col, grain, group_by, realtime, start, end
        )

    def tdigest_rank_at_grain(
        self,
        value: float,
        td_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        out: str = "rank",
        start=None,
        end=None,
    ) -> DataFrame:
        """``approx_percentile_rank(value, rollup(tdigest(...)))`` —
        the t-digest inverse (CDF) accessor: fraction of ingested
        values ≤ ``value`` per served bucket/group, from the stored
        states under the same merge/grain/realtime rules as
        :meth:`tdigest_quantiles_at_grain`. Exact while the merged
        digest stays lossless (the oracle-gate contract); standard
        centroid-midpoint CDF interpolation otherwise."""
        from .functions.tdigest import tdigest_rank

        def finalize(m, keys, spec):
            return tdigest_rank(m, value, by=keys, state_col="_td", out=out)

        return self._serve(TDIGEST, td_col, grain, group_by, realtime, start, end, finalize)

    def distinct_at_grain(
        self,
        hll_col: str,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
        out: str = "approx_distinct",
    ) -> DataFrame:
        """Serve approximate distinct counts at any coarser grain from a
        stored HLL column (an ``aggs`` entry built with
        ``hll_sketch_agg(col)``) — the toolkit
        ``distinct_count(rollup(hll(...)))`` idiom via Spark's native
        ``hll_union_agg`` + ``hll_sketch_estimate``. Same grain /
        bounds / realtime rules as the other partial accessors."""
        if hll_col not in (self.row.get("aggs") or {}):
            raise KeyError(
                f"{hll_col!r} is not an aggs column of cagg {self.name!r}"
            )
        # the shared scaffold with the HLL aggs column as the partial payload
        d, keys_gb, bucket, grain_all = self._partial_frame(
            hll_col, grain, group_by, realtime, start, end
        )
        tcols = [] if grain_all else ["_tgt"]
        out_df = d.groupBy(*tcols, *keys_gb).agg(
            F.expr("hll_sketch_estimate(hll_union_agg(_st))").alias(out)
        )
        if grain_all:
            return out_df
        return out_df.withColumnRenamed("_tgt", bucket)

    def set_materialized_only(self, flag: bool) -> None:
        """``ALTER MATERIALIZED VIEW .. SET (timescaledb.materialized_only
        = ..)`` (tsl/src/continuous_aggs/options.c): toggles whether the
        user view unions the realtime tail above the watermark."""
        self.ts.catalog.continuous_agg.update(
            {"name": self.name}, {"materialized_only": bool(flag)}
        )
        self.row["materialized_only"] = bool(flag)

    def watermark(self) -> Optional[int]:
        """``cagg_watermark`` (sql/util_time.sql:52): end of the last
        materialized bucket, int64 internal."""
        row = self.ts.catalog.cagg_watermark.find_one(cagg_id=self.id)
        return None if row is None or row["watermark"] is None else int(row["watermark"])

    # ------------------------------------------------------------ refresh
    def refresh(
        self,
        start: Union[int, str, datetime, None] = None,
        end: Union[int, str, datetime, None] = None,
        verbose: bool = False,
        force: bool = False,
        buckets_per_batch: int = 0,
        max_batches: int = 0,
        refresh_newest_first: bool = False,
    ) -> list[tuple[int, int]]:
        """``refresh_continuous_aggregate(cagg, start, end[, force,
        options])`` (``tsl/src/continuous_aggs/refresh.c:735``).

        ``force`` re-materializes the whole requested window even when
        the invalidation log shows nothing dirty (reference 2.18 —
        rebuilds after out-of-band changes).

        Incremental refresh (``continuous_agg_refresh_batched``,
        refresh.c:628; the 2.18 options JSONB / policy columns):
        ``buckets_per_batch`` splits each dirty range into
        bucket-aligned batches materialized as separate jobs (0 =
        single atomic pass); ``max_batches`` bounds the batches per
        call, pushing the remainder BACK into the invalidation log so
        the next call continues where this one stopped (the policy's
        bounded-work contract); ``refresh_newest_first`` processes
        batches newest-first so fresh data serves before the backfill
        finishes. Infinite-sentinel range ends stay unsplit (they cost
        nothing to materialize beyond the data they cover) — batching
        splits the data-covered middle.

        Returns the ranges actually materialized (internal units,
        half-open)."""
        cat = self.ts.catalog
        src = self._source()

        lo = _to_internal(start)
        hi = _to_internal(end)
        open_end = hi is None
        if lo is None:
            lo = INT64_MIN
        if hi is None:
            # refresh everything seen so far — up to the LAST ROW, not
            # the last chunk boundary: the watermark becomes the ceil of
            # this value, and overshooting to the chunk's range_end
            # (days past the data) would make realtime reads hide every
            # later insert below it until the next refresh. One max()
            # over the newest chunk only (reference: watermark tracks
            # materialized buckets, tsl/src/continuous_aggs/refresh.c).
            chunks = src.chunks()
            if not chunks:
                hi = 0
            else:
                newest = chunks[-1]
                nframe = src.read(start=newest["range_start"])
                mxrow = nframe.agg(
                    F.max(src._internal_time_expr(nframe)).alias("mx")
                ).collect()[0]
                hi = (
                    int(mxrow["mx"]) + 1
                    if mxrow["mx"] is not None
                    else newest["range_start"]
                )
        win_s = self._floor_us(lo)
        if open_end:
            # open-ended refresh covers the (possibly partial) bucket
            # holding the latest data: ceil to the bucket end, so e.g. a
            # month bucket mid-month still materializes (later inserts
            # into it re-dirty it through the invalidation log)
            f = self._floor_us(hi)
            win_e = f if f == hi else self._next_us(f)
        else:
            # explicit window: inscribed (floor) — only complete buckets,
            # like the reference's bucketed refresh window
            win_e = self._floor_us(hi)
        if win_e <= win_s:
            return []

        # txn 1 + txn 2a/2b are compound catalog read-modify-writes; the
        # write_lock serializes them against concurrent inserts'
        # _capture_invalidation (the analog of the reference's threshold
        # row lock — without it, an entry appended between 2a's find and
        # delete would be silently dropped). Data jobs (the materialize
        # pass below) run OUTSIDE the lock.
        with cat.write_lock:
            # ---- txn 1: move invalidation threshold
            # (invalidation_threshold.c)
            thr_row = cat.invalidation_threshold.find_one(hypertable_id=src.id)
            old_thr = int(thr_row["watermark"]) if thr_row else INT64_MIN
            if win_e > old_thr:
                if thr_row:
                    cat.invalidation_threshold.update(
                        {"hypertable_id": src.id}, {"watermark": win_e}
                    )
                else:
                    cat.invalidation_threshold.append(
                        [{"hypertable_id": src.id, "watermark": win_e}]
                    )

            # ---- txn 2a: process hypertable log → ALL caggs' mat logs
            # (invalidation_process_hypertable_log)
            ht_entries = cat.hypertable_invalidation_log.find(
                hypertable_id=src.id
            )
            if ht_entries:
                for cagg in cat.continuous_agg.find(hypertable_id=src.id):
                    cat.materialization_invalidation_log.append(
                        [
                            {
                                "cagg_id": cagg["id"],
                                "lowest_modified_value": e[
                                    "lowest_modified_value"
                                ],
                                "greatest_modified_value": e[
                                    "greatest_modified_value"
                                ],
                            }
                            for e in ht_entries
                        ]
                    )
                cat.hypertable_invalidation_log.delete(
                    {"hypertable_id": src.id}
                )

            # ---- txn 2b: cut this cagg's mat log against the window
            # (invalidation.c range algebra; entries are INCLUSIVE bounds)
            entries = cat.materialization_invalidation_log.find(cagg_id=self.id)
            dirty: list[tuple[int, int]] = []
            leftovers: list[dict] = []
            for e in entries:
                a, b = int(e["lowest_modified_value"]), int(
                    e["greatest_modified_value"]
                )
                if b < win_s or a >= win_e:
                    leftovers.append(e)
                    continue
                # overlap, bucket-aligned and clipped to the window
                oa = max(self._floor_us(max(a, win_s)), win_s)
                ob_incl = min(b, win_e - 1)
                ob = min(self._next_us(self._floor_us(ob_incl)), win_e)
                dirty.append((oa, ob))
                # leftover fragments outside the window survive
                if a < win_s:
                    leftovers.append(
                        {
                            "cagg_id": self.id,
                            "lowest_modified_value": a,
                            "greatest_modified_value": win_s - 1,
                        }
                    )
                if b >= win_e:
                    leftovers.append(
                        {
                            "cagg_id": self.id,
                            "lowest_modified_value": win_e,
                            "greatest_modified_value": b,
                        }
                    )
            others = [
                e
                for e in cat.materialization_invalidation_log.read()
                if e.get("cagg_id") != self.id
            ]
            cat.materialization_invalidation_log.replace(others + leftovers)

        if force:
            # the whole window is re-materialized regardless of the log
            # (overlapping log entries were already cut by txn 2b, so a
            # forced pass also clears any genuine dirt inside it)
            dirty = [(win_s, win_e)]
        # merge overlapping/adjacent dirty ranges
        dirty.sort()
        merged: list[list[int]] = []
        for a, b in dirty:
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])

        d_lo = d_hi = None  # true data bounds (computed by the batching path)
        if buckets_per_batch and int(buckets_per_batch) > 0 and merged:
            # bucket-aligned batching, clamped to the data span: the
            # initial invalidation entry is (-inf, +inf) and splitting
            # from a sentinel would enumerate the whole int64 line, so
            # the infinite edges stay single batches and the middle
            # splits per k buckets (the reference's split function
            # likewise batches only window chunks that contain data)
            k = int(buckets_per_batch)
            span = int(1) << 61
            # true DATA bounds, not chunk-aligned bounds (a chunk's
            # range_start precedes its first row by up to one interval,
            # and empty lead batches would burn the max_batches budget):
            # min over the oldest chunk, max over the newest — O(2
            # chunks), the same trick the open-ended window uses above
            chunks_meta = src.chunks()
            if chunks_meta:
                oldest, newest = chunks_meta[0], chunks_meta[-1]
                of = src.read(
                    start=oldest["range_start"], end=oldest["range_end"]
                )
                mn = of.agg(
                    F.min(src._internal_time_expr(of)).alias("mn")
                ).collect()[0]["mn"]
                nf = src.read(start=newest["range_start"])
                mx = nf.agg(
                    F.max(src._internal_time_expr(nf)).alias("mx")
                ).collect()[0]["mx"]
                d_lo = int(mn) if mn is not None else None
                d_hi = int(mx) + 1 if mx is not None else None
            batches: list[list[int]] = []
            for a, b in merged:
                if (a < -span and d_lo is None) or (b > span and d_hi is None):
                    # an infinite sentinel edge with NO data bound to
                    # clamp to (empty hypertable, or an all-NULL boundary
                    # chunk): lo_c/hi_c would stay at the sentinel and
                    # the per-bucket loop below would enumerate the whole
                    # int64 line — keep the range as a single batch, the
                    # same treatment sentinel edges get when bounds exist
                    batches.append([a, b])
                    continue
                lo_c = a
                hi_c = b
                if d_lo is not None and a < -span:
                    lo_c = min(self._floor_us(d_lo), b)
                if d_hi is not None and b > span:
                    hi_c = max(min(self._next_us(self._floor_us(d_hi)), b), lo_c)
                if a < lo_c:
                    batches.append([a, lo_c])
                cur = lo_c
                while cur < hi_c:
                    nxt = cur
                    for _ in range(k):
                        nxt = self._next_us(nxt)
                        if nxt >= hi_c:
                            break
                    nxt = min(nxt, hi_c)
                    if nxt <= cur:
                        break
                    batches.append([cur, nxt])
                    cur = nxt
                if hi_c < b:
                    batches.append([hi_c, b])
            merged = batches
        if refresh_newest_first:
            merged = list(reversed(merged))
        deferred: list[list[int]] = []
        if max_batches and int(max_batches) > 0 and len(merged) > int(
            max_batches
        ):
            deferred = merged[int(max_batches):]
            merged = merged[: int(max_batches)]
        if deferred:
            # bounded-work contract: the remainder goes BACK into the
            # log so the next call picks it up (same shape as the
            # failed-materialization redo path below)
            with cat.write_lock:
                cat.materialization_invalidation_log.append(
                    [
                        {
                            "cagg_id": self.id,
                            "lowest_modified_value": a,
                            "greatest_modified_value": (
                                (b - 1) if b < INT64_MAX else b
                            ),
                        }
                        for a, b in deferred
                    ]
                )

        # ---- materialize each dirty range (materialize.c:442-489).
        # The dirty entries were already cut from the log (txn 2b) — on a
        # FAILED materialization the unprocessed ranges must be put back,
        # or the hole is permanent: a retry would find no dirty entries
        # and the watermark would advance over never-materialized buckets.
        mat = self._mat()
        done_n = 0
        try:
            for a, b in merged:
                # infinite sentinels become open bounds (no filter): they
                # are not representable as timestamps
                raw = src.read(
                    start=a if a > INT64_MIN else None,
                    end=b if b < INT64_MAX else None,
                )
                agg = self._aggregate(raw)
                mat_rows = agg
                if verbose:
                    print(f"refresh {self.name}: range [{a}, {b}) ")
                # DELETE + INSERT per range, chunk-local
                if mat.row.get("schema_ddl"):
                    mat.delete_range(
                        a if a > INT64_MIN else None,
                        b if b < INT64_MAX else None,
                    )
                mat.insert(mat_rows, cluster=True)
                done_n += 1
        except BaseException:
            redo = [
                {
                    "cagg_id": self.id,
                    "lowest_modified_value": a,
                    # log bounds are INCLUSIVE; merged ranges half-open
                    "greatest_modified_value": (b - 1) if b < INT64_MAX else b,
                }
                for a, b in merged[done_n:]
            ]
            with cat.write_lock:
                cat.materialization_invalidation_log.append(redo)
            raise

        # ---- advance watermark (continuous_aggs_watermark.c). The
        # watermark must never pass a DEFERRED (never-materialized)
        # batch: realtime reads serve mat-table rows below it and raw
        # rows at/above it, so a watermark above a hole would silently
        # drop those buckets until the next refresh. The reference
        # derives it from the max bucket actually materialized
        # (tsl/src/continuous_aggs/materialize.c:762) — cap at the
        # lowest deferred range start (deferral order is irrelevant:
        # with refresh_newest_first the deferred ranges are the oldest,
        # and the raw side above the capped watermark still serves the
        # newer, already-materialized buckets correctly).
        wm_cap = win_e
        if deferred:
            # provably data-free deferred ranges (entirely below the
            # oldest row's bucket) can't hide anything from a realtime
            # read — only real deferred coverage caps the watermark. An
            # -inf-edged deferred range with no data bound known keeps
            # the sentinel cap (nothing below is servable from mat).
            d_lo_floor = self._floor_us(d_lo) if d_lo is not None else None
            for a, b in deferred:
                if d_lo_floor is not None and b <= d_lo_floor:
                    continue
                if a <= INT64_MIN and d_lo_floor is not None:
                    a = d_lo_floor
                wm_cap = min(wm_cap, a)
        wm = self.watermark()
        new_wm = max(wm if wm is not None else INT64_MIN, wm_cap)
        if new_wm > INT64_MIN:
            # a sentinel watermark claims nothing and is not a valid
            # timestamp — leave the row untouched (realtime reads with
            # no watermark serve everything from the raw side)
            cat.cagg_watermark.update(
                {"cagg_id": self.id}, {"watermark": new_wm}
            )
        return [(a, b) for a, b in merged]

    # --------------------------------------------------------------- read
    def read(
        self,
        realtime: Optional[bool] = None,
        only_cols: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """User-view read. Realtime = materialized below the watermark,
        raw aggregation at/after it (``common.c:1745 build_union_query``).

        ``only_cols`` restricts the projection to the named value
        columns (keys always included) AND — the part Catalyst cannot
        do itself — restricts the realtime raw-side partial build to
        just those families: the full ``_aggregate`` is a 1:1 join
        chain of every family's partial aggregate, and joins survive
        column pruning, so without this a single-family serve over an
        N-family cagg pays N partial builds on the tail. Serving
        accessors pass their one column; ``None`` keeps the full view.
        Columns computed by ``window_fns`` may depend on arbitrary
        sibling aggregates, so requesting one falls back to the full
        aggregate (still projected afterwards)."""
        if realtime is None:
            realtime = not self.row.get("materialized_only", False)
        mat = self._mat()
        wm = self.watermark()
        bucket = self.row["bucket_alias"]
        has_mat = mat.row.get("schema_ddl") is not None
        keys = [bucket, *self.row["group_by"]]
        build_cols = only_cols
        if only_cols is not None and any(
            c in (self.row.get("window_fns") or {}) for c in only_cols
        ):
            build_cols = None  # window col needs its sibling aggregates
        proj = (
            None
            if only_cols is None
            else [*keys, *[c for c in only_cols if c not in keys]]
        )
        if not realtime:
            if not has_mat:
                raise ValueError(f"cagg {self.name!r} never refreshed")
            out = mat.read()
            return out if proj is None else out.select(*proj)

        src = self._source()
        wm_i = wm if wm is not None else INT64_MIN
        raw = src.read(start=wm_i if wm is not None else None)
        raw_agg = self._aggregate(raw, only_cols=build_cols)
        if proj is not None:
            raw_agg = raw_agg.select(*proj)
        if not has_mat:
            return raw_agg
        if self.row["time_is_timestamp"]:
            wm_lit = F.timestamp_micros(F.lit(wm_i))
        else:
            wm_lit = F.lit(wm_i)
        # chunk-prune the mat side by the watermark too (normally a
        # no-op — materialization stops at the watermark — but after a
        # watermark rollback or retention on the raw table it excludes
        # whole mat chunks); the row filter stays for the boundary chunk
        mat_side = mat.read(end=wm_i).filter(F.col(bucket) < wm_lit)
        if proj is not None:
            mat_side = mat_side.select(*proj)
        raw_side = raw_agg.filter(F.col(bucket) >= wm_lit)
        return mat_side.unionByName(raw_side)

    # ------------------------------------------------- sketch accessors
    def quantiles(
        self,
        qs: Sequence[float],
        sketch_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve quantiles from the stored DDSketch states — the toolkit
        ``approx_percentile(q, rollup(percentile_agg))`` idiom: merge
        the per-bucket states to ``grain`` (any coarser bucket width;
        ``None`` = the cagg's own grain, ``"all"`` = one global sketch)
        and extract estimates. Lossless merge (bucket counts add,
        Masson VLDB'19 §2.3) means a day-grain answer from hourly
        states is IDENTICAL to a sketch built from raw rows — the
        property the oracle gate checks. Never rescans raw data below
        the watermark; above it the realtime union computes raw-side
        states over the un-materialized tail only.

        Output: ``(bucket?, group_by…, n, p50, p95, …)`` with the same
        naming/rounding as :func:`functions.ddsketch.ddsketch_quantiles`.
        """
        from .functions.ddsketch import ddsketch_quantiles

        def extract(flat, by, alpha):
            return ddsketch_quantiles(flat, list(qs), by=by, alpha=alpha)

        return self._serve(
            SKETCH, sketch_col, grain, group_by, realtime, start, end,
            self._sketch_finalize(extract),
        )

    def rank(
        self,
        value: float,
        sketch_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        out: str = "rank",
        start=None,
        end=None,
    ) -> DataFrame:
        """``approx_percentile_rank(value, rollup(...))`` — the inverse
        accessor: fraction of ingested values ≤ ``value`` per
        bucket/group, served from the stored states under the same
        merge/grain/realtime rules as :meth:`quantiles`."""
        from .functions.ddsketch import ddsketch_rank

        def extract(flat, by, alpha):
            return ddsketch_rank(flat, value, by=by, alpha=alpha, out=out)

        return self._serve(
            SKETCH, sketch_col, grain, group_by, realtime, start, end,
            self._sketch_finalize(extract),
        )

    @staticmethod
    def _sketch_finalize(extract):
        """finalize of the DDSketch accessors over the merged ``(keys…,
        _sb, _cnt)`` bucket counts — keys × ~2k rows, never raw-sized.
        Keys travel renamed: the sketch frame contract reserves
        "bucket"/"cnt", and the cagg's own bucket_alias defaults to
        "bucket" too."""

        def finalize(m, keys, spec):
            tmp = [f"_qk{i}" for i in range(len(keys))]
            flat = m.select(
                *[F.col(k).alias(t) for k, t in zip(keys, tmp)],
                F.col("_sb").alias("bucket"),
                F.col("_cnt").alias("cnt"),
            )
            res = extract(flat, tmp, float(spec.get("alpha", 0.01)))
            for k, t in zip(keys, tmp):
                res = res.withColumnRenamed(t, k)
            return res

        return finalize

    def drop(self, keep_jobs: bool = False) -> None:
        """``DROP MATERIALIZED VIEW`` teardown. Refuses while a
        hierarchical cagg is built on this one (PG RESTRICT — a child
        would be left with a dangling source); removes every catalog
        row referencing the cagg, including its refresh-policy jobs
        (an orphaned job would KeyError on every scheduler tick
        forever), and routes the mat hypertable through the full
        Hypertable.drop teardown (dimensions, stats, jobs, dirs).
        ``keep_jobs`` is for the migrate swap (cagg.alter), where the
        name-referencing policy must survive and point at the new
        definition."""
        cat = self.ts.catalog
        mat = self._mat()
        children = cat.continuous_agg.find(hypertable_name=self.row["mat_table"])
        if children:
            names = sorted(c["name"] for c in children)
            raise ValueError(
                f"cannot drop cagg {self.name!r}: hierarchical caggs "
                f"{names} are built on it"
            )
        if not keep_jobs:
            for job in cat.bgw_job.read():
                cfg = job.get("config") or {}
                if cfg.get("cagg") == self.name or cfg.get("hypertable") == (
                    self.row["mat_table"]
                ):
                    cat.bgw_job.delete({"id": job["id"]})
        cat.continuous_agg.delete({"id": self.id})
        cat.cagg_watermark.delete({"cagg_id": self.id})
        cat.materialization_invalidation_log.delete({"cagg_id": self.id})
        mat.drop()

    # ------------------------------------------------------------- migrate
    def alter(
        self,
        aggs: Optional[dict[str, str]] = None,
        group_by: Optional[Sequence[str]] = None,
        bucket_width: Union[str, int, None] = None,
        where: Optional[str] = None,
        refresh: bool = True,
    ) -> "ContinuousAggregate":
        """Redefine this continuous aggregate in place — the
        ``cagg_migrate`` analog (``@extschema@.cagg_migrate``; plan
        steps in the reference's ``_timescaledb_internal.cagg_migrate_
        execute_plan``: create new cagg → copy/recompute data → swap →
        drop old). Without this, redefinition means drop + recreate and
        every reader/policy pointing at the name breaks mid-window.

        Any parameter left ``None`` keeps the current definition. The
        new definition is materialized into a SHADOW cagg, backfilled
        over the full source range (aggregates changed ⇒ recompute, not
        copy), then swapped under the original name in one catalog
        transaction (``write_lock``): readers and refresh policies —
        which reference caggs by name — never observe a half-migrated
        state. The old materialization is dropped after the swap.

        Refuses when dependent (hierarchical) caggs are defined on this
        cagg's materialization, like the reference's pre-validation
        (``cagg_migrate_pre_validation``).
        """
        from .functions.time import Interval

        cat = self.ts.catalog
        deps = [
            c["name"]
            for c in cat.continuous_agg.read()
            if c.get("hypertable_name") == self.row["mat_table"]
        ]
        if deps:
            raise ValueError(
                f"cannot migrate {self.name!r}: dependent continuous "
                f"aggregates {deps} are defined on it (drop or migrate "
                f"them first, cagg_migrate_pre_validation)"
            )
        if bucket_width is None:
            months = int(self.row.get("bucket_width_months") or 0)
            bucket_width = (
                Interval(months=months) if months else Interval(us=self.width)
            )
        shadow_name = f"_migrate_{self.name}"
        if cat.continuous_agg.find_one(name=shadow_name):
            ContinuousAggregate.get(self.ts, shadow_name).drop()
        new = ContinuousAggregate.create(
            self.ts,
            shadow_name,
            self.row["hypertable_name"],
            bucket_width=bucket_width,
            aggs=dict(aggs if aggs is not None else self.row["aggs"]),
            group_by=list(
                group_by if group_by is not None else self.row["group_by"]
            ),
            time_column=self.row["time_column"],
            bucket_alias=self.row["bucket_alias"],
            materialized_only=self.row.get("materialized_only", False),
            where=where if where is not None else self.row.get("where"),
            join=self.row.get("join"),
            window_fns=self.row.get("window_fns"),
            enable_window_functions=bool(self.row.get("window_fns")),
            **{f.key: self.row.get(f.key) for f in FAMILIES},
        )
        if refresh:
            new.refresh()
        old_name, old_mat = self.name, self.row["mat_table"]
        new_mat_tmp = new.row["mat_table"]
        final_mat = f"_mat_{old_name}"
        # LOCK ORDER: ht_lock before write_lock, always (catalog.py
        # contract) — self.drop() takes the mat table's DML lock, so
        # taking write_lock first would deadlock against any DML holding
        # ht_lock and waiting on write_lock (e.g. a scheduled refresh's
        # delete_range). Both mat locks are taken in sorted order.
        from contextlib import ExitStack

        with ExitStack() as locks:
            for mat_name in sorted({old_mat, new_mat_tmp}):
                locks.enter_context(cat.ht_lock(mat_name))
            locks.enter_context(cat.write_lock)
            # drop the old cagg + its materialization, then adopt the
            # original name (and mat-table name) for the shadow — one
            # catalog transaction, readers resolve names only through it
            # (jobs survive: the policy must follow the name to the new
            # definition)
            self.drop(keep_jobs=True)
            if os.path.isdir(cat.data_dir(new_mat_tmp)):
                os.rename(cat.data_dir(new_mat_tmp), cat.data_dir(final_mat))
            cat.hypertable.update({"name": new_mat_tmp}, {"name": final_mat})
            cat.continuous_agg.update(
                {"id": new.id}, {"name": old_name, "mat_table": final_mat}
            )
            self.row = cat.continuous_agg.find_one(id=new.id)
        return self
