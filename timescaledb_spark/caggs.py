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
  merges overlapping dirty ranges, and deletes + re-inserts the
  materialized rows of every range (``materialize.c:442-489``) — here in
  one pass: one aggregate over the union of the ranges, one rewrite of
  the mat chunks they touch — then advances the watermark.
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
from functools import partial
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
    STORED_FIELDS,
    TDIGEST,
    TIME_WEIGHT,
    _over,
    _q,
    counter_steps,
    join,
    normalize,
    partials,
    select,
    union,
)
from .functions.time import (
    DEFAULT_ORIGIN_US,
    Interval,
    parse_interval,
    time_bucket_int_sql,
    time_bucket_sql,
)
from .hypertable import Hypertable, _to_internal
from .scan import Ctes, Scan

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1


def _grain_floor_sql(us: str, width: int, origin_us: int) -> str:
    """Origin-aligned bucket floor on an int64-µs expression — the
    analog of ``time_bucket``'s fixed-width formula
    (``functions/time.py:_bucket_us_sql``). Every at-grain accessor
    must bucket with the CAGG'S origin (2000-01-03 for timestamps, 0
    for integer time), never epoch ``DIV``: DIV mislabels widths whose
    grid is not epoch-anchored (weeks: Thursday- vs Monday-aligned)
    and truncates toward zero for pre-epoch timestamps, and — worse —
    puts target edges strictly inside parent bucket spans, breaking
    the partial accessors' exactness premise."""
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


def _stored_fields(ht: Hypertable, col: str) -> Optional[list]:
    """Field names of the state struct ``col`` as stored in ``ht``; None
    when ``ht`` has no such struct column (yet)."""
    for f in ht._schema_or_empty().fields:
        if f.name == col:
            return list(getattr(f.dataType, "names", None) or []) or None
    return None



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

    def _bucket_sql(self) -> str:
        """The cagg's bucket of a raw row, as SQL text over the time
        column."""
        tcol = _q(self.row["time_column"])
        if not self.row["time_is_timestamp"]:
            return time_bucket_int_sql(self.width, tcol)
        months = int(self.row.get("bucket_width_months") or 0)
        iv = Interval(months=months) if months else Interval(us=self.width)
        if self.row.get("time_is_uuid"):
            # UUIDv7 dimensions bucket by their embedded timestamp
            # (time_bucket_uuid)
            tcol = f"timestamp_micros({self._raw_time_us_sql()})"
        return time_bucket_sql(iv, tcol)

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

    def _ceil_us(self, v: int) -> int:
        """Start of the first bucket at or after internal time ``v``."""
        f = self._floor_us(v)
        return f if f == v else self._next_us(f)

    def _prepared(self, c: Ctes, raw):
        """The raw rows of the defining query: ``raw`` (a relation or a
        pending :class:`Scan`) [joined with the dim table] [filtered by
        the cagg's WHERE]."""
        j = self.row.get("join")
        if j:
            if isinstance(raw, Scan):
                raw = c.scan(raw)
            dim = c.add(self.ts.table_sql(j["table"]))
            on = j.get("on")
            if on is None:
                cond = "ON true"
            elif isinstance(on, str) and not on.replace("_", "").isalnum():
                cond = f"ON {on}"  # "a = b" join condition
            else:
                names = [on] if isinstance(on, str) else list(on)
                cond = f"USING ({', '.join(_q(n) for n in names)})"
            how = "LEFT" if j.get("how") == "left" else "INNER"
            # the dim side is broadcast: a join adds zero shuffles
            raw = c.add(
                f"SELECT /*+ BROADCAST({dim}) */ * FROM {raw} {how} JOIN {dim} {cond}"
            )
        if self.row.get("where"):
            if isinstance(raw, Scan):
                return raw.select(where=self.row["where"])
            raw = c.add(f"SELECT * FROM {raw} WHERE {self.row['where']}")
        return raw

    def _aggregate(self, c: Ctes, raw: str, only_cols=None) -> str:
        """The 'partial view' query over the raw relation ``raw``:
        [join dim] + [where] + bucket + group_by + aggs + [partial
        states] + [window_fns], as CTEs appended to ``c``; returns the
        output relation. ``only_cols`` restricts the build to the named
        value columns — untouched families' partial builds (and their
        1:1 joins) are never planned at all."""
        raw = self._prepared(c, raw)
        bucket, gb = self.row["bucket_alias"], list(self.row["group_by"])
        keys = [bucket, *gb]
        exprs = [
            f"{e} AS {_q(n)}"
            for n, e in self.row["aggs"].items()
            if only_cols is None or n in only_cols
        ]
        parts = [
            p for p in partials(self.row) if only_cols is None or p[1] in only_cols
        ]
        agg = None
        if exprs or not parts:
            bsql = self._bucket_sql()
            agg = select(
                c,
                raw,
                [f"{bsql} AS {_q(bucket)}", *map(_q, gb), *exprs],
                group=[bsql, *map(_q, gb)],
            )
        for fam, col, spec in parts:
            # every state is null-aware: it emits a row for EVERY (bucket,
            # group) of the raw rows, with a NULL state when the partial's
            # inputs are all NULL (strict PG aggregate semantics) — so this
            # join chain is always 1:1 and inner; AQE sees two
            # pre-aggregated (small) sides
            sk = self._build_state(c, fam.for_spec(spec), raw, col, spec)
            agg = sk if agg is None else join(c, agg, sk, keys, "INNER", [col])
        if only_cols is None:
            for col, expr in (self.row.get("window_fns") or {}).items():
                agg = c.add(f"SELECT *, {expr} AS {_q(col)} FROM {agg}")
        return agg

    def _build_state(self, c: Ctes, fam, raw: str, col: str, spec: dict) -> str:
        """One family column's states per (bucket, group): built from the
        raw rows, or — for a hierarchical ``rollup_of`` child — the
        family's merge over the PARENT cagg's stored states written back
        as a state (cagg_on_cagg.sql × the toolkit rollup idiom). The
        merge input is ``(bucket, group…, _src, _st)`` with ``_src`` the
        parent bucket in internal µs; NULL parent states are kept, so an
        all-NULL child group still gets a row with a NULL state."""
        if not spec.get("rollup_of"):
            return fam.state(c, self, raw, col, spec)
        d, keys, spec = self._parent_states(c, raw, spec)
        return fam.pack(c, fam.merge(c, d, keys, spec), d, keys, col, spec)

    def _parent_states(self, c: Ctes, raw: str, spec: dict):
        """The merge input of a ``rollup_of`` child column: ``(d, keys,
        spec)`` with ``d`` the parent's states ``(bucket, group…, _src,
        _st)``."""
        src = spec["rollup_of"]
        keys = [self.row["bucket_alias"], *self.row["group_by"]]
        d = select(
            c,
            raw,
            [
                f"{self._bucket_sql()} AS {_q(keys[0])}",
                *map(_q, keys[1:]),
                f"{self._raw_time_us_sql()} AS _src",
                f"{_q(src)} AS _st",
            ],
        )
        return d, keys, {**spec, STORED_FIELDS: _stored_fields(self._source(), src)}

    def _raw_time_us_sql(self) -> str:
        """int64 internal units of the cagg's time column on a raw row —
        the source hypertable's own conversion."""
        src, tcol = self._source(), self.row["time_column"]
        dtype = next(
            (
                f.dataType.simpleString()
                for f in src._schema_or_empty().fields
                if f.name == tcol
            ),
            "timestamp",
        )
        return src._internal_time_sql(dtype, _q(tcol))

    # ------------------------------------------------------------ serving
    def _value_cols(self) -> list[str]:
        """Every value column of the user view, in the mat table's
        order."""
        return [
            *self.row["aggs"],
            *[col for _, col, _ in partials(self.row)],
            *(self.row.get("window_fns") or {}),
        ]

    def _scans(self, realtime=None, lo=None, hi=None):
        """``(mat, raw)``: the pending scans of the two sides of the user
        view restricted to buckets in ``[lo, hi)`` (internal units) —
        the mat side below the watermark (None before any
        materialization) and the raw side at and above it (None when not
        realtime), ``common.c:1745 build_union_query``. Both prune chunks
        and rows by the bounds; the raw side reads whole buckets only,
        from ``ceil(max(wm, lo))`` to ``ceil(hi)``."""
        if realtime is None:
            realtime = not self.row.get("materialized_only", False)
        mat = self._mat()
        has_mat = mat.row.get("schema_ddl") is not None
        if not realtime:
            if not has_mat:
                raise ValueError(f"cagg {self.name!r} never refreshed")
            return mat._scan(start=lo, end=hi), None
        wm = self.watermark()
        m = None
        if has_mat and wm is not None:
            # chunk-prune the mat side by the watermark too (normally a
            # no-op — materialization stops at the watermark — but after
            # a watermark rollback or retention on the raw table it
            # excludes whole mat chunks)
            m = mat._scan(start=lo, end=wm if hi is None else min(hi, wm))
        starts = [self._ceil_us(x) for x in (wm, lo) if x is not None]
        raw = self._source()._scan(
            start=max(starts) if starts else None,
            end=None if hi is None else self._ceil_us(hi),
        )
        return m, raw

    def _sides(self, c: Ctes, cols, realtime=None, lo=None, hi=None, out=None):
        """The user view restricted to value columns ``cols`` and to
        buckets in ``[lo, hi)`` (:meth:`_scans`), as CTEs appended to
        ``c``: the relations whose ``UNION ALL`` is the view, each
        ``(bucket, group…, cols…)`` in :meth:`_value_cols` order, or
        ``out(b)`` = ``(select items, filter)`` over a side's rows with
        ``b`` its bucket. The mat side is one block over its scan; the
        raw side is the defining aggregate (its first block over the
        scan), plus a block for ``out``."""
        cols = [x for x in self._value_cols() if x in set(cols)]
        bucket = _q(self.row["bucket_alias"])
        items, where = out(bucket) if out else ([bucket, *map(_q, self.row["group_by"]), *map(_q, cols)], None)
        mat, raw = self._scans(realtime, lo, hi)
        sides = [] if mat is None else [c.scan(mat.select(items, where))]
        if raw is not None:
            # a window column needs its sibling aggregates: full build
            full = any(x in (self.row.get("window_fns") or {}) for x in cols)
            agg = self._aggregate(c, raw, None if full else cols)
            if out or (full and cols != self._value_cols()):
                agg = select(c, agg, items, where)
            sides.append(agg)
        return sides

    def _bind(self, c: Ctes, name: str, cols) -> None:
        """Append the user view with value columns ``cols`` to ``c`` as
        the CTE ``name`` — how ``ts.sql`` binds a cagg."""
        c.union(self._sides(c, cols), name)

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

    def _planned(self, build, *args) -> DataFrame:
        """``build(c, *args) -> relation`` planned as one ``spark.sql``
        call — every accessor is a relation builder planned this way,
        and the SQL rollup route composes the same builders."""
        c = Ctes()
        return c.plan(self.ts, f"SELECT * FROM {build(c, *args)}")

    def _serve(
        self, fam, col, grain, group_by, realtime, start, end, finalize=None
    ) -> DataFrame:
        """Every ``*_at_grain`` accessor over the family merge
        (:meth:`_serve_rel`)."""
        return self._planned(
            self._serve_rel, fam, col, grain, group_by, realtime, start, end, finalize
        )

    def _serve_rel(
        self, c: Ctes, fam, col, grain, group_by, realtime, start, end, finalize=None
    ) -> str:
        """The :meth:`_partial_frame` scaffold, then the family's merge
        of the parent partials inside each target bucket (the same
        merge a ``rollup_of`` child stores), then ``finalize`` (default:
        the family's) into output columns — CTEs appended to ``c``."""
        col, spec = self._resolve(fam, col)
        fam = fam.for_spec(spec)
        if fam.ordered:
            self._require_full_group_by(group_by, fam)
        d, keys, bag = self._partial_frame(
            c, col, grain, group_by, realtime, start, end, fam
        )
        spec = {**spec, STORED_FIELDS: _stored_fields(self._mat(), col)}
        m = bag or fam.merge(c, d, keys, spec)
        return (finalize or fam.finalize)(c, m, keys, spec)

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
        self, c: Ctes, col: str, grain, group_by, realtime, start, end, fam=None
    ):
        """Shared serving scaffold: the column's non-NULL states in
        bucket-aligned ``[start, end)`` (realtime union included) keyed
        by target bucket: ``(d, keys, bag)`` with ``d`` the relation
        ``(bucket?, group…, _src, _st)`` — ``bucket`` holding the target
        bucket, absent at grain ``"all"``. A lossless ``fam`` (one with
        ``unpacked`` rows) is served as its merge instead: ``d`` is None
        and ``bag`` is ``(bucket?, group…, rows…)`` from both sides, each
        side one block — the mat side's states unpacked over its scan,
        the raw side's rows bucketed straight to the target.

        Strict rollup semantics: a NULL state (a group whose partial
        inputs were all NULL) is skipped at merge time, like the
        toolkit's strict rollup() aggregate."""
        bucket = self.row["bucket_alias"]
        gb = list(self.row["group_by"] if group_by is None else group_by)
        keys = gb if grain == "all" else [bucket, *gb]

        def head(b):
            """The target keys over the cagg bucket ``b``. At grain
            "all" no constant target column: a literal group/partition
            key trips Catalyst's RemoveRedundantAliases into an
            unresolved plan (observed on the gauge accessor)."""
            if grain == "all":
                return [_q(g) for g in gb]
            if grain is None:
                tgt = b
            elif self.row["time_is_timestamp"]:
                tgt = time_bucket_sql(grain, b)
            else:
                tgt = time_bucket_int_sql(int(grain), b)
            return [f"{tgt} AS {_q(bucket)}", *[_q(g) for g in gb]]

        lo, hi = _to_internal(start), _to_internal(end)
        nn = f"{_q(col)} IS NOT NULL"
        if fam is None or fam.unpacked is None:
            sides = self._sides(
                c, [col], realtime, lo, hi,
                lambda b: ([*head(b), f"{b} AS _src", f"{_q(col)} AS _st"], nn),
            )
            return (c.union(sides) if sides else None), keys, None
        spec = self._resolve(fam, col)[1]
        mat, raw = self._scans(realtime, lo, hi)
        rows = []
        if mat is not None:
            rows.append(c.scan(mat.select([*head(_q(bucket)), *fam.unpack(_q(col))], nn)))
        if raw is not None:
            raw = self._prepared(c, raw)
            src = spec.get("rollup_of")
            if src:
                # a child's tail: its parent's states, unpacked the same way
                rows.append(
                    select(
                        c, raw, [*head(self._bucket_sql()), *fam.unpack(_q(src))],
                        where=f"{_q(src)} IS NOT NULL",
                    )
                )
            else:
                rows.append(fam.unpacked(c, self, raw, col, spec, head))
        return None, keys, c.union(rows)

    def _interp_frame(self, c: Ctes, fam, col, grain, realtime, method: str):
        """Shared scaffold of the interpolated accessors: the column's
        non-NULL states ``(group…, _src, _st)`` at the cagg's own grain,
        ``_src`` in internal µs, plus the target width — a positive
        multiple of the cagg's fixed bucket width, so that every target
        edge is a parent edge."""
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

        def out(b):
            if self.row["time_is_timestamp"]:
                src_us = f"unix_micros(CAST({b} AS TIMESTAMP))"
            else:
                src_us = f"CAST({b} AS BIGINT)"
            items = [*map(_q, gb), f"{src_us} AS _src", f"{_q(col)} AS _st"]
            return items, f"{_q(col)} IS NOT NULL"

        return c.union(self._sides(c, [col], realtime, out=out)), gb, width

    def _boundary_segments(self, c: Ctes, src: str, gbq, width: int, t1, t2, cols=(), where=None):
        """The one boundary-segment operator of the interpolated
        accessors: each row's segment ``[t1, t2)`` (int64 µs) exploded
        over the origin-aligned target buckets ``_b`` of ``width`` it
        overlaps (bounded by span / width), as ``(group…, _t1, _t2,
        cols…, _b)``. The target grid shares the cagg's bucket origin,
        so with ``width`` a multiple of the parent width every target
        edge is a parent edge — origin-aligned floor, NOT epoch DIV,
        which would mislabel e.g. weekly buckets Thursday-aligned and
        truncate toward zero for pre-epoch timestamps. Returns the
        relation and the overlap bounds ``(lo, hi)`` as SQL text."""
        org = int(self.row.get("bucket_origin_us") or 0)
        wl = f"CAST({int(width)} AS BIGINT)"
        b0 = _grain_floor_sql(t1, width, org)
        b1 = _grain_floor_sql(f"({t2} - CAST(1 AS BIGINT))", width, org)
        ends = [t if t == n else f"{t} AS {n}" for t, n in ((t1, "_t1"), (t2, "_t2"))]
        ex = select(
            c,
            src,
            [*gbq, *ends, *cols, f"explode(sequence({b0}, {b1}, {wl})) AS _b"],
            where=where,
        )
        return ex, "greatest(_t1, _b)", f"least(_t2, _b + {wl})"

    def _target_buckets(self, c: Ctes, src: str, gb, *cols: str) -> str:
        """Interpolated output: the int64-µs target bucket ``_b`` back
        as the cagg's bucket column."""
        b = "timestamp_micros(_b)" if self.row["time_is_timestamp"] else "_b"
        return select(c, src, [f"{b} AS {_q(self.row['bucket_alias'])}", *map(_q, gb), *cols])

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
        return self._planned(self._interpolated_average_rel, tw_col, grain, realtime)

    def _interpolated_average_rel(self, c: Ctes, tw_col, grain, realtime=None) -> str:
        _col, spec = self._resolve(TIME_WEIGHT, tw_col)
        if str(spec.get("method", "locf")).lower() != "locf":
            raise ValueError(
                "interpolated_average_at_grain needs a LOCF time_weight "
                "(linear interpolation across gaps is interpolated_delta "
                "territory)"
            )
        base, gb, width = self._interp_frame(
            c, TIME_WEIGHT, tw_col, grain, realtime, "interpolated_average_at_grain"
        )
        gbq = [_q(g) for g in gb]
        wo = _over(gb, ["_src ASC"])
        seg = select(
            c,
            base,
            [
                *gbq,
                "_st",
                f"lag(_st.last_us) OVER ({wo}) AS _pt",
                f"lag(_st.last_val) OVER ({wo}) AS _pv",
            ],
        )
        org = int(self.row.get("bucket_origin_us") or 0)
        # within-parent piece: the stored integral, covering
        # [first_us, last_us] — one target bucket (parents nest on the
        # origin-aligned grid, see _boundary_segments)
        within = select(
            c,
            seg,
            [
                *gbq,
                _grain_floor_sql("_st.first_us", width, org) + " AS _b",
                "_st.integral AS _num",
                "CAST((_st.last_us - _st.first_us) AS DOUBLE) AS _den",
            ],
        )
        # boundary piece: LOCF segment [prev.last_us, first_us) at the
        # previous parent's last value
        ex, lo, hi = self._boundary_segments(
            c, seg, gbq, width, "_pt", "_st.first_us", ["_pv AS _v"],
            where="_pt IS NOT NULL AND _st.first_us > _pt",
        )
        overlap = f"({hi} - {lo})"
        bnd = select(
            c,
            ex,
            [
                *gbq,
                "_b",
                f"_v * CAST({overlap} AS DOUBLE) AS _num",
                f"CAST({overlap} AS DOUBLE) AS _den",
            ],
        )
        out = select(
            c,
            union(c, [within, bnd]),
            [*gbq, "_b", "sum(_num) AS _num", "sum(_den) AS _den"],
            group=[*gbq, "_b"],
        )
        out = select(c, out, ["*"], where="_den > 0")
        return self._target_buckets(c, out, gb, "_num / _den AS tw_avg")

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
        return self._planned(self._interpolated_delta_rel, counter_col, grain, realtime)

    def _interpolated_delta_rel(self, c: Ctes, counter_col, grain, realtime=None) -> str:
        base, gb, width = self._interp_frame(
            c, COUNTER, counter_col, grain, realtime, "interpolated_delta_at_grain"
        )
        gbq = [_q(g) for g in gb]
        steps = counter_steps(c, base, gb)
        wc = _over(gb, ["_src ASC"])
        upto = f"{wc} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        cum_binc = f"sum(_binc) OVER ({upto})"
        cum_delta_before = (
            f"sum(_st.delta) OVER ({wc} ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND 1 PRECEDING)"
        )
        # anchor at the group's first sample VALUE (raw va(sample 1) =
        # v1): differences would cancel the anchor mathematically, but
        # the float interpolation below rounds differently under a
        # constant shift — anchoring reproduces the raw path's adjusted
        # values exactly (bit-for-bit with integer-quantized inputs)
        anchor = f"first(_st.first_val) OVER ({upto})"
        vf = f"({anchor} + {cum_binc} + coalesce({cum_delta_before}, 0.0D))"
        knots = select(
            c,
            steps,
            [
                *gbq,
                "_src",
                "_st.first_us AS _fu",
                "_st.last_us AS _lu",
                f"{vf} AS _vf",
                f"({vf} + _st.delta) AS _vl",
            ],
        )
        within = select(
            c, knots, [*gbq, "_fu AS _t1", "_vf AS _v1", "_lu AS _t2", "_vl AS _v2"]
        )
        boundary = select(
            c,
            knots,
            [
                *gbq,
                f"lag(_lu) OVER ({wc}) AS _t1",
                f"lag(_vl) OVER ({wc}) AS _v1",
                "_fu AS _t2",
                "_vf AS _v2",
            ],
        )
        boundary = select(c, boundary, ["*"], where="_t1 IS NOT NULL")
        seg = union(c, [within, boundary], where="_t2 > _t1")
        ex, lo, hi = self._boundary_segments(c, seg, gbq, width, "_t1", "_t2", ["_v1", "_v2"])
        span = "CAST((_t2 - _t1) AS DOUBLE)"
        dv = "(_v2 - _v1)"
        va_lo = f"(_v1 + {dv} * CAST(({lo} - _t1) AS DOUBLE) / {span})"
        va_hi = f"(_v1 + {dv} * CAST(({hi} - _t1) AS DOUBLE) / {span})"
        out = select(
            c,
            ex,
            [
                *gbq,
                "_b",
                f"sum({va_hi} - {va_lo}) AS delta",
                f"sum({va_hi} - {va_lo}) / (sum(CAST(({hi} - {lo}) AS DOUBLE)) "
                f"/ 1000000.0D) AS rate",
            ],
            group=[*gbq, "_b"],
        )
        return self._target_buckets(c, out, gb, "delta", "rate")

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
        return self._serve(
            FREQ, freq_col, grain, group_by, realtime, start, end, partial(FREQ.srf_finalize, n=n)
        )

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
        return self._serve(
            MAXN, maxn_col, grain, group_by, realtime, start, end, partial(MAXN.srf_finalize, n=n)
        )

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
        return self._planned(
            self._interpolated_duration_in_rel, state, state_col, grain, realtime
        )

    def _interpolated_duration_in_rel(self, c: Ctes, state, state_col, grain, realtime=None) -> str:
        base, gb, width = self._interp_frame(
            c, STATE_AGG, state_col, grain, realtime, "interpolated_duration_in_at_grain"
        )
        gbq = [_q(g) for g in gb]
        wo = _over(gb, ["_src ASC"])
        seg = select(
            c,
            base,
            [
                *gbq,
                "_st",
                f"lag(_st.last_us) OVER ({wo}) AS _pt",
                f"lag(_st.last_state) OVER ({wo}) AS _ps",
            ],
        )
        org = int(self.row.get("bucket_origin_us") or 0)
        ssq = "'" + str(state).replace("'", "''") + "'"
        # within-parent piece: the stored per-state held time for the
        # requested state, entirely inside one target bucket
        within = select(
            c,
            seg,
            [
                *gbq,
                _grain_floor_sql("_st.first_us", width, org) + " AS _b",
                f"coalesce(element_at(_st.durations, {ssq}).d, "
                f"CAST(0 AS BIGINT)) AS _d",
            ],
        )
        within = select(c, within, ["*"], where="_d > 0")
        # boundary piece: LOCF segment at the previous parent's last
        # state
        ex, lo, hi = self._boundary_segments(
            c, seg, gbq, width, "_pt", "_st.first_us",
            where=f"_pt IS NOT NULL AND _st.first_us > _pt AND _ps <=> {ssq}",
        )
        bnd = select(c, ex, [*gbq, "_b", f"{hi} - {lo} AS _d"])
        out = select(
            c,
            union(c, [within, bnd]),
            [*gbq, "_b", "sum(_d) AS duration_us"],
            group=[*gbq, "_b"],
        )
        return self._target_buckets(c, out, gb, "duration_us")

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
        return self._planned(
            self._heartbeat_interpolated_rel, hb_col, grain, group_by, realtime, start, end
        )

    def _heartbeat_interpolated_rel(
        self, c: Ctes, hb_col, grain, group_by=None, realtime=None, start=None, end=None
    ) -> str:
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
        base = self._serve_rel(
            c, HEARTBEAT, hb_col, grain, group_by, realtime, start, end
        )
        bucket = _q(self.row["bucket_alias"])
        gb = [_q(g) for g in (self.row["group_by"] if group_by is None else group_by)]
        if self.row["time_is_timestamp"]:
            tgt_us = f"unix_micros({bucket})"
        else:
            tgt_us = f"CAST({bucket} AS BIGINT)"
        part = f"PARTITION BY {', '.join(gb)} " if gb else ""
        prev = select(
            c,
            base,
            [
                "*",
                f"lag(last_us) OVER ({part}ORDER BY {bucket} ASC) AS _pl",
                f"{tgt_us} AS _tu",
            ],
        )
        ll = f"CAST({liv} AS BIGINT)"
        wl = f"CAST({int(width)} AS BIGINT)"
        zero = "CAST(0 AS BIGINT)"
        tail_out = f"greatest({zero}, last_us + {ll} - (_tu + {wl}))"
        reach = f"least(_pl + {ll}, first_us)"
        carry = (
            f"CASE WHEN _pl IS NOT NULL THEN greatest({zero}, {reach} - _tu) "
            f"ELSE {zero} END"
        )
        live2 = f"(live_us - {tail_out} + {carry})"
        # the carried tail is a separate range unless it touches the
        # first beat ([start, reach) meets [first_us, ...) iff
        # reach == first_us)
        ranges2 = (
            f"num_live_ranges + CASE WHEN ({carry}) > 0 AND {reach} < first_us "
            f"THEN 1 ELSE 0 END"
        )
        return select(
            c,
            prev,
            [
                bucket,
                *gb,
                "n",
                f"{live2} AS live_us",
                f"({wl} - {live2}) AS dead_us",
                f"{ranges2} AS num_live_ranges",
            ],
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

        Output: ``(bucket?, group…, n, min_val, max_val, mean, p50, …)``."""
        return self._serve(
            TDIGEST, td_col, grain, group_by, realtime, start, end,
            partial(TDIGEST.percentiles, qs=list(qs)),
        )

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
        projection of :meth:`tdigest_quantiles_at_grain`."""
        return self._serve(TDIGEST, td_col, grain, group_by, realtime, start, end)

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
        return self._serve(
            TDIGEST, td_col, grain, group_by, realtime, start, end,
            partial(TDIGEST.percentiles, ranks=[(value, out)]),
        )

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
        return self._planned(
            self._distinct_rel, hll_col, grain, group_by, realtime, start, end, out
        )

    def _distinct_rel(self, c: Ctes, hll_col, grain, group_by, realtime, start, end, out) -> str:
        if hll_col not in (self.row.get("aggs") or {}):
            raise KeyError(
                f"{hll_col!r} is not an aggs column of cagg {self.name!r}"
            )
        # the shared scaffold with the HLL aggs column as the partial payload
        d, keys, _ = self._partial_frame(c, hll_col, grain, group_by, realtime, start, end)
        return select(
            c,
            d,
            [*map(_q, keys), f"hll_sketch_estimate(hll_union_agg(_st)) AS {_q(out)}"],
            group=[_q(k) for k in keys],
        )

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
                # an emptied hypertable: still cover what was materialized,
                # so ranges its DML invalidated lose their stale rows
                wm = self.watermark()
                hi = wm if wm is not None else 0
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

        # ---- materialize the dirty ranges (materialize.c:442-489) in
        # one pass — one batch per statement with buckets_per_batch: one
        # aggregate over the union of the ranges, written with the
        # touched mat chunks' rows outside them (Hypertable.
        # replace_ranges). The dirty entries were already cut from the
        # log (txn 2b) — on a FAILED materialization the unprocessed
        # ranges must be put back, or the hole is permanent: a retry
        # would find no dirty entries and the watermark would advance
        # over never-materialized buckets.
        mat = self._mat()
        if buckets_per_batch and int(buckets_per_batch) > 0:
            batches = [[r] for r in merged]
        else:
            batches = [merged] if merged else []
        done_n = 0
        try:
            for batch in batches:
                # infinite sentinels become open bounds (no filter): they
                # are not representable as timestamps
                ranges = [
                    (a if a > INT64_MIN else None, b if b < INT64_MAX else None)
                    for a, b in batch
                ]
                c = Ctes()
                agg = self._aggregate(c, src._scan(ranges=ranges))
                if verbose:
                    for a, b in batch:
                        print(f"refresh {self.name}: range [{a}, {b}) ")
                mat.replace_ranges(ranges, c.plan(self.ts, f"SELECT * FROM {agg}"))
                done_n += len(batch)
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
        raw aggregation at/after it (``common.c:1745 build_union_query``),
        planned as one ``spark.sql`` call over the mat and source scan
        relations (:meth:`_sides`).

        ``only_cols`` restricts the projection to the named value
        columns (keys always included) AND the realtime raw-side partial
        build to just those families: the full ``_aggregate`` is a 1:1
        join chain of every family's partial aggregate, and joins
        survive column pruning, so without this a single-family serve
        over an N-family cagg pays N partial builds on the tail.
        Columns computed by ``window_fns`` may depend on arbitrary
        sibling aggregates, so requesting one falls back to the full
        aggregate (still projected afterwards)."""
        keys = [self.row["bucket_alias"], *self.row["group_by"]]
        cols = (
            self._value_cols()
            if only_cols is None
            else [x for x in only_cols if x not in keys]
        )
        c = Ctes()
        view = c.union(self._sides(c, cols, realtime))
        return c.plan(self.ts, f"SELECT {', '.join(map(_q, [*keys, *cols]))} FROM {view}")

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
        return self._serve(
            SKETCH, sketch_col, grain, group_by, realtime, start, end,
            partial(SKETCH.percentiles, qs=list(qs)),
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
        return self._serve(
            SKETCH, sketch_col, grain, group_by, realtime, start, end,
            partial(SKETCH.percentiles, ranks=[(value, out)]),
        )

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
