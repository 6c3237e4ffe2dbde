"""The continuous-aggregate partial-state families, one table entry each.

A family is a toolkit aggregate whose cagg column stores a mergeable
PARTIAL state per (bucket, group) instead of a finished number (the
toolkit ``rollup(<agg>(...))`` idiom; partial-vs-finalized discussion in
``tsl/src/continuous_aggs/finalize.c``). Each :class:`Family` entry in
:data:`FAMILIES` holds everything the engine knows about one family:

- ``key`` — the catalog key, which is also the ``create_cagg`` keyword;
- ``ctors`` — the toolkit SQL constructors ``CREATE MATERIALIZED VIEW``
  accepts, and how their arguments become a spec;
- ``required``/``expr_fields``/``inherit``/``validate`` — the spec: its
  SQL-expression fields, defaults, validation, and which parameters a
  hierarchical ``rollup_of`` child inherits from its parent;
- ``state`` — the state built from raw rows;
- ``merge`` — ONE merge over ``(target, group…, _src, _st)``: the
  adjacent parent partials inside each target bucket, ordered by the
  parent bucket ``_src``. Its input may hold NULL states (strict-NULL
  groups), which every merge skips;
- ``pack`` — the merge written back as a state (a ``rollup_of`` child);
- ``finalize``/``accessors`` — the served output columns and the
  toolkit accessor names that map onto them.

Every step is a SQL-text builder: it appends ``SELECT`` CTEs over its
input relation to a :class:`~timescaledb_spark.scan.Ctes` chain and
returns the name of its output relation. ``ContinuousAggregate`` drives
the table through three generic paths — build (``_aggregate``, also the
realtime tail), merge (a ``rollup_of`` child is ``pack(merge(parent
states))``) and serve (every ``*_at_grain`` is
``finalize(merge(_partial_frame(...)))``) — and plans each read as ONE
``spark.sql`` call over the hypertable scan relations, so rollup
children, refresh and at-grain serving share one text per family.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from functools import partial
from typing import Callable, Optional, Sequence

from .scan import Scan, q as _q, sql_literal

#: spec key carrying the field names of the STORED state struct a merge
#: reads (set by the caller from the mat table's schema); states
#: materialized before a field was added (counter/gauge
#: ``num_changes``) then serve NULL for it instead of failing analysis
STORED_FIELDS = "_stored_fields"


def _qs(names: Sequence[str]) -> list[str]:
    return [_q(n) for n in names]


def _over(partition: Sequence[str], order: Sequence[str]) -> str:
    """``PARTITION BY … ORDER BY …`` clause text."""
    p = (
        "PARTITION BY " + ", ".join(_q(c) for c in partition) + " "
        if partition
        else ""
    )
    return p + "ORDER BY " + ", ".join(order)


#: running frame of every row BEFORE the current one: ``last(x, true)``
#: over it is the last non-NULL preceding value — ``lag`` for inputs
#: without NULL states, and NULL-skipping for the rollup input
_PRECEDING = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"


def select(c, src, cols: Sequence[str], where=None, group=None) -> str:
    """Append ``SELECT cols FROM src [WHERE] [GROUP BY]`` to ``c``;
    ``group`` lists SQL group items (empty: a global aggregate). Over a
    pending :class:`Scan` this is the scan's own block."""
    if isinstance(src, Scan):
        return c.scan(src.select(list(cols), where, group))
    body = f"SELECT {', '.join(cols)} FROM {src}"
    if where:
        body += f" WHERE {where}"
    if group:
        body += " GROUP BY " + ", ".join(group)
    return c.add(body)


def top(c, src: str, keys: Sequence[str], order: Sequence[str], k: int) -> str:
    """The ``k`` first rows of ``src`` per ``keys`` group under
    ``order``, with their ``_rk``. Without keys: ORDER BY … LIMIT
    (TakeOrderedAndProject, never an all-rows single-partition
    window) and no ``_rk``."""
    if not keys:
        return c.add(f"SELECT * FROM {src} ORDER BY {', '.join(order)} LIMIT {k}")
    r = c.add(f"SELECT *, row_number() OVER ({_over(keys, order)}) AS _rk FROM {src}")
    return c.add(f"SELECT * FROM {r} WHERE _rk <= {k}")


def join(c, left: str, right: str, keys, how: str, cols) -> str:
    """Null-safe equi-join on ``keys`` (group keys can hold NULLs),
    keeping the left side plus ``cols`` of the right."""
    on = " AND ".join(f"_jl.{_q(k)} <=> _jr.{_q(k)}" for k in keys) or "true"
    sel = ", ".join(["_jl.*", *[f"_jr.{_q(x)}" for x in cols]])
    return c.add(f"SELECT {sel} FROM {left} _jl {how} JOIN {right} _jr ON {on}")


def union(c, rels: Sequence[str], where=None, name=None) -> str:
    """``UNION ALL`` of ``SELECT * FROM rel [WHERE where]`` over
    relations with the same column order."""
    cond = f" WHERE {where}" if where else ""
    return c.add(" UNION ALL ".join(f"SELECT * FROM {r}{cond}" for r in rels), name)


# ------------------------------------------------------------ shared parts
def _pack_sql(fields: Sequence[str], out: str) -> str:
    """The state struct over flat ``_f_<field>`` columns, NULL for a
    group without non-NULL inputs (strict aggregate semantics)."""
    body = ", ".join(f"'{f}', _f_{f}" for f in fields)
    return f"CASE WHEN _f_n > 0 THEN named_struct({body}) END AS {_q(out)}"


def _flat(c, src: str, keys, aggs) -> str:
    """Aggregate FLAT ``_f_<field>`` columns; the struct is assembled in
    a plain projection afterwards (:func:`_agg_pack`) — an aliased-field
    struct inside the aggregate trips Spark 4.1.2's
    RemoveRedundantAliases into an unresolved plan under the partial
    join chain (d42cb25)."""
    return select(
        c, src, [*_qs(keys), *[f"{sql} AS _f_{f}" for f, sql in aggs]], group=_qs(keys)
    )


def _agg_pack(c, src: str, keys, col: str, aggs) -> str:
    f = _flat(c, src, keys, aggs)
    return select(c, f, [*_qs(keys), _pack_sql([n for n, _ in aggs], col)])


def _struct_pack(fields: Sequence[str]):
    """``pack`` of the struct families: the merge's flat fields are the
    child's state."""

    def pack(c, m: str, d: str, keys, col: str, spec: dict) -> str:
        return select(c, m, [*_qs(keys), _pack_sql(fields, col)])

    return pack


def _outputs(cols):
    """``finalize`` selecting SQL expressions over the merged flat
    fields; ``cols`` is ``[(output, sql)]`` or ``spec -> [(output,
    sql)]``."""

    def finalize(c, m: str, keys, spec: dict) -> str:
        outs = cols(spec) if callable(cols) else cols
        return select(c, m, [*_qs(keys), *[f"{sql} AS {_q(o)}" for o, sql in outs]])

    return finalize


def _base(c, cagg, raw: str, *cols: str) -> tuple[str, list]:
    """``(bucket, group…, cols…)`` over the raw rows; returns the
    relation and the key names."""
    gb = list(cagg.row["group_by"])
    bucket = cagg.row["bucket_alias"]
    rel = select(c, raw, [f"{cagg._bucket_sql()} AS {_q(bucket)}", *_qs(gb), *cols])
    return rel, [bucket, *gb]


def _ordered_input(c, cagg, raw: str, spec: dict, *cols: str):
    """``(bucket, group…, _tb0…, _us, cols…)`` for the builders that
    order samples by (time, tiebreak…) within a bucket; returns the
    relation, the key names and the tiebreak column names."""
    tb = list(spec.get("tiebreak") or ())
    tbs = [f"_tb{i}" for i in range(len(tb))]
    rel, keys = _base(
        c,
        cagg,
        raw,
        *[f"{_q(t)} AS {n}" for t, n in zip(tb, tbs)],
        f"{cagg._raw_time_us_sql()} AS _us",
        *cols,
    )
    return rel, keys, tbs


def _double(expr: str, name: str) -> str:
    return f"CAST(({expr}) AS DOUBLE) AS {name}"


def _bookend_key(v: str, tbs) -> str:
    """min_by/max_by key over (time, tiebreak…), NULL for NULL samples
    so the bookends skip them."""
    return (
        f"CASE WHEN {v} IS NOT NULL THEN named_struct('_us', _us"
        + "".join(f", '{t}', {t}" for t in tbs)
        + ") END"
    )


def _span_aggs(v: str):
    """n and the first/last sample time of the non-NULL samples."""
    return [
        ("n", f"count({v})"),
        ("first_us", f"min(CASE WHEN {v} IS NOT NULL THEN _us END)"),
        ("last_us", f"max(CASE WHEN {v} IS NOT NULL THEN _us END)"),
    ]


#: bookends merged from the earliest/latest parent partial: parent
#: buckets partition time disjointly, so within one series the
#: partial's own first/last sample time orders them (and is NULL for a
#: NULL state, which min_by/max_by then skip)
_MERGED_SPAN = [
    ("n", "sum(_st.n)"),
    ("first_us", "min(_st.first_us)"),
    ("last_us", "max(_st.last_us)"),
]


def _merged_bookends(first: str, last: str):
    return [
        (first, f"min_by(_st.{first}, _st.first_us)"),
        (last, f"max_by(_st.{last}, _st.last_us)"),
    ]


def _changes(spec: dict) -> str:
    stored = spec.get(STORED_FIELDS)
    return (
        "sum(_st.num_changes) + coalesce(sum(_bchange), 0)"
        if stored is None or "num_changes" in stored
        else "CAST(NULL AS BIGINT)"
    )


def _prev(field_: str, keys) -> str:
    """The last non-NULL preceding parent's ``field_`` within the
    target group — the boundary every ordered merge adds once per
    adjacent pair of partials."""
    return (
        f"last(_st.{field_}, true) OVER ({_over(keys, ['_src ASC'])} "
        f"{_PRECEDING})"
    )


def _span_s(first: str = "_f_first_us", last: str = "_f_last_us") -> str:
    return f"(CAST(({last} - {first}) AS DOUBLE) / 1000000.0D)"


def _time_arg(a: str) -> str:
    return a.strip().split(".")[-1].strip()


def _lit(a: str):
    from .sqlapi import _literal_of

    return _literal_of(a)


def _liveness_us(v) -> int:
    from .functions.time import parse_interval

    return int(v) if isinstance(v, int) else parse_interval(v).us


# ----------------------------------------------------------- the entry
@dataclass(frozen=True)
class Family:
    """One partial-state family (see the module docstring). The
    builders' signatures, each returning its output relation's name:

    - ``state(c, cagg, raw, col, spec)`` -> ``(bucket, group…, col)``
    - ``merge(c, d, keys, spec)`` over ``d`` = ``(keys…, _src, _st)``
    - ``pack(c, m, d, keys, col, spec)`` -> ``(keys…, col)``
    - ``finalize(c, m, keys, spec)`` -> ``(keys…, outputs…)``
    """

    key: str
    kind: str
    doc: str
    state: Callable
    merge: Callable
    pack: Callable
    finalize: Optional[Callable] = None
    #: a LOSSLESS family's state rows before the pack: ``unpacked(c,
    #: cagg, raw, col, spec[, head])`` -> ``(bucket, group…, rows…)``
    #: (with ``head``: the realtime tail's rows, keyed to the target);
    #: ``unpack(st)``: select items turning a stored state into the same
    #: rows. Its merge is the bag of these rows, so a serve takes both
    #: sides in this form instead of packing the tail only to unpack it
    unpacked: Optional[Callable] = None
    unpack: Optional[Callable] = None
    required: str = "value"
    expr_fields: tuple = ("value",)
    ctors: dict = field(default_factory=dict)
    inherit: Optional[Callable] = None
    validate: Optional[Callable] = None
    #: the merge orders partials within ONE series, so serving needs
    #: the cagg's full group set
    ordered: bool = False
    serve: Optional[str] = None
    accessors: dict = field(default_factory=dict)
    interp: dict = field(default_factory=dict)
    #: the ``ContinuousAggregate`` relation builder of the ``interp``
    #: accessors
    interp_method: Optional[str] = None
    #: set-returning accessor: (toolkit fn, method, default alias,
    #: ``spec -> served columns``)
    srf: Optional[tuple] = None
    #: its finalize when it takes a count: ``srf_finalize(c, m, keys,
    #: spec, n)`` -> ``(keys…, served columns…)``; ``n=None`` is the
    #: column's recorded default
    srf_finalize: Optional[Callable] = None
    #: (quantiles method, rank method) of the percentile families
    percentile: Optional[tuple] = None
    #: their finalize: ``percentiles(c, m, keys, spec, qs, ranks)`` ->
    #: ``(keys…, <outputs of the quantiles qs>…, <out of each (value,
    #: out) in ranks>…)``; ``qs=None`` selects no quantile outputs
    percentiles: Optional[Callable] = None
    #: serves one row per state value (state_agg)
    per_state: bool = False
    view_column: str = "partial_columns"
    #: (spec predicate, Family) — a spec-shaped variant of the family
    variant: Optional[tuple] = None

    def for_spec(self, spec: dict) -> "Family":
        if self.variant and self.variant[0](spec):
            return self.variant[1]
        return self


# =========================================================== sketch
def _sketch_unpacked(c, cagg, raw, col, spec, head=None):
    """(bucket, group…, log-bucket ``_sb``, ``_cnt``) counts — a
    map-combined groupBy collapses rows to (keys, log-bucket) counts
    BEFORE the exchange (shuffle = keys x ~2k sketch buckets regardless
    of row count, functions/ddsketch.py contract).

    With ``head`` — ``head(b)``: the target key items over the cagg
    bucket ``b`` — the realtime tail instead: one ``(_sb, 1)`` row per
    non-NULL value, keyed straight to the target, in one block over
    ``raw``; the merge's consumers sum per log-bucket themselves."""
    from .functions.ddsketch import ZERO_BUCKET, _gamma

    g = _gamma(float(spec.get("alpha", 0.01)))
    v = f"CAST(({spec['value']}) AS DOUBLE)"
    msg = sql_literal(
        f"cagg sketch {col!r}: negative values are not supported "
        f"(DDSketch positive store + zero bucket, like uddsketch)"
    )
    # strict-aggregate NULL semantics (percentile_agg skips NULLs):
    # NULL values get a NULL log-bucket, which is dropped before the
    # map pack — but the (bucket, group) row itself survives, with a
    # NULL state when ALL its inputs are NULL
    sb = (
        f"CASE WHEN {v} IS NULL THEN CAST(NULL AS INT) "
        f"WHEN {v} < 0 THEN CAST(raise_error({msg}) AS INT) "
        f"WHEN {v} = 0 THEN CAST({ZERO_BUCKET} AS INT) "
        f"ELSE CAST(ceil(ln({v}) / {math.log(g)!r}D) AS INT) END"
    )
    if head is not None:
        cols = [*head(cagg._bucket_sql()), f"{sb} AS _sb", "CAST(1 AS BIGINT) AS _cnt"]
        return select(c, raw, cols, where=f"{v} IS NOT NULL")
    base, keys = _base(c, cagg, raw, f"{sb} AS _sb")
    return select(
        c, base, [*_qs(keys), "_sb", "count(1) AS _cnt"], group=[*_qs(keys), "_sb"]
    )


def _sketch_state(c, cagg, raw, col, spec):
    """DDSketch STATE per (bucket, group): ``map<int,bigint>`` of
    log-bucket -> count — the collected :func:`_sketch_unpacked`
    rows."""
    keys = [cagg.row["bucket_alias"], *cagg.row["group_by"]]
    return _sketch_collect(c, _sketch_unpacked(c, cagg, raw, col, spec), keys, col)


def _sketch_merge(c, d, keys, spec):
    """Bucket counts ADD losslessly (Masson VLDB'19 §2.3), so the merge
    is the BAG of ``(keys…, _sb, _cnt)`` rows — the exploded states —
    and every consumer sums per log-bucket itself: the quantile finalize
    with a RANGE window frame (one exchange for the merge and the
    extraction), the pack with a group-by. ``explode_outer`` keeps a
    NULL state's group as one NULL log-bucket row."""
    return select(c, d, [*_qs(keys), *SKETCH.unpack("_st")])


def _sketch_collect(c, rows, keys, col):
    """The state map over rows unique per (keys, ``_sb``). collect_list
    skips the NULL-bucket entry, and an all-NULL group keeps a NULL
    state instead of an empty map."""
    return select(
        c,
        rows,
        [
            *_qs(keys),
            "CASE WHEN count(_sb) > 0 THEN map_from_entries(array_sort("
            "collect_list(CASE WHEN _sb IS NOT NULL THEN "
            f"named_struct('_sb', _sb, '_cnt', _cnt) END))) END AS {_q(col)}",
        ],
        group=_qs(keys),
    )


def _sketch_pack(c, m, d, keys, col, spec):
    summed = select(
        c, m, [*_qs(keys), "_sb", "sum(_cnt) AS _cnt"], group=[*_qs(keys), "_sb"]
    )
    return _sketch_collect(c, summed, keys, col)


def _sketch_percentiles(c, m, keys, spec, qs=None, ranks=()):
    """Quantiles ``(keys…, n, p<q>…)`` and the ``(value, out)`` ranks
    from ONE aggregate over the merged bag ``m``."""
    from .functions.ddsketch import quantiles_sql

    alpha = float(spec.get("alpha", 0.01))
    return quantiles_sql(c, m, keys, qs, alpha, "_sb", "_cnt", ranks)


def _sketch_validate(col, spec):
    from .functions.ddsketch import _gamma

    _gamma(float(spec.get("alpha", 0.01)))  # validates range
    return spec


def _sketch_ctor_percentile_agg(args, rw):
    if len(args) != 1:
        raise ValueError("percentile_agg(value)")
    return {"value": rw(args[0])}, None


def _sketch_ctor_uddsketch(args, rw):
    # uddsketch(size, max_error, value): size is the toolkit's bucket
    # cap — log-bucket maps are inherently bounded here, so only
    # max_error carries over
    if len(args) != 3:
        raise ValueError("uddsketch(size, max_error, value)")
    return {"value": rw(args[2]), "alpha": float(args[1])}, None


def _sketch_inherit(col, spec, pspec):
    # quantile extraction must use the parent's gamma
    spec.setdefault("alpha", pspec.get("alpha", 0.01))
    return spec


SKETCH = Family(
    key="sketches",
    kind="sketch",
    doc="""``sketches``: output column -> ``{"value": <expr>, "alpha":
    a}``: a mergeable DDSketch STATE (``map<int,bigint>`` of log-bucket
    -> count) per (bucket, group) — the toolkit
    ``percentile_agg``/``uddsketch``-inside-a-cagg idiom. Because bucket
    counts ADD losslessly (Masson VLDB'19 §2.3), ``quantiles``/``rank``
    serve p50/p95/p99 at ANY coarser grain — day/month/whole-table — by
    merging the stored states, never rescanning raw data; the realtime
    view unions mat-side states below the watermark with raw-side
    states computed above it. Negative values raise. Spark's binary HLL
    states need no family: put ``hll_sketch_agg(col)`` in ``aggs`` and
    serve with ``distinct_at_grain``.""",
    state=_sketch_state,
    merge=_sketch_merge,
    pack=_sketch_pack,
    unpacked=_sketch_unpacked,
    unpack=lambda st: [f"explode_outer({st}) AS (_sb, _cnt)"],
    ctors={
        "percentile_agg": _sketch_ctor_percentile_agg,
        "uddsketch": _sketch_ctor_uddsketch,
    },
    inherit=_sketch_inherit,
    validate=_sketch_validate,
    percentile=("quantiles", "rank"),
    percentiles=_sketch_percentiles,
    view_column="sketch_columns",
)




# ========================================================== counter
def _counter_state(c, cagg, raw, col, spec):
    """Mergeable COUNTER partial with prometheus reset semantics inside
    the bucket (functions/counters.py:counter_agg decomposition). One
    window over (bucket, group) ordered by (time, tiebreak…) computes
    the within-bucket reset-adjusted increments. Boundary steps between
    buckets are NOT counted here — the merge adds exactly one per
    adjacent pair."""
    base, keys, tbs = _ordered_input(c, cagg, raw, spec, _double(spec["value"], "_v"))
    wo = _over(keys, ["_us ASC", *[f"{t} ASC" for t in tbs]])
    # strict NULL semantics (counter_agg skips NULLs): the previous
    # sample is the last NON-NULL value before this row — lag() would
    # let one NULL sample break two increments
    prev = f"last(_v, true) OVER ({wo} {_PRECEDING})"
    step = f"(_v - {prev})"
    stepped = select(
        c,
        base,
        [
            *_qs(keys),
            "_us",
            "_v",
            f"CASE WHEN _v IS NULL THEN CAST(NULL AS DOUBLE) "
            f"WHEN {prev} IS NULL THEN 0.0D "
            f"WHEN {step} < 0 THEN _v ELSE {step} END AS _inc",
            f"CASE WHEN _v IS NOT NULL THEN CAST(({step} < 0) AS INT) "
            f"END AS _reset",
            f"CASE WHEN _v IS NOT NULL AND {prev} IS NOT NULL THEN "
            f"CAST((_v != {prev}) AS INT) END AS _change",
            f"{_bookend_key('_v', tbs)} AS _k",
        ],
    )
    return _agg_pack(
        c,
        stepped,
        keys,
        col,
        _span_aggs("_v")
        + [
            ("first_val", "min_by(_v, _k)"),
            ("last_val", "max_by(_v, _k)"),
            ("delta", "sum(_inc)"),
            ("num_resets", "coalesce(sum(_reset), 0)"),
            ("num_changes", "coalesce(sum(_change), 0)"),
        ],
    )


def counter_steps(c, d, keys):
    """Each partial's reset-adjusted boundary step from the previous
    partial of its group (``B.first_val − A.last_val``, or
    ``B.first_val`` after a reset): ``_binc`` with its ``_breset`` and
    ``_bchange`` flags, next to ``_src`` and ``_st`` — one step per
    adjacent pair, what the counter merge adds and what
    ``interpolated_delta_at_grain`` accumulates."""
    prev = _prev("last_val", keys)
    bstep = f"(_st.first_val - {prev})"
    return select(
        c,
        d,
        [
            *_qs(keys),
            "_src",
            "_st",
            f"CASE WHEN {prev} IS NULL THEN 0.0D WHEN {bstep} < 0 THEN "
            f"_st.first_val ELSE {bstep} END AS _binc",
            f"CAST(({bstep} < 0) AS INT) AS _breset",
            f"CASE WHEN {prev} IS NOT NULL THEN "
            f"CAST((_st.first_val != {prev}) AS INT) END AS _bchange",
        ],
    )


def _counter_merge(c, d, keys, spec):
    """Partials add up plus ONE boundary step per adjacent pair."""
    return _flat(
        c,
        counter_steps(c, d, keys),
        keys,
        _MERGED_SPAN
        + _merged_bookends("first_val", "last_val")
        + [
            ("delta", "sum(_st.delta) + coalesce(sum(_binc), 0.0D)"),
            ("num_resets", "sum(_st.num_resets) + coalesce(sum(_breset), 0)"),
            ("num_changes", _changes(spec)),
        ],
    )


def _counter_ctor(args, rw):
    if len(args) != 2:
        raise ValueError("counter_agg(ts, value)")
    return {"value": rw(args[1])}, _time_arg(args[0])


_COUNTER_FIELDS = (
    "n first_us last_us first_val last_val delta num_resets num_changes"
).split()

COUNTER = Family(
    key="counters",
    kind="counter",
    doc="""``counters``: output column -> ``{"value": <expr>,
    "tiebreak": [cols…]}``: a mergeable COUNTER partial per (bucket,
    group) — ``struct(n, first_us, last_us, first_val, last_val, delta,
    num_resets, num_changes)`` with prometheus reset semantics (the
    toolkit ``rollup(counter_agg(...))`` idiom). Because cagg buckets
    partition time disjointly, merging two adjacent partials needs only
    the one boundary step, so ``counter_at_grain`` serves exact
    delta/rate/resets at ANY coarser grain from the stored partials —
    identical to ``counter_agg`` over the raw rows of that grain, with
    zero raw rescans below the watermark. ``tiebreak`` columns break
    equal-timestamp ordering like ``counter_agg``'s.""",
    state=_counter_state,
    merge=_counter_merge,
    pack=_struct_pack(_COUNTER_FIELDS),
    finalize=_outputs(
        [
            ("n", "_f_n"),
            ("delta", "_f_delta"),
            ("rate", f"_f_delta / nullif({_span_s()}, 0.0D)"),
            ("num_resets", "_f_num_resets"),
            ("num_changes", "_f_num_changes"),
            ("first_us", "_f_first_us"),
            ("last_us", "_f_last_us"),
            ("first_val", "_f_first_val"),
            ("last_val", "_f_last_val"),
        ]
    ),
    ctors={"counter_agg": _counter_ctor},
    ordered=True,
    serve="counter_at_grain",
    accessors={
        "delta": "delta",
        "rate": "rate",
        "num_resets": "num_resets",
        "num_changes": "num_changes",
        "num_vals": "n",
        "first_val": "first_val",
        "last_val": "last_val",
        "first_time": "first_us",
        "last_time": "last_us",
    },
    interp={"interpolated_delta": "delta", "interpolated_rate": "rate"},
    interp_method="_interpolated_delta_rel",
)


# ============================================================ gauge
def _gauge_state(c, cagg, raw, col, spec):
    """Mergeable GAUGE partial: like the counter partial but without
    resets, plus ``last_step``/``last_prev_us`` (the final within-bucket
    step and the time of the sample before the last) so idelta/irate
    survive the rollup — a single-sample bucket's step comes from the
    previous bucket's last value at merge time."""
    base, keys, tbs = _ordered_input(c, cagg, raw, spec, _double(spec["value"], "_v"))
    wo = _over(keys, ["_us ASC", *[f"{t} ASC" for t in tbs]])
    frame = f"{wo} {_PRECEDING}"
    # strict NULL semantics (gauge_agg skips NULLs): the previous
    # sample is the last NON-NULL one, its time the matching masked time
    prev_v = f"last(_v, true) OVER ({frame})"
    prev_us = f"last(CASE WHEN _v IS NOT NULL THEN _us END, true) OVER ({frame})"
    stepped = select(
        c,
        base,
        [
            *_qs(keys),
            "_us",
            "_v",
            f"(_v - {prev_v}) AS _step",
            f"{prev_us} AS _prev_us",
            f"CASE WHEN _v IS NOT NULL AND {prev_v} IS NOT NULL THEN "
            f"CAST((_v != {prev_v}) AS INT) END AS _change",
            f"{_bookend_key('_v', tbs)} AS _k",
        ],
    )
    return _agg_pack(
        c,
        stepped,
        keys,
        col,
        _span_aggs("_v")
        + [
            ("first_val", "min_by(_v, _k)"),
            ("last_val", "max_by(_v, _k)"),
            ("last_step", "max_by(_step, _k)"),
            ("last_prev_us", "max_by(_prev_us, _k)"),
            ("num_changes", "coalesce(sum(_change), 0)"),
        ],
    )


def _gauge_merge(c, d, keys, spec):
    """Bookends merge by earliest/latest parent; the merged last step
    falls back to the boundary step into the last parent when that
    parent holds a single sample."""
    pv, pu = _prev("last_val", keys), _prev("last_us", keys)
    d = select(
        c,
        d,
        [
            *_qs(keys),
            "_st",
            f"coalesce(_st.last_step, _st.first_val - {pv}) AS _cs",
            f"coalesce(_st.last_prev_us, {pu}) AS _cp",
            f"CASE WHEN {pv} IS NOT NULL THEN "
            f"CAST((_st.first_val != {pv}) AS INT) END AS _bchange",
        ],
    )
    return _flat(
        c,
        d,
        keys,
        _MERGED_SPAN
        + _merged_bookends("first_val", "last_val")
        + [
            ("last_step", "max_by(_cs, _st.last_us)"),
            ("last_prev_us", "max_by(_cp, _st.last_us)"),
            ("num_changes", _changes(spec)),
        ],
    )


def _gauge_ctor(args, rw):
    if len(args) != 2:
        raise ValueError("gauge_agg(ts, value)")
    return {"value": rw(args[1])}, _time_arg(args[0])


_GAUGE_DELTA = "(_f_last_val - _f_first_val)"

GAUGE = Family(
    key="gauges",
    kind="gauge",
    doc="""``gauges``: like ``counters`` but for metrics that may
    legitimately decrease (toolkit ``gauge_agg``): ``struct(n,
    first_us, last_us, first_val, last_val, last_step, last_prev_us,
    num_changes)`` — the partial also records the last step and its
    elapsed time, so ``gauge_at_grain`` serves delta/rate AND
    idelta/irate at any grain, boundary steps included.""",
    state=_gauge_state,
    merge=_gauge_merge,
    pack=_struct_pack(
        "n first_us last_us first_val last_val last_step last_prev_us "
        "num_changes".split()
    ),
    finalize=_outputs(
        [
            ("n", "_f_n"),
            ("delta", _GAUGE_DELTA),
            ("rate", f"{_GAUGE_DELTA} / nullif({_span_s()}, 0.0D)"),
            ("idelta", "_f_last_step"),
            (
                "irate",
                f"_f_last_step / nullif("
                f"{_span_s('_f_last_prev_us')}, 0.0D)",
            ),
            ("first_us", "_f_first_us"),
            ("last_us", "_f_last_us"),
            ("first_val", "_f_first_val"),
            ("last_val", "_f_last_val"),
            ("num_changes", "_f_num_changes"),
        ]
    ),
    ctors={"gauge_agg": _gauge_ctor},
    ordered=True,
    serve="gauge_at_grain",
    accessors={
        "delta": "delta",
        "rate": "rate",
        "idelta": "idelta",
        "irate": "irate",
        "num_changes": "num_changes",
        "num_vals": "n",
        "first_val": "first_val",
        "last_val": "last_val",
        "first_time": "first_us",
        "last_time": "last_us",
    },
)


# ============================================================ stats
def _stats_state(c, cagg, raw, col, spec):
    """1-D moments ``struct(n, s, s2, mn, mx)`` — the classical
    parallel-aggregation decomposition. count/sum/min/max skip NULLs;
    an all-NULL group keeps its row with a NULL state."""
    base, keys = _base(c, cagg, raw, _double(spec["value"], "_v"))
    return _agg_pack(
        c,
        base,
        keys,
        col,
        [
            ("n", "count(_v)"),
            ("s", "sum(_v)"),
            ("s2", "sum(_v * _v)"),
            ("mn", "min(_v)"),
            ("mx", "max(_v)"),
        ],
    )


def _stats_merge(c, d, keys, spec):
    """Moments merge fieldwise: add/min/max."""
    return _flat(
        c,
        d,
        keys,
        [
            ("n", "sum(_st.n)"),
            ("s", "sum(_st.s)"),
            ("s2", "sum(_st.s2)"),
            ("mn", "min(_st.mn)"),
            ("mx", "max(_st.mx)"),
        ],
    )


def _stats2d_state(c, cagg, raw, col, spec):
    """2-D comoments ``struct(n, sx, sy, sxx, syy, sxy)`` over the
    sample pairs where BOTH values are non-NULL (PostgreSQL ``regr_*``
    pair semantics). ``spec['value']`` is the independent variable
    (x), ``spec['y']`` the dependent one."""
    x = f"CAST(({spec['value']}) AS DOUBLE)"
    y = f"CAST(({spec['y']}) AS DOUBLE)"
    both = f"{x} IS NOT NULL AND {y} IS NOT NULL"
    base, keys = _base(
        c,
        cagg,
        raw,
        f"CASE WHEN {both} THEN {x} END AS _x",
        f"CASE WHEN {both} THEN {y} END AS _y",
    )
    return _agg_pack(
        c,
        base,
        keys,
        col,
        [
            ("n", "count(_x)"),
            ("sx", "sum(_x)"),
            ("sy", "sum(_y)"),
            ("sxx", "sum(_x * _x)"),
            ("syy", "sum(_y * _y)"),
            ("sxy", "sum(_x * _y)"),
        ],
    )


_STATS2D_FIELDS = "n sx sy sxx syy sxy".split()


def _stats2d_merge(c, d, keys, spec):
    """Comoments merge by fieldwise sums."""
    return _flat(c, d, keys, [(f, f"sum(_st.{f})") for f in _STATS2D_FIELDS])


# sample variance; greatest() clamps tiny negative float residue,
# nullif keeps NULL (not 0) for n <= 1 like stddev_samp
_VAR = "(greatest(_f_s2 - _f_s * _f_s / _f_n, 0.0D) / nullif(_f_n - 1, 0))"
# comoment corrections; nullif denominators, not when-guards: ANSI
# divide-by-zero fires even inside an unreached CaseWhen branch under
# codegen subexpression elimination, while x / NULL is cleanly NULL
_CXX = "greatest(_f_sxx - _f_sx * _f_sx / _f_n, 0.0D)"
_CYY = "greatest(_f_syy - _f_sy * _f_sy / _f_n, 0.0D)"
_CXY = "(_f_sxy - _f_sx * _f_sy / _f_n)"
_SLOPE = f"({_CXY} / nullif({_CXX}, 0.0D))"


def _stats_ctor(args, rw):
    # 1-D stats_agg(value) or 2-D stats_agg(y, x) — the toolkit/PG
    # argument order puts the DEPENDENT variable first (regr_slope(y, x))
    if len(args) == 1:
        return {"value": rw(args[0])}, None
    if len(args) == 2:
        return {"value": rw(args[1]), "y": rw(args[0])}, None
    raise ValueError("stats_agg takes 1 (value) or 2 (y, x) arguments")


def _stats_inherit(col, spec, pspec):
    # 2-D-ness is a property of the stored STATE SHAPE: the child
    # merges whatever the parent stores
    if "y" in pspec:
        spec["y"] = pspec["y"]
    elif "y" in spec:
        raise ValueError(
            f"rollup_of={col!r}: parent stats column "
            f"{spec['rollup_of']!r} is 1-D — a 2-D child cannot be built "
            f"from 1-D moments (recreate the parent with "
            f"stats_aggs={{..., 'y': ...}})"
        )
    return spec


STATS2D = Family(
    key="stats_aggs",
    kind="stats",
    doc="the two-variable form of the stats family (see STATS)",
    state=_stats2d_state,
    merge=_stats2d_merge,
    pack=_struct_pack(_STATS2D_FIELDS),
    finalize=_outputs(
        [
            ("n", "_f_n"),
            ("average_x", "_f_sx / _f_n"),
            ("average_y", "_f_sy / _f_n"),
            ("sum_x", "_f_sx"),
            ("sum_y", "_f_sy"),
            ("slope", _SLOPE),
            ("intercept", f"(_f_sy - {_SLOPE} * _f_sx) / _f_n"),
            ("covariance", f"{_CXY} / nullif(CAST((_f_n - 1) AS DOUBLE), 0.0D)"),
            ("corr", f"{_CXY} / nullif(sqrt({_CXX} * {_CYY}), 0.0D)"),
            (
                "determination_coefficient",
                f"coalesce({_CXY} * {_CXY} / nullif({_CXX} * {_CYY}, 0.0D), "
                f"CASE WHEN {_CXX} > 0 AND {_CYY} = 0.0D THEN 1.0D END)",
            ),
        ]
    ),
    expr_fields=("value", "y"),
    serve="stats2d_at_grain",
    accessors={
        "slope": "slope",
        "intercept": "intercept",
        "corr": "corr",
        "covariance": "covariance",
        "determination_coefficient": "determination_coefficient",
        "average_x": "average_x",
        "average_y": "average_y",
        "sum_x": "sum_x",
        "sum_y": "sum_y",
        "num_vals": "n",
    },
)

STATS = Family(
    key="stats_aggs",
    kind="stats",
    doc="""``stats_aggs``: output column -> ``{"value": <expr>}``: a
    moments partial ``struct(n, s, s2, mn, mx)`` (toolkit 1-D
    ``stats_agg``); ``stats_at_grain`` merges by fieldwise add/min/max
    and serves n/sum/avg/stddev/variance/min/max at any grain. With a
    ``"y"`` key — ``{"value": <x expr>, "y": <y expr>}`` — the
    TWO-variable form (toolkit ``stats_agg(y, x)``, PG ``regr_*``)
    stores comoments ``struct(n, sx, sy, sxx, syy, sxy)`` over the pairs
    where both are non-NULL, and ``stats2d_at_grain`` serves
    slope/intercept/corr/covariance at any grain. A ``rollup_of`` child
    inherits the parent's dimensionality.""",
    state=_stats_state,
    merge=_stats_merge,
    pack=_struct_pack("n s s2 mn mx".split()),
    finalize=_outputs(
        [
            ("n", "_f_n"),
            ("sum", "_f_s"),
            ("avg", "_f_s / nullif(_f_n, 0)"),
            ("stddev", f"sqrt({_VAR})"),
            ("variance", _VAR),
            ("min", "_f_mn"),
            ("max", "_f_mx"),
        ]
    ),
    expr_fields=("value", "y"),
    ctors={"stats_agg": _stats_ctor},
    inherit=_stats_inherit,
    serve="stats_at_grain",
    accessors={
        "average": "avg",
        "stddev": "stddev",
        "variance": "variance",
        "sum": "sum",
        "num_vals": "n",
        "min_val": "min",
        "max_val": "max",
    },
    variant=(lambda spec: "y" in spec, STATS2D),
)


# ====================================================== time weight
def _tw_method(spec) -> str:
    return str(spec.get("method", "locf")).lower()


def _tw_state(c, cagg, raw, col, spec):
    """``integral`` is the within-bucket integral of the LOCF (or
    linear) interpolant in µs·value: Σ over consecutive non-NULL sample
    pairs of ``v1·Δt`` (LOCF) or ``(v1+v2)/2·Δt`` (linear)
    (functions/counters.py:time_weighted_avg is the raw-scan
    analog)."""
    base, keys, tbs = _ordered_input(c, cagg, raw, spec, _double(spec["value"], "_v"))
    wo = _over(keys, ["_us ASC", *[f"{t} ASC" for t in tbs]])
    frame = f"{wo} {_PRECEDING}"
    prev_v = f"last(_v, true) OVER ({frame})"
    prev_us = f"last(CASE WHEN _v IS NOT NULL THEN _us END, true) OVER ({frame})"
    dt = f"CAST((_us - {prev_us}) AS DOUBLE)"
    if _tw_method(spec) == "linear":
        seg = f"(({prev_v} + _v) / 2.0D * {dt})"
    else:
        seg = f"({prev_v} * {dt})"
    stepped = select(
        c,
        base,
        [
            *_qs(keys),
            "_us",
            "_v",
            # a NULL sample closes no segment (its span folds into the
            # next non-null sample's segment — prev_us skips NULLs)
            f"CASE WHEN _v IS NOT NULL THEN {seg} END AS _seg",
            f"{_bookend_key('_v', tbs)} AS _k",
        ],
    )
    return _agg_pack(
        c,
        stepped,
        keys,
        col,
        _span_aggs("_v")
        + [
            ("first_val", "min_by(_v, _k)"),
            ("last_val", "max_by(_v, _k)"),
            ("integral", "coalesce(sum(_seg), 0.0D)"),
        ],
    )


def _tw_merge(c, d, keys, spec):
    """Σ parent integrals + one interpolated boundary segment per
    adjacent pair (LOCF: ``A.last_val·Δt``; linear:
    ``(A.last_val+B.first_val)/2·Δt``)."""
    pv, pu = _prev("last_val", keys), _prev("last_us", keys)
    bdt = f"CAST((_st.first_us - {pu}) AS DOUBLE)"
    if _tw_method(spec) == "linear":
        bseg = f"(({pv} + _st.first_val) / 2.0D * {bdt})"
    else:
        bseg = f"({pv} * {bdt})"
    d = select(c, d, [*_qs(keys), "_st", f"coalesce({bseg}, 0.0D) AS _bseg"])
    return _flat(
        c,
        d,
        keys,
        _MERGED_SPAN
        + _merged_bookends("first_val", "last_val")
        + [("integral", "sum(_st.integral) + sum(_bseg)")],
    )


def _tw_ctor(args, rw):
    # time_weight('LOCF' | 'Linear', ts, value)
    if len(args) != 3:
        raise ValueError("time_weight(method, ts, value)")
    mk, mv = _lit(args[0])
    if mk != "string" or str(mv).lower() not in ("locf", "linear"):
        raise ValueError(
            "time_weight method must be the literal 'LOCF' or 'Linear'"
        )
    return {"value": rw(args[2]), "method": str(mv).lower()}, _time_arg(args[1])


def _tw_inherit(col, spec, pspec):
    spec.setdefault("method", pspec.get("method", "locf"))
    return spec


def _tw_validate(col, spec):
    if _tw_method(spec) not in ("locf", "linear"):
        raise ValueError(
            f"time_weight {col!r}: method must be 'locf' or 'linear', "
            f"got {spec.get('method')!r}"
        )
    return spec


TIME_WEIGHT = Family(
    key="time_weights",
    kind="time_weight",
    doc="""``time_weights``: output column -> ``{"value": <expr>,
    "method": "locf" | "linear", "tiebreak": [cols…]}``: a mergeable
    TIME-WEIGHT partial per (bucket, group) — ``struct(n, first_us,
    last_us, first_val, last_val, integral)`` where ``integral`` is the
    within-bucket integral of the LOCF (or linear) interpolant in
    µs·value (the toolkit ``time_weight('LOCF', ts, value)``
    decomposition). Merging two adjacent partials adds exactly one
    boundary segment (``A.last → B.first``), so
    ``time_weighted_at_grain`` serves the exact time-weighted average
    of ANY coarser grain from the stored partials — the toolkit
    ``average(rollup(time_weight(...)))`` idiom.""",
    state=_tw_state,
    merge=_tw_merge,
    pack=_struct_pack("n first_us last_us first_val last_val integral".split()),
    # a single-sample target bucket returns that value (matching
    # functions/counters.py:time_weighted_avg); nullif/coalesce, not
    # when/otherwise — pruning a CaseWhen output column through the
    # union+window+aggregate stack flips Spark 4.1.2's
    # RemoveRedundantAliases into an unresolved plan
    finalize=_outputs(
        [
            (
                "tw_avg",
                "coalesce(_f_integral / nullif(CAST((_f_last_us - "
                "_f_first_us) AS DOUBLE), 0.0D), _f_first_val)",
            ),
            ("n", "_f_n"),
            ("first_us", "_f_first_us"),
            ("last_us", "_f_last_us"),
        ]
    ),
    ctors={"time_weight": _tw_ctor},
    inherit=_tw_inherit,
    validate=_tw_validate,
    ordered=True,
    serve="time_weighted_at_grain",
    accessors={"average": "tw_avg", "num_vals": "n"},
    interp={"interpolated_average": "tw_avg"},
    interp_method="_interpolated_average_rel",
)


# ====================================================== candlestick
def _candle_state(c, cagg, raw, col, spec):
    """open/close are bookends on (time, tiebreak…), high/low/volume/pv
    plain min/max/sums (``pv`` = Σ price·volume, so vwap survives the
    rollup; functions/stats.py:candlestick_agg is the raw-scan analog).
    Strict NULL semantics: NULL prices are skipped."""
    vol = spec.get("volume")
    base, keys, tbs = _ordered_input(
        c,
        cagg,
        raw,
        spec,
        _double(spec["price"], "_p"),
        "1.0D AS _vol" if vol is None else _double(vol, "_vol"),
    )
    base = select(
        c,
        base,
        [
            *_qs(keys),
            "_us",
            "_p",
            "CASE WHEN _p IS NOT NULL THEN _vol END AS _vol",
            f"{_bookend_key('_p', tbs)} AS _k",
        ],
    )
    return _agg_pack(
        c,
        base,
        keys,
        col,
        _span_aggs("_p")
        + [
            ("open", "min_by(_p, _k)"),
            ("high", "max(_p)"),
            ("low", "min(_p)"),
            ("close", "max_by(_p, _k)"),
            ("volume", "sum(_vol)"),
            ("pv", "sum(_p * _vol)"),
        ],
    )


def _candle_merge(c, d, keys, spec):
    """open/close from the earliest/latest parent partial, the rest
    fieldwise — commutative, so subset regrouping is allowed. Where a
    subset regrouping merges SERIES sharing a first/last sample time,
    ties take the LOWEST open and the HIGHEST close (the per-series
    tiebreak columns are not recoverable from the partials)."""

    def key(t: str, p: str) -> str:
        return (
            f"CASE WHEN _st.{t} IS NOT NULL THEN "
            f"named_struct('t', _st.{t}, 'p', _st.{p}) END"
        )

    return _flat(
        c,
        d,
        keys,
        _MERGED_SPAN
        + [
            ("open", f"min_by(_st.open, {key('first_us', 'open')})"),
            ("high", "max(_st.high)"),
            ("low", "min(_st.low)"),
            ("close", f"max_by(_st.close, {key('last_us', 'close')})"),
            ("volume", "sum(_st.volume)"),
            ("pv", "sum(_st.pv)"),
        ],
    )


def _candle_ctor(args, rw):
    if len(args) not in (2, 3):
        raise ValueError("candlestick_agg(ts, price[, volume])")
    spec = {"price": rw(args[1])}
    if len(args) == 3:
        spec["volume"] = rw(args[2])
    return spec, _time_arg(args[0])


CANDLESTICK = Family(
    key="candlesticks",
    kind="candlestick",
    doc="""``candlesticks``: output column -> ``{"price": <expr>,
    "volume": <expr> | None, "tiebreak": [cols…]}``: a mergeable OHLC
    partial per (bucket, group) — ``struct(n, first_us, last_us, open,
    high, low, close, volume, pv)`` (toolkit ``candlestick_agg``; ``pv``
    = Σ price×volume for vwap). open/close merge by the earliest/latest
    parent bucket, high/low/volume/pv by max/min/sum, so
    ``candlestick_at_grain`` serves exact OHLC/volume/vwap at any grain
    — the toolkit ``rollup(candlestick_agg(...))`` idiom.""",
    state=_candle_state,
    merge=_candle_merge,
    pack=_struct_pack(
        "n first_us last_us open high low close volume pv".split()
    ),
    finalize=_outputs(
        [
            ("open", "_f_open"),
            ("high", "_f_high"),
            ("low", "_f_low"),
            ("close", "_f_close"),
            ("volume", "_f_volume"),
            ("vwap", "_f_pv / nullif(_f_volume, 0)"),
            ("n", "_f_n"),
            ("first_us", "_f_first_us"),
            ("last_us", "_f_last_us"),
        ]
    ),
    required="price",
    expr_fields=("price", "volume"),
    ctors={"candlestick_agg": _candle_ctor},
    serve="candlestick_at_grain",
    accessors={
        "open": "open",
        "high": "high",
        "low": "low",
        "close": "close",
        "volume": "volume",
        "vwap": "vwap",
        "num_vals": "n",
    },
)


# ======================================================== state agg
def _stateagg_state(c, cagg, raw, col, spec):
    """``durations`` maps each state to ``struct(d, n)`` — its
    within-bucket LOCF held time (µs) and sample count
    (functions/state.py:state_durations is the raw-scan analog).
    NULL-state samples are skipped: they neither hold time nor break
    the LOCF chain."""
    base, keys, tbs = _ordered_input(
        c, cagg, raw, spec, f"CAST(({spec['state']}) AS STRING) AS _s"
    )
    # next NON-NULL sample's time. The ASC `first(…) OVER (1 FOLLOWING
    # .. UNBOUNDED FOLLOWING)` frame recomputes its scan per row — O(n²)
    # on a single hot wide bucket. Since _us is the LEADING sort key,
    # the lookup is a suffix-min, so the exact mirror is
    # `last(…ignorenulls) OVER (UNBOUNDED PRECEDING .. 1 PRECEDING)`
    # under the reversed sort — O(n). The mirror is only row-identical
    # when the order key is unique, so _s is appended as the final
    # disambiguator: rows tied on the full (us, tiebreak…, state) key
    # are interchangeable here (the same duration MULTISET in any tie
    # order), which also makes the durations deterministic under ties.
    wo_desc = _over(keys, ["_us DESC", *[f"{t} DESC" for t in tbs], "_s DESC"])
    nxt = (
        f"last(CASE WHEN _s IS NOT NULL THEN _us END, true) "
        f"OVER ({wo_desc} {_PRECEDING})"
    )
    stepped = select(
        c,
        base,
        [
            *_qs(keys),
            "_s",
            f"CASE WHEN _s IS NOT NULL THEN coalesce({nxt}, _us) - _us END AS _dur",
            f"{_bookend_key('_s', tbs)} AS _k",
        ],
    )
    per_state = select(
        c,
        stepped,
        [
            *_qs(keys),
            "_s",
            "sum(_dur) AS _d",
            "count(_k) AS _n",
            "min(_k) AS _kmin",
            "max(_k) AS _kmax",
        ],
        group=[*_qs(keys), "_s"],
    )
    flat = _flat(
        c,
        per_state,
        keys,
        [
            ("n", "sum(_n)"),
            ("kmin", "min(_kmin)"),
            ("kmax", "max(_kmax)"),
            ("first_state", "min_by(_s, _kmin)"),
            ("last_state", "max_by(_s, _kmax)"),
            ("ents", _STATE_ENTS),
        ],
    )
    return select(
        c, flat, [*_qs(keys), _stateagg_pack_sql(col, "_f_kmin._us", "_f_kmax._us")]
    )


_STATE_ENTS = (
    "collect_list(CASE WHEN _s IS NOT NULL THEN named_struct("
    "'_s', _s, 'dn', named_struct('d', _d, 'n', _n)) END)"
)


def _stateagg_pack_sql(
    col: str, first: str = "_f_first_us", last: str = "_f_last_us"
) -> str:
    return (
        "CASE WHEN _f_n > 0 THEN named_struct("
        f"'n', _f_n, 'first_us', {first}, 'last_us', {last}, "
        "'first_state', _f_first_state, 'last_state', _f_last_state, "
        "'durations', map_from_entries(array_sort(_f_ents))"
        f") END AS {_q(col)}"
    )


def _stateagg_merge(c, d, keys, spec):
    """Per-state held time: the partials' duration maps add per state,
    and each boundary gap lands on the EARLIER partial's last state
    (LOCF). Output ``(keys…, _s, _d, _n)``."""
    gap = f"(_st.first_us - {_prev('last_us', keys)})"
    d = select(
        c,
        d,
        [
            *_qs(keys),
            "_st",
            f"{_prev('last_state', keys)} AS _bstate",
            f"CASE WHEN {gap} > 0 THEN {gap} END AS _bgap",
        ],
    )
    # explode_outer: a NULL state keeps its group as one NULL-state row
    ex = select(c, d, [*_qs(keys), "explode_outer(_st.durations) AS (_s, _dn)"])
    within = select(c, ex, [*_qs(keys), "_s", "_dn.d AS _d", "_dn.n AS _n"])
    boundary = select(
        c,
        d,
        [*_qs(keys), "_bstate AS _s", "_bgap AS _d", "CAST(0 AS BIGINT) AS _n"],
        where="_bstate IS NOT NULL AND _bgap IS NOT NULL",
    )
    return select(
        c,
        union(c, [within, boundary]),
        [*_qs(keys), "_s", "sum(_d) AS _d", "sum(_n) AS _n"],
        group=[*_qs(keys), "_s"],
    )


def _stateagg_pack(c, m, d, keys, col, spec):
    maps = select(c, m, [*_qs(keys), f"{_STATE_ENTS} AS _f_ents"], group=_qs(keys))
    books = _flat(
        c, d, keys, _MERGED_SPAN + _merged_bookends("first_state", "last_state")
    )
    return select(
        c,
        join(c, books, maps, keys, "INNER", ["_f_ents"]),
        [*_qs(keys), _stateagg_pack_sql(col)],
    )


def _stateagg_ctor(args, rw):
    if len(args) != 2:
        raise ValueError("state_agg(ts, state)")
    return {"state": rw(args[1])}, _time_arg(args[0])


STATE_AGG = Family(
    key="state_aggs",
    kind="state_agg",
    doc="""``state_aggs``: output column -> ``{"state": <expr>,
    "tiebreak": [cols…]}``: a mergeable STATE-AGG partial per (bucket,
    group) — ``struct(n, first_us, last_us, first_state, last_state,
    durations: map<state, struct(d, n)>)`` with the toolkit
    ``state_agg(ts, state)`` LOCF semantics (a state holds until the
    next sample; the final sample holds zero time; NULL states are
    skipped — strict). Merging adjacent partials adds the boundary gap
    to the EARLIER partial's last state, so
    ``state_durations_at_grain`` serves exact per-state durations at
    any coarser grain — the toolkit ``duration_in(state,
    rollup(state_agg(...)))`` idiom.""",
    state=_stateagg_state,
    merge=_stateagg_merge,
    pack=_stateagg_pack,
    finalize=_outputs([("state", "_s"), ("duration_us", "_d"), ("n", "_n")]),
    required="state",
    expr_fields=("state",),
    ctors={"state_agg": _stateagg_ctor},
    ordered=True,
    serve="state_durations_at_grain",
    # num_vals is the aggregate's TOTAL sample count (summed over
    # states before the duration_in state filter)
    accessors={"num_vals": "n", "duration_in": "duration_us"},
    interp={"interpolated_duration_in": "duration_us"},
    interp_method="_interpolated_duration_in_rel",
    srf=(
        "into_values",
        "state_durations_at_grain",
        "state",
        lambda spec: ("state", "duration_us"),
    ),
    per_state=True,
)


# ================================================== frequency (topn)
def _freq_cap(spec) -> int:
    return int(spec.get("capacity", 256))


def _mg_pack(c, flat: str, keys, col: str, cap: int) -> str:
    """Misra–Gries trim of an exact ``array<struct(c, v)>`` count list
    ``_f_ents`` to ``cap`` entries: sort by (count desc, value asc),
    subtract the (cap+1)-th count from the survivors, drop the
    non-positive remainder (the offline SpaceSaving construction; error
    bound per value ≤ N/(cap+1), and summed lower bounds stay mergeable
    — Agarwal et al., "Mergeable Summaries", PODS'12). When a bucket's
    distinct count ≤ cap the cut is 0 and the stored counts are
    EXACT."""
    se = select(
        c,
        flat,
        [
            *_qs(keys),
            "_f_n",
            "array_sort(_f_ents, (a, b) -> CASE "
            "WHEN a.c > b.c THEN -1 WHEN a.c < b.c THEN 1 "
            "WHEN a.v < b.v THEN -1 WHEN a.v > b.v THEN 1 ELSE 0 END) AS _f_se",
        ],
    )
    cut = f"IF(size(_f_se) > {cap}, element_at(_f_se, {cap + 1}).c, CAST(0 AS BIGINT))"
    return select(
        c,
        se,
        [
            *_qs(keys),
            "CASE WHEN _f_n > 0 THEN named_struct('n', _f_n, 'counts', "
            f"map_from_entries(filter(transform(slice(_f_se, 1, {cap}), "
            f"e -> named_struct('v', e.v, 'c', e.c - {cut})), e -> e.c > 0))) "
            f"END AS {_q(col)}",
        ],
    )


#: the trim only consults the cap+1 heaviest values, so a rank window
#: drops everything below the cut BEFORE the collect — the state build
#: is ≤ cap+1 entries per group at any grain ratio
_FREQ_ORDER = ["_c DESC", "_v ASC NULLS LAST"]


def _freq_state(c, cagg, raw, col, spec):
    """``struct(n, counts: map<string,long>)`` — a Misra–Gries /
    SpaceSaving summary of at most ``capacity`` heavy hitters, built
    from EXACT within-bucket counts, then trimmed
    (functions/stats.py:freq_sketch_topn is the raw-scan analog). NULL
    values are skipped; n counts non-NULL samples."""
    cap = _freq_cap(spec)
    base, keys = _base(c, cagg, raw, f"CAST(({spec['value']}) AS STRING) AS _v")
    # exact (bucket, group, value) counts — the map-side combine
    # collapses rows to distinct values before the exchange
    cnt = select(
        c, base, [*_qs(keys), "_v", "count(_v) AS _c"], group=[*_qs(keys), "_v"]
    )
    # bound the per-group state BEFORE collecting; the same ordered
    # window carries the group's total-sample sum as a FULL frame — one
    # sort, one WindowExec
    wo = _over(keys, _FREQ_ORDER)
    ranked = select(
        c,
        cnt,
        [
            *_qs(keys),
            "_v",
            "_c",
            f"row_number() OVER ({wo}) AS _rk",
            f"sum(_c) OVER ({wo} ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND UNBOUNDED FOLLOWING) AS _tot",
        ],
    )
    flat = select(
        c,
        ranked,
        [
            *_qs(keys),
            "min(_tot) AS _f_n",
            "collect_list(CASE WHEN _v IS NOT NULL THEN "
            "named_struct('c', _c, 'v', _v) END) AS _f_ents",
        ],
        where=f"_rk <= {cap + 1}",
        group=_qs(keys),
    )
    return _mg_pack(c, flat, keys, col, cap)


def _freq_merge(c, d, keys, spec):
    """Per-value lower bounds ADD across states (Misra–Gries union):
    ``(keys…, _v, _c)``."""
    ex = select(c, d, [*_qs(keys), "explode(_st.counts) AS (_v, _c)"])
    return select(c, ex, [*_qs(keys), "_v", "sum(_c) AS _c"], group=[*_qs(keys), "_v"])


def _freq_pack(c, m, d, keys, col, spec):
    cap = _freq_cap(spec)
    ents = select(
        c,
        top(c, m, keys, _FREQ_ORDER, cap + 1),
        [*_qs(keys), "collect_list(named_struct('c', _c, 'v', _v)) AS _f_ents"],
        group=_qs(keys),
    )
    totals = _flat(c, d, keys, [("n", "sum(_st.n)")])
    # a NULL _f_ents (every parent state NULL) flows through the trim as
    # NULL and is masked by the n guard
    return _mg_pack(c, join(c, totals, ents, keys, "LEFT", ["_f_ents"]), keys, col, cap)


def _freq_ctor(fn):
    def parse(args, rw):
        # toolkit freq_agg(min_freq, value): any value with frequency >
        # min_freq·N must surface — the Misra–Gries guarantee with
        # capacity ≥ 1/min_freq. topn_agg(n, value) sizes generously so
        # top-n stays reliable.
        if fn == "freq_agg" and len(args) == 1:
            return {"value": rw(args[0])}, None
        if len(args) != 2:
            raise ValueError(f"{fn}([min_freq | n,] value)")
        try:
            fv = float(args[0].strip())
        except ValueError:
            raise ValueError(
                f"{fn} first argument must be a numeric literal"
            ) from None
        if fn == "freq_agg" and not (0.0 < fv <= 1.0):
            raise ValueError("freq_agg min_freq must be in (0, 1]")
        if fn == "topn_agg" and fv < 1:
            raise ValueError("topn_agg n must be >= 1")
        if fn == "freq_agg":
            return {"value": rw(args[1]), "capacity": int(math.ceil(1.0 / fv))}, None
        # the toolkit's topn(agg) without an explicit n serves the
        # agg's own n — record it
        return {"value": rw(args[1]), "capacity": max(256, int(fv)), "n": int(fv)}, None

    return parse


def _freq_inherit(col, spec, pspec):
    spec.setdefault("capacity", pspec.get("capacity", 256))
    # a topn_agg parent records its declared n so the SQL route's bare
    # topn(rollup(col)) serves it — a child must inherit it too
    if "n" in pspec:
        spec.setdefault("n", pspec["n"])
    return spec


def _freq_validate(col, spec):
    if _freq_cap(spec) <= 0:
        raise ValueError(f"freq_agg {col!r}: capacity must be positive")
    return spec


_freq_finalize = _outputs([("value", "_v"), ("freq_lb", "_c")])


def _freq_top(c, m, keys, spec, n=None):
    """The ``n`` most frequent values per key (default: the recorded
    ``topn_agg`` n, else 10) — count desc, value asc."""
    n = int(spec.get("n", 10)) if n is None else n
    best = top(c, _freq_finalize(c, m, keys, spec), keys, ["freq_lb DESC", "value ASC"], n)
    return select(c, best, [*_qs(keys), "value", "freq_lb"])


FREQ = Family(
    key="freq_aggs",
    kind="freq",
    doc="""``freq_aggs``: output column -> ``{"value": <expr>,
    "capacity": k}``: a Misra–Gries/SpaceSaving frequency partial per
    (bucket, group) — ``struct(n, counts: map<string,long>)`` of at
    most ``capacity`` heavy hitters (toolkit ``freq_agg``/``topn_agg``).
    Lower bounds sum across merged states (Agarwal et al., PODS'12), so
    ``topn_at_grain`` serves "top values per hour, at any grain" —
    exactly whenever each bucket's distinct count fits the capacity.""",
    state=_freq_state,
    merge=_freq_merge,
    pack=_freq_pack,
    finalize=_freq_finalize,
    ctors={"freq_agg": _freq_ctor("freq_agg"), "topn_agg": _freq_ctor("topn_agg")},
    inherit=_freq_inherit,
    validate=_freq_validate,
    srf=("topn", "topn_at_grain", "value", lambda spec: ("value", "freq_lb")),
    srf_finalize=_freq_top,
)


# ==================================================== max_n / min_n
def _maxn_params(spec):
    return int(spec.get("n", 5)), bool(spec.get("desc", True)), spec.get("by") is not None


def _maxn_order(desc: bool, has_by: bool, v: str = "_v", d: str = "_d"):
    """Candidate order: value, then payload, in the list's direction;
    NULLS LAST so a NULL value never occupies a kept rank."""
    way = "DESC" if desc else "ASC"
    return [f"{c} {way} NULLS LAST" for c in ([v, d] if has_by else [v])]


def _maxn_pack_sql(col: str, has_by: bool) -> str:
    vals = (
        "'vals', transform(_f_ents, e -> e.v), 'data', transform(_f_ents, e -> e.d)"
        if has_by
        else "'vals', _f_vals"
    )
    return f"CASE WHEN _f_n > 0 THEN named_struct('n', _f_n, {vals}) END AS {_q(col)}"


def _maxn_collect(kept: str, has_by: bool, desc: bool) -> str:
    """The sorted candidate list of the rows where ``kept`` holds:
    ``_f_ents`` (by the selection rank ``_rk``) with a payload, else
    ``_f_vals``."""
    if has_by:
        # sort stored entries by the selection rank, not by the (v, d)
        # struct: struct comparison orders NULL payloads smallest, which
        # for asc contradicts the window's NULLS LAST payload order
        return (
            f"sort_array(collect_list(CASE WHEN {kept} THEN named_struct("
            f"'r', _rk, 'v', _v, 'd', _d) END), true) AS _f_ents"
        )
    return (
        f"sort_array(collect_list(CASE WHEN {kept} THEN _v END), "
        f"{str(not desc).lower()}) AS _f_vals"
    )


def _maxn_state(c, cagg, raw, col, spec):
    """The ``n`` largest (smallest) values, sorted — top-n of a union is
    the top-n of the concatenated candidate lists, so every grain is
    exact (functions/stats.py:max_n is the raw-scan analog). Built with
    a bounded rank window, never a whole-bucket collect. With a ``by``
    payload the state carries a parallel ``data`` array ordered by
    (value, data), so value ties resolve deterministically."""
    keep, desc, has_by = _maxn_params(spec)
    cols = [_double(spec["value"], "_v")]
    if has_by:
        cols.append(f"({spec['by']}) AS _d")
    base, keys = _base(c, cagg, raw, *cols)
    # every (bucket, group) keeps its row, with a NULL state when all
    # values were NULL (strict)
    order = _maxn_order(desc, has_by)
    ranked = c.add(
        f"SELECT *, row_number() OVER ({_over(keys, order)}) AS _rk FROM {base}"
    )
    flat = select(
        c,
        ranked,
        [
            *_qs(keys),
            "count(_v) AS _f_n",
            _maxn_collect(f"_rk <= {keep} AND _v IS NOT NULL", has_by, desc),
        ],
        group=_qs(keys),
    )
    return select(c, flat, [*_qs(keys), _maxn_pack_sql(col, has_by)])


def _maxn_merge(c, d, keys, spec):
    """The concatenated candidate lists ``(keys…, _v[, _d])``; equal
    values are interchangeable, so rank tie-order never changes the
    kept multiset."""
    if not _maxn_params(spec)[2]:
        return select(c, d, [*_qs(keys), "explode(_st.vals) AS _v"])
    ex = select(c, d, [*_qs(keys), "explode(arrays_zip(_st.vals, _st.data)) AS _e"])
    return select(c, ex, [*_qs(keys), "_e.vals AS _v", "_e.data AS _d"])


def _maxn_pack(c, m, d, keys, col, spec):
    keep, desc, has_by = _maxn_params(spec)
    cand = select(
        c,
        top(c, m, keys, _maxn_order(desc, has_by), keep),
        [*_qs(keys), _maxn_collect("true", has_by, desc)],
        group=_qs(keys),
    )
    totals = _flat(c, d, keys, [("n", "sum(_st.n)")])
    return select(
        c,
        join(c, totals, cand, keys, "LEFT", ["_f_ents" if has_by else "_f_vals"]),
        [*_qs(keys), _maxn_pack_sql(col, has_by)],
    )


def _maxn_finalize(c, m, keys, spec):
    has_by = _maxn_params(spec)[2]
    return select(
        c, m, [*_qs(keys), "_v AS value", *(["_d AS data"] if has_by else [])]
    )


def _maxn_top(c, m, keys, spec, n=None):
    """The ``n`` best values per key (default: the stored list length),
    best-first, with the payload of a ``max_n_by`` column."""
    keep, desc, has_by = _maxn_params(spec)
    n = keep if n is None else n
    if n > keep:
        raise ValueError(
            f"max_n_at_grain(n={n}) exceeds the stored candidate "
            f"list length ({keep}) — recreate the cagg with a "
            f"larger n"
        )
    order = _maxn_order(desc, has_by, "value", "data")
    best = top(c, _maxn_finalize(c, m, keys, spec), keys, order, n)
    return select(c, best, [*_qs(keys), *_maxn_cols(spec)])


def _maxn_cols(spec):
    return ("value", "data") if _maxn_params(spec)[2] else ("value",)


def _maxn_ctor(fn):
    def parse(args, rw):
        if fn.endswith("_by"):
            # toolkit max_n_by(value, data, n): the top-n values with an
            # accompanying payload per entry
            if len(args) != 3:
                raise ValueError(f"{fn}(value, data, n)")
            value, by, n = args
        else:
            if len(args) != 2:
                raise ValueError(f"{fn}(value, n)")
            value, by, n = args[0], None, args[1]
        nk, nv = _lit(n)
        if nk != "int":
            raise ValueError(f"{fn} n must be an integer literal")
        spec = {"value": rw(value)}
        if by is not None:
            spec["by"] = rw(by)
        spec.update(n=int(nv), desc=fn.startswith("max"))
        return spec, None

    return parse


def _maxn_inherit(col, spec, pspec):
    # the candidate-list length and direction are state properties — a
    # child cannot keep MORE than the parent
    p_n, p_desc = int(pspec.get("n", 5)), pspec.get("desc", True)
    spec.setdefault("n", p_n)
    spec.setdefault("desc", p_desc)
    if pspec.get("by") is not None:
        spec.setdefault("by", pspec["by"])
    if int(spec["n"]) > p_n:
        raise ValueError(
            f"rollup_of={col!r}: child n ({spec['n']}) cannot exceed the "
            f"parent's ({p_n}) — the parent states only keep that many values"
        )
    if bool(spec["desc"]) != bool(p_desc):
        raise ValueError(
            f"rollup_of={col!r}: child direction must match the parent's "
            f"(desc={p_desc})"
        )
    return spec


def _maxn_validate(col, spec):
    if int(spec.get("n", 5)) <= 0:
        raise ValueError(f"max_n {col!r}: n must be positive")
    return spec


MAXN = Family(
    key="maxn_aggs",
    kind="max_n",
    doc="""``maxn_aggs``: output column -> ``{"value": <expr>, "n": k,
    "desc": True|False, "by": <expr>?}``: the ``n`` largest (smallest)
    values per (bucket, group) — ``struct(n, vals: array<double>)``
    (toolkit ``max_n``/``min_n``), plus a parallel ``data`` array with
    a ``by`` payload (``max_n_by``). Top-n candidate lists merge
    losslessly, so ``max_n_at_grain`` is exact at every grain.""",
    state=_maxn_state,
    merge=_maxn_merge,
    pack=_maxn_pack,
    finalize=_maxn_finalize,
    expr_fields=("value", "by"),
    ctors={fn: _maxn_ctor(fn) for fn in ("max_n", "min_n", "max_n_by", "min_n_by")},
    inherit=_maxn_inherit,
    validate=_maxn_validate,
    srf=("into_values", "max_n_at_grain", "value", _maxn_cols),
    srf_finalize=_maxn_top,
)


# ======================================================== heartbeat
def _hb_state(c, cagg, raw, col, spec):
    """``live_us`` is the union length of the per-heartbeat ``[t,
    t+liveness)`` intervals over the bucket's own heartbeats, the LAST
    beat contributing its full interval (functions/state.py:
    heartbeat_agg is the raw-scan analog)."""
    liv = int(spec["liveness_us"])
    base, keys, tbs = _ordered_input(c, cagg, raw, spec)
    wo = _over(keys, ["_us ASC", *[f"{t} ASC" for t in tbs]])
    gap = f"(lead(_us) OVER ({wo}) - _us)"
    stepped = select(
        c,
        base,
        [
            *_qs(keys),
            "_us",
            f"CASE WHEN {gap} IS NULL THEN {liv} ELSE least({gap}, {liv}) END AS _live",
            f"CAST(({gap} > {liv}) AS BIGINT) AS _brk",
        ],
    )
    return _agg_pack(
        c,
        stepped,
        keys,
        col,
        [
            ("n", "count(1)"),
            ("first_us", "min(_us)"),
            ("last_us", "max(_us)"),
            ("live_us", "sum(_live)"),
            ("ranges", "1 + coalesce(sum(_brk), 0)"),
        ],
    )


def _hb_merge(c, d, keys, spec):
    """One boundary correction per adjacent pair: the earlier partial's
    last beat contributed the full liveness L but in the merged sequence
    contributes ``min(gap, L)``, and a gap ≤ L joins two live
    ranges."""
    liv = int(spec["liveness_us"])
    prev = _prev("last_us", keys)
    gap = f"(_st.first_us - {prev})"
    d = select(
        c,
        d,
        [
            *_qs(keys),
            "_st",
            f"coalesce(CASE WHEN {prev} IS NOT NULL THEN "
            f"{liv} - least({gap}, {liv}) END, 0) AS _corr",
            f"CASE WHEN {prev} IS NOT NULL AND {gap} <= {liv} "
            f"THEN 1 ELSE 0 END AS _join",
        ],
    )
    return _flat(
        c,
        d,
        keys,
        _MERGED_SPAN
        + [
            ("live_us", "sum(_st.live_us) - sum(_corr)"),
            ("ranges", "sum(_st.ranges) - sum(_join)"),
        ],
    )


def _hb_ctor(args, rw):
    # heartbeat_agg(ts, 'liveness interval') — the toolkit form also
    # takes (start, agg_interval), which the cagg bucket supplies here
    if len(args) != 2:
        raise ValueError("heartbeat_agg(ts, liveness)")
    lk, lv = _lit(args[1])
    if lk not in ("interval", "string"):
        raise ValueError("heartbeat_agg liveness must be an interval literal")
    return {"liveness": str(lv)}, _time_arg(args[0])


def _hb_inherit(col, spec, pspec):
    # stored live times depend on the liveness interval — a child cannot
    # reinterpret the parent's states. Compare normalized microseconds:
    # '5 minutes' == '300 seconds' == 300000000
    p_liv = pspec.get("liveness")
    if "liveness" in spec and _liveness_us(spec["liveness"]) != _liveness_us(p_liv):
        raise ValueError(
            f"rollup_of={col!r}: child liveness must match the parent's "
            f"({p_liv!r})"
        )
    spec["liveness"] = p_liv
    return spec


def _hb_validate(col, spec):
    from .functions.time import parse_interval

    liv = spec["liveness"]
    liv_us = _liveness_us(liv)
    if liv_us <= 0 or (not isinstance(liv, int) and parse_interval(liv).months):
        raise ValueError(
            f"heartbeat {col!r}: liveness must be a positive fixed-width "
            f"interval"
        )
    return {**spec, "liveness_us": liv_us}


HEARTBEAT = Family(
    key="heartbeat_aggs",
    kind="heartbeat",
    doc="""``heartbeat_aggs``: output column -> ``{"liveness":
    <interval>, "tiebreak": [cols…]}``: a liveness partial per (bucket,
    group) — ``struct(n, first_us, last_us, live_us, ranges)`` where
    ``live_us`` is the union length of the per-heartbeat ``[t,
    t+liveness)`` intervals (toolkit ``heartbeat_agg``). Adjacent
    partials merge with one boundary correction each, so
    ``heartbeat_at_grain`` serves exact live_time/dead_time/
    num_live_ranges at any grain — the ops analog of the counter
    family.""",
    state=_hb_state,
    merge=_hb_merge,
    pack=_struct_pack("n first_us last_us live_us ranges".split()),
    # dead_us is the uncovered time within the observed span
    # [first_us, last_us + L)
    finalize=_outputs(
        lambda spec: [
            ("n", "_f_n"),
            ("live_us", "_f_live_us"),
            (
                "dead_us",
                f"_f_last_us + {int(spec['liveness_us'])} - _f_first_us - _f_live_us",
            ),
            ("num_live_ranges", "_f_ranges"),
            ("first_us", "_f_first_us"),
            ("last_us", "_f_last_us"),
        ]
    ),
    required="liveness",
    expr_fields=(),
    ctors={"heartbeat_agg": _hb_ctor},
    inherit=_hb_inherit,
    validate=_hb_validate,
    ordered=True,
    serve="heartbeat_at_grain",
    accessors={
        "live_time": "live_us",
        "dead_time": "dead_us",
        "num_live_ranges": "num_live_ranges",
        "num_heartbeats": "n",
        "first_time": "first_us",
        "last_time": "last_us",
    },
    interp={
        "interpolated_live_time": "live_us",
        "interpolated_dead_time": "dead_us",
    },
    interp_method="_heartbeat_interpolated_rel",
)


# ========================================================= t-digest
def _td_delta(spec) -> int:
    return int(spec.get("delta", 200))


def _td_state(c, cagg, raw, col, spec):
    """``struct(n, min, max, means, weights)`` — ≤ ``delta`` centroids
    binned by the k1 scale function, singletons (lossless) while the
    bucket holds ≤ ``delta`` values (functions/tdigest.py has the
    algorithm notes)."""
    from .functions.tdigest import build_states_sql

    base, keys = _base(c, cagg, raw, f"({spec['value']}) AS _tdv")
    return build_states_sql(c, base, keys, "_tdv", _td_delta(spec), col)


def _td_merge(c, d, keys, spec):
    """Order-independent global re-sort + re-bin of the centroids."""
    from .functions.tdigest import merge_states_sql

    return merge_states_sql(c, d, keys, "_st", _td_delta(spec), "_td")


def _td_percentiles(c, m, keys, spec, qs=None, ranks=()):
    """The exact ``n``/``min_val``/``max_val``/``mean`` and the
    quantiles ``qs`` (none when ``qs`` is None) plus each ``(value,
    out)`` rank, in one projection of the merged digest."""
    from .functions.tdigest import quantile_cols, rank_col

    cols = [] if qs is None else quantile_cols("_td", list(qs))
    return select(c, m, [*_qs(keys), *cols, *[rank_col("_td", v, out) for v, out in ranks]])


def _td_pack(c, m, d, keys, col, spec):
    return select(c, m, [*_qs(keys), f"_td AS {_q(col)}"])


def _td_ctor(args, rw):
    # toolkit tdigest(size, value): size is the compression (max
    # centroids)
    if len(args) != 2:
        raise ValueError("tdigest(size, value)")
    nk, nv = _lit(args[0])
    if nk != "int" or int(nv) < 2:
        raise ValueError("tdigest size must be an integer literal >= 2")
    return {"value": rw(args[1]), "delta": int(nv)}, None


def _td_inherit(col, spec, pspec):
    # the compression is a state property: a larger child delta cannot
    # invent resolution the parent states no longer hold
    p_delta = _td_delta(pspec)
    spec.setdefault("delta", pspec.get("delta", 200))
    if int(spec["delta"]) > p_delta:
        raise ValueError(
            f"rollup_of={col!r}: child delta ({spec['delta']}) cannot "
            f"exceed the parent's ({p_delta}) — the parent states only "
            f"keep that many centroids"
        )
    return spec


def _td_validate(col, spec):
    if _td_delta(spec) < 2:
        raise ValueError(f"tdigest {col!r}: delta (compression) must be >= 2")
    return spec


TDIGEST = Family(
    key="tdigest_aggs",
    kind="tdigest",
    doc="""``tdigest_aggs``: output column -> ``{"value": <expr>,
    "delta": d}``: a mergeable T-DIGEST percentile state per (bucket,
    group) — ``struct(n, min, max, means, weights)`` with ≤ ``delta``
    k1-binned centroids (toolkit ``tdigest``, the rank-error sibling of
    the DDSketch family; Dunning & Ertl arXiv:1902.04023).
    ``tdigest_quantiles_at_grain`` serves ``approx_percentile`` at any
    coarser grain with free regrouping; lossless (exact
    percentile_cont) while a served group holds ≤ delta values.""",
    state=_td_state,
    merge=_td_merge,
    pack=_td_pack,
    finalize=partial(_td_percentiles, qs=[]),
    ctors={"tdigest": _td_ctor},
    inherit=_td_inherit,
    validate=_td_validate,
    serve="tdigest_summary_at_grain",
    accessors={
        "num_vals": "n",
        "min_val": "min_val",
        "max_val": "max_val",
        "mean": "mean",
    },
    percentile=("tdigest_quantiles_at_grain", "tdigest_rank_at_grain"),
    percentiles=_td_percentiles,
)


# ============================================================ table
#: every family, in build order (the realtime union's join chain and
#: the catalog row follow it)
FAMILIES: tuple[Family, ...] = (
    SKETCH,
    COUNTER,
    GAUGE,
    STATS,
    TIME_WEIGHT,
    CANDLESTICK,
    STATE_AGG,
    FREQ,
    MAXN,
    HEARTBEAT,
    TDIGEST,
)
BY_KEY = {f.key: f for f in FAMILIES}
#: toolkit SQL constructor name -> family
BY_CTOR = {fn: f for f in FAMILIES for fn in f.ctors}


def family_of(row: dict, col: str) -> Optional[Family]:
    """The family storing partial column ``col`` of catalog row ``row``."""
    return next((f for f in FAMILIES if col in (row.get(f.key) or {})), None)


def partials(row: dict):
    """``(family, column, spec)`` for every partial column of a cagg."""
    return [
        (f, col, spec)
        for f in FAMILIES
        for col, spec in (row.get(f.key) or {}).items()
    ]


def normalize(fam: Family, col: str, spec: dict, pspec: Optional[dict]) -> dict:
    """Validated, defaulted spec of one ``create_cagg`` family column;
    ``pspec`` is the parent column's spec for a ``rollup_of`` child."""
    spec = dict(spec)
    if "rollup_of" in spec:
        if pspec is None:
            raise ValueError(
                f"rollup_of={spec['rollup_of']!r}: the source hypertable "
                f"is not a cagg mat table with a {fam.key} column of that "
                f"name"
            )
        if fam.inherit:
            spec = fam.inherit(col, spec, pspec)
    elif fam.required not in spec:
        raise ValueError(
            f"{fam.kind} partial {col!r} needs a {fam.required!r} "
            f"expression (or 'rollup_of' for a hierarchical rollup)"
        )
    return fam.validate(col, spec) if fam.validate else spec
