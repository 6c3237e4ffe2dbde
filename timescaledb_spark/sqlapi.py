"""TimescaleDB-flavored SQL surface: ``TSSession.sql(query)``.

The reference is SQL-first — every hyperfunction (``time_bucket``,
``first``/``last``, ``histogram``, ``time_bucket_gapfill`` + ``locf`` /
``interpolate``) is called from plain SQL over hypertables (reference
``sql/time_bucket.sql``, ``sql/gapfill.sql``, ``sql/histogram.sql``). This
module gives a user of the reference the same entry point on Spark:

- each hypertable is bound as a leading CTE over its long-lived scan
  relation (``scan.py``), so the whole statement is planned in one
  ``spark.sql`` call; so is each continuous aggregate, as the CTEs of
  its user view over the mat and source scan relations, built with
  only the value columns the statement names; plain tables are
  per-statement temp views;
- the toolkit ``acc(rollup(col))`` idiom over a continuous aggregate is
  served from its stored partials (:func:`_try_rollup_accessors`): the
  accessor's relation builder joins the same one-statement CTE chain;
- hyperfunction calls are **macro-expanded at parse time** into pure
  Spark-SQL expressions (the exact same formulas as the Column API in
  ``functions/`` — no UDFs, fully Catalyst-optimizable / codegen);
- time, space-key and chunk-stats predicates in the WHERE clause drive
  **chunk exclusion** (the SQL-path analog of plan-time ChunkAppend
  pruning, reference ``src/planner/hypertable_restrict_info.c``): the
  hypertable's CTE carries ``_chunk`` / ``_space`` partition predicates
  that Catalyst prunes the relation's file index with. The statement's
  structure comes from Spark's own parse tree (``sqltree.py``): a
  relation's bounds are the ``col OP literal``, ``col BETWEEN literal
  AND literal`` and ``col IN (literals)`` AND conjuncts of the WHERE of
  its own query block, reached through joins and aliases only; any
  other conjunct (OR, NOT, arithmetic, ``now()``) adds no bound while
  the rest still prune, and a table scanned twice is not pruned;
- ``time_bucket_gapfill`` statements are recognized as a (constrained)
  statement shape and routed through the gapfill operator
  (``operators/gapfill.py``), the analog of the reference's GapFill plan
  node being injected above the aggregation (``tsl/src/nodes/gapfill/``).

Macro expansion keeps everything in the JVM: the emitted SQL contains
only built-in functions, so a 100 TB scan pays zero Python tax.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime
from functools import partial
from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F

from .cagg_families import FAMILIES, family_of
from . import storage
from .scan import Ctes, q as _q, sql_literal
from .sqltree import Statement
from .functions.time import (
    parse_interval,
    time_bucket_int_sql,
    time_bucket_sql,
)

__all__ = ["ts_sql", "rewrite_sql"]

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


# ---------------------------------------------------------------------------
# lexer helpers: quote-aware scanning
# ---------------------------------------------------------------------------

def _skip_string(sql: str, i: int) -> int:
    """``i`` points at a quote char; return index just past the literal
    (handles '' doubling AND backslash escapes — Spark's default dialect
    accepts ``'it\\'s'``, and treating the escaped quote as a
    terminator inverts the in-string state for the rest of the
    statement, silently disabling macro expansion after it)."""
    q = sql[i]
    j = i + 1
    while j < len(sql):
        ch = sql[j]
        if ch == "\\" and j + 1 < len(sql):
            j += 2
            continue
        if ch == q:
            if q == "'" and j + 1 < len(sql) and sql[j + 1] == "'":
                j += 2
                continue
            return j + 1
        j += 1
    return j


def _strip_strings(sql: str) -> str:
    """Replace quoted literals with spaces (for structure-only regexes)."""
    out = []
    i = 0
    while i < len(sql):
        ch = sql[i]
        if ch in "'\"`":
            j = _skip_string(sql, i)
            out.append(" " * (j - i))
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _matching_paren(sql: str, i: int) -> int:
    """``i`` points at '('; return index of the matching ')'."""
    depth = 0
    while i < len(sql):
        ch = sql[i]
        if ch in "'\"`":
            i = _skip_string(sql, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parentheses in SQL")


def _split_args(argstr: str) -> list[str]:
    """Split a call's argument string on top-level commas."""
    args, depth, start, i = [], 0, 0, 0
    while i < len(argstr):
        ch = argstr[i]
        if ch in "'\"`":
            i = _skip_string(argstr, i)
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            args.append(argstr[start:i].strip())
            start = i + 1
        i += 1
    tail = argstr[start:].strip()
    if tail or args:
        args.append(tail)
    return args


def _find_calls(sql: str, names: set[str]):
    """Yield (name_start, name, arg_start, arg_end_exclusive, close_idx)
    for every top-level textual call to one of ``names`` (leftmost first,
    outermost first — args may contain further calls; callers recurse)."""
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"`":
            i = _skip_string(sql, i)
            continue
        m = _IDENT.match(sql, i)
        if not m:
            i += 1
            continue
        word = m.group(0)
        j = m.end()
        prev = sql[i - 1] if i > 0 else ""
        if word.lower() in names and prev != "." and not (prev.isalnum() or prev == "_"):
            k = j
            while k < n and sql[k].isspace():
                k += 1
            if k < n and sql[k] == "(":
                close = _matching_paren(sql, k)
                yield (i, word.lower(), k + 1, close, close)
                i = close + 1
                continue
        i = j
    return


# ---------------------------------------------------------------------------
# literal classification (positional-arg overload dispatch, PG-style)
# ---------------------------------------------------------------------------

_NAMED = re.compile(r"^\s*([A-Za-z_]\w*)\s*=>\s*(.+)$", re.S)
_TYPED_LIT = re.compile(
    r"^\s*(interval|timestamptz|timestamp|date)\s+'((?:[^']|'')*)'\s*$", re.I | re.S
)
_PLAIN_LIT = re.compile(r"^\s*'((?:[^']|'')*)'\s*(?:::\s*[A-Za-z_ ]+)?\s*$", re.S)
_INT_LIT = re.compile(r"^\s*[+-]?\d+\s*$")


def _unq(s: str) -> str:
    return s.replace("''", "'")


def _literal_of(arg: str):
    """Classify an argument into ('interval'|'timestamp'|'string'|'int',
    value) or (None, None) for non-literal expressions."""
    m = _TYPED_LIT.match(arg)
    if m:
        kind, body = m.group(1).lower(), _unq(m.group(2))
        if kind == "interval":
            return "interval", body
        return "timestamp", body
    if _INT_LIT.match(arg):
        return "int", int(arg.strip())
    m = _PLAIN_LIT.match(arg)
    if m:
        return "string", _unq(m.group(1))
    return None, None


def _is_tz_name(s: str) -> bool:
    if "/" in s:
        try:
            from zoneinfo import ZoneInfo

            ZoneInfo(s)
            return True
        except Exception:
            return False
    return s.upper() in {"UTC", "GMT", "Z"}


def _try_interval(s: str):
    try:
        return parse_interval(s)
    except ValueError:
        return None


def _try_timestamp(s: str) -> bool:
    try:
        datetime.fromisoformat(s)
        return True
    except ValueError:
        return False


# ---------------------------------------------------------------------------
# macro expanders
# ---------------------------------------------------------------------------

def _expand_time_bucket(args: list[str]) -> str:
    """``time_bucket(width, ts [, origin|offset|timezone ...])`` →
    the exact formula SQL (sql/time_bucket.sql overload set; dispatch on
    the width literal's type, as PG dispatches on argument type)."""
    if len(args) < 2:
        raise ValueError("time_bucket needs (width, time_expr)")
    wkind, wval = _literal_of(args[0])
    ts_expr = args[1]

    if wkind == "int":  # integer-time overloads (ts_int64_bucket)
        offset = 0
        for a in args[2:]:
            nm = _NAMED.match(a)
            if nm:
                if nm.group(1).lower() != "offset":
                    raise ValueError(f"unknown time_bucket arg {nm.group(1)!r}")
                a = nm.group(2)
            k, v = _literal_of(a)
            if k != "int":
                raise ValueError("integer time_bucket offset must be a literal int")
            offset = v
        return "(" + time_bucket_int_sql(wval, ts_expr, offset) + ")"

    if wkind not in ("interval", "string"):
        raise ValueError(
            "time_bucket width must be an INTERVAL/string literal "
            "(macro expansion bakes the bucket formula into the plan)"
        )
    origin = offset = tzname = None
    for a in args[2:]:
        nm = _NAMED.match(a)
        if nm:
            name, val = nm.group(1).lower(), nm.group(2)
            k, v = _literal_of(val)
            if k is None:
                raise ValueError(f"time_bucket {name} must be a literal")
            if name == "origin":
                origin = str(v)
            elif name == "offset":
                offset = str(v) if k != "int" else int(v)
            elif name == "timezone":
                tzname = str(v)
            else:
                raise ValueError(f"unknown time_bucket arg {name!r}")
            continue
        k, v = _literal_of(a)
        if k == "interval":
            offset = v
        elif k == "timestamp":
            origin = v
        elif k == "string":
            if _try_interval(v) is not None and not _is_tz_name(v):
                offset = v
            elif _is_tz_name(v):
                tzname = v
            elif _try_timestamp(v):
                origin = v
            else:
                raise ValueError(f"cannot classify time_bucket argument {a!r}")
        else:
            raise ValueError(
                f"time_bucket extra args must be literals, got {a!r}"
            )
    return "(" + time_bucket_sql(wval, ts_expr, origin=origin, offset=offset, timezone=tzname) + ")"


def _expand_first_last(fn: str, args: list[str]) -> Optional[str]:
    """Timescale ``first(value, time)`` / ``last(value, time)``
    (sql/aggregates.sql) → ``min_by`` / ``max_by``. A 2-arg call whose
    second arg is a boolean literal is Spark's own ``first(col,
    ignoreNulls)`` and is left untouched."""
    if len(args) != 2:
        return None
    if args[1].strip().lower() in ("true", "false"):
        return None
    agg = "min_by" if fn == "first" else "max_by"
    return f"{agg}({args[0]}, {args[1]})"


def _expand_histogram(args: list[str]) -> str:
    """``histogram(v, min, max, nbuckets)`` (src/histogram.c:33-120) →
    ``nbuckets + 2`` conditional sums packed into an array — identical
    semantics and state shape to ``functions.histogram`` (O(nbuckets)
    agg buffer, map-side partial aggregation)."""
    if len(args) != 4:
        raise ValueError("histogram(value, min, max, nbuckets)")
    v = args[0]
    try:
        lo = float(args[1])
        hi = float(args[2])
        nb = int(args[3])
    except ValueError as e:
        raise ValueError("histogram bounds/nbuckets must be numeric literals") from e
    if lo > hi:
        raise ValueError("lower bound cannot exceed upper bound")
    vv = f"cast(({v}) as double)"
    wb = (
        f"(case when {vv} < {lo} then 0 "
        f"when {vv} >= {hi} then {nb + 1} "
        f"else cast(floor(({vv} - {lo}) / ({hi} - {lo}) * {nb}) + 1 as int) end)"
    )
    slots = ", ".join(
        f"cast(sum(case when {wb} = {i} then 1 else 0 end) as int)"
        for i in range(nb + 2)
    )
    return f"array({slots})"


def _uuid_ts_us_sql(u: str) -> str:
    """Unix µs from a UUIDv7 string — SQL form of
    ``functions.uuid7.uuid_timestamp_micros`` (48-bit ms + 12-bit
    sub-ms fraction, reference uuid_v7 timestamp extraction)."""
    return (
        f"(cast(conv(concat(substring(({u}), 1, 8), substring(({u}), 10, 4)), 16, 10) as bigint) * 1000"
        f" + cast(floor(cast(conv(substring(({u}), 16, 3), 16, 10) as bigint) * 1000 / 4096) as bigint))"
    )


def _expand_uuid_timestamp(args: list[str]) -> str:
    if len(args) != 1:
        raise ValueError("uuid_timestamp(uuid)")
    return f"timestamp_micros({_uuid_ts_us_sql(args[0])})"


def _expand_uuid_timestamp_micros(args: list[str]) -> str:
    if len(args) != 1:
        raise ValueError("uuid_timestamp_micros(uuid)")
    return _uuid_ts_us_sql(args[0])


def _uuidv7_sql(us_expr: str, rand_src: Optional[str]) -> str:
    """SQL form of ``functions.uuid7.to_uuidv7`` / ``to_uuidv7_boundary``
    (sql/uuidv7.sql:17,25): 48-bit unix ms | version 7 nibble | 12-bit
    scaled µs remainder | variant '10' | tail. ``rand_src`` fills the
    62 random bits (None -> boundary UUID with a zero tail)."""
    us = f"({us_expr})"
    ms = f"cast(floor({us} / 1000) as bigint)"
    frac = f"cast(floor(({us} - {ms} * 1000) * 4096 / 1000) as bigint)"
    time_hex = f"lpad(lower(hex({ms})), 12, '0')"
    ver_frac = f"lpad(lower(hex(28672 + {frac})), 4, '0')"
    if rand_src is None:
        var_hex, tail_hex = "'8000'", "'000000000000'"
    else:
        r = f"abs({rand_src})"
        var_hex = f"lpad(lower(hex(32768 + pmod({r}, 16384))), 4, '0')"
        tail_hex = (
            f"lpad(lower(hex(pmod(cast(floor({r} / 16384) as bigint), "
            f"281474976710656))), 12, '0')"
        )
    return (
        f"concat_ws('-', substring({time_hex}, 1, 8), "
        f"substring({time_hex}, 9, 4), {ver_frac}, {var_hex}, {tail_hex})"
    )


def _expand_to_uuidv7(args: list[str]) -> str:
    """Deterministic UUIDv7 from a timestamp (tail from xxhash64 of the
    timestamp [+ optional seed], matching functions/uuid7.to_uuidv7)."""
    if len(args) not in (1, 2):
        raise ValueError("to_uuidv7(ts [, seed])")
    us = f"unix_micros(cast(({args[0]}) as timestamp))"
    seed = f"xxhash64({us}, ({args[1]}))" if len(args) == 2 else f"xxhash64({us})"
    return _uuidv7_sql(us, seed)


def _expand_to_uuidv7_boundary(args: list[str]) -> str:
    if len(args) != 1:
        raise ValueError("to_uuidv7_boundary(ts)")
    return _uuidv7_sql(f"unix_micros(cast(({args[0]}) as timestamp))", None)


def _expand_generate_uuidv7(args: list[str]) -> str:
    """``generate_uuidv7()`` (sql/uuidv7.sql:5): current time + random
    tail (uuid()'s entropy hashed to 62 bits)."""
    if args and any(a.strip() for a in args):
        raise ValueError("generate_uuidv7()")
    return _uuidv7_sql("unix_micros(now())", "xxhash64(uuid())")


def _expand_uuid_version(args: list[str]) -> str:
    if len(args) != 1:
        raise ValueError("uuid_version(uuid)")
    return f"cast(conv(substring(({args[0]}), 15, 1), 16, 10) as int)"


def _expand_time_bucket_uuid(args: list[str]) -> str:
    """``time_bucket`` over a UUIDv7 column (sql/time_bucket.sql:19-45
    ``ts_uuid_bucket`` overload family — PG dispatches on the uuid type;
    SQL surface uses an explicit name since view schemas are stringly)."""
    if len(args) < 2:
        raise ValueError("time_bucket_uuid(width, uuid_expr, ...)")
    ts_expr = f"timestamp_micros({_uuid_ts_us_sql(args[1])})"
    return _expand_time_bucket([args[0], ts_expr, *args[2:]])


def _bad_outside_gapfill(fn: str, args: list[str]) -> str:
    raise ValueError(
        f"{fn}() is only valid around an aggregate in a time_bucket_gapfill "
        "query (reference gapfill_exec.c checks the same)"
    )


# -- toolkit two-step aggregates: accessor(stats_agg(..)) -------------------
# The toolkit idiom is ``SELECT average(stats_agg(v))`` /
# ``slope(stats_agg(y, x))`` / ``approx_percentile(0.5,
# percentile_agg(v))`` (timescaledb-toolkit stats_agg & percentile
# families). The accessor-over-aggregate pair macro-expands to ONE
# built-in Spark aggregate, so the two-step surface costs nothing at
# plan time. Accessors that collide with real SQL functions (sum,
# stddev, variance, corr, skewness, kurtosis) only rewrite when their
# argument IS a stats_agg(..) call and pass through untouched otherwise.

_STATS_1D_ACCESSORS = {
    "average": "avg({v})",
    "sum": "sum({v})",
    "num_vals": "cast(count({v}) as bigint)",
    "stddev": "stddev_samp({v})",
    "variance": "var_samp({v})",
    "skewness": "skewness({v})",
    "kurtosis": "kurtosis({v})",
}
_STATS_2D_ACCESSORS = {
    "slope": "regr_slope({y}, {x})",
    "intercept": "regr_intercept({y}, {x})",
    "x_intercept": "(-regr_intercept({y}, {x}) / regr_slope({y}, {x}))",
    "corr": "corr({y}, {x})",
    "covariance": "covar_samp({y}, {x})",
    "determination_coefficient": "regr_r2({y}, {x})",
}

_INNER_CALL = re.compile(r"^\s*([a-zA-Z_]\w*)\s*\((.*)\)\s*$", re.S)


def _inner_call(arg: str, name: str) -> Optional[list[str]]:
    m = _INNER_CALL.match(arg)
    if not m or m.group(1).lower() != name:
        return None
    return _split_args(m.group(2))


def _expand_stats_accessor(fn: str, args: list[str]) -> Optional[str]:
    if len(args) != 1:
        return None
    inner = _inner_call(args[0], "stats_agg")
    if inner is None:
        return None  # not the toolkit idiom; leave SQL builtins alone
    if len(inner) == 1 and fn in _STATS_1D_ACCESSORS:
        return "(" + _STATS_1D_ACCESSORS[fn].format(v=inner[0]) + ")"
    if len(inner) == 2 and fn in _STATS_2D_ACCESSORS:
        # toolkit 2D form is stats_agg(y, x)
        return "(" + _STATS_2D_ACCESSORS[fn].format(y=inner[0], x=inner[1]) + ")"
    raise ValueError(
        f"{fn}(stats_agg(..)) expects a {'one' if fn in _STATS_1D_ACCESSORS else 'two'}-variable stats_agg"
    )


def _expand_approx_percentile(args: list[str]) -> Optional[str]:
    """``approx_percentile(p, percentile_agg(v))`` (toolkit UddSketch) →
    exact ``percentile(v, p)`` — distributed partial aggregation makes
    the sketch unnecessary at gate scale; Spark's percentile_approx is
    the documented opt-in for huge groups."""
    if len(args) != 2:
        return None
    inner = _inner_call(args[1], "percentile_agg")
    if inner is None or len(inner) != 1:
        return None
    return f"percentile({inner[0]}, {args[0]})"


_MACROS: dict[str, Callable] = {
    "time_bucket": lambda fn, args, ctx: _expand_time_bucket(args),
    "first": lambda fn, args, ctx: _expand_first_last(fn, args),
    "last": lambda fn, args, ctx: _expand_first_last(fn, args),
    "histogram": lambda fn, args, ctx: _expand_histogram(args),
    "uuid_timestamp": lambda fn, args, ctx: _expand_uuid_timestamp(args),
    "uuid_timestamp_micros": lambda fn, args, ctx: _expand_uuid_timestamp_micros(args),
    "uuid_version": lambda fn, args, ctx: _expand_uuid_version(args),
    "to_uuidv7": lambda fn, args, ctx: _expand_to_uuidv7(args),
    "to_uuidv7_boundary": lambda fn, args, ctx: _expand_to_uuidv7_boundary(args),
    "generate_uuidv7": lambda fn, args, ctx: _expand_generate_uuidv7(args),
    "time_bucket_uuid": lambda fn, args, ctx: _expand_time_bucket_uuid(args),
    "locf": lambda fn, args, ctx: _bad_outside_gapfill(fn, args),
    "interpolate": lambda fn, args, ctx: _bad_outside_gapfill(fn, args),
    "approximate_row_count": lambda fn, args, ctx: _expand_approx_count(args, ctx),
    "approx_percentile": lambda fn, args, ctx: _expand_approx_percentile(args),
    **{
        name: (lambda fn, args, ctx: _expand_stats_accessor(fn, args))
        for name in {**_STATS_1D_ACCESSORS, **_STATS_2D_ACCESSORS}
    },
}


def _expand_approx_count(args: list[str], ctx) -> str:
    """``approximate_row_count('table')`` (sql/size_utils.sql:150) —
    resolved driver-side from parquet footers (no scan), spliced in as a
    literal."""
    k, v = _literal_of(args[0]) if args else (None, None)
    if k != "string" or ctx is None:
        raise ValueError("approximate_row_count('hypertable_name')")
    ht = ctx.get_hypertable(v)
    return f"cast({ht.approximate_row_count()} as bigint)"


def rewrite_sql(sql: str, ctx=None) -> str:
    """Expand every hyperfunction macro in ``sql`` (recursing into call
    arguments). ``ctx`` is the TSSession (only needed for table-level
    macros like approximate_row_count)."""
    out = []
    last = 0
    for (start, name, a0, a1, close) in _find_calls(sql, set(_MACROS)):
        args = [rewrite_sql(a, ctx) for a in _split_args(sql[a0:a1])]
        expansion = _MACROS[name](name, args, ctx)
        if expansion is None:  # not actually ours (e.g. Spark first(x, true))
            expansion = sql[start:a0] + ", ".join(args) + ")"
        out.append(sql[last:start])
        out.append(expansion)
        last = close + 1
    out.append(sql[last:])
    return "".join(out)


# ---------------------------------------------------------------------------
# statement-level entry
# ---------------------------------------------------------------------------

_VIEW_SEQ = [0]


def _sub_table_refs(sql: str, mapping: dict[str, str]) -> str:
    """Replace bare table-name identifiers (outside string literals, not
    behind a '.') with their statement-unique names."""
    out = []
    i = 0
    low = {k.lower(): v for k, v in mapping.items()}
    while i < len(sql):
        ch = sql[i]
        if ch in "'\"`":
            j = _skip_string(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        m = _IDENT.match(sql, i)
        if m:
            word = m.group(0)
            prev = sql[i - 1] if i > 0 else ""
            if word.lower() in low and prev != ".":
                out.append(low[word.lower()])
            else:
                out.append(word)
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


#: leading whitespace and comments of a statement
_LEAD = r"(?:\s+|--[^\n]*(?:\n|$)|/\*.*?\*/)*"
_WITH_HEAD = re.compile(_LEAD + r"with\s+(?:recursive\s+)?", re.I | re.S)
_CTE_HEAD = re.compile(r"\s*([A-Za-z_]\w*)\s*(?:\([^()]*\)\s*)?as\s*\(", re.I)


def _leading_with(sql: str):
    """A statement's top-level ``WITH`` list: ``(head_end, [(name,
    body_start, body_end)])`` — or None when it has none."""
    st = _strip_strings(sql)
    m = _WITH_HEAD.match(st)
    if not m:
        return None
    i, ctes = m.end(), []
    while True:
        h = _CTE_HEAD.match(st, i)
        if not h:
            return None
        close = _matching_paren(sql, h.end() - 1)
        ctes.append((h.group(1), h.end(), close))
        c = re.match(r"\s*,", st[close + 1:])
        if not c:
            return m.end(), ctes
        i = close + 1 + c.end()


def _sub_scoped(sql: str, mapping: dict[str, str]) -> str:
    """:func:`_sub_table_refs` that respects a user ``WITH`` naming a CTE
    like an engine table: inside that CTE's own body (and earlier
    ones) the name is still the table; after it, it is the CTE and is
    left alone. CTE names themselves are never rewritten."""
    wl = _leading_with(sql)
    if wl is None:
        return _sub_table_refs(sql, mapping)
    head_end, ctes = wl
    visible = {k.lower(): v for k, v in mapping.items()}
    out, pos = [sql[:head_end]], head_end
    for name, b0, b1 in ctes:
        out.append(sql[pos:b0])
        out.append(_sub_table_refs(sql[b0:b1], visible))
        pos = b1
        visible.pop(name.lower(), None)
    out.append(_sub_table_refs(sql[pos:], visible))
    return "".join(out)


_QUERY_START = re.compile(_LEAD + r"(?:select|with|values|table|from|\()", re.I | re.S)


@dataclass
class _Bound:
    """A statement with its engine tables bound as leading CTEs
    (``ctes``): a hypertable ``_ts_sql_<n>_<table> AS (<scan>)`` over
    its scan relation (``scan.py``), a cagg its user view
    (``ContinuousAggregate._bind``) ending in the CTE
    ``_ts_sql_<n>_<cagg>``, a plain table its
    :meth:`TSSession.table_sql`."""

    ts: object
    sql: str
    ctes: Ctes = field(default_factory=Ctes)

    def df(self, body: Optional[str] = None) -> DataFrame:
        """``spark.sql`` of ``body`` (default: the bound statement) with
        the table CTEs in front, in one call."""
        body = self.sql if body is None else body
        if not self.ctes.items:
            return self.ts.spark.sql(body)
        if not _QUERY_START.match(body):
            raise ValueError(
                "hypertables, continuous aggregates and tables can only "
                "be read by queries (SELECT / WITH / VALUES / TABLE)"
            )
        m = _WITH_HEAD.match(body)
        head, rest, sep = (
            (body[: m.end()], body[m.end():], ", ") if m else ("WITH ", body, " ")
        )
        return self.ts.scans.plan(
            self.ctes.scans,
            lambda views: f"{head}{self.ctes.render(views)}{sep}{rest}",
        )


def _bind_tables(ts, sql: str, stmt: Statement) -> _Bound:
    """Bind every engine table ``sql`` reads as a relation under a
    statement-unique name ``_ts_sql_<n>_<table>`` (never clobbering
    same-named session views the caller may own) and rewrite the
    references. Hypertables get chunk-, space- and stats-pruned scans
    when the WHERE clause of their query block bounds them
    (``sqltree.py``); ``stmt`` is ``sql``'s parsed structure."""
    mapping: dict[str, str] = {}
    _VIEW_SEQ[0] += 1
    uid = _VIEW_SEQ[0]
    bound = _Bound(ts, sql, Ctes(f"_ts_cte_{uid}"))
    for row in ts.catalog.hypertable.read():
        name = row["name"]
        if not stmt.scans(name):
            continue
        ht = ts.get_hypertable(name)
        quals = stmt.quals(name)
        lo, hi = quals.time_bounds(ht.time_column)
        space_key = where_stats = None
        if ht.row.get("space_column"):
            space_key = quals.space_keys(ht.row["space_column"])
        if quals.conjuncts:
            # stat-tracked columns (enable_chunk_skipping / compress
            # stats): numeric WHERE bounds additionally exclude chunks
            # whose recorded min/max cannot overlap — SQL users get the
            # same skipping the where_stats API argument provides
            stat_cols = {
                s["column"]
                for s in ts.catalog.chunk_column_stats.find(hypertable_id=ht.id)
            } - {ht.time_column}
            where_stats = {
                sc: b
                for sc in sorted(stat_cols)
                if (b := quals.numeric_bounds(sc)) != (None, None)
            } or None
        vname = f"_ts_sql_{uid}_{name}"
        bound.ctes.scan(
            ht._scan(start=lo, end=hi, space_key=space_key, where_stats=where_stats),
            vname,
        )
        mapping[name] = vname
    for row in ts.catalog.continuous_agg.read():
        if row["name"] not in mapping and stmt.scans(row["name"]):
            vname = f"_ts_sql_{uid}_{row['name']}"
            cagg = ts.get_cagg(row["name"])
            cagg._bind(bound.ctes, vname, stmt.columns(cagg._value_cols()))
            mapping[row["name"]] = vname
    for row in ts.catalog.plain_table.read():
        if row["name"] not in mapping and stmt.scans(row["name"]):
            vname = f"_ts_sql_{uid}_{row['name']}"
            bound.ctes.add(ts.table_sql(row["name"]), vname)
            mapping[row["name"]] = vname
    if mapping:
        bound.sql = _sub_scoped(sql, mapping)
    return bound


def _query_tables(ts, sql: str, stmt: Optional[Statement] = None) -> DataFrame:
    """``sql`` (a query over engine tables) as a DataFrame: bound,
    macro-expanded and planned in one ``spark.sql`` call."""
    bound = _bind_tables(ts, sql, stmt or Statement(ts, sql))
    return bound.df(rewrite_sql(bound.sql, ts))


_INFO_VIEWS = (
    "hypertables", "chunks", "dimensions", "continuous_aggregates",
    "hypertable_compression_settings", "hypertable_columnstore_settings",
    "chunk_compression_settings", "chunk_columnstore_settings",
    "compression_settings", "jobs", "job_stats", "job_history",
    "job_errors",
)


def _register_info_views(ts, sql: str) -> str:
    """``timescaledb_information.<view>`` (sql/views.sql) → temp views.
    Spark temp views cannot be schema-qualified, so references are
    rewritten to ``timescaledb_information_<view>`` and the catalog-backed
    DataFrame (views.py) is registered under that name."""
    from . import views as _views

    if "timescaledb_information" not in sql.lower():
        return sql
    stripped = _strip_strings(sql)
    for v in _INFO_VIEWS:
        pat = re.compile(rf"\btimescaledb_information\s*\.\s*{v}\b", re.I)
        if pat.search(stripped):
            name = f"timescaledb_information_{v}"
            getattr(_views, v)(ts).createOrReplaceTempView(name)
            sql = pat.sub(name, sql)
    return sql


_INSERT_RE = re.compile(
    r"^\s*insert\s+into\s+([A-Za-z_]\w*)\s*(?:\(([^)]*)\))?\s+(.*)$",
    re.I | re.S,
)




def _scanned_chunk_dirs(df) -> set[str]:
    """Chunk dirs the plan's file scans will actually read: the
    partitions each scan selects after partition pruning (a scan
    relation's file index spans the whole hypertable root)."""
    from .plans.inspect import selected_partition_files

    out: set[str] = set()
    for f in selected_partition_files(df):
        if "/_chunk=" in f:
            root, chunk = f.split("/_chunk=", 1)
            out.add(root + "/_chunk=" + chunk.split("/", 1)[0])
    return out


def _run_explain(ts, inner: str) -> DataFrame:
    """``EXPLAIN <select>`` — the reference's plan transparency surface
    (ChunkAppend rows print "Chunks excluded during startup: N",
    tsl/src/nodes/chunk_append/explain.c). Returns one row per physical
    plan line, prefixed by a per-hypertable chunk-exclusion summary
    counted from the partitions the scans select. Read-only: only SELECT/WITH
    statements are explainable (our EXPLAIN never executes the plan;
    DML here would have to run to be planned)."""
    if not re.match(r"(?is)^(select|with)\b", inner.strip()):
        raise ValueError(
            "EXPLAIN supports SELECT/WITH statements only "
            "(DML/admin statements execute eagerly in this engine)"
        )
    q = _register_info_views(ts, inner)
    stmt = Statement(ts, q)
    df = _select(ts, q, stmt)
    plan = df._jdf.queryExecution().executedPlan().toString()
    header: list[str] = []
    scanned = _scanned_chunk_dirs(df)
    by_root: dict[str, int] = {}
    if scanned:
        for p in scanned:
            by_root[p.split("/_chunk=")[0]] = by_root.get(
                p.split("/_chunk=")[0], 0
            ) + 1
        for row in ts.catalog.hypertable.read():
            name = row.get("name")
            try:
                ht = ts.get_hypertable(name)
            except Exception:
                continue
            root = ht.data_dir.rstrip("/")
            n_scanned = by_root.get(root, 0)
            if root in by_root:
                total = len(ht.chunks())
                header.append(
                    f"Hypertable {name}: chunks total={total} "
                    f"scanned={n_scanned} excluded={total - n_scanned}"
                )
    # realtime-cagg transparency (parity with the reference's cagg
    # EXPLAIN goldens, tsl/test/sql/cagg_union_view.sql): annotate the
    # mat/raw union split and the baked watermark literal, with chunk
    # exclusion reported on BOTH sides
    for row in ts.catalog.continuous_agg.read():
        name = row.get("name")
        if not stmt.scans(name):
            continue
        try:
            cg = ts.get_cagg(name)
        except Exception:
            continue
        if cg.row.get("materialized_only", False):
            header.append(
                f"Cagg {name}: materialized-only "
                f"(mat hypertable {row['mat_table']})"
            )
            continue
        wm = cg.watermark()
        if wm is None:
            wm_txt = "-infinity (never refreshed)"
        elif cg.row.get("time_is_timestamp"):
            from datetime import timezone as _tz

            wm_txt = datetime.fromtimestamp(
                wm / 1_000_000, tz=_tz.utc
            ).strftime("%Y-%m-%d %H:%M:%S+00")
        else:
            wm_txt = str(wm)

        def _side(ht) -> str:
            total = len(ht.chunks())
            n = by_root.get(ht.data_dir.rstrip("/"), 0)
            return f"chunks total={total} scanned={n} excluded={total - n}"

        header.append(
            f"Cagg {name} (realtime union, watermark {wm_txt}): "
            f"mat[{row['mat_table']}] bucket < watermark — "
            f"{_side(cg._mat())}; raw[{cg._source().name}] time >= "
            f"watermark — {_side(cg._source())}"
        )
    lines = header + plan.rstrip("\n").split("\n")
    return ts.spark.createDataFrame([(l,) for l in lines], "plan_line string")

def _strip_qualifiers(text: str, names) -> str:
    """Remove ``name.`` qualifier prefixes OUTSIDE string literals (a
    naive regex would rewrite the inside of ``'e.g. test'`` and silently
    change the filter's meaning). Character walk mirroring
    :func:`_sub_table_refs`: strings are skipped verbatim; an identifier
    in ``names`` followed by a dot is dropped along with the dot."""
    low = {n.lower() for n in names}
    out: list[str] = []
    i = 0
    while i < len(text):
        ch = text[i]
        if ch in "'\"`":
            j = _skip_string(text, i)
            out.append(text[i:j])
            i = j
            continue
        m = _IDENT.match(text, i)
        if m:
            word = m.group(0)
            prev = text[i - 1] if i > 0 else ""
            if word.lower() in low and prev != ".":
                k = m.end()
                while k < len(text) and text[k] in " \t\n":
                    k += 1
                if k < len(text) and text[k] == ".":
                    k += 1
                    while k < len(text) and text[k] in " \t\n":
                        k += 1
                    i = k  # drop "name ." — resume at the column name
                    continue
            out.append(word)
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


_ORDERED_SCAN_RE = re.compile(
    r"(?is)^select\s+"
    r"(?P<cols>\*|[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s+"
    r"from\s+(?P<tbl>[A-Za-z_]\w*)"
    r"(?:\s+(?:as\s+)?(?!where\b|order\b)(?P<alias>[A-Za-z_]\w*))?"
    r"(?:\s+where\s+(?P<where>.*?))?"
    r"\s+order\s+by\s+(?P<ocol>[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)?)"
    r"(?:\s+(?P<dir>asc|desc))?\s*$"
)


def _try_ordered_scan(ts, q: str, stmt: Statement):
    """Ordered-append detection for SQL (`should_chunk_append`,
    src/planner/planner.c:1018; golden test/sql/plan_ordered_append.sql):
    an unbounded ``SELECT cols FROM <hypertable> [WHERE ...] ORDER BY
    <time> [ASC|DESC]`` routes to :meth:`Hypertable.read_ordered` —
    catalog-ordered per-chunk sorted scans, zero Exchange — instead of
    Catalyst's sample + range-partition global sort. The shape is
    deliberately narrow (single table, simple select list, no LIMIT —
    LIMIT already plans as TakeOrderedAndProject); anything else, or any
    analysis failure of the re-applied WHERE, returns None and takes the
    normal path. The WHERE is re-applied verbatim as a filter (pushed
    through the local sorts by Catalyst), so the extracted time bounds
    only need to be a pruning superset, never exact."""
    m = _ORDERED_SCAN_RE.match(q)
    if m is None:
        return None
    name = m.group("tbl")
    if not ts.catalog.hypertable.find_one(name=name):
        return None
    ht = ts.get_hypertable(name)
    alias = m.group("alias")
    ocol = re.sub(r"\s", "", m.group("ocol"))
    if "." in ocol:
        qual, ocol = ocol.split(".", 1)
        if qual.lower() not in {name.lower(), (alias or "").lower()}:
            return None
    if ocol.lower() != ht.time_column.lower():
        return None
    desc = (m.group("dir") or "asc").lower() == "desc"
    where = m.group("where")
    lo = hi = None
    wtext = None
    if where is not None:
        lo, hi = stmt.quals(name).time_bounds(ht.time_column)
        wtext = _strip_qualifiers(where, {alias, name} - {None})
    df = ht.read_ordered(start=lo, end=hi, desc=desc)
    try:
        if wtext is not None:
            df = df.filter(F.expr(wtext))
        cols = m.group("cols").strip()
        if cols != "*":
            df = df.select(*[c.strip() for c in cols.split(",")])
        df.schema  # force analysis; unsupported expressions fall back
    except Exception:
        return None
    return df


_DISTINCT_SCAN_RE = re.compile(
    r"(?is)^select\s+distinct\s+"
    r"(?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s+"
    r"from\s+(?P<tbl>[A-Za-z_]\w*)\s*$"
)


def _try_distinct_skipscan(ts, q: str):
    """Generic DISTINCT SkipScan detection (tsl/src/nodes/skip_scan/
    planner.c:576): ``SELECT DISTINCT <col>[, <col>…] FROM
    <hypertable>`` routes to :meth:`Hypertable.distinct_values` —
    columnstore chunks answer from their recorded segment keys (single
    column) or segment-key tuples (multi column, round 10) with zero
    I/O; only uncovered chunks scan. Deliberately narrow (bare columns,
    no WHERE/aliases); anything else takes the normal full-scan
    DISTINCT path, which is correct just not skip-accelerated."""
    m = _DISTINCT_SCAN_RE.match(q)
    if m is None:
        return None
    name = m.group("tbl")
    if not ts.catalog.hypertable.find_one(name=name):
        return None
    ht = ts.get_hypertable(name)
    cols = [c.strip() for c in m.group("cols").split(",")]
    try:
        return ht.distinct_values(cols[0] if len(cols) == 1 else cols)
    except ValueError:
        return None  # unknown column: let the normal path raise its error


def _group_by_matches_select_keys(cl, sel, balias, grain) -> bool:
    """Validate the rollup route's GROUP BY (ADVICE r10): the
    clause must name exactly the bucket/group items of the SELECT list
    — by 1-based position, output alias, bare name, or the identical
    ``time_bucket`` call. Grouping inferred from SELECT alone silently
    answers e.g. ``SELECT approx_percentile(...) FROM csk GROUP BY
    loc`` (valid SQL need not select the grouped column) with one
    global row; any other grouping must fall through so the normal
    path errors loudly."""
    from .sqlgapfill import _head_call, _split_select_items

    key_idx = [i for i, (k, _a, _p) in enumerate(sel) if k in ("b", "g")]
    gb_clause = (cl.get("group by") or "").strip()
    if not gb_clause:
        # bucket/group columns selected without a GROUP BY: not a
        # valid aggregate query
        return not key_idx
    matched: set = set()
    for it in _split_select_items(gb_clause):
        it = it.strip()
        hit = None
        if re.fullmatch(r"\d+", it):
            pos = int(it) - 1
            if 0 <= pos < len(sel) and sel[pos][0] in ("b", "g"):
                hit = pos
        else:
            bh = _head_call(it, {"time_bucket"})
            if bh is not None:
                # GROUP BY time_bucket(w, bucket): must be the same
                # call as the SELECT's re-bucket item
                if (
                    len(bh[1]) == 2
                    and grain is not None
                    and bh[1][1].strip().split(".")[-1].strip() == balias
                ):
                    wk, wv = _literal_of(bh[1][0])
                    w = int(wv) if wk == "int" else str(wv)
                    if w == grain:
                        hit = next(
                            (i for i in key_idx if sel[i][0] == "b"),
                            None,
                        )
            else:
                name = it.split(".")[-1].strip()
                for i in key_idx:
                    kind, out_alias, payload = sel[i]
                    if kind == "g" and name in (payload, out_alias):
                        hit = i
                        break
                    if kind == "b" and name in (balias, out_alias):
                        hit = i
                        break
        if hit is None:
            return False
        matched.add(hit)
    return matched == set(key_idx)


def _parse_float_array(s: str) -> Optional[list[float]]:
    """Parse an ``ARRAY[0.5, 0.9]`` / ``array(0.5, 0.9)`` literal of
    numeric literals; None when it is anything else."""
    t = s.strip()
    if not t.lower().startswith("array"):
        return None
    t = t[5:].strip()
    if len(t) < 2 or t[0] not in "[(" or t[-1] not in "])":
        return None
    out = []
    for part in t[1:-1].split(","):
        try:
            out.append(float(part.strip()))
        except ValueError:
            return None
    return out or None


_PCT_FNS = ("approx_percentile", "approx_percentile_rank", "approx_percentile_array")
#: every toolkit accessor name the rollup route recognizes: each
#: family's plain, 2-D, interpolated, set-returning and percentile
#: accessors
_ROLLUP_FNS = frozenset(
    fn
    for f in FAMILIES
    for v in (f, f.variant[1] if f.variant else f)
    for fn in (
        *v.accessors,
        *v.interp,
        *(v.srf[:1] if v.srf else ()),
        *(_PCT_FNS if v.percentile else ()),
    )
)


def _try_rollup_accessors(ts, q: str):
    """The toolkit rollup-accessor idiom over a continuous aggregate —
    ``SELECT [time_bucket(w, bucket) | bucket,] group…,
    fn(…rollup(col)) AS a… FROM <cagg> [GROUP BY …]`` with ``fn`` any
    accessor the family table lists for ``col``: plain (``delta``,
    ``num_vals``…), interpolated, set-returning (``topn``,
    ``into_values``) or percentile (``approx_percentile[_rank|_array]``).
    Stored partials merge to the requested grain and the realtime union
    builds raw-side partials only above the watermark: the accessor's
    relation builder and the final projection are ONE CTE chain, planned
    in one ``spark.sql`` call.

    Refused (None — the normal path then fails loudly on ``rollup``):
    WHERE/HAVING/ORDER/LIMIT, more than one rollup column, a GROUP BY
    that is not exactly the selected keys
    (:func:`_group_by_matches_select_keys`), a set-returning accessor
    beside any other, plain beside interpolated accessors, and an
    interpolated accessor without an explicit re-bucket or over a subset
    of the cagg's groups (boundary segments are per-series). Once a
    statement matches, the accessor's own errors propagate: the normal
    path can never serve ``rollup``."""
    from .functions.ddsketch import _qname
    from .sqlgapfill import (
        _alias_of,
        _clauses_of,
        _head_call,
        _split_select_items,
    )

    if not re.search(r"\brollup\s*\(", _strip_strings(q), re.I):
        return None
    try:
        cl = _clauses_of(q)
    except ValueError:
        return None
    if any(cl.get(k) for k in ("where", "having", "order by", "limit")):
        return None
    frm = (cl.get("from") or "").strip()
    if not re.fullmatch(r"[A-Za-z_]\w*", frm):
        return None
    crow = ts.catalog.continuous_agg.find_one(name=frm)
    if crow is None:
        return None
    balias = crow["bucket_alias"]
    groups = list(crow.get("group_by") or [])
    sel: list = []  # ordered (kind, out_alias, payload)
    col = fam = grain = state = srf_n = None
    has_bucket = False
    qs: list[float] = []
    ranks: list[float] = []
    for item in _split_select_items(cl["select"]):
        expr, alias = _alias_of(item)
        head = _head_call(expr, _ROLLUP_FNS | {"time_bucket"})
        if head and head[0] == "time_bucket":
            if len(head[1]) != 2 or has_bucket:
                return None
            wk, wv = _literal_of(head[1][0])
            if head[1][1].strip().split(".")[-1].strip() != balias:
                return None
            grain = int(wv) if wk == "int" else str(wv)
            has_bucket = True
            sel.append(("b", alias or balias, None))
            continue
        if head is None:
            name = expr.strip().split(".")[-1].strip()
            if name == balias and not has_bucket:
                has_bucket = True
                sel.append(("b", alias or name, None))
            elif name in groups:
                sel.append(("g", alias or name, name))
            else:
                return None
            continue
        fn, args = head
        # the one rollup(col) argument; the others are literals (the
        # percentile, the duration_in state, topn's count)
        inner = [_inner_call(a, "rollup") for a in args]
        at = [i for i, a in enumerate(inner) if a is not None]
        if len(at) != 1 or len(inner[at[0]]) != 1:
            return None
        lits = args[: at[0]] + args[at[0] + 1 :]
        name = inner[at[0]][0].strip().split(".")[-1].strip()
        f = family_of(crow, name)
        if f is None or col not in (None, name):
            return None
        col, fam = name, f.for_spec(crow[f.key][name])
        if fn in _PCT_FNS:
            if not fam.percentile or len(lits) != 1:
                return None
            if fn == "approx_percentile_array":
                # the listed percentiles serve like N approx_percentile
                # items packed into one array column, in argument order
                ps = _parse_float_array(lits[0])
                if ps is None:
                    return None
                qs += [p for p in dict.fromkeys(ps) if p not in qs]
                sel.append(("qa", alias or fn, ps))
                continue
            try:
                p = float(lits[0])
            except ValueError:
                return None
            if fn == "approx_percentile_rank":
                if p not in ranks:
                    ranks.append(p)
                sel.append(("r", alias or f"rank_{len(ranks)}", p))
            else:
                if p not in qs:
                    qs.append(p)
                sel.append(("q", alias or _qname(p), p))
        elif fam.srf and fn == fam.srf[0]:
            if fn == "topn" and len(lits) == 1:
                nk, nv = _literal_of(lits[0])
                if nk != "int":
                    return None
                srf_n = int(nv)
            elif lits:
                return None
            sel.append(("s", alias or fam.srf[2], None))
        else:
            kind = "i" if fn in fam.interp else "a"
            out = (fam.interp if kind == "i" else fam.accessors).get(fn)
            if out is None:
                return None
            if fn in ("duration_in", "interpolated_duration_in"):
                # the state literal filters the per-state frame; one
                # state per statement
                sk, sv = _literal_of(lits[0]) if len(lits) == 1 else (None, None)
                if sk != "string" or state not in (None, sv):
                    return None
                state = str(sv)
            elif lits:
                return None
            sel.append((kind, alias or fn, out))
    kinds = [k for k, _a, _p in sel if k not in ("b", "g")]
    if not kinds or not _group_by_matches_select_keys(cl, sel, balias, grain):
        return None
    # a set-returning accessor stands alone; plain and interpolated
    # accessors serve from different frames
    if kinds.count("s") > 1 or (("s" in kinds or "i" in kinds) and len(set(kinds)) > 1):
        return None
    want_groups = [p for k, _a, p in sel if k == "g"]
    # interpolated accessors need an explicit target grain and the
    # cagg's full group set (boundary segments are per-series)
    if "i" in kinds and (grain is None or sorted(want_groups) != sorted(groups)):
        return None
    cagg = ts.get_cagg(frm)
    c = Ctes()
    if "i" in kinds:
        build = getattr(cagg, fam.interp_method)
        rel = build(c, state, col, grain) if fam.per_state else build(c, col, grain)
    else:
        fin = None
        if "s" in kinds and fam.srf_finalize:
            fin = partial(fam.srf_finalize, n=srf_n)
        elif qs or ranks:
            # t-digest scalars ride on the quantile projection
            fin = partial(
                fam.percentiles,
                qs=qs if qs or "a" in kinds else None,
                ranks=[(v, f"_rk{i}") for i, v in enumerate(ranks)],
            )
        rel = cagg._serve_rel(
            c, fam, col, grain if has_bucket else "all", want_groups, None, None, None, fin
        )
        if fam.per_state and "a" in kinds:
            keys = ([balias] if has_bucket else []) + want_groups
            wants_n = any(k == "a" and p == "n" for k, _a, p in sel)
            rel = _state_totals(c, rel, keys, state, wants_n)
    cols = []
    for kind, out, p in sel:
        if kind == "s":
            first, *rest = fam.srf[3](crow[fam.key][col])
            cols += [f"{_q(first)} AS {_q(out)}", *map(_q, rest)]
            continue
        if kind == "b":
            src = _q(balias)
        elif kind == "q":
            src = _q(_qname(p))
        elif kind == "qa":
            src = f"array({', '.join(_q(_qname(x)) for x in p)})"
        elif kind == "r":
            src = _q(f"_rk{ranks.index(p)}")
        else:
            src = _q(p)
        cols.append(f"{src} AS {_q(out)}")
    return c.plan(ts, f"SELECT {', '.join(cols)} FROM {rel}")


def _state_totals(c: Ctes, rel: str, keys: list, state: Optional[str], wants_n: bool) -> str:
    """The per-state frame ``(keys…, state, duration_us, n)`` of a
    state-agg serve reduced to one row per key: ``duration_us`` of
    ``state`` and ``n``. The toolkit ``num_vals(state_agg)`` counts ALL
    samples of the aggregate, not the ``duration_in`` state's, so ``n``
    is summed over every state BEFORE the state filter."""
    ks = "".join(f"{_q(k)}, " for k in keys)
    if state is None:
        # num_vals alone
        group = f" GROUP BY {ks[:-2]}" if keys else ""
        return c.add(f"SELECT {ks}sum(n) AS n FROM {rel}{group}")
    n = ""
    if wants_n:
        part = f"PARTITION BY {ks[:-2]}" if keys else ""
        rel = c.add(f"SELECT *, sum(n) OVER ({part}) AS _nv FROM {rel}")
        n = ", _nv AS n"
    return c.add(
        f"SELECT {ks}duration_us{n} FROM {rel} WHERE state = {sql_literal(state)}"
    )


def ts_sql(ts, query: str) -> DataFrame:
    """Run a TimescaleDB-flavored SQL statement. See module docstring."""
    q = query.strip().rstrip(";").strip()
    from . import sqladmin

    ex = re.match(r"(?is)^explain\s+(.*)$", q)
    if ex:
        return _run_explain(ts, ex.group(1))

    adm = sqladmin.match_admin(q)
    if adm:
        return sqladmin.run_admin(ts, adm[0], adm[1])
    ct = sqladmin.match_create_table(q)
    if ct:
        return sqladmin.run_create_table(ts, ct)
    dr = sqladmin.match_drop_table(q)
    if dr:
        return sqladmin.run_drop_table(ts, dr[0], dr[1])
    ci = sqladmin.match_create_index(q)
    if ci:
        return sqladmin.run_create_index(ts, ci)
    alter = sqladmin.match_alter_compress(q)
    if alter:
        return sqladmin.run_alter_compress(ts, alter[0], alter[1])
    altc = sqladmin.match_alter_column(q)
    if altc:
        return sqladmin.run_alter_column(ts, altc[0], altc[1])
    altmv = sqladmin.match_alter_mv(q)
    if altmv:
        return sqladmin.run_alter_mv(ts, altmv)
    dml = sqladmin.match_dml(q)
    if dml:
        return sqladmin.run_dml(ts, dml[0], dml[1], dml[2], dml[3])
    oc = sqladmin.match_insert_on_conflict(q)
    if oc:
        return sqladmin.run_insert_on_conflict(ts, oc[0], oc[1], oc[2])
    if sqladmin.match_merge(q):
        return sqladmin.run_merge(ts, q)
    cp = sqladmin.match_copy(q)
    if cp:
        return sqladmin.run_copy(ts, cp)
    cmv = sqladmin.match_create_cagg(q)
    if cmv:
        return sqladmin.run_create_cagg(ts, cmv)
    q = _register_info_views(ts, q)
    m = _INSERT_RE.match(q)
    if m:
        name, collist, rest = m.group(1), m.group(2), m.group(3)
        # INSERT .. RETURNING expr[, ...] | * (test/sql/
        # insert_returning.sql): split the trailing clause off the
        # source query (searched on the string-stripped text so a
        # literal containing 'returning' can't split mid-value)
        ret_exprs = None
        mr = re.search(
            r"\breturning\b(.+)$", _strip_strings(rest), re.I | re.S
        )
        if mr:
            ret_exprs = rest[mr.start(1):].strip()
            rest = rest[: mr.start(0)].rstrip()
        src = _query_tables(ts, rest)
        if collist:
            cols = [c.strip() for c in collist.split(",") if c.strip()]
            if len(cols) != len(src.columns):
                raise ValueError(
                    f"INSERT column list has {len(cols)} names but the "
                    f"source produces {len(src.columns)} columns"
                )
            src = src.toDF(*cols)
        pt = ts.catalog.plain_table.find_one(name=name)
        if pt is not None and not ts.catalog.hypertable.find_one(name=name):
            # INSERT INTO a plain (dimension) table the surface created
            import json as _json
            import os as _os

            from pyspark.sql import types as _T

            if pt.get("schema_ddl"):
                schema = _T.StructType.fromJson(
                    _json.loads(pt["schema_ddl"])
                )
                want = [f.name for f in schema.fields]
                if collist:
                    cols = [c.strip() for c in collist.split(",") if c.strip()]
                    src = src.toDF(*cols)
                elif len(src.columns) == len(want) and all(
                    re.fullmatch(r"col\d+", c) for c in src.columns
                ):
                    src = src.toDF(*want)
                # PG semantics: columns absent from the INSERT column
                # list are NULL-filled, not an analysis error
                have = set(src.columns)
                src = src.select(
                    *[
                        (
                            F.col(f.name) if f.name in have else F.lit(None)
                        ).cast(f.dataType).alias(f.name)
                        for f in schema.fields
                    ]
                )
            path = pt.get("path") or _os.path.join(
                ts.catalog_root, "tables", name
            )
            storage.writer(src, "append").parquet(path)
            if pt.get("path") is None:
                ts.catalog.plain_table.update(
                    {"name": name}, {"path": path}
                )
            cnt = ts.spark.read.parquet(path).count()
            return ts.spark.createDataFrame(
                [(int(cnt),)], "total_rows bigint"
            )
        ht = ts.get_hypertable(name)
        if not collist and ht.row.get("schema_ddl"):
            # positional INSERT .. VALUES: Spark names the tuple colN;
            # map onto the declared column order like PG
            want = [f.name for f in ht._schema().fields]
            if len(src.columns) == len(want) and all(
                re.fullmatch(r"col\d+", c) for c in src.columns
            ):
                src = src.toDF(*want)
        if ht.row.get("schema_ddl"):
            # PG assignment casts: VALUES literals (e.g. DECIMAL) take the
            # target column's declared type, keeping chunk files uniform
            sch = {f.name: f.dataType for f in ht._schema().fields}
            src = src.select(
                *[
                    F.col(c).cast(sch[c]).alias(c) if c in sch else F.col(c)
                    for c in src.columns
                ]
            )
        if ret_exprs is not None:
            # PG returns the ACTUALLY-INSERTED rows. Pin the source rows
            # BEFORE the insert runs: a self-referential source (INSERT
            # INTO t SELECT .. FROM t) or a non-deterministic SELECT
            # re-evaluated after the write would return rows differing
            # from what was inserted. localCheckpoint materializes the
            # rows and truncates the lineage off the underlying table.
            src = src.localCheckpoint(eager=True)
        stats = ht.insert(src)
        if ret_exprs is not None:
            if ret_exprs.strip() == "*":
                return src
            return src.selectExpr(
                *[e for e in _split_args(ret_exprs) if e]
            )
        return ts.spark.createDataFrame(
            [(int(stats["rows"]),)], "rows_inserted bigint"
        )
    return _select(ts, q, Statement(ts, q))


def _select(ts, q: str, stmt: Statement) -> DataFrame:
    """A query statement through the first route that takes it: ordered
    append, DISTINCT skip scan, rollup accessors, gapfill, or the plain
    bound statement. ``stmt`` is ``q``'s structure, parsed at most once
    across the routes."""
    ordered = _try_ordered_scan(ts, q, stmt)
    if ordered is not None:
        return ordered
    skipscan = _try_distinct_skipscan(ts, q)
    if skipscan is not None:
        return skipscan
    rolled = _try_rollup_accessors(ts, q)
    if rolled is not None:
        return rolled
    if re.search(r"\btime_bucket_gapfill\b", _strip_strings(q), re.I):
        from .sqlgapfill import run_gapfill_statement

        return run_gapfill_statement(ts, _bind_tables(ts, q, stmt), stmt)
    return _query_tables(ts, q, stmt)
