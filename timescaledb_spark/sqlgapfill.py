"""``time_bucket_gapfill`` statements for the SQL surface.

The reference implements gapfill as a plan node injected above the
aggregation when the target list contains ``time_bucket_gapfill``
(``tsl/src/nodes/gapfill/gapfill_exec.c:gapfill_state_create``); ``locf``
and ``interpolate`` are marker functions the node interprets
(``gapfill_exec.c:gapfill_advance_timestamp``). This module does the same
at the statement level: it recognizes the (reference-shaped) query form

    SELECT time_bucket_gapfill(width, time [, timezone] [, start, finish])
             [AS alias],
           <group columns...>,
           [locf(|interpolate(] agg_expr [)] AS alias, ...
    FROM <anything Spark SQL accepts>
    [WHERE ...]
    GROUP BY ...
    [ORDER BY ...] [LIMIT n]

and routes it through the DataFrame gapfill operator
(``operators/gapfill.py``). ``start``/``finish`` default to the WHERE
clause's time restrictions, exactly like the reference
(``gapfill_exec.c:390`` "no top-level time restriction").

Constraints (clear errors otherwise): the gapfill call must be in the
top-level select list; group columns must be plain column references;
non-column select items need an ``AS`` alias.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from .operators.gapfill import interpolate, locf, time_bucket_gapfill
from .sqlapi import (
    _NAMED,
    _find_calls,
    _is_tz_name,
    _literal_of,
    _matching_paren,
    _skip_string,
    _split_args,
    _strip_strings,
    extract_time_bounds,
    rewrite_sql,
)

_CLAUSES = ["select", "from", "where", "group by", "having", "order by", "limit"]


def _clause_positions(q: str) -> dict[str, int]:
    """Start index + end-of-keyword of each top-level clause keyword
    (depth-0, quote-aware; any whitespace run between GROUP/ORDER and
    BY)."""
    stripped = _strip_strings(q)
    pos: dict[str, tuple[int, int]] = {}
    depth = 0
    i = 0
    low = stripped.lower()
    kw_res = {kw: re.compile(kw.replace(" ", r"\s+")) for kw in _CLAUSES}
    while i < len(low):
        ch = low[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_")):
            for kw in _CLAUSES:
                m = kw_res[kw].match(low, i)
                if m and kw not in pos:
                    end = m.end()
                    if end == len(low) or not (low[end].isalnum() or low[end] == "_"):
                        pos[kw] = (i, end)
                        # resume AT the keyword end, not past it: the
                        # i += 1 below would skip the very next char —
                        # a '(' in 'FROM(SELECT ...' would go uncounted
                        # and corrupt depth tracking for the whole scan
                        i = end - 1
                        break
        i += 1
    return pos


def _clauses_of(q: str) -> dict[str, str]:
    pos = _clause_positions(q)
    if "select" not in pos or "from" not in pos:
        raise ValueError("gapfill SQL must be a single SELECT ... FROM ... statement")
    ordered = sorted(pos.items(), key=lambda kv: kv[1][0])
    out = {}
    for idx, (kw, (start, kw_end)) in enumerate(ordered):
        end = ordered[idx + 1][1][0] if idx + 1 < len(ordered) else len(q)
        out[kw] = q[kw_end:end].strip()
    return out


def _split_select_items(select_list: str) -> list[str]:
    return _split_args(select_list)


_AS_RE = re.compile(r"^(.*\S)\s+as\s+([A-Za-z_]\w*)\s*$", re.I | re.S)
_COLREF = re.compile(r"^\s*(?:[A-Za-z_]\w*\s*\.\s*)?([A-Za-z_]\w*)\s*$")


def _alias_of(item: str):
    """(expr, alias) — alias required via AS for non-column expressions."""
    m = _AS_RE.match(item)
    if m:
        # make sure the 'as' is top-level (not inside parens, e.g. cast(x as int))
        head = m.group(1)
        if head.count("(") == head.count(")"):
            return head.strip(), m.group(2)
    m = _COLREF.match(item)
    if m:
        return item.strip(), m.group(1)
    return item.strip(), None


def _head_call(expr: str, names: set[str]):
    """If ``expr`` is exactly ``name( ... )`` for a name in ``names``,
    return (name, args); else None."""
    for (start, name, a0, a1, close) in _find_calls(expr, names):
        if expr[:start].strip() == "" and expr[close + 1:].strip() == "":
            return name, _split_args(expr[a0:a1])
        break
    return None


def _parse_gapfill_args(args: list[str]):
    """width, time_col_sql, timezone, start, finish from the call args
    (sql/gapfill.sql:9-26 signature set; named args supported)."""
    if len(args) < 2:
        raise ValueError("time_bucket_gapfill(width, time, ...)")
    wkind, wval = _literal_of(args[0])
    if wkind == "int":
        width = int(wval)
    elif wkind in ("interval", "string"):
        width = str(wval)
    else:
        raise ValueError("time_bucket_gapfill width must be a literal")
    tz = start = finish = None
    pos = []
    for a in args[2:]:
        nm = _NAMED.match(a)
        if nm:
            name, val = nm.group(1).lower(), nm.group(2)
            k, v = _literal_of(val)
            if k is None:
                raise ValueError(f"time_bucket_gapfill {name} must be a literal")
            if name == "timezone":
                tz = str(v)
            elif name == "start":
                start = v
            elif name in ("finish", "end"):
                finish = v
            else:
                raise ValueError(f"unknown time_bucket_gapfill arg {name!r}")
            continue
        pos.append(a)
    if pos:
        k, v = _literal_of(pos[0])
        if k == "string" and _is_tz_name(v):
            tz = v
            pos = pos[1:]
    if pos:
        if len(pos) != 2:
            raise ValueError(
                "time_bucket_gapfill positional extras must be (start, finish)"
            )
        ks, vs = _literal_of(pos[0])
        kf, vf = _literal_of(pos[1])
        if ks is None or kf is None:
            raise ValueError("gapfill start/finish must be literals")
        start, finish = vs, vf
    return width, args[1], tz, start, finish


_FILL_ARG_KEYS = {"prev", "next", "treat_null_as_missing"}


def _parse_fill(name: str, args: list[str]):
    """locf(agg [, prev=>, treat_null_as_missing=>]) / interpolate(agg)."""
    if not args:
        raise ValueError(f"{name}() needs an aggregate argument")
    agg = args[0]
    kw: dict = {}
    for a in args[1:]:
        nm = _NAMED.match(a)
        if not nm or nm.group(1).lower() not in _FILL_ARG_KEYS:
            raise ValueError(f"unsupported {name}() argument {a!r}")
        key, val = nm.group(1).lower(), nm.group(2)
        if key == "treat_null_as_missing":
            kw[key] = val.strip().lower() == "true"
        else:
            k, v = _literal_of(val)
            kw[key] = v if k is not None else F.expr(rewrite_sql(val))
    spec = locf(**kw) if name == "locf" else interpolate(**kw)
    return agg, spec


def run_gapfill_statement(ts, bound) -> DataFrame:
    """Execute a gapfill-shaped statement whose engine tables are bound
    (``sqlapi._bind_tables``): the base query carries the bound
    hypertable CTEs."""
    cl = _clauses_of(bound.sql)
    if "having" in cl:
        raise ValueError("HAVING is not supported with time_bucket_gapfill")
    items = _split_select_items(cl["select"])

    bucket_alias = "bucket"
    gf = None
    group_by: list[str] = []
    group_aliases: dict = {}
    aggs: dict = {}
    fills: dict = {}
    for item in items:
        expr, alias = _alias_of(item)
        head = _head_call(expr, {"time_bucket_gapfill"})
        if head:
            if gf is not None:
                raise ValueError("multiple time_bucket_gapfill calls")
            gf = _parse_gapfill_args(head[1])
            if alias:
                bucket_alias = alias
            continue
        fill_head = _head_call(expr, {"locf", "interpolate"})
        if fill_head:
            if alias is None:
                raise ValueError(f"alias required: {item!r} (use AS)")
            agg_sql, spec = _parse_fill(fill_head[0], fill_head[1])
            aggs[alias] = rewrite_sql(agg_sql, ts)
            fills[alias] = spec
            continue
        if _COLREF.match(expr):
            group_by.append(expr.strip())
            if alias:
                group_aliases[expr.split(".")[-1].strip()] = alias
            continue
        if alias is None:
            raise ValueError(f"alias required: {item!r} (use AS)")
        aggs[alias] = rewrite_sql(expr, ts)

    if gf is None:
        raise ValueError("no top-level time_bucket_gapfill call found")
    # GROUP BY must agree with the SELECT-derived grain: a group column
    # that is not selected would silently change the aggregation grain
    # (the operator derives groups from the select list)
    if cl.get("group by"):
        sel_names = {g.split(".")[-1].strip() for g in group_by}
        sel_names.add(bucket_alias)
        sel_aliases = set(group_aliases.values())
        gb_items = [
            g.split(".")[-1].strip() for g in _split_select_items(cl["group by"])
        ]
        positional = any(g.isdigit() for g in gb_items)
        for gname in gb_items:
            if gname.isdigit():
                continue  # positional GROUP BY 1, 2 — select-list order
            if gname not in sel_names and gname not in sel_aliases:
                raise ValueError(
                    f"GROUP BY column {gname!r} must appear in the "
                    f"SELECT list of a time_bucket_gapfill statement"
                )
        if not positional:
            # ... and the reverse: a bare SELECT column absent from
            # GROUP BY is an error in PostgreSQL ("column must appear in
            # the GROUP BY clause"), not an implicit extra group key —
            # silently adding it would change the aggregation grain
            gb_set = set(gb_items)
            for g in group_by:
                gname = g.split(".")[-1].strip()
                if (
                    gname not in gb_set
                    and group_aliases.get(gname, gname) not in gb_set
                ):
                    raise ValueError(
                        f"column {g.strip()!r} must appear in the GROUP BY "
                        f"clause or be used in an aggregate function"
                    )
    width, time_sql, tz, start, finish = gf
    m = _COLREF.match(time_sql)
    if not m:
        raise ValueError(
            f"time_bucket_gapfill time argument must be a column, got {time_sql!r}"
        )
    time_col = m.group(1)

    if start is None or finish is None:
        # the fragment extractor matches only unqualified refs; strip
        # alias qualifiers from the time column (r.ts -> ts) so the
        # reference-accepted `WHERE r.ts >= .. AND r.ts < ..` derives
        # bounds too
        frag = re.sub(
            rf"\b\w+\s*\.\s*(?={re.escape(time_col)}\b)",
            "",
            cl.get("where", ""),
        )
        lo, hi = extract_time_bounds(frag, "", time_col, set())
        start = start if start is not None else lo
        finish = finish if finish is not None else hi
        if start is None or finish is None:
            raise ValueError(
                "missing time_bucket_gapfill start/finish: pass them as "
                "arguments or constrain the time column in WHERE "
                "(gapfill_exec.c:390 semantics)"
            )

    base_sql = "SELECT * FROM " + cl["from"]
    if cl.get("where"):
        base_sql += " WHERE " + cl["where"]
    base = bound.df(rewrite_sql(base_sql, ts))

    # strip qualifiers on group columns (operator works on the joined frame)
    group_cols = [g.split(".")[-1].strip() for g in group_by]
    out = time_bucket_gapfill(
        base,
        width,
        time_col,
        start,
        finish,
        group_by=group_cols,
        aggs=aggs,
        fill=fills,
        bucket_alias=bucket_alias,
        timezone=tz,
    )
    # honor group-column AS aliases in the output (ORDER BY may use them)
    for srcname, alias in group_aliases.items():
        if alias != srcname:
            out = out.withColumnRenamed(srcname, alias)
    tail = ""
    if cl.get("order by"):
        tail += " ORDER BY " + cl["order by"]
    if cl.get("limit"):
        tail += " LIMIT " + cl["limit"]
    if tail:
        # statement-unique view name: a fixed one lets concurrent ts_sql
        # calls on one SparkSession clobber each other's result
        from .sqlapi import _VIEW_SEQ

        _VIEW_SEQ[0] += 1
        vname = f"_ts_gapfill_out_{_VIEW_SEQ[0]}"
        out.createOrReplaceTempView(vname)
        try:
            out = ts.spark.sql(f"SELECT * FROM {vname}" + tail)
        finally:
            # the view is resolved into ``out`` at analysis
            ts.spark.catalog.dropTempView(vname)
    return out
