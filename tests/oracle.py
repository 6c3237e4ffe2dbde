"""DuckDB-oracle comparison mirroring the driver's correctness gate:
row-count + schema + order-insensitive value compare, columns sorted by
name, floats rounded to 10 significant digits."""

from __future__ import annotations

import math
from datetime import date, datetime, timezone


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == 0:
            return "0"
        return f"{v:.10g}"
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols: list[str], rows: list) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append("|".join(_canon(vals[i]) for i in order))
    return sorted(out)


def spark_rows(df):
    cols = df.columns
    return cols, [tuple(r) for r in df.collect()]


def duck_rows(con, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


#: (connection, result) by (id(connection), SQL text) — the entry keeps
#: the connection alive, so its id cannot be reused while cached
_ORACLE_RESULTS: dict = {}


def oracle_rows(con, sql: str):
    """:func:`duck_rows` memoized by connection and SQL text — only for
    statements over the session's read-only parquet views (conftest
    ``duck``), whose answer cannot change within a run — so an oracle
    that several tests check runs once per session."""
    key = (id(con), sql)
    if key not in _ORACLE_RESULTS:
        _ORACLE_RESULTS[key] = (con, duck_rows(con, sql))
    cols, rows = _ORACLE_RESULTS[key][1]
    return list(cols), list(rows)


def assert_match(df, con, sql: str, check_schema: bool = True, fetch=duck_rows):
    scols, srows = spark_rows(df)
    dcols, drows = fetch(con, sql)
    assert sorted(scols) == sorted(dcols), (
        f"column mismatch: spark={sorted(scols)} duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"row count mismatch: spark={len(srows)} duck={len(drows)}"
    )
    sc = canon_rows(scols, srows)
    dc = canon_rows(dcols, drows)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
        raise AssertionError(
            "value mismatch; first diffs (spark vs duck):\n"
            + "\n".join(f"  S: {a}\n  D: {b}" for a, b in diffs)
        )
