#!/usr/bin/env python
"""Differential record of ``TSSession.sql`` across two trees.

As a pytest plugin it records every statement ``TSSession.sql``
receives during a test run: the test, the SQL, the error it raised,
and for a query statement the chunk dirs its scans select
(``sqlapi._scanned_chunk_dirs``, as ``<table dir>/_chunk=<start>``) and
its rows (canonical, floats at 10 significant digits; an md5 above 300
rows). Each query is collected
once more than the test does, so job-count tests may fail in such a
run; only the record counts.

Record a tree (run from that tree's root; ``scripts`` on the path makes
the plugin importable)::

    SQL_DIFF_OUT=/tmp/rec.jsonl PYTHONPATH=scripts \\
        python -m pytest tests/ -q -p no:cacheprovider -p sql_diff

Compare a before and an after record::

    python scripts/sql_diff.py BEFORE.jsonl AFTER.jsonl

It prints one JSON line per statement that differs, then a summary.
A statement whose scans now select a strict subset of the chunk dirs
with the same rows is ``prunes_more``; the same rows and dirs are
``same``; anything else (other rows, more dirs, a new or changed
error) is listed under its kind.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

_QUERY = re.compile(r"(?is)^\s*(?:\(|(?:select|with|values|table|from|explain)\b)")


def _canon(v) -> str:
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(map(_canon, v)) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    return repr(v)


def _first_line(e: BaseException) -> str:
    return f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"


def pytest_configure(config):
    from timescaledb_spark import session, sqlapi

    out = open(os.environ["SQL_DIFF_OUT"], "a")
    run = session.TSSession.sql

    def sql(self, query):
        test = os.environ.get("PYTEST_CURRENT_TEST", "").rsplit(" (", 1)[0]
        rec = {"test": test, "sql": query}
        try:
            df = run(self, query)
        except Exception as e:
            rec["error"] = _first_line(e)
            out.write(json.dumps(rec) + "\n")
            out.flush()
            raise
        if _QUERY.match(query):
            try:
                rec["dirs"] = sorted(
                    "/".join(d.rstrip("/").split("/")[-2:])
                    for d in sqlapi._scanned_chunk_dirs(df)
                )
                rows = sorted(_canon(tuple(r)) for r in df.collect())
                rec["rows"] = rows if len(rows) <= 300 else [
                    len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()
                ]
            except Exception as e:
                rec["collect_error"] = _first_line(e)
        out.write(json.dumps(rec, default=str) + "\n")
        out.flush()
        return df

    session.TSSession.sql = sql


def _load(path: str) -> dict:
    """Records by (test, SQL, k-th run of that SQL in the test), so a
    test that gained or lost a statement still pairs the others; quoted
    absolute paths (a test's temp dir) are masked."""
    out: dict = {}
    with open(path) as f:
        for r in map(json.loads, f):
            sql, k = re.sub(r"'/[^']*'", "'<path>'", r["sql"]), 0
            while (r["test"], sql, k) in out:
                k += 1
            out[r["test"], sql, k] = r
    return out


def _rows(r: dict):
    """The rows to compare: an EXPLAIN's plan lines carry expression ids
    and temp paths, so only its chunk-exclusion header counts."""
    if r["sql"].lstrip()[:7].upper() != "EXPLAIN":
        return r.get("rows")
    return [x for x in r.get("rows", ()) if re.match(r"\['(Hypertable|Cagg) ", x)]


def _error(r: dict, k: str):
    """An error without its position: the engine's statement-unique
    CTE names shift it between runs."""
    return re.sub(r"pos \d+", "pos", r[k]) if k in r else None


def _kind(a: dict, b: dict) -> str:
    for k in ("error", "collect_error"):
        if _error(a, k) != _error(b, k):
            return f"{k}_changed"
    if _rows(a) != _rows(b):
        return "rows_differ"
    da, db = set(a.get("dirs", ())), set(b.get("dirs", ()))
    if da == db:
        return "same"
    return "prunes_more" if db < da else "dirs_differ"


def compare(before: str, after: str) -> int:
    a, b = _load(before), _load(after)
    counts: dict = {}
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            kind = "only_before" if key in a else "only_after"
        else:
            kind = _kind(a[key], b[key])
        counts[kind] = counts.get(kind, 0) + 1
        if kind != "same":
            print(json.dumps({
                "kind": kind, "test": key[0], "sql": key[1][:300],
                **({
                    "before": {k: a[key].get(k) for k in ("error", "collect_error") if k in a[key]}
                    | {"dirs": len(a[key].get("dirs", ()))},
                    "after": {k: b[key].get(k) for k in ("error", "collect_error") if k in b[key]}
                    | {"dirs": len(b[key].get("dirs", ()))},
                } if key in a and key in b else {}),
            }))
    print(json.dumps({"statements": len(set(a) | set(b)), **counts}))
    return 0


if __name__ == "__main__":
    sys.exit(compare(*sys.argv[1:3]))
