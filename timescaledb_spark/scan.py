"""Hypertable scan relations: one long-lived Spark relation per hypertable.

Every read of a hypertable — :meth:`Hypertable.read` and each hypertable
a ``ts.sql`` statement references — is SQL text over ONE relation per
hypertable: a root read of its data dir (``basePath`` = the root, the
catalog schema), registered once as a temp view whose name carries the
relation's version. Exclusion is written as predicates on the ``_chunk``
/ ``_space`` partition columns, which Catalyst's partition pruning
applies to the relation's cached file index at plan time (the scan's
``PartitionFilters``) — the planner-side analog of the reference's
``hypertable_restrict_info.c``, with no driver-side job and no per-read
file listing by Spark.

Validity key: the hypertable's catalog row, its chunk rows, and the
file names under each partition dir a statement reads. Files are listed
in Python *before* the relation is built, so a write that lands while
Spark lists shows up as a difference on the next statement. Any
difference rebuilds the relation under a new view name and drops the
superseded view.
"""

from __future__ import annotations

import itertools
import math
import os
import threading
from dataclasses import dataclass, replace
from datetime import date, datetime
from decimal import Decimal
from typing import Callable, Optional

from pyspark.sql import DataFrame, types as T

CHUNK_COL = "_chunk"
SPACE_COL = "_space"


def q(name: str) -> str:
    """Backtick-quote an identifier for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def type_sql(t: T.DataType) -> str:
    """A Spark type as SQL type text, nested field names quoted."""
    if isinstance(t, T.StructType):
        fields = ", ".join(f"{q(f.name)}: {type_sql(f.dataType)}" for f in t.fields)
        return f"STRUCT<{fields}>"
    if isinstance(t, T.ArrayType):
        return f"ARRAY<{type_sql(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"MAP<{type_sql(t.keyType)}, {type_sql(t.valueType)}>"
    return t.simpleString()


def sql_literal(v) -> str:
    """A Python value as a Spark SQL literal of the type ``F.lit`` gives it."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if not math.isfinite(v):
            return f"CAST('{v!r}' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, Decimal):
        return f"{v}BD"
    if isinstance(v, datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, date):
        return f"DATE '{v.isoformat()}'"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def in_list(col: str, values) -> str:
    """``col IN (v, …)`` over literal SQL texts; ``false`` when empty."""
    values = list(values)
    if not values:
        return "false"
    return f"{col} IN ({', '.join(values)})"


def list_partition(path: str) -> Optional[tuple]:
    """File names under one chunk dir, ``_space=k/`` sub-dirs included;
    None when the dir does not exist."""
    try:
        names = sorted(os.listdir(path))
    except FileNotFoundError:
        return None
    out = []
    for n in names:
        if n.startswith(f"{SPACE_COL}="):
            try:
                out.extend(f"{n}/{f}" for f in sorted(os.listdir(os.path.join(path, n))))
            except FileNotFoundError:
                pass
        else:
            out.append(n)
    return tuple(out)


@dataclass
class Scan:
    """One hypertable read, as SQL text over the hypertable's relation:
    ``SELECT <cols> FROM <relation> WHERE <where>``. ``row``, ``chunks``
    and ``files`` are the validity key the statement was planned
    against (``files``: partition dir -> file names, for the dirs this
    read selects)."""

    name: str
    root: str
    schema: T.StructType
    has_space: bool
    row: dict
    chunks: list
    files: dict
    cols: str
    where: str
    #: ``cols`` fills added columns (CASE expressions over the raw ones)
    filled: bool = False
    #: a query block over the read's rows: ``(select items | None,
    #: conjuncts, group items)`` (see :meth:`select`)
    block: Optional[tuple] = None

    def select(self, cols=None, where=None, group=None) -> "Scan":
        """This read with a query block over its rows — projection
        (``None``: the read's columns), filter and grouping in the
        scan's own SELECT, so no CTE re-projects or re-filters the read.
        Only a filter-only block takes another one."""
        sel, conds, grp = self.block or (None, (), None)
        assert sel is None and not grp, "a scan holds one projection"
        return replace(self, block=(cols, (*conds, where) if where else conds, group))

    def text(self, view: str) -> str:
        base = f"SELECT {self.cols} FROM {q(view)} WHERE {self.where}"
        if self.block is None:
            return base
        sel, conds, group = self.block
        conds = [f"({x})" for x in conds]
        if self.filled:
            # the block reads the filled values, not the raw columns
            src, cols = f"({base}) _s", "*"
        else:
            src, cols, conds = q(view), self.cols, [self.where, *conds]
        body = f"SELECT {', '.join(sel) if sel else cols} FROM {src}"
        if conds:
            body += " WHERE " + " AND ".join(conds)
        if group:
            body += " GROUP BY " + ", ".join(group)
        return body


class Ctes:
    """One statement composed as a chain of common table expressions:
    each builder step appends ``name AS (body)`` and hands its name to
    the next. A hypertable read is a :class:`Scan` item, rendered over
    its relation's view when the statement is planned, so the whole
    chain — scans included — is one ``spark.sql`` call
    (:meth:`ScanRelations.plan`)."""

    def __init__(self, prefix: str = "_ts_cte"):
        self.prefix = prefix
        self.items: list = []  # (name, body): text, Scan, or a list of them (UNION ALL)
        self._n = itertools.count()

    def add(self, body, name: Optional[str] = None) -> str:
        name = name or f"{self.prefix}_{next(self._n)}"
        self.items.append((name, body))
        return name

    def scan(self, s: Scan, name: Optional[str] = None) -> str:
        return self.add(s, name)

    def union(self, rels: list, name: Optional[str] = None) -> str:
        """``UNION ALL`` of ``rels``, relations of this chain that only
        the union reads: their bodies move into its CTE, one nesting
        level less for Spark's analyzer. One unnamed relation stays as
        it is."""
        if len(rels) == 1 and name is None:
            return rels[0]
        bodies = dict(self.items)
        self.items = [it for it in self.items if it[0] not in rels]
        return self.add([bodies[r] for r in rels], name)

    @property
    def scans(self) -> list:
        return [
            b
            for _, body in self.items
            for b in (body if isinstance(body, list) else [body])
            if isinstance(b, Scan)
        ]

    def render(self, views: list, final: Optional[str] = None) -> str:
        """``name AS (body), …`` with each scan over its view — or, with
        ``final``, the statement ``WITH <chain> <final>``, where a
        ``final`` that reads the chain's last CTE as it is becomes that
        CTE's own body."""
        it = iter(views)

        def text(b) -> str:
            return b.text(next(it)) if isinstance(b, Scan) else b

        bodies = [
            (n, " UNION ALL ".join(map(text, b)) if isinstance(b, list) else text(b))
            for n, b in self.items
        ]
        if final is not None and bodies and final == f"SELECT * FROM {bodies[-1][0]}":
            final = bodies.pop()[1]
        chain = ", ".join(f"{n} AS ({t})" for n, t in bodies)
        if final is None:
            return chain
        return f"WITH {chain} {final}" if bodies else final

    def plan(self, ts, final: str) -> DataFrame:
        """:meth:`render` in one ``spark.sql`` call."""
        return ts.scans.plan(self.scans, lambda views: self.render(views, final))


def over_frame(df: DataFrame, build: Callable) -> DataFrame:
    """``build(ctes, relation) -> output relation`` over a DataFrame,
    planned in one ``spark.sql`` call (``df`` bound as a statement
    argument) — how the DataFrame-level sketch functions reuse the SQL
    builders the cagg path composes."""
    c = Ctes("_df")
    out = build(c, "{_src}")
    return df.sparkSession.sql(c.render([], f"SELECT * FROM {out}"), _src=df)


@dataclass
class _Relation:
    view: str
    root: str
    row: dict
    chunks: list
    files: dict


class ScanRelations:
    """The per-``TSSession`` registry of hypertable relations.

    :meth:`plan` holds one lock while it checks or rebuilds the
    relations a statement uses AND while Spark analyzes the statement,
    so a concurrent rebuild can never drop a view between the two. No
    catalog access happens under the lock (callers read the catalog
    while building their :class:`Scan`), so it cannot invert the
    catalog's lock order."""

    _SESSIONS = itertools.count(1)

    def __init__(self, spark):
        self.spark = spark
        self.lock = threading.RLock()
        self._sid = next(self._SESSIONS)
        self._version = itertools.count(1)
        self._rels: dict[str, _Relation] = {}

    def plan(self, scans: list, sql: Callable[[list], str]) -> DataFrame:
        """``spark.sql(sql(view names of scans))`` with every scan's
        relation valid for its key."""
        with self.lock:
            return self.spark.sql(sql([self._view(s) for s in scans]))

    def _view(self, s: Scan) -> str:
        rel = self._rels.get(s.name)
        if (
            rel is None
            or rel.root != s.root
            or rel.row != s.row
            or rel.chunks != s.chunks
            or any(rel.files.get(d) != f for d, f in s.files.items())
        ):
            rel = self._build(s)
        return rel.view

    def _build(self, s: Scan) -> _Relation:
        files = {
            d: list_partition(os.path.join(s.root, d))
            for d in (f"{CHUNK_COL}={c['range_start']}" for c in s.chunks)
        }
        view = f"_ts_scan_{self._sid}_{s.name}_v{next(self._version)}"
        # Spark skips '_'/'.'-prefixed files (_SUCCESS, .crc): with no
        # other file there are no partition columns to discover
        if any(
            n.rsplit("/", 1)[-1][0] not in "_."
            for names in files.values()
            for n in names or ()
        ):
            df = (
                self.spark.read.schema(s.schema)
                .option("basePath", s.root)
                .parquet(s.root)
            )
        else:
            # no data file in any chunk: an empty relation of the same shape
            fields = list(s.schema.fields)
            if fields:
                fields.append(T.StructField(CHUNK_COL, T.LongType()))
                if s.has_space:
                    fields.append(T.StructField(SPACE_COL, T.IntegerType()))
            df = self.spark.createDataFrame([], T.StructType(fields))
        df.createOrReplaceTempView(view)
        old = self._rels.get(s.name)
        if old is not None:
            self.spark.catalog.dropTempView(old.view)
        rel = _Relation(view, s.root, s.row, s.chunks, files)
        self._rels[s.name] = rel
        return rel
