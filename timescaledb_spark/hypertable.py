"""Hypertables: time(+space)-partitioned parquet tables with a chunk catalog.

Reference parity:
- ``create_hypertable`` (``sql/ddl_api.sql:21,44``; ``src/hypertable.c:1444``)
- Dimensions: OPEN (range/time) + CLOSED (hash/space) (``src/dimension.h:63-78``)
- Chunks: hypercube slices with ``[range_start, range_end)`` in int64
  internal time — µs for timestamps, verbatim for integers
  (``src/chunk.h:55-75``, ``sql/util_time.sql:49 time_to_internal``)
- Default chunk interval 7 days (``src/dimension.h:115``); integer defaults
  10k/100k/1M (``src/dimension.h:118-120``)
- ``show_chunks`` / ``drop_chunks`` (``sql/ddl_api.sql:89-101``)
- Chunk exclusion: reads prune chunks via the catalog — the plan-time
  analog of ``src/planner/expand_hypertable.c:1305`` +
  ``src/hypertable_restrict_info.c`` — and express the survivors as a
  ``_chunk IN (...)`` (and ``_space``) partition predicate over the
  hypertable's one long-lived scan relation (``scan.py``), which
  Catalyst's partition pruning applies to the cached file index
  (``PartitionFilters`` in the scan).

Physical layout (Spark-first, 100 TB-ready):
    <root>/data/<name>/_chunk=<start_internal>[/_space=<k>]/*.parquet
One chunk = one partition directory; a 1000-executor cluster reads chunks
in parallel with file-split granularity inside each chunk. Writes cluster
rows by chunk (repartition on the derived partition columns) so each chunk
gets few large parquet files instead of one file per task per chunk.
"""

from __future__ import annotations

import glob
import os
import shutil
import time as _time
from datetime import date, datetime, timezone as _tz
from typing import Iterable, Optional, Sequence, Union

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from .functions.time import (
    USECS_PER_DAY,
    Interval,
    parse_interval,
)

from .scan import CHUNK_COL, SPACE_COL, Scan, in_list, list_partition, q, sql_literal
from . import storage

#: storage level of every frame a DML statement pins for several
#: actions (post-trigger rows, sources scanned more than once): spills
#: to disk, never recomputes — trigger side effects fire once. Every
#: pin is unpersisted on every exit path, raising triggers included.
_DML_PIN = StorageLevel.MEMORY_AND_DISK_DESER

#: sentinel emitted by raise_error inside the chunk-routing expression;
#: translated to the user-facing NOT NULL ValueError at the call sites
_NULL_TIME_MARKER = "TS_NULL_TIME_DIMENSION"

#: parquet footers :meth:`Hypertable.approximate_row_count` reads on the
#: driver; beyond this many files it reads them in a narrow Spark job
FOOTER_DRIVER_FILES = 256

DEFAULT_CHUNK_INTERVAL_US = 7 * USECS_PER_DAY  # src/dimension.h:115
INTEGER_DEFAULT_INTERVALS = {  # src/dimension.h:118-120
    "smallint": 10_000,
    "int": 100_000,
    "integer": 100_000,
    "bigint": 1_000_000,
    "long": 1_000_000,
}


def _to_internal(value: Union[int, str, datetime, date, None]) -> Optional[int]:
    """Any user time value -> int64 internal (µs for timestamps)."""
    if value is None:
        return None
    if isinstance(value, bool):
        raise TypeError("bool is not a time value")
    if isinstance(value, int):
        return value
    if isinstance(value, str):
        value = datetime.fromisoformat(value)
    if isinstance(value, datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=_tz.utc)
        return int(value.timestamp() * 1_000_000)
    if isinstance(value, date):
        return int(
            datetime(value.year, value.month, value.day, tzinfo=_tz.utc).timestamp()
            * 1_000_000
        )
    raise TypeError(f"unsupported time value {value!r}")


def _uuidv7_boundary_sql(ms: int) -> str:
    """Literal of the smallest UUIDv7 at unix millisecond ``ms`` — the
    value ``to_uuidv7_boundary`` gives (zero sub-ms and random bits)."""
    h = f"{ms:012x}"
    return f"'{h[:8]}-{h[8:12]}-7000-8000-000000000000'"


def _serialized_dml(fn):
    """Serialize DML per hypertable (catalog.ht_lock): Spark write jobs
    stage under one ``<data_dir>/_temporary`` per output root, so two
    concurrent writers into the same hypertable could clobber each
    other's task staging. Reads and other hypertables are unaffected."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *a, **kw):
        with self.ts.catalog.ht_lock(self.name):
            return fn(self, *a, **kw)

    return wrapper


class Hypertable:
    def __init__(self, ts, row: dict):
        self.ts = ts
        self.row = row

    # -------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        ts,
        name: str,
        time_column: str,
        chunk_interval: Union[str, int, None] = None,
        space_column: Optional[str] = None,
        num_partitions: Optional[int] = None,
        if_not_exists: bool = False,
        time_type: Optional[str] = None,
    ) -> "Hypertable":
        """``create_hypertable(rel, by_range(time) [, by_hash(space, n)])``.

        The whole exists-check → id → row/dimension append sequence is
        ONE catalog transaction: two concurrent create_hypertable calls
        (threads or processes) must not both pass the check and register
        duplicate rows over one data dir."""
        if time_type not in (None, "uuid"):
            raise ValueError(
                "time_type hint must be 'uuid' (other time types are "
                "inferred from the column)"
            )
        with ts.catalog.write_lock:
            return cls._create_locked(
                ts, name, time_column, chunk_interval, space_column,
                num_partitions, if_not_exists, time_type,
            )

    @classmethod
    def _create_locked(
        cls, ts, name, time_column, chunk_interval, space_column,
        num_partitions, if_not_exists, time_type=None,
    ) -> "Hypertable":
        cat = ts.catalog
        existing = cat.hypertable.find_one(name=name)
        if existing:
            if if_not_exists:
                return cls(ts, existing)
            raise ValueError(f"hypertable {name!r} already exists")
        ht_id = cat.next_id("hypertable")
        row = {
            "id": ht_id,
            "name": name,
            "time_column": time_column,
            # uuid is an explicit hint (a UUIDv7 column arrives as a
            # Spark string — src/uuid.c "time" partitioning on UUIDv7);
            # other kinds are inferred on first insert
            "time_type": time_type,
            "chunk_interval": None,  # internal units; filled below or on insert
            "chunk_interval_spec": chunk_interval,
            "space_column": space_column,
            "num_partitions": num_partitions if space_column else None,
            "compression": None,
            "schema_ddl": None,
            "created_at": _time.time(),
        }
        if isinstance(chunk_interval, str):
            iv = parse_interval(chunk_interval)
            if iv.months:
                raise ValueError("month-granular chunk intervals not supported")
            row["chunk_interval"] = iv.us
        elif isinstance(chunk_interval, int):
            row["chunk_interval"] = chunk_interval
        # CREATE TABLE → create_hypertable: adopt a declared (schema-only,
        # zero-row) table's schema, like the reference converting an
        # existing empty PG table (src/hypertable.c:1444 requires the
        # table; we also allow schema-less creation for the
        # DataFrame-first workflow)
        declared = cat.plain_table.find_one(name=name)
        if declared and declared.get("path") is None and declared.get(
            "schema_ddl"
        ):
            import json as _json

            schema = T.StructType.fromJson(_json.loads(declared["schema_ddl"]))
            names = {f.name for f in schema.fields}
            if time_column not in names:
                raise ValueError(
                    f"time column {time_column!r} not in declared columns "
                    f"{sorted(names)}"
                )
            if space_column and space_column not in names:
                raise ValueError(
                    f"space column {space_column!r} not in declared columns"
                )
            dt = dict((f.name, f.dataType.simpleString()) for f in schema.fields)[
                time_column
            ]
            if row.get("time_type") == "uuid":
                if dt != "string":
                    raise ValueError(
                        f"uuid time column {time_column!r} must be "
                        f"declared uuid/text (got {dt!r})"
                    )
            elif dt.startswith("timestamp"):
                row["time_type"] = "timestamp"
            elif dt == "date":
                row["time_type"] = "date"
            elif dt in ("smallint", "int", "integer", "bigint", "long", "tinyint"):
                row["time_type"] = "int"
            else:
                raise ValueError(
                    f"invalid type {dt!r} for time column {time_column!r}"
                )
            row["schema_ddl"] = declared["schema_ddl"]
            uk = declared.get("unique_keys") or []
            for keys in uk:
                bad = set(keys) - names
                if bad:
                    raise ValueError(
                        f"unique constraint names unknown column(s) "
                        f"{sorted(bad)}"
                    )
                # reference rule: unique indexes on a hypertable MUST
                # include the partition column (src/indexing.c
                # ts_indexing_verify_columns — "cannot create a unique
                # index without the column ..."): matching rows then
                # share a time value, which keeps upsert/merge arbiters
                # and strict-insert checks chunk-local
                if time_column not in keys or (
                    space_column and space_column not in keys
                ):
                    missing = (
                        time_column if time_column not in keys else space_column
                    )
                    raise ValueError(
                        f"cannot create a unique index without the column "
                        f"{missing!r} (used in partitioning)"
                    )
            if uk:
                row["unique_keys"] = uk
                if declared.get("pk_columns"):
                    row["pk_columns"] = declared["pk_columns"]
            fks = declared.get("foreign_keys") or []
            for fk in fks:
                bad = set(fk["columns"]) - names
                if bad:
                    raise ValueError(
                        f"foreign key names unknown column(s) "
                        f"{sorted(bad)}"
                    )
            if fks:
                # adopted like the reference propagating table FKs to
                # the hypertable (src/foreign_key.c) — enforced on
                # insert by default, see _check_foreign_keys
                row["foreign_keys"] = fks
        # all validation BEFORE any catalog mutation: a failure below a
        # partial write would leave a half-registered hypertable behind
        if space_column and (not num_partitions or num_partitions < 1):
            raise ValueError("space dimension requires num_partitions >= 1")
        if declared and declared.get("path") is None and declared.get(
            "schema_ddl"
        ):
            cat.plain_table.delete({"name": name})
        cat.hypertable.append([row])
        dims = [
            {
                "hypertable_id": ht_id,
                "column": time_column,
                "type": "open",
                "num_slices": None,
            }
        ]
        if space_column:
            dims.append(
                {
                    "hypertable_id": ht_id,
                    "column": space_column,
                    "type": "closed",
                    "num_slices": num_partitions,
                }
            )
        cat.dimension.append(dims)
        return cls(ts, row)

    @classmethod
    def get(cls, ts, name: str) -> "Hypertable":
        row = ts.catalog.hypertable.find_one(name=name)
        if not row:
            raise KeyError(f"no hypertable {name!r}")
        return cls(ts, row)

    # ------------------------------------------------------------ plumbing
    @property
    def name(self) -> str:
        return self.row["name"]

    @property
    def id(self) -> int:
        return self.row["id"]

    @property
    def time_column(self) -> str:
        return self.row["time_column"]

    @property
    def data_dir(self) -> str:
        return self.ts.catalog.data_dir(self.name)

    def _refresh(self) -> None:
        self.row = self.ts.catalog.hypertable.find_one(name=self.name) or self.row

    def _internal_time_expr(self, df: DataFrame, col: Optional[str] = None) -> Column:
        """time column -> int64 internal units (µs or verbatim int).
        ``col`` overrides the source column with a SQL reference (e.g. an
        alias-qualified one in a join) while ``df`` still supplies the
        dtype."""
        return F.expr(self._internal_time_sql(dict(df.dtypes)[self.time_column], col))

    def _internal_time_sql(self, dtype: str, ref: Optional[str] = None) -> str:
        """SQL form of :meth:`_internal_time_expr` for a time column of
        type ``dtype`` (``ref``: the column reference, default the time
        column)."""
        c = ref or q(self.time_column)
        if self.row.get("time_type") == "uuid":
            # UUIDv7 "time" partitioning (src/uuid.c, test/sql/uuid.sql):
            # the embedded unix-ms (+12-bit sub-ms) timestamp IS the
            # dimension value. Non-v7 UUIDs have no timestamp (PG's
            # uuid_timestamp errors on them) — they extract NULL here,
            # so the routing null guard rejects such inserts atomically
            return (
                f"CASE WHEN CAST(conv(substring({c}, 15, 1), 16, 10) AS INT) = 7 "
                f"THEN CAST(conv(concat(substring({c}, 1, 8), substring({c}, 10, 4)), "
                f"16, 10) AS BIGINT) * 1000 + CAST(floor(CAST(conv(substring({c}, 16, 3), "
                f"16, 10) AS BIGINT) * 1000 / 4096) AS BIGINT) END"
            )
        if dtype.startswith("timestamp"):
            return f"unix_micros(CAST({c} AS TIMESTAMP))"
        if dtype == "date":
            return f"CAST(datediff({c}, DATE '1970-01-01') AS BIGINT) * {USECS_PER_DAY}"
        return f"CAST({c} AS BIGINT)"

    def _default_interval_for(self, dtype: str) -> int:
        if (
            dtype.startswith("timestamp")
            or dtype == "date"
            or self.row.get("time_type") == "uuid"
        ):
            return DEFAULT_CHUNK_INTERVAL_US
        return INTEGER_DEFAULT_INTERVALS.get(dtype, 1_000_000)

    def _ensure_typed(self, df: DataFrame) -> None:
        """Fill time_type / chunk_interval / schema on first insert."""
        changed = {}
        dtypes = dict(df.dtypes)
        if self.time_column not in dtypes:
            raise ValueError(
                f"time column {self.time_column!r} not in {sorted(dtypes)}"
            )
        dt = dtypes[self.time_column]
        if self.row.get("time_type") == "uuid" and dt != "string":
            raise ValueError(
                f"uuid time column {self.time_column!r} must arrive as a "
                f"string column (got {dt!r})"
            )
        if self.row.get("time_type") is None:
            if dt.startswith("timestamp"):
                kind = "timestamp"
            elif dt == "date":
                kind = "date"
            elif dt in ("smallint", "int", "integer", "bigint", "long", "tinyint"):
                kind = "int"
            else:
                # reference: create_hypertable rejects non-time dimension
                # types (src/dimension.c dimension_type check)
                raise ValueError(
                    f"invalid type {dt!r} for time column "
                    f"{self.time_column!r}: must be timestamp, date, or "
                    f"integer"
                )
            changed["time_type"] = kind
        if self.row.get("chunk_interval") is None:
            spec = self.row.get("chunk_interval_spec")
            if spec is None:
                changed["chunk_interval"] = self._default_interval_for(dt)
            elif isinstance(spec, int):
                changed["chunk_interval"] = spec
            else:
                changed["chunk_interval"] = parse_interval(spec).us
        if self.row.get("schema_ddl") is None:
            changed["schema_ddl"] = df.schema.json()
        if changed:
            self.ts.catalog.hypertable.update({"name": self.name}, changed)
            self.row.update(changed)

    def add_dimension(self, column: str, num_partitions: int) -> None:
        """``add_dimension(rel, by_hash(col, n))`` (sql/ddl_api.sql:118;
        src/dimension.c). Adds a hash space dimension; existing chunks are
        rewritten into ``_space=k`` sub-partitions one chunk at a time
        (bounded memory — the same chunk-local cost model as the
        reference, which requires the table be empty or rewrites)."""
        if self.row.get("space_column"):
            raise ValueError("hypertable already has a space dimension")
        if not num_partitions or num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")
        with self.ts.catalog.ht_lock(self.name):
            self._add_dimension_locked(column, num_partitions)

    def _add_dimension_locked(self, column: str, num_partitions: int) -> None:
        # rewrites every chunk dir, so it serializes with DML (a
        # concurrent insert's files would be replaced with the
        # pre-insert snapshot) and honors the freeze contract; staging
        # is dot-prefixed so a crash can never leave a dir that breaks
        # the _chunk= scan every later insert runs
        for c in self.chunks():
            if c.get("frozen"):
                raise PermissionError(
                    f"chunk [{c['range_start']},{c['range_end']}) of "
                    f"{self.name!r} is frozen"
                )
        from .compression import _swap_dir

        for c in self.chunks():
            path = self._chunk_glob(c)
            if not os.path.isdir(path):
                continue
            df = self._conform_chunk_df(c, self._chunk_reader().parquet(path))
            if column not in df.columns:
                raise ValueError(f"column {column!r} not in chunk schema")
            out = df.withColumn(
                SPACE_COL, F.pmod(F.xxhash64(F.col(column)), F.lit(num_partitions))
            )
            tmp = os.path.join(self.data_dir, f".tmp_dim_{c['range_start']}")
            try:
                storage.writer(out, partition_by=[SPACE_COL]).parquet(tmp)
                _swap_dir(path, tmp)
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
        self.ts.catalog.hypertable.update(
            {"name": self.name},
            {"space_column": column, "num_partitions": num_partitions},
        )
        self.ts.catalog.dimension.append(
            [
                {
                    "hypertable_id": self.id,
                    "column": column,
                    "type": "closed",
                    "num_slices": num_partitions,
                }
            ]
        )
        self._refresh()

    def disable_chunk_skipping(self, column: str) -> int:
        """``disable_chunk_skipping(rel, col)`` (sql/ddl_api.sql:156):
        drop the per-chunk min/max stats for ``column``."""
        cat = self.ts.catalog
        cols = [c for c in (self.row.get("skip_columns") or []) if c != column]
        cat.hypertable.update({"name": self.name}, {"skip_columns": cols})
        self._refresh()
        n = 0
        for c in self.chunks():
            rows = cat.chunk_column_stats.find(chunk_id=c["id"], column=column)
            if rows:
                cat.chunk_column_stats.delete(
                    {"chunk_id": c["id"], "column": column}
                )
                n += len(rows)
        return n

    def analyze(self) -> int:
        """``ANALYZE hypertable`` analog (``test/sql/vacuum.sql``
        territory; ``src/ts_catalog/chunk_column_stats.c`` refresh):
        recompute per-chunk min/max for every chunk-skipping column in
        ONE grouped aggregate over the table. Stats go stale by design
        after in-place rewrites (``_mark_rewritten`` drops them so a
        pruned read can never use a lying range); ANALYZE is how they
        come back without re-running ``enable_chunk_skipping`` per
        column. Also refreshes the per-chunk catalog row counts backing
        approximate_row_count (the pg-stats analog) in the same pass.
        Returns the number of (chunk, column) stats rows written."""
        cols = list(self.row.get("skip_columns") or [])
        return self._recompute_stats(cols)

    def enable_chunk_skipping(self, column: str) -> int:
        """``enable_chunk_skipping(rel, col)`` (sql/ddl_api.sql:147;
        src/ts_catalog/chunk_column_stats.c): record per-chunk min/max of
        a non-partition column so reads can exclude chunks via
        ``read(where_stats=...)``. One aggregate job over the table
        grouped by the chunk directory — no per-chunk loop. The column
        is validated against the declared schema BEFORE it is registered
        — a typo must not poison skip_columns and fail every later
        ANALYZE."""
        if self.row.get("schema_ddl") is not None:
            if column not in {f.name for f in self._schema().fields}:
                raise ValueError(f"column {column!r} not in schema")
        cols = list(self.row.get("skip_columns") or [])
        if column not in cols:
            self.ts.catalog.hypertable.update(
                {"name": self.name}, {"skip_columns": cols + [column]}
            )
            self._refresh()
        return self._recompute_stats([column])

    def _recompute_stats(
        self, columns: Sequence[str], only_chunk_ids: Optional[set] = None
    ) -> int:
        """One grouped aggregate over the table computing min/max of ALL
        requested columns at once — analyze() on k skip columns pays one
        table scan, not k — plus a per-chunk row count, recorded on the
        chunk catalog row so approximate_row_count answers from the
        catalog instead of walking footers. ``only_chunk_ids`` restricts
        the scan to those chunks (rebuild_sparse_index's per-chunk form —
        O(one chunk), not O(table)).

        Holds the hypertable DML lock for scan + write-back: without it
        a concurrent insert could invalidate the stats mid-scan and this
        write-back would restore PRE-insert bounds — a lying range that
        silently excludes the new rows from stat-pruned reads. ANALYZE
        blocking DML briefly matches the reference's lock behavior."""
        with self.ts.catalog.ht_lock(self.name):
            return self._recompute_stats_locked(columns, only_chunk_ids)

    def _recompute_stats_locked(
        self, columns: Sequence[str], only_chunk_ids: Optional[set] = None
    ) -> int:
        chunks = [
            c
            for c in self.chunks()
            if only_chunk_ids is None or c["id"] in only_chunk_ids
        ]
        if not chunks:
            return 0
        df = self._chunk_reader().option("basePath", self.data_dir).parquet(
            *[self._chunk_glob(c) for c in chunks]
        )
        df = self._apply_fills(df, chunks)
        for column in columns:
            if column not in df.columns:
                raise ValueError(f"column {column!r} not in schema")
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for i, column in enumerate(columns):
            aggs.append(F.min(column).alias(f"mn_{i}"))
            aggs.append(F.max(column).alias(f"mx_{i}"))
        stats = df.groupBy(CHUNK_COL).agg(*aggs).collect()
        by_start = {c["range_start"]: c for c in chunks}
        cat = self.ts.catalog
        counts: dict = {}
        new_stats: list[dict] = []
        for r in stats:
            c = by_start.get(r[CHUNK_COL])
            if not c:
                continue
            counts[c["id"]] = int(r["n_rows"])
            for i, column in enumerate(columns):
                mn, mx = r[f"mn_{i}"], r[f"mx_{i}"]
                if hasattr(mn, "isoformat"):
                    mn, mx = mn.isoformat(), mx.isoformat()
                new_stats.append(
                    {
                        "chunk_id": c["id"],
                        "hypertable_id": self.id,
                        "column": column,
                        "min": mn,
                        "max": mx,
                    }
                )
        # ONE compound catalog transaction (a per-chunk update loop is
        # O(chunks²) bytes — see _stale_chunk_meta)
        refreshed = {(s["chunk_id"], s["column"]) for s in new_stats}
        with cat.write_lock:
            rows = cat.chunk.read()
            for r in rows:
                if r.get("id") in counts:
                    r["n_rows"] = counts[r["id"]]
            if counts:
                cat.chunk.replace(rows)
            srows = cat.chunk_column_stats.read()
            keep = [
                s
                for s in srows
                if (s.get("chunk_id"), s.get("column")) not in refreshed
            ]
            if new_stats or len(keep) != len(srows):
                cat.chunk_column_stats.replace(keep + new_stats)
        return len(new_stats)

    def set_chunk_time_interval(self, chunk_interval: Union[str, int]) -> None:
        """``set_chunk_time_interval`` (sql/ddl_api.sql:61) — new chunks
        only. Month-granular and non-positive intervals are rejected like
        create_hypertable: storing chunk_interval=0 would NULL-route
        every later insert (pmod by zero)."""
        if isinstance(chunk_interval, int):
            us = chunk_interval
        else:
            iv = parse_interval(chunk_interval)
            if iv.months:
                raise ValueError("month-granular chunk intervals not supported")
            us = iv.us
        if us <= 0:
            raise ValueError(f"chunk interval must be positive, got {us}")
        self.ts.catalog.hypertable.update({"name": self.name}, {"chunk_interval": us})
        self._refresh()

    def set_partitioning_interval(self, interval: Union[str, int]) -> None:
        """``set_partitioning_interval`` (sql/ddl_api.sql) — the
        generalized form of :meth:`set_chunk_time_interval` for the open
        dimension; identical here since the open dimension IS the chunk
        grid."""
        self.set_chunk_time_interval(interval)

    def set_number_partitions(self, n: int) -> None:
        """``set_number_partitions`` (sql/ddl_api.sql): change the space
        dimension's fan-out for NEW chunks only. Existing chunks keep
        the modulus they were written with (recorded per chunk as
        ``space_n``), and space-pruned reads hash each chunk with its
        own modulus — the analog of the reference recording dimension
        slices per chunk."""
        if not self.row.get("space_column"):
            raise ValueError("hypertable has no space dimension")
        if n < 1:
            raise ValueError("num_partitions must be >= 1")
        # Chunks recorded before space_n existed were all written with
        # the CURRENT modulus; pin it on them now, otherwise space-pruned
        # reads would hash legacy chunks with the NEW modulus and miss
        # their sub-partition dirs (silent row loss).
        old = int(self.row["num_partitions"])
        cat = self.ts.catalog
        for c in self.chunks():
            if c.get("space_n") is None:
                cat.chunk.update({"id": c["id"]}, {"space_n": old})
        cat.hypertable.update(
            {"name": self.name}, {"num_partitions": int(n)}
        )
        self._refresh()

    # -------------------------------------------------------------- insert
    def _partition_exprs(self, df: DataFrame) -> list[Column]:
        interval = int(self.row["chunk_interval"])
        internal = self._internal_time_expr(df)
        route = internal - F.pmod(internal, F.lit(interval))
        # Chunks whose slice left the uniform grid (merge_chunks /
        # split_chunk surgery) take precedence over grid routing — the
        # analog of tuple routing consulting dimension slices
        # (src/chunk_tuple_routing.c:72). Irregular chunks are rare
        # (surgery output), so a chained CASE stays cheap and codegen-able.
        for c in self._irregular_chunks():
            route = (
                F.when(
                    (internal >= F.lit(c["range_start"]))
                    & (internal < F.lit(c["range_end"])),
                    F.lit(c["range_start"]),
                ).otherwise(route)
            )
        # NOT NULL open dimension (src/dimension.c): raising inside the
        # routing expression aborts the WRITE JOB itself on the first
        # null row — the FileOutputCommitter discards uncommitted task
        # output, so the failed batch lands atomically-nothing, with no
        # extra validation scan in the no-null common case
        route = F.when(
            internal.isNull(), F.raise_error(F.lit(_NULL_TIME_MARKER))
        ).otherwise(route)
        exprs = [route.alias(CHUNK_COL)]
        if self.row.get("space_column"):
            n = int(self.row["num_partitions"])
            exprs.append(
                F.pmod(F.xxhash64(F.col(self.row["space_column"])), F.lit(n)).alias(
                    SPACE_COL
                )
            )
        return exprs

    @property
    def _partition_cols(self) -> list[str]:
        cols = [CHUNK_COL]
        if self.row.get("space_column"):
            cols.append(SPACE_COL)
        return cols

    # ----------------------------------------------------------- triggers
    def create_trigger(
        self,
        name: str,
        fn,
        when: str = "after",
        ops: Sequence[str] = ("insert",),
        condition: Optional[str] = None,
        chunk_scoped: bool = False,
    ) -> None:
        """Trigger hooks — the Spark analog of triggers on chunks
        (``test/sql/triggers.sql``; tuple routing fires the chunk's
        triggers in ``src/nodes/chunk_dispatch/``).

        Kinds:
        - ``when="before"``: ``fn(df) -> DataFrame`` — transform/filter
          the incoming batch as a whole (BEFORE STATEMENT analog).
        - ``when="before_row"``: ``fn(pandas.DataFrame) -> pandas.
          DataFrame`` — BEFORE ROW semantics, vectorized: the function
          sees rows as Arrow-batched pandas frames and may mutate column
          values ("modify NEW") and/or drop rows ("RETURN NULL" skips
          the row — for DELETE ops, dropping a row SKIPS its deletion,
          like a BEFORE DELETE trigger returning NULL). The returned
          frame must keep the input schema. Executes distributed via
          ``mapInPandas``; adjacent row-level triggers are fused into a
          single Arrow pass. With ``chunk_scoped=True`` the function is
          called once per (batch, chunk) with signature
          ``fn(pdf, chunk_start)`` and every frame it sees is pure to
          one routed chunk — the per-chunk firing of the reference's
          chunk triggers (tuple routing fires the CHUNK's triggers,
          ``src/nodes/chunk_dispatch/``); chunk-scoped triggers must
          not modify the time column (rows would re-route).
        - ``when="after_row"``: ``fn(pandas.DataFrame)`` (or
          ``fn(pdf, chunk_start)`` when chunk-scoped) — observe NEW
          rows after the write lands; the return value is ignored
          (AFTER ROW semantics). Fires on insert, upsert, UPDATE
          (post-assignment rows) and DELETE (the deleted rows; when a
          BEFORE-row delete trigger is also registered — which can veto
          rows — only the statement-level ``after`` hook observes the
          delete). MERGE fires statement-level hooks only. Costs one
          extra distributed pass over the affected batch, not the
          table.
        - ``when="after"``: ``fn(hypertable, stats)`` — observe the
          statement (stats include rows + touched chunk starts).

        ``ops``: which operations fire the trigger — any of
        ``"insert"`` (insert / upsert / merge), ``"update"``
        (``update_where`` NEW rows), ``"delete"`` (``delete_where``
        doomed rows); default insert-only, matching the pre-existing
        behavior. ``condition``: SQL boolean over NEW's columns — rows
        not matching bypass the trigger unchanged (``CREATE TRIGGER ..
        WHEN (NEW.x = ..)``, triggers.sql).

        Multiple triggers fire in name order (PostgreSQL semantics,
        ``src/backend/commands/trigger.c``). Hooks fire on every
        ``insert``/``upsert``, including each streaming micro-batch
        routed through ``StreamIngest``. Like the reference (where
        trigger functions live in the database), hook callables live
        with the session, not the on-disk catalog.
        """
        if when not in ("before", "before_row", "after", "after_row"):
            raise ValueError(
                "when must be 'before', 'before_row', 'after' or 'after_row'"
            )
        bad_ops = set(ops) - {"insert", "update", "delete"}
        if bad_ops:
            raise ValueError(f"unknown trigger ops {sorted(bad_ops)}")
        if chunk_scoped and when not in ("before_row", "after_row"):
            raise ValueError("chunk_scoped applies to row-level triggers only")
        reg = self.ts.__dict__.setdefault("_triggers", {}).setdefault(self.name, [])
        if any(t["name"] == name for t in reg):
            raise ValueError(f"trigger {name!r} already exists on {self.name!r}")
        reg.append(
            {
                "name": name,
                "when": when,
                "fn": fn,
                "ops": tuple(ops),
                "condition": condition,
                "chunk_scoped": bool(chunk_scoped),
            }
        )

    def drop_trigger(self, name: str) -> None:
        reg = self.ts.__dict__.get("_triggers", {}).get(self.name, [])
        keep = [t for t in reg if t["name"] != name]
        if len(keep) == len(reg):
            raise KeyError(f"no trigger {name!r} on {self.name!r}")
        self.ts._triggers[self.name] = keep

    def _hooks(self, when: str, op: str = "insert"):
        return [
            t for t in self.ts.__dict__.get("_triggers", {}).get(self.name, [])
            if t["when"] == when and op in t["ops"]
        ]

    def _fused_row_pass(self, df: DataFrame, fns: list) -> DataFrame:
        """Run of plain (unconditional, unscoped) row triggers fused
        into ONE mapInPandas pass — each extra Python exchange costs an
        Arrow round-trip per batch."""

        def _apply(batches, _fns=tuple(fns)):
            for pdf in batches:
                for f in _fns:
                    if len(pdf) == 0:
                        break
                    pdf = f(pdf)
                yield pdf

        return df.mapInPandas(_apply, df.schema)

    def _chunk_scoped_pass(self, df: DataFrame, fn) -> DataFrame:
        """Per-chunk firing (the reference fires the CHUNK's triggers
        after tuple routing, ``src/nodes/chunk_dispatch/``): the routed
        chunk start is computed JVM-side, each Arrow batch is grouped by
        it, and ``fn(pdf, chunk_start)`` sees only chunk-pure frames.
        Grouping happens within batches — no shuffle is added."""
        data_cols = df.columns
        rc = "_trg_chunk"
        routed = df.select("*", self._partition_exprs(df)[0].alias(rc))
        schema = df.schema

        def _apply(batches, _fn=fn, _cols=tuple(data_cols), _rc=rc):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf[list(_cols)]
                    continue
                parts = [
                    _fn(g[list(_cols)], int(cv))
                    for cv, g in pdf.groupby(_rc, sort=True)
                ]
                yield (
                    pd.concat(parts, ignore_index=True)
                    if parts
                    else pdf[list(_cols)].iloc[0:0]
                )

        return routed.mapInPandas(_apply, schema)

    def _row_trigger_step(self, df: DataFrame, t: dict) -> DataFrame:
        """Apply one row trigger honoring ``condition`` (JVM-side split:
        non-matching rows bypass untouched, WHEN (...) semantics) and
        ``chunk_scoped``."""
        if t["condition"] is not None:
            cond = F.coalesce(F.expr(t["condition"]), F.lit(False))
            hit, miss = df.filter(cond), df.filter(~cond)
        else:
            hit, miss = df, None
        if t["chunk_scoped"]:
            hit = self._chunk_scoped_pass(hit, t["fn"])
        else:
            hit = self._fused_row_pass(hit, [t["fn"]])
        return hit if miss is None else hit.unionByName(miss)

    def _fire_before(self, df: DataFrame, op: str = "insert") -> DataFrame:
        hooks = sorted(
            self._hooks("before", op) + self._hooks("before_row", op),
            key=lambda t: t["name"],
        )
        i = 0
        while i < len(hooks):
            t = hooks[i]
            if t["when"] == "before":
                df = t["fn"](df)
                i += 1
                continue
            if t["condition"] is not None or t["chunk_scoped"]:
                df = self._row_trigger_step(df, t)
                i += 1
                continue
            # fuse the run of adjacent PLAIN row-level triggers
            run: list = []
            while (
                i < len(hooks)
                and hooks[i]["when"] == "before_row"
                and hooks[i]["condition"] is None
                and not hooks[i]["chunk_scoped"]
            ):
                run.append(hooks[i]["fn"])
                i += 1
            df = self._fused_row_pass(df, run)
        return df

    def _fire_after_row(self, df: DataFrame, op: str = "insert") -> None:
        hooks = sorted(self._hooks("after_row", op), key=lambda t: t["name"])
        if not hooks:
            return

        def _observe(t):
            if t["chunk_scoped"]:
                def wrapped(pdf, chunk, _f=t["fn"]):
                    _f(pdf, chunk)
                    return pdf  # AFTER ROW: return value ignored
            else:
                def wrapped(pdf, _f=t["fn"]):
                    _f(pdf)
                    return pdf

            return {**t, "fn": wrapped}

        out = df
        for t in hooks:
            out = self._row_trigger_step(out, _observe(t))
        out.foreach(lambda _: None)  # drive the passes; rows discarded

    def _fire_after(self, stats: dict, op: str = "insert") -> None:
        for t in self._hooks("after", op):
            t["fn"](self, stats)

    def insert(
        self,
        df: DataFrame,
        cluster: bool = True,
        strict_constraints: Optional[bool] = None,
        enforce_foreign_keys: Optional[bool] = None,
    ) -> dict:
        """Append rows, routing each to its chunk.

        The Spark analog of tuple routing in ``ModifyHypertable``
        (``src/chunk_tuple_routing.c:72``): the derived ``_chunk`` column IS
        the route; new partition directories are the reference's
        "chunk created on demand" (``ts_chunk_create_for_point``).

        Also captures continuous-aggregate invalidations: per-batch
        min/max of the time dimension appended to the hypertable
        invalidation log (``tsl/src/continuous_aggs/insert.c:208``).

        Declared PRIMARY KEY / UNIQUE constraints (from ``CREATE TABLE``)
        are NOT enforced by plain inserts — parquet has no unique
        indexes, unlike the reference's arbiter (``test/sql/upsert.sql``).
        A one-time warning points at :meth:`upsert` / ``ON CONFLICT``.
        ``strict_constraints=True`` (or ``ts.strict_constraints = True``
        session-wide) validates the batch instead: duplicate keys within
        the batch or against existing rows raise, at the cost of one
        chunk-pruned key scan per declared key per insert.

        Declared FOREIGN KEY constraints ARE enforced by default — the
        reference silently enforces them (``src/foreign_key.c``
        propagates hypertable FKs to every chunk), so relaxing them must
        be the user's explicit choice: pass
        ``enforce_foreign_keys=False`` per call, or set
        ``ts.enforce_foreign_keys = False`` session-wide. Each batch
        pays one distinct-key anti-join per FK (see
        :meth:`_check_foreign_keys`).
        """
        strict = (
            strict_constraints
            if strict_constraints is not None
            else bool(getattr(self.ts, "strict_constraints", False))
        )
        check_fk = bool(self.row.get("foreign_keys")) and (
            enforce_foreign_keys
            if enforce_foreign_keys is not None
            else bool(getattr(self.ts, "enforce_foreign_keys", True))
        )
        if check_fk and not (self.row.get("unique_keys") and strict):
            # FK-only validation path: same check-then-write critical
            # section and post-trigger-row discipline as the strict
            # unique path below
            if self.row.get("unique_keys"):
                self._warn_unenforced_once()
            with self.ts.catalog.ht_lock(self.name):
                pin = self._fire_before(df)
                lvl = pin.storageLevel
                ours = not (lvl.useMemory or lvl.useDisk)
                if ours:
                    pin = pin.persist(_DML_PIN)
                try:
                    self._check_foreign_keys(pin)
                    return self._insert_prepared(pin, cluster=cluster)
                finally:
                    if ours:
                        pin.unpersist()
        if self.row.get("unique_keys") and strict:
            # check-then-write must be one critical section (the DML
            # lock is reentrant, so _insert_prepared re-acquiring it is
            # fine) and must validate the POST-trigger rows — the rows
            # actually written. The frame is pinned: the checks run
            # 1 + 2·keys actions over it before the write scans it again.
            with self.ts.catalog.ht_lock(self.name):
                pin = self._fire_before(df)
                # a frame the CALLER already cached must not be re-pinned
                # (unpersisting after would evict their cache — the
                # CacheManager matches plans by sameResult, so no wrapper
                # plan can dodge that); their cache already serves the
                # multi-action reuse
                lvl = pin.storageLevel
                ours = not (lvl.useMemory or lvl.useDisk)
                if ours:
                    pin = pin.persist(_DML_PIN)
                try:
                    self._check_unique(pin)
                    if check_fk:
                        self._check_foreign_keys(pin)
                    return self._insert_prepared(pin, cluster=cluster)
                finally:
                    if ours:
                        pin.unpersist()
        if self.row.get("unique_keys"):
            self._warn_unenforced_once()
        df = self._fire_before(df)
        return self._insert_prepared(df, cluster=cluster)

    _warned_unenforced: set = set()

    def _warn_unenforced_once(self) -> None:
        key = (self.ts.catalog_root, self.name)
        if key in Hypertable._warned_unenforced:
            return
        Hypertable._warned_unenforced.add(key)
        import warnings

        warnings.warn(
            f"hypertable {self.name!r} declares PRIMARY KEY/UNIQUE "
            f"constraints, but plain insert() does not enforce them "
            f"(no unique indexes over parquet). Use upsert()/"
            f"ON CONFLICT for arbiter semantics, or pass "
            f"strict_constraints=True to validate each batch.",
            stacklevel=3,
        )

    def _check_unique(self, df: DataFrame) -> None:
        """strict_constraints insert path: reject batches that would
        violate a declared unique key — within the batch, and against
        existing rows (chunk-pruned to the batch's time range; sound
        because hypertable unique keys must include the partition
        column, the same rule the reference enforces,
        src/indexing.c ts_indexing_verify_columns)."""
        df = self._conform_input(df)
        # PRIMARY KEY implies NOT NULL on its columns — reject NULL key
        # values BEFORE the NULLS DISTINCT relaxation below (which is
        # correct for plain UNIQUE but would otherwise let NULL-keyed PK
        # rows through unchecked)
        pk_cols = [
            c for c in (self.row.get("pk_columns") or []) if c in df.columns
        ]
        if pk_cols:
            cond = None
            for c in pk_cols:
                cond = F.col(c).isNull() if cond is None else cond | F.col(c).isNull()
            bad = df.filter(cond).limit(1).collect()
            if bad:
                nulls = [c for c in pk_cols if bad[0][c] is None]
                raise ValueError(
                    f"null value in column {nulls[0]!r} violates not-null "
                    f"constraint (PRIMARY KEY columns are NOT NULL)"
                )
        mm = df.agg(
            F.min(self._internal_time_expr(df)).alias("lo"),
            F.max(self._internal_time_expr(df)).alias("hi"),
        ).collect()[0]
        if mm["lo"] is None:
            return
        existing = None
        if self.chunks():
            existing = self.read(start=int(mm["lo"]), end=int(mm["hi"]) + 1)
        for keys in self.row["unique_keys"]:
            # PG default NULLS DISTINCT semantics: a NULL in any key
            # column never conflicts — with anything (matching the
            # against-existing equi-join below, which also skips NULLs)
            nn = df
            for k in keys:
                nn = nn.filter(F.col(k).isNotNull())
            dup = (
                nn.groupBy(*keys)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                vals = {k: dup[0][k] for k in keys}
                raise ValueError(
                    f"duplicate key value violates unique constraint on "
                    f"{tuple(keys)}: {vals} appears more than once in the "
                    f"insert batch"
                )
            if existing is not None:
                hit = (
                    existing.join(
                        nn.select(*keys).distinct(), list(keys), "left_semi"
                    )
                    .select(*keys)
                    .limit(1)
                    .collect()
                )
                if hit:
                    vals = {k: hit[0][k] for k in keys}
                    raise ValueError(
                        f"duplicate key value violates unique constraint "
                        f"on {tuple(keys)}: {vals} already exists "
                        f"(use upsert()/ON CONFLICT to update instead)"
                    )

    def _check_foreign_keys(self, df: DataFrame) -> None:
        """Default-on FK validation of an insert batch — the analog of
        the reference enforcing hypertable FKs through per-chunk
        constraint propagation (``src/foreign_key.c:propagate_fk``;
        parquet has no FK machinery, so the insert path validates each
        batch instead). PG MATCH SIMPLE semantics: a row with ANY NULL
        key column passes; every all-non-NULL key must match a row of
        the referenced table. ``REFERENCES t`` without columns targets
        ``t``'s PRIMARY KEY. One distinct-key LEFT ANTI join per FK —
        batch keys are distinct'd map-side and the referenced key set
        is typically a broadcast-sized dimension, so the probe adds no
        wide shuffle at scale. Documented divergence: referenced-SIDE
        actions (RESTRICT/CASCADE on delete from the referenced table)
        are not intercepted."""
        df = self._conform_input(df)
        cat = self.ts.catalog
        for fk in self.row.get("foreign_keys") or []:
            cols = list(fk["columns"])
            rt = fk["ref_table"]
            prow = cat.plain_table.find_one(name=rt)
            hrow = None if prow else cat.hypertable.find_one(name=rt)
            if prow is not None:
                ref = self.ts.read_table(rt)
                ref_meta = prow
            elif hrow is not None:
                ref = Hypertable(self.ts, hrow).read()
                ref_meta = hrow
            else:
                raise ValueError(
                    f'relation "{rt}" referenced by foreign key on '
                    f"{self.name!r} does not exist"
                )
            refcols = list(fk.get("ref_columns") or [])
            if not refcols:
                refcols = list(ref_meta.get("pk_columns") or [])
                if not refcols:
                    raise ValueError(
                        f"foreign key on {self.name!r} references "
                        f"{rt!r} without columns, and {rt!r} has no "
                        f"primary key"
                    )
            if len(refcols) != len(cols):
                raise ValueError(
                    f"foreign key column count mismatch: {cols} "
                    f"references {rt}{tuple(refcols)}"
                )
            nn = df
            for c in cols:
                nn = nn.filter(F.col(c).isNotNull())
            keys = [f"_fk{i}" for i in range(len(cols))]
            batch = nn.select(
                *[F.col(c).alias(k) for c, k in zip(cols, keys)]
            ).distinct()
            refk = ref.select(
                *[F.col(rc).alias(k) for rc, k in zip(refcols, keys)]
            ).distinct()
            miss = batch.join(refk, keys, "left_anti").limit(1).collect()
            if miss:
                vals = {c: miss[0][k] for c, k in zip(cols, keys)}
                raise ValueError(
                    f"insert into {self.name!r} violates foreign key "
                    f"constraint: key {vals} is not present in table "
                    f"{rt!r} (pass enforce_foreign_keys=False to skip "
                    f"validation)"
                )

    @_serialized_dml
    def _insert_prepared(self, df: DataFrame, cluster: bool = True) -> dict:
        """insert() after BEFORE triggers — callers that already fired
        them (merge_into's pure-insert path) enter here."""
        self._ensure_typed(df)
        # columns the CALLER provided (vs. conform-added literal
        # defaults) — only these can carry NULLs into an added column,
        # which is what decides whether fill-pending chunks must be
        # materialized before the append (see _insert_pinned)
        user_cols = set(df.columns)
        df = self._conform_input(df)
        want = {f.name for f in self._schema().fields}
        have = set(df.columns)
        if want != have:
            raise ValueError(f"schema mismatch: want {sorted(want)}, have {sorted(have)}")
        # AFTER ROW observers need the exact rows that were written. The
        # incoming DAG already contains the BEFORE-row trigger passes, so
        # re-executing it for the after pass would fire side-effecting
        # before triggers a second time (and a nondeterministic source
        # could yield different rows than were persisted). Pin the frame:
        # the write job populates the cache, the after pass reads it back
        # (MEMORY_AND_DISK — spills, never recomputes, except on executor
        # loss, the same guarantee Spark gives any cached lineage).
        pinned = bool(self._hooks("after_row", "insert"))
        if pinned:
            df = df.persist(_DML_PIN)
        try:
            return self._insert_pinned(df, cluster, user_cols)
        finally:
            if pinned:
                df.unpersist()

    def _insert_pinned(
        self, df: DataFrame, cluster: bool, user_cols: Optional[set] = None
    ) -> dict:
        internal = self._internal_time_expr(df)
        frozen = [c for c in self.chunks() if c.get("frozen")]
        fill_defaults = [
            ac for ac in self.added_columns() if ac["default"] is not None
        ]
        # materialization is only needed when the BATCH can carry a NULL
        # in a fill-pending added column (the read-time fill would wrongly
        # default it). Conform-added columns are non-null literals, so
        # only user-provided added columns qualify — and for those the
        # pre-scan below checks whether any NULL actually occurs.
        nullable_acs = [
            ac
            for ac in fill_defaults
            if user_cols is None or ac["name"] in user_cols
        ]
        prefill = [
            c
            for c in self.chunks()
            if any(self._chunk_needs_fill(c, ac) for ac in nullable_acs)
        ]
        if frozen or prefill:
            # frozen chunks must be able to REJECT the write, so stats are
            # needed before any file lands: pay a separate stats scan
            # (rare — frozen chunks only exist on tiering-style setups).
            # Fill-pending chunks need the range BEFORE the append too:
            # their defaults must be MATERIALIZED first, or the chunk-
            # granular read fill would rewrite this batch's explicit
            # NULLs to the default (PG fast-default semantics: only rows
            # predating the ADD read the default).
            stats = (
                df.select(
                    internal.alias("_t"),
                    *[F.col(ac["name"]) for ac in nullable_acs],
                )
                .agg(
                    F.min("_t").alias("tmin"),
                    F.max("_t").alias("tmax"),
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(F.col("_t").isNull()).alias("nulls"),
                    *[
                        F.count_if(F.col(ac["name"]).isNull()).alias(
                            f"_acn_{i}"
                        )
                        for i, ac in enumerate(nullable_acs)
                    ],
                )
                .collect()[0]
            )
            if stats["nulls"]:
                raise ValueError(self._null_time_msg())
            if stats["n"] == 0:
                return {"rows": 0, "chunks": []}
            self._check_frozen(stats["tmin"], stats["tmax"])
            tmin, tmax, n = stats["tmin"], stats["tmax"], stats["n"]
            # keep only the fill columns that DO carry NULLs in this
            # batch; if none do, the chunk files can stay unrewritten —
            # read-time fill remains correct (new rows are non-null, old
            # rows still coalesce to the default)
            null_acs = {
                nullable_acs[i]["name"]
                for i in range(len(nullable_acs))
                if int(stats[f"_acn_{i}"] or 0) > 0
            }
            self._materialize_fills(
                [
                    c
                    for c in prefill
                    if c["range_start"] <= tmax
                    and c["range_end"] > tmin
                    and any(
                        self._chunk_needs_fill(c, ac)
                        for ac in nullable_acs
                        if ac["name"] in null_acs
                    )
                ]
            )
            obs = None
        else:
            # single-scan ingest: min/max/count ride the write job as
            # observe() metrics instead of a second pass over the source
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(
                obs,
                F.min(internal).alias("tmin"),
                F.max(internal).alias("tmax"),
                F.count(F.lit(1)).alias("n"),
            )
        out = df.select("*", *self._partition_exprs(df))
        if cluster:
            out = out.repartition(*[F.col(c) for c in self._partition_cols])
        self._guard_preexisting_null_dir()
        self._null_guarded(
            lambda: storage.writer(out, "append", self._partition_cols).parquet(self.data_dir)
        )
        if obs is not None:
            try:
                got = obs.get
                tmin, tmax, n = got["tmin"], got["tmax"], got["n"]
            except Exception:
                # Observation delivery is a listener-bus callback and can
                # (rarely) fail to materialize; the write already
                # happened, so pay a one-off stats scan instead of dying.
                row = df.agg(
                    F.min(internal).alias("tmin"),
                    F.max(internal).alias("tmax"),
                    F.count(F.lit(1)).alias("n"),
                ).collect()[0]
                tmin, tmax, n = row["tmin"], row["tmax"], row["n"]
            if n == 0:
                return {"rows": 0, "chunks": []}
        self._reject_null_partition_dir()
        chunks = self._register_chunks_in_range(tmin, tmax)
        self._invalidate_stats_in_range(tmin, tmax)
        self._capture_invalidation(tmin, tmax)
        stats = {"rows": n, "chunks": chunks}
        self._fire_after_row(df, "insert")
        self._fire_after(stats)
        return stats

    @staticmethod
    def _null_time_msg() -> str:
        return (
            "null value in the time dimension column violates its NOT NULL "
            "constraint (create_hypertable requires a non-null open "
            "dimension, src/dimension.c)"
        )

    def _null_guarded(self, fn):
        """Run a job that evaluates the chunk-routing expression,
        translating the executor-side NOT NULL sentinel into the clean
        constraint error."""
        try:
            return fn()
        except ValueError:
            raise
        except Exception as e:  # noqa: BLE001 — inspect-and-rethrow
            if _NULL_TIME_MARKER in str(e):
                raise ValueError(self._null_time_msg()) from None
            raise

    @property
    def _null_partition_dir(self) -> str:
        return os.path.join(
            self.data_dir, f"{CHUNK_COL}=__HIVE_DEFAULT_PARTITION__"
        )

    def _guard_preexisting_null_dir(self) -> None:
        """Refuse to write when a Hive default-partition dir already
        exists (older engine version or an external writer): deleting it
        post-write would destroy data that this insert never produced,
        so surface it as layout corruption BEFORE any file commits."""
        if os.path.isdir(self._null_partition_dir):
            raise ValueError(
                f"hypertable data dir contains a pre-existing "
                f"{CHUNK_COL}=__HIVE_DEFAULT_PARTITION__ directory (null "
                f"time values from an external or legacy writer); refusing "
                f"to write — repair or remove it first"
            )

    def _reject_null_partition_dir(self) -> None:
        """A NULL time value routes to Hive's default partition dir. The
        routing expression raises pre-commit, so this post-write check is
        a belt-and-braces backstop; any dir present here appeared DURING
        this insert (pre-existing dirs are rejected before the write by
        :meth:`_guard_preexisting_null_dir`), so detect-and-undo is safe:
        drop the junk dir and raise the reference's NOT NULL error."""
        if os.path.isdir(self._null_partition_dir):
            shutil.rmtree(self._null_partition_dir)
            raise ValueError(self._null_time_msg())

    def _schema(self) -> T.StructType:
        return T.StructType.fromJson(__import__("json").loads(self.row["schema_ddl"]))

    # ---------------------------------------------- schema evolution
    # ALTER TABLE .. ADD/DROP COLUMN on hypertables; the reference
    # propagates the DDL to every chunk (src/process_utility.c,
    # test/sql/alter.sql). Here the ALTER is lazy like PG's fast default
    # path (attmissingval): no chunk files are rewritten; files written
    # before the ADD simply lack the column, and reads fill the recorded
    # default for exactly those chunks. Any later chunk rewrite (upsert /
    # update / compress / merge) materializes current-schema files and
    # stamps ``fill_done_at`` so the fill stops applying.

    def added_columns(self) -> list[dict]:
        return list(self.row.get("added_columns") or [])

    def add_column(self, name: str, dtype: str, default=None) -> None:
        """``ALTER TABLE .. ADD COLUMN name dtype [DEFAULT d]``.

        O(1): catalog-only. ``default`` must be a plain literal (or None);
        existing rows read it back, exactly PG's fast-default behavior.
        """
        if self.row.get("schema_ddl") is None:
            raise ValueError("hypertable has no schema yet (insert first)")
        cur = self._schema()
        if name in {f.name for f in cur.fields}:
            raise ValueError(f"column {name!r} already exists")
        field = T.StructType.fromDDL(f"{name} {dtype}").fields[0]
        new_schema = T.StructType(list(cur.fields) + [field])
        entry = {
            "name": name,
            "type": dtype,
            "default": default,
            "added_at": _time.time(),
        }
        changed = {
            "schema_ddl": new_schema.json(),
            "added_columns": self.added_columns() + [entry],
            "schema_evolved": True,
        }
        self.ts.catalog.hypertable.update({"name": self.name}, changed)
        self.row.update(changed)

    def drop_column(self, name: str) -> None:
        """``ALTER TABLE .. DROP COLUMN`` — lazy: files keep the bytes,
        the declared schema stops selecting them (column pruning means
        they are never even read)."""
        if name == self.time_column or name == self.row.get("space_column"):
            raise ValueError(f"cannot drop partitioning column {name!r}")
        cur = self._schema()
        if name not in {f.name for f in cur.fields}:
            raise ValueError(f"no column {name!r}")
        new_schema = T.StructType([f for f in cur.fields if f.name != name])
        changed = {
            "schema_ddl": new_schema.json(),
            "added_columns": [
                a for a in self.added_columns() if a["name"] != name
            ],
            "schema_evolved": True,
        }
        self.ts.catalog.hypertable.update({"name": self.name}, changed)
        self.row.update(changed)

    def drop(self, cascade: bool = False) -> None:
        """``DROP TABLE`` on a hypertable (PG-inherited; the reference's
        event trigger tears down chunks and catalog rows,
        ``src/process_utility.c``). RESTRICT by default: refuses while
        continuous aggregates depend on this hypertable; ``cascade=True``
        drops them first, like PG's ``DROP TABLE .. CASCADE``. Removes
        every catalog row keyed by this hypertable (chunks, stats,
        dimensions, compression settings, invalidation protocol state,
        policy jobs) and deletes the data directory."""
        import shutil as _sh

        cat = self.ts.catalog
        with cat.ht_lock(self.name):
            deps = cat.continuous_agg.find(hypertable_id=self.id)
            if deps and not cascade:
                names = sorted(d["name"] for d in deps)
                raise ValueError(
                    f"cannot drop {self.name!r}: continuous aggregates "
                    f"{names} depend on it (use cascade=True / CASCADE)"
                )
            for d in deps:
                from .caggs import ContinuousAggregate

                ContinuousAggregate.get(self.ts, d["name"]).drop()
            with cat.write_lock:
                cat.chunk.delete({"hypertable_id": self.id})
                cat.chunk_column_stats.delete({"hypertable_id": self.id})
                cat.dimension.delete({"hypertable_id": self.id})
                cat.compression_settings.delete({"hypertable_id": self.id})
                cat.invalidation_threshold.delete({"hypertable_id": self.id})
                cat.hypertable_invalidation_log.delete(
                    {"hypertable_id": self.id}
                )
                for job in cat.bgw_job.read():
                    if (job.get("config") or {}).get("hypertable") == self.name:
                        cat.bgw_job.delete({"id": job["id"]})
                cat.hypertable.delete({"id": self.id})
            _sh.rmtree(self.data_dir, ignore_errors=True)

    def rename_to(self, new: str) -> None:
        """``ALTER TABLE .. RENAME TO`` (PostgreSQL-inherited; the
        reference updates its catalog and keeps chunks attached,
        ``src/process_utility.c``). Catalog + directory move — no data
        rewrite; every name-referencing catalog row follows: policy job
        configs (``{"hypertable": name}``), cagg source/mat references.
        """
        cat = self.ts.catalog
        old = self.name
        if new == old:
            return
        with cat.ht_lock(old):
            with cat.write_lock:
                if cat.hypertable.find_one(name=new) or cat.plain_table.find_one(
                    name=new
                ):
                    raise ValueError(f"table {new!r} already exists")
                old_dir, new_dir = cat.data_dir(old), cat.data_dir(new)
                if os.path.isdir(old_dir):
                    os.makedirs(os.path.dirname(new_dir), exist_ok=True)
                    os.rename(old_dir, new_dir)
                cat.hypertable.update({"name": old}, {"name": new})
                for job in cat.bgw_job.read():
                    cfg = job.get("config") or {}
                    if cfg.get("hypertable") == old:
                        cat.bgw_job.update(
                            {"id": job["id"]},
                            {"config": {**cfg, "hypertable": new}},
                        )
                for ca in cat.continuous_agg.read():
                    changes = {}
                    if ca.get("hypertable_name") == old:
                        changes["hypertable_name"] = new
                    if ca.get("mat_table") == old:
                        changes["mat_table"] = new
                    if changes:
                        cat.continuous_agg.update({"name": ca["name"]}, changes)
        self.row["name"] = new
        self._refresh()

    def rename_column(self, old: str, new: str) -> None:
        """``ALTER TABLE .. RENAME COLUMN`` (PostgreSQL-inherited; the
        reference propagates the rename to every chunk in the catalog,
        ``src/process_utility.c``).

        Documented divergence: PG's rename is an O(1) catalog update
        because names live only in the catalog; parquet binds columns
        BY NAME (no Iceberg-style field ids), so this rewrites each
        chunk's files once — one dynamic-partition-overwrite job, the
        same cost class as a compression pass. An ACID table format with
        field ids underneath the chunk store would make it free.
        Runs under the hypertable DML lock; skip stats for the renamed
        column are dropped (ANALYZE restores them under the new name).
        """
        with self.ts.catalog.ht_lock(self.name):
            self._rename_column_locked(old, new)

    def _rename_column_locked(self, old: str, new: str) -> None:
        cur = self._schema()
        names = {f.name for f in cur.fields}
        if old not in names:
            raise ValueError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if self.ts.catalog.continuous_agg.find(hypertable_id=self.id):
            # cagg definitions reference columns by SQL text; renaming
            # underneath them would silently break refresh (the reference
            # errors similarly for cagg-backing columns)
            raise ValueError(
                "cannot rename a column on a hypertable with continuous "
                "aggregates; drop the caggs first"
            )
        chunks = self.chunks()
        if any(c.get("frozen") for c in chunks):
            # the rewrite would touch frozen chunk dirs — same refusal as
            # every other write path (freeze_chunk, sql/chunk.sql:45)
            raise PermissionError(
                f"hypertable {self.name!r} has frozen chunks; unfreeze "
                f"before renaming columns"
            )
        if chunks:
            df = self._chunk_reader().option("basePath", self.data_dir).parquet(
                *[self._chunk_glob(c) for c in chunks]
            )
            df = self._apply_fills(df, chunks)
            out = df.withColumnRenamed(old, new)
            self._affected_chunk_writeback(out)
            # the rewrite destroys columnstore clustering and stales all
            # recorded stats — same invalidation as any in-place rewrite
            self._mark_rewritten([c["range_start"] for c in chunks])
        # catalog: schema + every name-referencing field
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in cur.fields
            ]
        )
        changed: dict = {"schema_ddl": new_schema.json(), "schema_evolved": True}
        if self.row.get("time_column") == old:
            changed["time_column"] = new
        if self.row.get("space_column") == old:
            changed["space_column"] = new
        skips = self.row.get("skip_columns") or []
        if old in skips:
            changed["skip_columns"] = [new if c == old else c for c in skips]
        acs = self.added_columns()
        if any(a["name"] == old for a in acs):
            changed["added_columns"] = [
                {**a, "name": new} if a["name"] == old else a for a in acs
            ]
        cat = self.ts.catalog
        with cat.write_lock:
            cat.hypertable.update({"name": self.name}, changed)
            # dimension metadata names the column too
            cat.dimension.update(
                {"hypertable_id": self.id, "column": old}, {"column": new}
            )
            # stats recorded under the old name are now unreachable
            cat.chunk_column_stats.delete(
                {"hypertable_id": self.id, "column": old}
            )
            s = cat.compression_settings.find_one(hypertable_id=self.id)
            if s:
                cat.compression_settings.update(
                    {"hypertable_id": self.id},
                    {
                        "segmentby": [
                            new if c == old else c for c in (s.get("segmentby") or [])
                        ],
                        "orderby": [
                            [new if c == old else c, d]
                            for c, d in (s.get("orderby") or [])
                        ],
                    },
                )
        self._refresh()
        # files were just rewritten at the current schema
        self._mark_fill_done([c["range_start"] for c in chunks])

    def _conform_input(self, df: DataFrame) -> DataFrame:
        """Fill added columns absent from an INSERT/UPSERT input with
        their defaults (PG: INSERT without the new column → default)."""
        if (
            self.row.get("time_type") == "uuid"
            and self.time_column in df.columns
        ):
            # canonicalize UUID text to lowercase AT WRITE TIME (PG's
            # uuid type is case-insensitive on input but renders one
            # canonical lowercase form): the pushable text-range prune
            # filter (_time_bound_filter) compares lexicographically
            # against lowercase-hex boundary literals, and 'A' < 'a',
            # so an uppercase stored row would be silently excluded
            # from pruned reads / caggs / refresh windows. Routing
            # (F.conv) is case-insensitive, so only storage needs the
            # canonical form — normalizing here keeps the read-side
            # filter a plain pushable comparison on the raw column.
            df = df.withColumn(
                self.time_column, F.lower(F.col(self.time_column))
            )
        for ac in self.added_columns():
            if ac["name"] not in df.columns:
                df = df.withColumn(
                    ac["name"], F.lit(ac["default"]).cast(ac["type"])
                )
        return df

    def _chunk_needs_fill(self, chunk: dict, ac: dict) -> bool:
        seen = max(chunk.get("created_at") or 0, chunk.get("fill_done_at") or 0)
        return seen < ac["added_at"]

    def _apply_fills(self, df: DataFrame, chunks: list[dict]) -> DataFrame:
        """Fill NULLs of added columns with their default, but only for
        rows of chunks whose files predate the ADD COLUMN."""
        fills = self._fill_sql(chunks)
        if not fills or CHUNK_COL not in df.columns:
            return df
        return df.withColumns({n: F.expr(e) for n, e in fills.items()})

    def _fill_sql(self, chunks: list[dict]) -> dict[str, str]:
        """Per added column with a default: one ``CASE`` that fills its
        NULLs in rows of the ``chunks`` whose files predate the ADD."""
        out = {}
        for ac in self.added_columns():
            if ac["default"] is None:
                continue
            need = [
                str(c["range_start"])
                for c in chunks
                if self._chunk_needs_fill(c, ac)
            ]
            if not need:
                continue
            col = q(ac["name"])
            out[ac["name"]] = (
                f"CASE WHEN {in_list(q(CHUNK_COL), need)} AND {col} IS NULL "
                f"THEN CAST({sql_literal(ac['default'])} AS {ac['type']}) "
                f"ELSE {col} END"
            )
        return out

    def _materialize_fills(self, chunks: list) -> None:
        """One-time rewrite of fill-pending chunks with their defaults
        materialized (PG's table rewrite for non-fast paths): afterwards
        the chunk is fill_done and read-time coalescing no longer
        applies, so rows APPENDED later keep their explicit NULLs."""
        if not chunks:
            return
        from .compression import _swap_dir

        for c in chunks:
            path = self._chunk_glob(c)
            if not os.path.isdir(path):
                continue
            out = self._conform_chunk_df(
                c, self._chunk_reader().parquet(path)
            )
            space = self.row.get("space_column") and SPACE_COL in out.columns
            writer = storage.writer(out, partition_by=[SPACE_COL] if space else ())
            tmp = os.path.join(
                self.data_dir, f".tmp_fill_{c['range_start']}"
            )
            try:
                writer.parquet(tmp)
                _swap_dir(path, tmp)
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
        self._mark_fill_done([c["range_start"] for c in chunks])

    def _conform_chunk_df(self, chunk: dict, df: DataFrame) -> DataFrame:
        """Single-chunk variant of ``_apply_fills`` for per-chunk rewrite
        paths (compress / reorder / split / merge / add_dimension)."""
        for ac in self.added_columns():
            if ac["default"] is not None and self._chunk_needs_fill(chunk, ac):
                df = df.withColumn(
                    ac["name"],
                    F.coalesce(
                        F.col(ac["name"]), F.lit(ac["default"]).cast(ac["type"])
                    ),
                )
        return df

    def _mark_fill_done(self, chunk_starts) -> None:
        """Stamp chunks whose files were just rewritten at current schema."""
        if not self.added_columns():
            return
        starts = set(chunk_starts)
        ids = [c["id"] for c in self.chunks() if c["range_start"] in starts]
        # one catalog rewrite for the whole batch
        self.ts.catalog.chunk.update_in("id", ids, {"fill_done_at": _time.time()})

    def _chunk_reader(self):
        """Parquet reader for chunk dirs: explicit catalog schema
        whenever one is recorded (every insert records it), inferred
        only before the first insert. Explicit schema reads columns by
        name (files written before an ADD COLUMN read as NULL) AND
        skips the footer-sampling inference job Spark otherwise runs
        per reader — measured ~113ms -> ~17ms per read open (round 17;
        the open sits on every hypertable/cagg serve path)."""
        reader = self.ts.spark.read
        if self.row.get("schema_ddl"):
            reader = reader.schema(self._schema())
        return reader

    def _irregular_chunks(self) -> list[dict]:
        """Chunks whose [start, end) is not the uniform interval grid."""
        interval = int(self.row["chunk_interval"])
        out = []
        for c in self.chunks():
            on_grid = (
                c["range_end"] - c["range_start"] == interval
                and c["range_start"] % interval == 0
            )
            if not on_grid:
                out.append(c)
        return out

    def _register_chunks_in_range(self, tmin: int, tmax: int) -> list[int]:
        """Register any partition dirs present on disk as catalog chunks."""
        interval = int(self.row["chunk_interval"])
        known = {c["range_start"] for c in self.chunks()}
        new = [s for s in self._scan_chunk_dirs() if s not in known]
        rows = []
        for start in sorted(new):
            row = {
                "id": self.ts.catalog.next_id("chunk"),
                "hypertable_id": self.id,
                "range_start": start,
                "range_end": start + interval,
                "status": "rowstore",
                "created_at": _time.time(),
            }
            if self.row.get("space_column"):
                # snapshot the space fan-out THIS chunk was written with:
                # set_number_partitions applies to new chunks only, and
                # space pruning must hash with the chunk's own modulus
                # (reference: dimension slices are recorded per chunk)
                row["space_n"] = int(self.row["num_partitions"])
            rows.append(row)
        if rows:
            self.ts.catalog.chunk.append(rows)
        return [r["range_start"] for r in rows]

    def _scan_chunk_dirs(self) -> list[int]:
        out = []
        if not os.path.isdir(self.data_dir):
            return out
        for p in os.listdir(self.data_dir):
            if p.startswith(f"{CHUNK_COL}="):
                out.append(int(p.split("=", 1)[1]))
        return sorted(out)

    def _capture_invalidation(self, tmin: int, tmax: int) -> None:
        """Append dirty range if any cagg watches this hypertable and the
        range is below the invalidation threshold
        (``tsl/src/continuous_aggs/invalidation_threshold.c``)."""
        cat = self.ts.catalog
        if not cat.continuous_agg.find(hypertable_id=self.id):
            return
        # threshold read + log append must be atomic vs refresh txn-1/2a
        # (the reference locks the threshold row, invalidation_threshold.c
        # + insert.c:208); the data write has already landed when we get
        # here, so either the refresh's materialize pass sees the rows or
        # this entry survives for the next refresh — never neither.
        with cat.write_lock:
            thr = cat.invalidation_threshold.find_one(hypertable_id=self.id)
            threshold = int(thr["watermark"]) if thr else None
            if threshold is None or tmin < threshold:
                cat.hypertable_invalidation_log.append(
                    [
                        {
                            "hypertable_id": self.id,
                            "lowest_modified_value": tmin,
                            "greatest_modified_value": tmax,
                        }
                    ]
                )

    # ----------------------------------------------------------------- dml
    def _check_frozen(self, lo: Optional[int], hi: Optional[int]) -> None:
        """Write paths refuse frozen chunks (``freeze_chunk``,
        sql/chunk.sql:45; the reference raises on DML into frozen/OSM
        chunks). ``[lo, hi]`` are inclusive internal bounds of the write."""
        for c in self.chunks():
            if not c.get("frozen"):
                continue
            if (hi is None or c["range_start"] <= hi) and (
                lo is None or c["range_end"] > lo
            ):
                raise PermissionError(
                    f"chunk [{c['range_start']},{c['range_end']}) of "
                    f"{self.name!r} is frozen"
                )

    def _surviving_space_pairs(self, frame: DataFrame):
        """(chunk, space) pairs present in ``frame`` — collected BEFORE
        a writeback (the overwrite invalidates the frame's file
        snapshot), or None when the table has no space dimension."""
        if not (self.row.get("space_column") and SPACE_COL in frame.columns):
            return None
        return {
            (r[0], r[1])
            for r in frame.select(CHUNK_COL, SPACE_COL).distinct().collect()
        }

    def _drop_doomed_space_dirs(self, pairs, chunk_objs) -> None:
        """After a delete-bearing rewrite on a SPACE-partitioned table:
        remove ``_space=`` subdirs of surviving chunks with no pair in
        ``pairs`` — dynamic partition overwrite never touches a dir
        absent from its output, so a fully-doomed space bucket would
        otherwise keep its deleted rows on disk."""
        if pairs is None:
            return
        by_chunk: dict = {}
        for ch, k in pairs:
            by_chunk.setdefault(ch, set()).add(k)
        for c in chunk_objs:
            cdir = self._chunk_glob(c)
            if not os.path.isdir(cdir):
                continue
            alive = by_chunk.get(c["range_start"], set())
            for sub in os.listdir(cdir):
                if not sub.startswith(f"{SPACE_COL}="):
                    continue
                if int(sub.split("=", 1)[1]) not in alive:
                    shutil.rmtree(os.path.join(cdir, sub))

    def _affected_chunk_writeback(self, out: DataFrame) -> None:
        """Rewrite exactly the partition dirs present in ``out`` via
        dynamic partition overwrite — the Spark-native analog of the
        reference's per-chunk DML rewrites
        (``tsl/src/compression/compression_dml.c``): untouched chunks'
        files are never read or written."""
        out = out.repartition(*[F.col(c) for c in self._partition_cols])
        (
            storage.writer(out, partition_by=self._partition_cols)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.data_dir)
        )

    def _mark_rewritten(self, chunk_starts: Iterable[int]) -> None:
        """After an in-place rewrite a columnstore chunk is back to row
        form, and the skip-index stats of ANY rewritten chunk are stale
        (the reference marks them invalid on DML —
        ``src/ts_catalog/chunk_column_stats.c``,
        ``ts_chunk_column_stats_set_invalid``). A pruned read must never
        use a lying min/max, so drop stats unconditionally; ANALYZE
        restores them."""
        self._stale_chunk_meta(
            lambda r: r.get("range_start") in set(chunk_starts),
            downgrade=True,
        )

    def _invalidate_stats_in_range(self, tmin: int, tmax: int) -> None:
        """Drop chunk-skipping stats for chunks an INSERT appended into
        (``src/chunk.c:3571`` ``ts_chunk_column_stats_set_invalid``): the
        new rows may widen a tracked column's true range, so a recorded
        min/max would silently exclude the chunk from stat-pruned reads.
        Freshly-registered chunks have no stats rows, so deleting by
        range overlap only ever hits pre-existing chunks. No
        skip-columns guard: compress_chunk records stats too
        (``compression.py``), and an append into a columnstore chunk
        must stale those as well. The catalog row count (``n_rows``,
        backing approximate_row_count) goes stale the same way."""
        self._stale_chunk_meta(
            lambda r: r.get("range_start", 0) <= tmax
            and r.get("range_end", 0) > tmin
        )

    def _stale_chunk_meta(self, pred, downgrade: bool = False) -> None:
        """Drop skip stats and recorded row counts for this hypertable's
        chunks matching ``pred`` — in ONE compound catalog transaction
        (one read→replace per table). A per-chunk update loop would
        rewrite the chunk table O(chunks) times: O(chunks²) bytes at
        2,400 chunks, which measurably dominated MERGE in the scale
        probe. ``downgrade`` additionally flips columnstore→rowstore
        (in-place REWRITES only; a plain append into a columnstore chunk
        keeps its status so recompress_chunk can fold the stragglers)."""
        cat = self.ts.catalog
        with cat.write_lock:
            rows = cat.chunk.read()
            ids = set()
            changed = False
            for r in rows:
                if r.get("hypertable_id") != self.id or not pred(r):
                    continue
                ids.add(r.get("id"))
                if r.get("n_rows") is not None:
                    r["n_rows"] = None
                    changed = True
                if r.get("status") == "columnstore":
                    if downgrade:
                        r["status"] = "rowstore"
                        if r.get("unordered"):
                            r["unordered"] = False
                        changed = True
                    elif not r.get("unordered"):
                        # a plain append into a columnstore chunk leaves
                        # an unsorted tail — the reference's unordered
                        # status bit (bit 2, sql/policy_internal.sql:156)
                        # set by ts_chunk_set_unordered; the compaction
                        # policy's recompress_unordered flag keys off it
                        r["unordered"] = True
                        changed = True
            if changed:
                cat.chunk.replace(rows)
            if ids:
                srows = cat.chunk_column_stats.read()
                keep = [s for s in srows if s.get("chunk_id") not in ids]
                if len(keep) != len(srows):
                    cat.chunk_column_stats.replace(keep)

    @_serialized_dml
    def upsert(self, df: DataFrame, keys: Sequence[str]) -> dict:
        """INSERT .. ON CONFLICT DO UPDATE over hypertables
        (``test/sql/upsert.sql``; arbiter handling in
        ``ModifyHypertable``, ``src/nodes/modify_hypertable.c``).

        Rows in ``df`` replace existing rows with equal ``keys``; others
        append. Only chunks receiving rows are rewritten (anti-join of
        the old chunk contents against the new keys, then a dynamic
        partition overwrite of those dirs). Works on columnstore chunks —
        they are rewritten and drop back to rowstore status, like the
        reference's decompress-on-upsert path.

        Replacement is chunk-local, like :meth:`merge_into`: a new row
        only displaces target rows in the chunk ITS time value routes
        to (the anti-join key includes the routed chunk), mirroring the
        reference's rule that hypertable unique indexes include the
        partition column. Unlike ON CONFLICT (which errors), this bulk
        API keeps duplicate-keyed rows within ``df`` as-is — it is a
        batch replace, not a row arbiter.
        """
        df = self._fire_before(df)
        pinned = bool(
            self._hooks("before", "insert")
            or self._hooks("before_row", "insert")
            or self._hooks("after_row", "insert")
        )
        if pinned:
            # upsert runs several actions over this frame (chunk-starts
            # collect, gating stats, writeback): pin it so side-effecting
            # before triggers fire ONCE, like _insert_prepared does, and
            # the after-row pass observes the exact written rows
            df = df.persist(_DML_PIN)
        try:
            return self._upsert_pinned(df, keys)
        finally:
            if pinned:
                df.unpersist()

    def _upsert_pinned(self, df: DataFrame, keys: Sequence[str]) -> dict:
        self._ensure_typed(df)
        df = self._conform_input(df)
        new = df.select("*", *self._partition_exprs(df))
        starts = self._null_guarded(
            lambda: [r[0] for r in new.select(CHUNK_COL).distinct().collect()]
        )
        affected = sorted(starts)
        if not affected:
            return {"rows": 0, "chunks": []}
        existing = {c["range_start"]: c for c in self.chunks()}
        hit = [s for s in affected if s in existing]
        out = new
        if hit:
            old = self._chunk_reader().option("basePath", self.data_dir).parquet(
                *[
                    os.path.join(self.data_dir, f"{CHUNK_COL}={s}")
                    for s in hit
                ]
            )
            old = self._apply_fills(old, [existing[s] for s in hit])
            keep = old.join(
                new.select(*keys, CHUNK_COL).distinct(),
                [*keys, CHUNK_COL],
                "left_anti",
            ).select(*new.columns)
            out = keep.unionByName(new)
        stats = (
            df.select(self._internal_time_expr(df).alias("_t"))
            .agg(F.min("_t").alias("tmin"), F.max("_t").alias("tmax"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        self._check_frozen(stats["tmin"], stats["tmax"])
        # a replaced row whose new version hashes to a DIFFERENT space
        # bucket empties its old (chunk, space) dir — dynamic overwrite
        # never touches dirs absent from its output, so the stale row
        # would survive on disk (same sweep the delete/merge paths do)
        space_pairs = self._surviving_space_pairs(out)
        self._affected_chunk_writeback(out)
        self._drop_doomed_space_dirs(
            space_pairs, [existing[s] for s in hit]
        )
        self._mark_rewritten(hit)
        self._mark_fill_done(hit)
        chunks = self._register_chunks_in_range(stats["tmin"], stats["tmax"])
        self._capture_invalidation(stats["tmin"], stats["tmax"])
        out_stats = {"rows": stats["n"], "chunks": chunks, "rewritten": hit}
        # AFTER ROW observers see the incoming (written) rows — df is
        # pinned above when such hooks exist, so the pass reads the
        # cache, not a re-run of the before-trigger DAG
        self._fire_after_row(df, "insert")
        self._fire_after(out_stats)
        return out_stats

    @_serialized_dml
    def merge_into(
        self,
        src: DataFrame,
        keys: Sequence[str],
        matched_update: Optional[dict[str, Union[str, Column]]] = None,
        insert_not_matched: bool = True,
        delete_matched: bool = False,
        not_matched_by_source: Optional[Sequence[dict]] = None,
    ) -> dict:
        """MERGE INTO over hypertables — the general form behind SQL
        ``MERGE`` and ``INSERT .. ON CONFLICT`` (``test/sql/upsert.sql``,
        ``tsl/test/sql/cagg_query_using_merge.sql``; arbiter handling in
        ``src/nodes/modify_hypertable.c``).

        For each source row whose ``keys`` match an existing row:
        - ``delete_matched=True``: the target row is deleted
          (WHEN MATCHED THEN DELETE);
        - ``matched_update``: target columns are recomputed from SQL
          expressions that may reference ``target.<col>`` and
          ``excluded.<col>`` (WHEN MATCHED THEN UPDATE / DO UPDATE SET);
        - neither: the target row is kept (ON CONFLICT DO NOTHING).
        Source rows with no match insert when ``insert_not_matched``.

        Matching is chunk-local and enforced structurally: the join
        condition includes equality of the target row's chunk and the
        chunk the source row's OWN time value routes to, so a source row
        can only ever match target rows in its own chunk — mirroring the
        reference's rule that hypertable unique indexes must include the
        partition column. (This also makes :meth:`_check_frozen` over
        the source time range sound: no update can land outside the
        source-routed chunks.) Updating the time/partition column is
        rejected, as rows would migrate between chunks mid-rewrite.

        SQL-conformant edge semantics (``src/nodes/modify_hypertable.c``
        arbiter behavior):
        - NULL keys never match (plain equality, not null-safe): a
          NULL-keyed source row inserts, never updates.
        - If two source rows match the same target row the command
          errors, like PostgreSQL's "MERGE command cannot affect row a
          second time" / ON CONFLICT's "cannot affect row a second
          time" — silently applying both would fan the target row out.

        ``not_matched_by_source`` (PG17 ``WHEN NOT MATCHED BY SOURCE``,
        ``test/sql/merge_not_matched_by_source.sql``): ordered clauses
        applied to TARGET rows with no source match — each
        ``{"condition": sql-over-target-or-None, "action": "delete" |
        {col: expr}}``; the first clause whose condition holds wins,
        like PostgreSQL's in-order WHEN evaluation. By-source actions
        reach EVERY chunk (an unmatched row can live anywhere), so the
        scan covers the whole table and the gating stats run on the
        full-width join instead of the narrow projection.
        """
        if delete_matched and matched_update:
            raise ValueError("cannot both UPDATE and DELETE matched rows")
        nmbs: list[tuple[Optional[str], object]] = []
        for cl in not_matched_by_source or ():
            action = cl.get("action")
            if action != "delete" and not isinstance(action, dict):
                raise ValueError(
                    "not_matched_by_source action must be 'delete' or a "
                    "{column: expr} update dict"
                )
            if isinstance(action, dict):
                pbad = ({self.time_column, self.row.get("space_column")} - {None}) & set(action)
                if pbad:
                    raise ValueError(
                        f"MERGE cannot update partition column(s) "
                        f"{sorted(pbad)}"
                    )
            if isinstance(action, dict):
                bad = set(action) - set(src.columns) - set(
                    f.name for f in (self._schema().fields if self.row.get("schema_ddl") else [])
                )
                if bad:
                    raise ValueError(
                        f"unknown column(s) {sorted(bad)} in "
                        f"not_matched_by_source update"
                    )
            nmbs.append((cl.get("condition"), action))
        if matched_update:
            pbad = (
                {self.time_column, self.row.get("space_column")} - {None}
            ) & set(matched_update)
            if pbad:
                raise ValueError(
                    f"MERGE cannot update partition column(s) "
                    f"{sorted(pbad)}: the rewritten row would land in a "
                    f"different chunk/space dir than the one being "
                    f"overwritten; delete + re-insert instead"
                )
        src = self._fire_before(src)
        pinned = bool(
            self._hooks("before", "insert") or self._hooks("before_row", "insert")
        )
        if pinned:
            # merge runs multiple actions over the source (distinct
            # chunks, gating stats, write): pin the post-trigger frame so
            # side-effecting before triggers fire once
            src = src.persist(_DML_PIN)
        try:
            return self._merge_pinned(
                src, keys, matched_update, insert_not_matched,
                delete_matched, nmbs,
            )
        finally:
            if pinned:
                src.unpersist()

    def _merge_pinned(
        self,
        src: DataFrame,
        keys: Sequence[str],
        matched_update,
        insert_not_matched: bool,
        delete_matched: bool,
        nmbs: list,
    ) -> dict:
        self._ensure_typed(src)
        src = self._conform_input(src)
        data_cols = src.columns
        new = src.select("*", *self._partition_exprs(src))
        starts = self._null_guarded(
            lambda: [r[0] for r in new.select(CHUNK_COL).distinct().collect()]
        )
        affected = sorted(starts)
        zeros = {
            "rows_inserted": 0,
            "rows_updated": 0,
            "rows_deleted": 0,
            "chunks": [],
        }
        if not affected and not nmbs:
            return zeros
        existing = {c["range_start"]: c for c in self.chunks()}
        # by-source clauses must see EVERY target row, not only the
        # chunks the source routes to
        hit = sorted(existing) if nmbs else [
            s for s in affected if s in existing
        ]
        if not hit:
            if not insert_not_matched:
                return zeros
            st = self._insert_prepared(src)
            return {**zeros, "rows_inserted": st["rows"], "chunks": st["chunks"]}

        old = self._chunk_reader().option("basePath", self.data_dir).parquet(
            *[os.path.join(self.data_dir, f"{CHUNK_COL}={s}") for s in hit]
        )
        old = self._apply_fills(old, [existing[s] for s in hit])
        tgt = old.select(
            *data_cols,
            F.col(CHUNK_COL).alias("_tchunk"),
            F.lit(True).alias("_tp"),
        ).alias("target")
        # `new` already carries the routed chunk of each SOURCE row; the
        # chunk-equality conjunct makes matching structurally chunk-local
        # (and lets the join co-partition on the chunk key at scale).
        ex = new.select(
            *data_cols,
            F.col(CHUNK_COL).alias("_schunk"),
            F.lit(True).alias("_sp"),
        ).alias("excluded")
        # plain equality (NOT null-safe): SQL MERGE / ON CONFLICT
        # arbiters never match NULL keys — NULL-keyed source rows insert
        cond = F.col("target._tchunk") == F.col("excluded._schunk")
        for k in keys:
            cond = cond & (F.col(f"target.{k}") == F.col(f"excluded.{k}"))
        # per-(chunk, keys) source multiplicity: >1 on a matched pair
        # means two source rows hit the SAME target row — SQL errors
        # ("MERGE command cannot affect row a second time")
        src_w = Window.partitionBy(CHUNK_COL, *keys)
        if nmbs:
            ex = new.select(
                *data_cols,
                F.col(CHUNK_COL).alias("_schunk"),
                F.count(F.lit(1)).over(src_w).alias("_smult"),
                F.lit(True).alias("_sp"),
            ).alias("excluded")
        j = tgt.join(ex, cond, "full_outer")
        t_here = F.col("target._tp").isNotNull()
        s_here = F.col("excluded._sp").isNotNull()
        is_update = t_here & s_here & F.lit(bool(matched_update))
        is_delete = t_here & s_here & F.lit(bool(delete_matched))
        is_insert = ~t_here & s_here & F.lit(bool(insert_not_matched))
        tcol = self.time_column

        # first-matching by-source clause index (PG evaluates WHEN
        # clauses in order); -1 = no clause applies, row is kept
        is_nmbs_row = t_here & ~s_here
        clause_idx = F.lit(-1)
        if nmbs:
            expr = None
            for i, (cnd, _a) in enumerate(nmbs):
                c = F.expr(cnd) if cnd is not None else F.lit(True)
                expr = F.when(c, F.lit(i)) if expr is None else expr.when(c, F.lit(i))
            clause_idx = F.when(is_nmbs_row, expr.otherwise(F.lit(-1))).otherwise(
                F.lit(-1)
            )
        del_idx = [i for i, (_c, a) in enumerate(nmbs) if a == "delete"]
        upd_idx = [i for i, (_c, a) in enumerate(nmbs) if a != "delete"]
        nmbs_delete = (
            clause_idx.isin(del_idx) if del_idx else F.lit(False)
        )
        nmbs_update = (
            clause_idx.isin(upd_idx) if upd_idx else F.lit(False)
        )

        src_time = self._internal_time_expr(src, f"excluded.{q(tcol)}")
        k_ins = ~t_here & s_here & F.lit(bool(insert_not_matched))
        touched = k_ins | (t_here & s_here)
        aggs = [
            F.sum(k_ins.cast("long")).alias("ins"),
            F.sum((t_here & s_here).cast("long")).alias("matched"),
            F.max(
                F.when(t_here & s_here, F.col("excluded._smult"))
            ).alias("max_mult"),
        ]
        # delete-bearing merges need the SURVIVING chunk set (a fully-
        # emptied chunk dir is invisible to dynamic overwrite); ride it
        # on this same gating aggregate instead of a separate
        # distinct().collect() that re-executed the full-outer join once
        # more (r17, guide §2.4: operations keyed the same way share one
        # pass). Space-partitioned tables keep the explicit pair collect
        # (the surviving (chunk, space) pairs need the space routing
        # expression, which the narrow stats join does not carry).
        fuse_surv = bool(delete_matched or del_idx) and not self.row.get(
            "space_column"
        )
        if fuse_surv:
            kept_cond = (t_here & ~is_delete & ~nmbs_delete) | is_insert
            aggs.append(
                F.collect_set(
                    F.when(
                        kept_cond,
                        F.coalesce(
                            F.col("target._tchunk"),
                            F.col("excluded._schunk"),
                        ),
                    )
                ).alias("surv")
            )
        if nmbs:
            # gating stats need the clause conditions (arbitrary target
            # columns), so they run on the FULL-WIDTH join; affected
            # target rows widen the invalidation/frozen range
            tgt_time = self._internal_time_expr(old, f"target.{q(tcol)}")
            affected_any = touched | nmbs_delete | nmbs_update
            t_probe = F.when(touched, src_time).otherwise(
                F.when(nmbs_delete | nmbs_update, tgt_time)
            )
            aggs += [
                F.min(F.when(affected_any, t_probe)).alias("tmin"),
                F.max(F.when(affected_any, t_probe)).alias("tmax"),
                F.sum(nmbs_delete.cast("long")).alias("nmbs_del"),
                F.sum(nmbs_update.cast("long")).alias("nmbs_upd"),
            ]
            counts = j.agg(*aggs).collect()[0]
        else:
            # the stats pass gates the rewrite (a no-op MERGE must not
            # rewrite chunks) but only needs key-match info — run it on
            # a KEY-COLUMNS-ONLY projection of the same join so the
            # shuffle carries keys + time, not full rows; the full-width
            # join executes once, inside the write job
            narrow_cols = list(dict.fromkeys([*keys, tcol]))
            tgt_k = old.select(
                *narrow_cols,
                F.col(CHUNK_COL).alias("_tchunk"),
                F.lit(True).alias("_tp"),
            ).alias("target")
            ex_k = new.select(
                *narrow_cols,
                F.col(CHUNK_COL).alias("_schunk"),
                F.count(F.lit(1)).over(src_w).alias("_smult"),
                F.lit(True).alias("_sp"),
            ).alias("excluded")
            jk = tgt_k.join(ex_k, cond, "full_outer")
            aggs += [
                F.min(F.when(touched, src_time)).alias("tmin"),
                F.max(F.when(touched, src_time)).alias("tmax"),
            ]
            counts = jk.agg(*aggs).collect()[0]
        n_matched = int(counts["matched"] or 0)
        n_ins = int(counts["ins"] or 0)
        n_nmbs_del = int(counts["nmbs_del"] or 0) if nmbs else 0
        n_nmbs_upd = int(counts["nmbs_upd"] or 0) if nmbs else 0
        if n_matched and int(counts["max_mult"] or 0) > 1:
            raise ValueError(
                "MERGE command cannot affect row a second time: multiple "
                "source rows match the same target row on the given keys "
                "(deduplicate the source on the keys first)"
            )
        n_upd = (n_matched if matched_update else 0) + n_nmbs_upd
        n_del = (n_matched if delete_matched else 0) + n_nmbs_del
        if n_ins == 0 and n_upd == 0 and n_del == 0:
            return zeros
        if counts["tmin"] is not None:
            self._check_frozen(counts["tmin"], counts["tmax"])

        upd = {}
        for c, expr in (matched_update or {}).items():
            if c not in data_cols:
                raise ValueError(f"unknown column {c!r} in matched_update")
            upd[c] = F.expr(expr) if isinstance(expr, str) else expr

        def _nmbs_value(c: str):
            """CASE over the winning clause's update expr for column c."""
            col = None
            for i in upd_idx:
                a = nmbs[i][1]
                if c in a:
                    e = a[c]
                    e = F.expr(e) if isinstance(e, str) else e
                    col = (
                        F.when(clause_idx == i, e)
                        if col is None
                        else col.when(clause_idx == i, e)
                    )
            if col is None:
                return F.col(f"target.{c}")
            return col.otherwise(F.col(f"target.{c}"))

        out_cols = []
        for c in data_cols:
            col = (
                F.when(is_delete | nmbs_delete, F.lit(None))
                .when(is_update, upd.get(c, F.col(f"target.{c}")))
                .when(nmbs_update, _nmbs_value(c))
                .when(t_here, F.col(f"target.{c}"))
                .otherwise(F.col(f"excluded.{c}"))
            )
            out_cols.append(col.alias(c))
        out = j.filter(
            (t_here & ~is_delete & ~nmbs_delete) | is_insert
        ).select(*out_cols)
        out = out.select("*", *self._partition_exprs(out))

        if delete_matched or n_nmbs_del:
            # a fully-emptied chunk dir is invisible to dynamic overwrite
            if fuse_surv:
                survivors = set(counts["surv"] or [])
            else:
                survivors = {
                    r[0] for r in out.select(CHUNK_COL).distinct().collect()
                }
            emptied = [
                existing[s] for s in hit if s not in survivors
            ]
        else:
            emptied = []
        merge_space_pairs = (
            self._surviving_space_pairs(out)
            if (delete_matched or n_nmbs_del)
            else None
        )
        if not emptied or len(emptied) < len(hit) or n_ins:
            self._affected_chunk_writeback(out)
            self._drop_doomed_space_dirs(
                merge_space_pairs,
                [existing[s] for s in hit if existing[s] not in emptied],
            )
        for c in emptied:
            path = self._chunk_glob(c)
            if os.path.isdir(path):
                shutil.rmtree(path)
            self.ts.catalog.chunk.delete({"id": c["id"]})
        live = [s for s in hit if s not in {c["range_start"] for c in emptied}]
        self._mark_rewritten(live)
        self._mark_fill_done(live)
        chunks = []
        if counts["tmin"] is not None:
            chunks = self._register_chunks_in_range(counts["tmin"], counts["tmax"])
            self._capture_invalidation(counts["tmin"], counts["tmax"])
        out_stats = {
            "rows_inserted": n_ins,
            "rows_updated": n_upd,
            "rows_deleted": n_del,
            "chunks": chunks,
        }
        self._fire_after({"rows": n_ins + n_upd, "chunks": chunks})
        return out_stats

    @_serialized_dml
    def update_where(
        self,
        assignments: dict[str, Union[str, Column]],
        where: Union[str, Column],
        start: Union[int, str, datetime, None] = None,
        end: Union[int, str, datetime, None] = None,
    ) -> int:
        """UPDATE hypertable SET .. WHERE .. (``test/sql/update.sql``),
        chunk-pruned by ``start``/``end`` then rewritten per affected
        chunk dir. Returns the number of rows matching ``where``.

        Assignments to the partition columns are rejected (same rule as
        merge_into): the rewrite puts rows back in their ORIGINAL chunk
        dir, so a changed time/space value would strand the row where
        pruned reads can no longer find it. The reference moves such
        rows between chunks; here, delete + re-insert expresses it."""
        part_cols = {self.time_column, self.row.get("space_column")} - {None}
        bad = part_cols & set(assignments)
        if bad:
            raise ValueError(
                f"cannot UPDATE partition column(s) {sorted(bad)}: the row "
                f"would be stranded in its old chunk (delete + insert to "
                f"move rows across chunks)"
            )
        cond = F.expr(where) if isinstance(where, str) else where
        lo, hi = _to_internal(start), _to_internal(end)
        targets = [
            c
            for c in self.chunks()
            if (hi is None or c["range_start"] < hi)
            and (lo is None or c["range_end"] > lo)
        ]
        if not targets:
            return 0
        old = self._chunk_reader().option("basePath", self.data_dir).parquet(
            *[os.path.join(self.data_dir, f"{CHUNK_COL}={c['range_start']}") for c in targets]
        )
        old = self._apply_fills(old, targets)
        # one stats pass gates the rewrite: count + touched time range
        # in a single job (a no-match UPDATE must not rewrite chunks)
        mm = old.filter(cond).agg(
            F.count(F.lit(1)).alias("n"),
            F.min(self._internal_time_expr(old)).alias("lo"),
            F.max(self._internal_time_expr(old)).alias("hi"),
        ).collect()[0]
        n = mm["n"]
        if n == 0:
            return 0
        # snapshot the predicate ONCE on the pre-assignment rows: each
        # withColumn REPLACES its column, so re-resolving `cond` after an
        # assignment would evaluate it against post-update values —
        # later assignments and the trigger/after-row splits would
        # silently skip rows the original predicate matched
        out = old.withColumn("_upd_match", F.coalesce(cond, F.lit(False)))
        mcond = F.col("_upd_match")
        for col, expr in assignments.items():
            val = F.expr(expr) if isinstance(expr, str) else expr
            out = out.withColumn(col, F.when(mcond, val).otherwise(F.col(col)))
        upd_hooks = sorted(
            self._hooks("before_row", "update"), key=lambda t: t["name"]
        )
        if upd_hooks:
            # BEFORE UPDATE ROW (triggers.sql): triggers see the NEW
            # rows (post-assignment) and may modify them further; they
            # must return every row (no row-skip on the update path).
            # Untouched rows bypass the Python pass entirely.
            changed = out.filter(mcond).drop(CHUNK_COL, SPACE_COL, "_upd_match")
            untouched = out.filter(~mcond)
            for t in upd_hooks:
                changed = self._row_trigger_step(changed, t)
            changed = changed.select(
                "*", F.lit(True).alias("_upd_match"), *self._partition_exprs(changed)
            )
            out = changed.unionByName(untouched)
        if mm["lo"] is not None:
            self._check_frozen(mm["lo"], mm["hi"])
        ar_hooks = self._hooks("after_row", "update")
        changed_rows = None
        if ar_hooks:
            # snapshot BEFORE the overwrite: the frame reads the files
            # the writeback is about to replace, and the overwrite's
            # refreshByPath EVICTS caches on those paths — persist()
            # would silently recompute over the rewritten files, so
            # localCheckpoint (file-independent materialized blocks) it
            changed_rows = (
                out.filter(mcond)
                .drop(CHUNK_COL, SPACE_COL, "_upd_match")
                .localCheckpoint(eager=True)
            )
        out = out.drop("_upd_match")
        self._affected_chunk_writeback(out)
        self._mark_rewritten([c["range_start"] for c in targets])
        self._mark_fill_done([c["range_start"] for c in targets])
        if mm["lo"] is not None:
            self._capture_invalidation(mm["lo"], mm["hi"])
        if changed_rows is not None:
            self._fire_after_row(changed_rows, "update")
        self._fire_after({"rows": n, "op": "update"}, op="update")
        return n

    @_serialized_dml
    def delete_where(
        self,
        where: Union[str, Column],
        start: Union[int, str, datetime, None] = None,
        end: Union[int, str, datetime, None] = None,
    ) -> int:
        """DELETE FROM hypertable WHERE .. (row-level predicate; whole-
        range deletes should use :meth:`delete_range` / ``drop_chunks``,
        which never rewrite rows). Chunk-pruned by ``start``/``end``,
        rewrites only the affected chunk dirs, captures cagg
        invalidations for the deleted rows' time span. Returns the number
        of rows deleted."""
        cond = F.expr(where) if isinstance(where, str) else where
        lo, hi = _to_internal(start), _to_internal(end)
        targets = [
            c
            for c in self.chunks()
            if (hi is None or c["range_start"] < hi)
            and (lo is None or c["range_end"] > lo)
        ]
        if not targets:
            return 0
        old = self._chunk_reader().option("basePath", self.data_dir).parquet(
            *[os.path.join(self.data_dir, f"{CHUNK_COL}={c['range_start']}") for c in targets]
        )
        old = self._apply_fills(old, targets)
        # NULL predicates keep the row (SQL DELETE semantics, the same
        # coalesce update_where applies): a bare `~cond` filter silently
        # dropped NULL-cond rows from the rewrite without counting them
        # as deleted
        doom_cond = F.coalesce(cond, F.lit(False))
        doomed = old.filter(doom_cond)
        has_space = bool(
            self.row.get("space_column") and SPACE_COL in old.columns
        )
        # one per-chunk stats pass gates the rewrite AND yields the
        # surviving chunk (and space-pair) sets — previously a global
        # doomed agg plus a separate kept-side distinct().collect(), each
        # its own scan of the targeted chunks (r17, guide §2.4)
        grp = [CHUNK_COL] + ([SPACE_COL] if has_space else [])
        t_int = self._internal_time_expr(old)
        per = old.groupBy(*grp).agg(
            F.count(F.lit(1)).alias("nt"),
            F.sum(doom_cond.cast("long")).alias("nd"),
            F.min(F.when(doom_cond, t_int)).alias("lo"),
            F.max(F.when(doom_cond, t_int)).alias("hi"),
        ).collect()
        n_doomed = sum(int(r["nd"] or 0) for r in per)
        mm = {
            "n": n_doomed,
            "lo": min((r["lo"] for r in per if r["lo"] is not None), default=None),
            "hi": max((r["hi"] for r in per if r["hi"] is not None), default=None),
        }
        if mm["n"] == 0:
            return 0
        self._check_frozen(mm["lo"], mm["hi"])
        kept = old.filter(~doom_cond)
        del_hooks = sorted(
            self._hooks("before_row", "delete"), key=lambda t: t["name"]
        )
        n_deleted = int(mm["n"])
        if del_hooks:
            kept, n_deleted = self._delete_row_triggers(old, cond, del_hooks)
            if n_deleted == 0:
                kept.unpersist()
                return 0
        try:
            # dynamic partition overwrite only rewrites dirs PRESENT in
            # the output — a chunk whose every row matched the predicate
            # must be dropped explicitly (reference: ts_chunk_drop on
            # empty), and on a space-partitioned table the same applies
            # one level down: a fully-doomed _space subdir inside a
            # surviving chunk is neither overwritten nor chunk-dropped,
            # so its rows would survive
            ar_hooks = [] if del_hooks else self._hooks("after_row", "delete")
            doomed_rows = None
            if ar_hooks:
                # AFTER DELETE ROW observers see the deleted rows; pin +
                # materialize before the overwrite replaces the files
                # they read. (With BEFORE-row delete triggers present —
                # which can veto rows — the statement-level _fire_after
                # is the observer; per-row firing would misreport vetoed
                # rows.) localCheckpoint, NOT persist: the writeback's
                # refreshByPath evicts path-derived caches and a
                # recompute over the post-delete files would observe
                # nothing
                doomed_rows = doomed.drop(CHUNK_COL, SPACE_COL).localCheckpoint(
                    eager=True
                )
            if del_hooks:
                # BEFORE-row delete triggers can veto deletions, so the
                # survivor sets must come from the post-trigger frame
                space_pairs = self._surviving_space_pairs(kept)
                if space_pairs is not None:
                    survivors = {ch for ch, _k in space_pairs}
                else:
                    survivors = {
                        r[0]
                        for r in kept.select(CHUNK_COL).distinct().collect()
                    }
            else:
                # survivor sets already computed by the per-chunk gating
                # pass above — no extra kept-side scan
                space_pairs = (
                    {
                        (r[CHUNK_COL], r[SPACE_COL])
                        for r in per
                        if int(r["nt"]) > int(r["nd"] or 0)
                    }
                    if has_space
                    else None
                )
                survivors = {
                    r[CHUNK_COL]
                    for r in per
                    if int(r["nt"]) > int(r["nd"] or 0)
                }
            emptied = [c for c in targets if c["range_start"] not in survivors]
            if len(emptied) < len(targets):
                self._affected_chunk_writeback(kept)
                self._drop_doomed_space_dirs(
                    space_pairs,
                    [c for c in targets if c["range_start"] in survivors],
                )
            for c in emptied:
                path = self._chunk_glob(c)
                if os.path.isdir(path):
                    shutil.rmtree(path)
                self.ts.catalog.chunk.delete({"id": c["id"]})
            live = [c["range_start"] for c in targets if c not in emptied]
            if doomed_rows is not None:
                self._fire_after_row(doomed_rows, "delete")
            self._mark_rewritten(live)
            self._mark_fill_done(live)
            self._capture_invalidation(mm["lo"], mm["hi"])
        finally:
            if del_hooks:
                kept.unpersist()
        self._fire_after({"rows": n_deleted, "op": "delete"}, op="delete")
        return n_deleted

    def _delete_row_triggers(self, old: DataFrame, cond, hooks: list):
        """BEFORE DELETE ROW semantics (triggers.sql): each trigger sees
        the doomed rows and returns the subset to ACTUALLY delete —
        dropping a row from the frame skips its deletion ("RETURN NULL").
        Contract: triggers must subset via boolean-mask filtering (the
        pandas index identifies surviving rows); mutations are ignored
        (DELETE has no NEW). Runs as ONE mapInPandas pass over the
        targeted chunks; chunk-scoped triggers group by the row's actual
        stored chunk (``_chunk``), no routing recompute needed.

        Returns ``(kept_df_persisted, n_deleted)`` — kept is persisted
        because it is consumed by both the survivor scan and the
        writeback, and trigger side effects must not double-fire."""
        data_cols = [
            c for c in old.columns if c not in (CHUNK_COL, SPACE_COL)
        ]
        flag = "_del"
        flagged = old.withColumn(flag, F.coalesce(cond, F.lit(False)))
        specs = tuple((t["fn"], t["chunk_scoped"]) for t in hooks)
        for t in hooks:
            if t["condition"] is not None:
                raise ValueError(
                    "delete row triggers do not support WHEN conditions; "
                    "fold the condition into the trigger body"
                )

        def _apply(batches, _specs=specs, _cols=tuple(data_cols), _fl=flag):
            import pandas as pd

            for pdf in batches:
                doomed = pdf[pdf[_fl]]
                cur = doomed[list(_cols)]
                for fn, scoped in _specs:
                    if len(cur) == 0:
                        break
                    if scoped:
                        groups = doomed.loc[cur.index, CHUNK_COL]
                        parts = [
                            fn(g, int(cv))
                            for cv, g in cur.groupby(groups, sort=True)
                        ]
                        cur = (
                            pd.concat(parts) if parts else cur.iloc[0:0]
                        )
                    else:
                        cur = fn(cur)
                # cur = confirmed deletions; everything else survives
                yield pdf.drop(index=cur.index).drop(columns=[_fl])

        kept = flagged.mapInPandas(_apply, old.schema).persist(_DML_PIN)
        try:
            # the counts run the triggers: one that raises must not
            # leave the frame cached (the caller only unpersists what it
            # gets back)
            n_deleted = old.count() - kept.count()
        except BaseException:
            kept.unpersist()
            raise
        return kept, int(n_deleted)

    @_serialized_dml
    def truncate(self) -> int:
        """``TRUNCATE hypertable`` (``test/sql/truncate.sql``): drop
        every chunk — directories and catalog rows — while the
        hypertable itself survives and accepts new inserts. O(chunks),
        no data read. Refuses when any chunk is frozen (DML into frozen
        chunks is rejected, sql/chunk.sql). Captures a full-range cagg
        invalidation, like the reference's truncate trigger on the
        invalidation log. Returns the number of chunks dropped."""
        chunks = self.chunks()
        if not chunks:
            return 0
        lo = min(c["range_start"] for c in chunks)
        hi = max(c["range_end"] for c in chunks) - 1
        self._check_frozen(lo, hi)
        cat = self.ts.catalog
        for c in chunks:
            path = self._chunk_glob(c)
            if os.path.isdir(path):
                shutil.rmtree(path)
            cat.chunk.delete({"id": c["id"]})
        self._capture_invalidation(lo, hi)
        return len(chunks)

    # ---------------------------------------------------------------- read
    def read(
        self,
        start: Union[int, str, datetime, None] = None,
        end: Union[int, str, datetime, None] = None,
        with_partition_cols: bool = False,
        where_stats: Optional[dict] = None,
        space_key=None,
    ) -> DataFrame:
        """Read with chunk exclusion: ``start <= time < end``.

        One ``spark.sql`` call over the hypertable's long-lived scan
        relation (``scan.py``). Chunks are excluded driver-side against
        the catalog slices — the plan-time chunk exclusion of
        ``hypertable_restrict_info.c`` — and the survivors become a
        ``_chunk IN (...)`` partition predicate that Catalyst prunes the
        relation's file index with, plus the raw row-level predicate.

        ``where_stats``: {column: (lo, hi)} — additionally exclude chunks
        whose recorded min/max for that column (``chunk_column_stats``,
        populated by compress_chunk / enable_chunk_skipping) cannot
        overlap. Row-level filtering on those columns stays the caller's
        job; this only narrows the chunk list.

        ``space_key``: value (or list of values) of the space column —
        space-dimension exclusion (``src/planner/space_constraint.c``):
        only the matching ``_space=k`` sub-partitions are scanned, plus a
        row filter on the raw column.
        """
        self._refresh()
        sc = self._scan(start, end, with_partition_cols, where_stats, space_key)
        return self.ts.scans.plan([sc], lambda views: sc.text(views[0]))

    def _scan(
        self,
        start=None,
        end=None,
        with_partition_cols: bool = False,
        where_stats: Optional[dict] = None,
        space_key=None,
        ranges: Optional[list] = None,
    ) -> Scan:
        """This read as SQL text over the scan relation (see :meth:`read`).
        ``ranges`` — ``[(lo, hi), …]`` internal bounds, ``None`` open —
        reads their union instead of ``[start, end)``: the chunks any of
        them overlaps, and an OR over their bounds as the row filter."""
        all_chunks = self.chunks()
        if ranges is None:
            ranges = [(_to_internal(start), _to_internal(end))]
        chunks = [
            c
            for c in all_chunks
            if any(
                (hi is None or c["range_start"] < hi)
                and (lo is None or c["range_end"] > lo)
                for lo, hi in ranges
            )
        ]
        if where_stats:
            chunks = self._skip_by_stats(chunks, where_stats)
        conds = [in_list(q(CHUNK_COL), (str(c["range_start"]) for c in chunks))]
        if space_key is not None:
            conds += self._space_conds(space_key, chunks)
        bounds = [self._time_bound_sql(lo, hi) for lo, hi in ranges]
        if len(bounds) == 1:
            conds += bounds[0]
        elif all(bounds):
            conds.append("(" + " OR ".join(f"({' AND '.join(b)})" for b in bounds) + ")")
        fills = self._fill_sql(chunks)
        schema = self._data_schema()
        cols = [
            f"{fills[f.name]} AS {q(f.name)}" if f.name in fills else q(f.name)
            for f in schema.fields
        ]
        if cols and with_partition_cols:
            cols += [q(c) for c in self._partition_cols]
        return Scan(
            name=self.name,
            root=self.data_dir,
            schema=schema,
            has_space=bool(self.row.get("space_column")),
            row=dict(self.row),  # a copy: add_column etc. mutate self.row
            chunks=all_chunks,
            files={
                d: list_partition(os.path.join(self.data_dir, d))
                for d in (f"{CHUNK_COL}={c['range_start']}" for c in chunks)
            },
            cols=", ".join(cols) or "*",
            where=" AND ".join(conds),
            filled=bool(fills),
        )

    def _skip_by_stats(self, chunks: list[dict], where_stats: dict) -> list[dict]:
        """Chunks whose recorded min/max can overlap every ``where_stats``
        range (``chunk_column_stats``)."""
        stats = self.ts.catalog.chunk_column_stats.find(hypertable_id=self.id)
        by_chunk: dict = {}
        for srow in stats:
            by_chunk.setdefault(srow["chunk_id"], {})[srow["column"]] = (
                srow["min"],
                srow["max"],
            )
        kept = []
        for c in chunks:
            cstats = by_chunk.get(c["id"])
            drop = False
            if cstats:
                for col, (qlo, qhi) in where_stats.items():
                    if col in cstats:
                        cmin, cmax = cstats[col]
                        if cmin is not None and qhi is not None and cmin > qhi:
                            drop = True
                        if cmax is not None and qlo is not None and cmax < qlo:
                            drop = True
            if not drop:
                kept.append(c)
        return kept

    def _space_conds(self, space_key, chunks: list[dict]) -> list[str]:
        """Space exclusion as partition predicates: per ``space_n`` group
        of chunks, ``_space IN (pmod(xxhash64(CAST(k AS type)), n), …)`` —
        the router's own expression (:meth:`_partition_exprs`) over the
        literal, constant-folded by Catalyst, so no job runs. Each chunk
        is pruned with the modulus it was WRITTEN with (chunk row
        ``space_n``; ``set_number_partitions`` changes new chunks only,
        like the reference's per-chunk dimension slices). Plus the row
        filter on the raw column."""
        sc = self.row.get("space_column")
        if not sc:
            raise ValueError("hypertable has no space dimension")
        keys = space_key if isinstance(space_key, (list, tuple)) else [space_key]
        if not keys:
            return ["false"]
        if not chunks:
            return []
        sc_type = next(
            f.dataType for f in self._schema().fields if f.name == sc
        ).simpleString()
        cur_n = int(self.row["num_partitions"])
        groups: dict[int, list[str]] = {}
        for c in chunks:
            groups.setdefault(int(c.get("space_n") or cur_n), []).append(
                str(c["range_start"])
            )
        lits = [sql_literal(k) for k in keys]

        def buckets(n: int) -> str:
            return in_list(
                q(SPACE_COL),
                (f"pmod(xxhash64(CAST({v} AS {sc_type})), {n})" for v in lits),
            )

        if len(groups) == 1:
            space = buckets(next(iter(groups)))
        else:
            space = "(" + " OR ".join(
                f"({in_list(q(CHUNK_COL), groups[n])} AND {buckets(n)})"
                for n in sorted(groups)
            ) + ")"
        return [space, in_list(q(sc), lits)]

    def read_ordered(
        self,
        start: Union[int, str, datetime, None] = None,
        end: Union[int, str, datetime, None] = None,
        desc: bool = False,
        columns: Optional[Sequence[str]] = None,
        plan_cap: int = 512,
        rows_per_group: Optional[int] = 8_000_000,
        engine: str = "auto",
    ) -> DataFrame:
        """Time-ordered read with NO global sort — the ordered-append
        analog (``src/planner/expand_hypertable.c:1024``
        ``ts_plan_expand_hypertable_chunks`` ordered-append path,
        ``should_chunk_append`` ``src/planner/planner.c:1018``, golden
        ``test/sql/plan_ordered_append.sql``): chunks are time-disjoint,
        so ``ORDER BY time`` needs only (a) chunks visited in catalog
        time order and (b) each chunk locally sorted. The plan is a
        union of per-chunk single-partition sorted scans concatenated in
        catalog order — union partition order IS row order for
        ``collect()`` / ``toLocalIterator()`` / ordered file writes, and
        there is **zero Exchange**: no range-partition shuffle, no
        driver-side merge. A 100 TB "stream me the range in order" read
        costs per-chunk local sorts (each bounded by chunk_interval,
        which sizing guidance already keeps memory-fit) instead of
        sampling + range-shuffling the whole table.

        Within-chunk sort is one task per scan group — the price of
        cross-partition order without an exchange; parallelism comes
        from the number of groups (the reference streams chunks
        strictly sequentially, so this is already a superset of its
        parallelism).

        Scan-group sizing (round 10): consecutive chunks are batched so
        that (a) the union stays at most ``plan_cap`` wide AND (b) no
        group's catalog row count exceeds ``rows_per_group`` — a group
        is one task's sort, so this caps single-task memory at any
        table size instead of letting a fixed width put table/plan_cap
        bytes in one task. Row counts come from catalog ``n_rows``
        (populated by :meth:`approximate_row_count`, self-healing);
        chunks with no recorded count are estimated at the table's
        known-chunk average, and when NO counts are recorded the
        grouping falls back to pure width — run
        ``approximate_row_count()`` before a big ordered export to get
        the row bound. When both constraints conflict (row budget wants
        more than ``plan_cap`` groups), the row budget wins and the
        union goes wider: ``plan_cap`` is the width the fixed-width
        batching targets, not a hard ceiling on correctness-critical
        memory bounds.

        ``engine``: ``"jvm"`` builds the per-group scan union above —
        whole-stage-codegen scans, zero Python, but plan build is
        O(groups) driver-side reader calls and the serialized plan
        carries one scan node per group (measured: 10s build + 6 MiB
        task binaries at 3000 chunks / 512 groups). ``"arrow"`` builds
        ONE tiny plan instead: group specs are parallelized 1:1 onto
        partitions (partition i = time-order group i) and each task
        reads its chunks' files with pyarrow datasets, sorts the group,
        and streams Arrow batches back — plan build is O(1), file
        listing is distributed to executors, and the zero-Exchange
        contract is unchanged (``mapInArrow`` over an exact-partitioned
        input has no shuffle). ``"auto"`` (default) picks arrow when
        the plan would exceed 128 groups — the crossover where the
        JVM plan-build cost dominates; the 12k-chunk first-rows probe
        (SCALE_PROBE x100) dropped ~45s → ~2s on the switch.

        The executed grouping is recorded in
        ``self.last_ordered_plan_info`` (``groups``,
        ``max_rows_per_group_est``, ``engine``) for probes.

        Falls back to a global sort iff chunk ranges overlap — possible
        only through ``attach_chunk`` of a foreign-range directory
        (split/merge preserve disjointness), mirroring the reference
        dropping ordered append when chunk constraints overlap.

        ``columns`` optionally projects early so column pruning reaches
        every per-chunk scan.
        """
        spark = self.ts.spark
        lo, hi = _to_internal(start), _to_internal(end)
        chunks = [
            c
            for c in self.chunks()
            if (hi is None or c["range_start"] < hi)
            and (lo is None or c["range_end"] > lo)
        ]
        tcol = self.time_column
        order_col = F.col(tcol).desc() if desc else F.col(tcol).asc()
        if not chunks:
            df = spark.createDataFrame([], self._schema_or_empty())
            return df.select(*columns) if columns else df
        overlapping = any(
            chunks[i]["range_end"] > chunks[i + 1]["range_start"]
            for i in range(len(chunks) - 1)
        )
        if overlapping:
            df = self.read(start=start, end=end)
            if columns:
                df = df.select(*columns)
            return df.orderBy(order_col)
        # batch consecutive chunks so the union stays ~plan_cap wide AND
        # no group exceeds the row budget; a group spans a contiguous
        # time range, so sorting the group as one partition preserves
        # global order across group boundaries
        groups, max_rows_est = self._ordered_groups(
            chunks, plan_cap, rows_per_group
        )
        if desc:
            groups = groups[::-1]
        use_arrow = engine == "arrow" or (
            engine == "auto" and len(groups) > 128
        )
        self.last_ordered_plan_info = {
            "groups": len(groups),
            "max_rows_per_group_est": max_rows_est,
            "engine": "arrow" if use_arrow else "jvm",
        }
        if use_arrow:
            if self.row.get("schema_ddl"):
                arrow_file_schema = self._schema()
            else:
                # adopted tables without recorded DDL (raw directory
                # adoption, pre-DDL-recording catalogs) keep the
                # O(1)-plan engine: infer the schema from ONE parquet
                # footer via pyarrow — a single driver-side footer
                # read, not a Spark inference job over every chunk
                arrow_file_schema = self._infer_chunk_schema(chunks[0])
            return self._read_ordered_arrow(
                groups, lo, hi, columns, desc, schema=arrow_file_schema
            )
        # resolve the file schema ONCE: per-group schema inference reads
        # parquet footers per scan — at a 12k-chunk catalog that is
        # thousands of sequential driver-side footer reads before the
        # first row moves (measured 5x the whole plan-build cost)
        if self.row.get("schema_ddl"):
            file_schema = self._schema()
        else:
            file_schema = spark.read.parquet(
                self._chunk_glob(chunks[0])
            ).schema
        reader = spark.read.schema(
            T.StructType(
                [
                    f
                    for f in file_schema.fields
                    if f.name not in (CHUNK_COL, SPACE_COL)
                ]
            )
        )
        parts: list[DataFrame] = []
        for g in groups:
            # basePath read so _chunk is available: _apply_fills needs it
            # to default only rows of chunks predating an ADD COLUMN
            # (a multi-chunk group mixes fill-pending and fill-done rows)
            cdf = reader.option("basePath", self.data_dir).parquet(
                *[self._chunk_glob(c) for c in g]
            )
            cdf = self._apply_fills(cdf, g).drop(CHUNK_COL, SPACE_COL)
            # boundary groups straddling [lo, hi) get the row filter
            # (pushed to the scan); interior groups scan filter-free —
            # the ConstraintAwareAppend shape
            cdf = self._time_bound_filter(
                cdf,
                lo if lo is not None and g[0]["range_start"] < lo else None,
                hi if hi is not None and g[-1]["range_end"] > hi else None,
            )
            if columns:
                cdf = cdf.select(*columns)
            parts.append(cdf.coalesce(1).sortWithinPartitions(order_col))
        # balanced union tree: a 512-deep linear union strains the
        # analyzer's recursion; a tree is O(log n) deep. Union preserves
        # child partition order, so concatenation order = time order.
        while len(parts) > 1:
            parts = [
                parts[i].union(parts[i + 1]) if i + 1 < len(parts) else parts[i]
                for i in range(0, len(parts), 2)
            ]
        return parts[0]

    def _ordered_groups(
        self,
        chunks: list[dict],
        plan_cap: int,
        rows_per_group: Optional[int],
    ) -> tuple[list[list[dict]], Optional[int]]:
        """Batch consecutive chunks into ordered scan groups: at most
        ``ceil(chunks/plan_cap)`` chunks per group (the width target)
        and — when catalog ``n_rows`` stats exist — at most
        ``rows_per_group`` estimated rows per group (the single-task
        sort-memory bound). Returns (groups, est_max_rows_per_group);
        the estimate is None when no chunk has a recorded count."""
        per = max(1, -(-len(chunks) // plan_cap))
        known = [
            int(c["n_rows"]) for c in chunks if c.get("n_rows") is not None
        ]
        if not known or rows_per_group is None:
            return (
                [chunks[i : i + per] for i in range(0, len(chunks), per)],
                None,
            )
        avg = sum(known) / len(known)
        est = lambda c: (  # noqa: E731
            float(c["n_rows"]) if c.get("n_rows") is not None else avg
        )
        groups: list[list[dict]] = []
        cur: list[dict] = []
        cur_rows = 0.0
        for c in chunks:
            nr = est(c)
            if cur and (len(cur) >= per or cur_rows + nr > rows_per_group):
                groups.append(cur)
                cur, cur_rows = [], 0.0
            cur.append(c)
            cur_rows += nr
        if cur:
            groups.append(cur)
        max_est = int(max(sum(est(c) for c in g) for g in groups))
        return groups, max_est

    def _infer_chunk_schema(self, chunk: dict) -> T.StructType:
        """Spark schema of one chunk directory from a single parquet
        footer (pyarrow dataset — no Spark job, no per-chunk listing):
        the ``schema_ddl``-free fallback for the Arrow ordered engine."""
        import pyarrow.dataset as pads
        from pyspark.sql.pandas.types import from_arrow_schema

        d = pads.dataset(self._chunk_glob(chunk), format="parquet")
        return from_arrow_schema(d.schema)

    def _read_ordered_arrow(
        self,
        groups: list[list[dict]],
        lo: Optional[int],
        hi: Optional[int],
        columns: Optional[Sequence[str]],
        desc: bool,
        schema: Optional[T.StructType] = None,
    ) -> DataFrame:
        """Arrow merge-append engine for :meth:`read_ordered` at
        many-chunk catalogs. ONE O(1)-size plan: group specs are
        parallelized exactly one per partition in time order, and each
        task reads its own chunks' parquet with pyarrow datasets
        (listing happens IN the executor — the driver never lists a
        directory), applies added-column fills, filters boundary rows
        against the internal µs bounds, sorts the group, and streams
        Arrow batches. Partition order = group order = time order, with
        zero Exchange — the reference's per-chunk ordered append
        (``src/planner/expand_hypertable.c:1024``) with the chunk walk
        pushed down to the workers.

        Data crosses the JVM↔Arrow boundary once (the cost vs the JVM
        scan-union engine), which is the right trade exactly when the
        driver-side O(groups) plan build dominates — large catalogs /
        ordered exports, the use this engine is auto-selected for."""
        import json as _json

        from pyspark.sql.pandas.types import to_arrow_schema

        spark = self.ts.spark
        if schema is None:
            schema = self._schema()
        data_fields = [
            f for f in schema.fields if f.name not in (CHUNK_COL, SPACE_COL)
        ]
        tcol = self.time_column
        out_names = [f.name for f in data_fields]
        if columns:
            known = set(out_names)
            bad = [c for c in columns if c not in known]
            if bad:
                raise ValueError(
                    f"unknown column(s) {bad} in read_ordered(columns=)"
                )
            out_names = list(columns)
        # the sort needs the time column even when it's not projected
        read_names = list(out_names)
        if tcol not in read_names:
            read_names.append(tcol)
        out_struct = T.StructType(
            [next(f for f in data_fields if f.name == n) for n in out_names]
        )
        arrow_schema = to_arrow_schema(out_struct)
        read_arrow = to_arrow_schema(
            T.StructType(
                [next(f for f in data_fields if f.name == n) for n in read_names]
            )
        )
        target_types = {f.name: f.type for f in read_arrow}
        acs = [
            ac for ac in self.added_columns() if ac["default"] is not None
        ]

        specs = []
        for g in groups:
            chs = []
            for c in g:
                fills = {
                    ac["name"]: ac["default"]
                    for ac in acs
                    if self._chunk_needs_fill(c, ac)
                    and ac["name"] in read_names
                }
                chs.append({"dir": self._chunk_glob(c), "fill": fills})
            specs.append(
                _json.dumps(
                    {
                        "chunks": chs,
                        # boundary groups get the row filter; interior
                        # groups scan filter-free (ConstraintAwareAppend)
                        "lo": lo
                        if lo is not None and g[0]["range_start"] < lo
                        else None,
                        "hi": hi
                        if hi is not None and g[-1]["range_end"] > hi
                        else None,
                    }
                )
            )
        # exact 1:1 spec -> partition (parallelize slices N items into N
        # ordered slices), so output partition order is time order
        rdd = spark.sparkContext.parallelize([(s,) for s in specs], len(specs))
        sdf = spark.createDataFrame(rdd, "spec string")
        usecs_day = USECS_PER_DAY

        def _merge_append(batches):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.dataset as pds

            def to_internal(col):
                ty = col.type
                if pa.types.is_timestamp(ty):
                    if ty.unit != "us":
                        col = col.cast(pa.timestamp("us", tz=ty.tz))
                    return col.cast(pa.int64())
                if pa.types.is_date(ty):
                    return pc.multiply(
                        col.cast(pa.int32()).cast(pa.int64()),
                        pa.scalar(usecs_day, pa.int64()),
                    )
                return col.cast(pa.int64())

            for b in batches:
                for sj in b.column("spec").to_pylist():
                    spec = _json.loads(sj)
                    tabs = []
                    for ch in spec["chunks"]:
                        # default discovery skips "_"-prefixed paths —
                        # which would silently drop _space=k subdirs of
                        # space-partitioned chunks; keep ignoring only
                        # Spark's marker files
                        dset = pds.dataset(
                            ch["dir"],
                            format="parquet",
                            ignore_prefixes=[
                                ".",
                                "_SUCCESS",
                                "_metadata",
                                "_common_metadata",
                                "_started",
                                "_committed",
                            ],
                        )
                        missing = [
                            n
                            for n in read_names
                            if n not in dset.schema.names
                        ]
                        if missing:
                            # inference inspects one fragment: a mixed
                            # pre/post-ADD-COLUMN chunk dir may hide the
                            # added column from the dataset schema even
                            # though newer files carry real values.
                            # Widen the schema; the scanner then reads
                            # real values where present and null-fills
                            # only the files that truly lack the column.
                            dset = pds.dataset(
                                dset.files,
                                format="parquet",
                                schema=pa.schema(
                                    list(dset.schema)
                                    + [
                                        pa.field(n, target_types[n])
                                        for n in missing
                                    ]
                                ),
                            )
                        t = dset.to_table(columns=read_names)
                        for name, dflt in (ch.get("fill") or {}).items():
                            i = t.column_names.index(name)
                            arr = t.column(i)
                            t = t.set_column(
                                i,
                                name,
                                pc.fill_null(
                                    arr, pa.scalar(dflt).cast(arr.type)
                                ),
                            )
                        tabs.append(t.select(read_names))
                    if not tabs:
                        continue
                    tab = pa.concat_tables(
                        tabs, promote_options="permissive"
                    )
                    if spec["lo"] is not None or spec["hi"] is not None:
                        tv = to_internal(
                            tab.column(tab.column_names.index(tcol))
                        )
                        mask = None
                        if spec["lo"] is not None:
                            mask = pc.greater_equal(tv, spec["lo"])
                        if spec["hi"] is not None:
                            m2 = pc.less(tv, spec["hi"])
                            mask = m2 if mask is None else pc.and_(mask, m2)
                        tab = tab.filter(mask)
                    idx = pc.sort_indices(
                        tab,
                        sort_keys=[
                            (tcol, "descending" if desc else "ascending")
                        ],
                    )
                    tab = tab.take(idx).select(out_names).cast(arrow_schema)
                    for rb in tab.to_batches(max_chunksize=1 << 16):
                        yield rb

        return sdf.mapInArrow(_merge_append, out_struct)

    def last_point(
        self,
        by: Union[str, Sequence[str]],
        tiebreak: Sequence[str] = (),
        keys=None,
        batch_chunks: int = 4,
        max_collect_keys: int = 1_000_000,
    ) -> DataFrame:
        """Latest row per key — ``SELECT DISTINCT ON (by) * ORDER BY by,
        time DESC`` — the SkipScan analog (``tsl/src/nodes/skip_scan/
        README.md``: skip to the next distinct key instead of scanning
        every row).

        Spark has no ordered-index loose scan, so the skip structure
        comes from the CHUNK CATALOG instead: chunks are visited newest
        first in geometrically growing batches, each batch answers
        ``max_by(row, (time, tiebreak))`` for the still-missing keys
        only, and the walk STOPS as soon as every expected key has been
        seen — O(recent chunks) work for the "latest value per device"
        query instead of O(all rows), independent of table history
        length.

        ``keys``: the expected key universe — a DataFrame of key
        columns, or a list of values/tuples. Without it there is no
        sound early-stop (a key seen only in the oldest chunk must
        still be found), so the fallback is a single full-table
        ``groupBy().agg(max_by)`` — one shuffle of (key, row) pairs,
        still never a sort of all rows.

        Per-batch results are collected driver-side; volume is bounded
        by key cardinality (the final result size), like the catalog
        metadata ops — the catalog walk is therefore only for key
        universes that FIT on the driver. Above ``max_collect_keys``
        (default 1M) the walk is skipped automatically and the
        distributed ``groupBy().agg(max_by)`` fallback runs instead
        (one shuffle of (key, row) pairs, result stays executor-side);
        ``self.last_point_stats["mode"]`` records which path ran.
        """
        by = [by] if isinstance(by, str) else list(by)
        spark = self.ts.spark
        tcol = self.time_column
        order = F.struct(F.col(tcol), *[F.col(c) for c in tiebreak])
        chunks = sorted(self.chunks(), key=lambda c: c["range_end"], reverse=True)
        self.last_point_stats = {
            "total_chunks": len(chunks),
            "chunks_scanned": [],
        }
        data_cols = [f.name for f in self._schema().fields] if chunks else []

        def _agg(df: DataFrame) -> DataFrame:
            return df.groupBy(*by).agg(
                F.max_by(F.struct(*[F.col(c) for c in data_cols]), order).alias(
                    "_row"
                )
            ).select("_row.*")

        if keys is None:
            self.last_point_stats["chunks_scanned"] = [
                c["range_start"] for c in chunks
            ]
            self.last_point_stats["mode"] = "group_by_fallback"
            return _agg(self.df())

        if isinstance(keys, DataFrame):
            kdf = keys.select(*by).distinct()
            if kdf.limit(max_collect_keys + 1).count() > max_collect_keys:
                # key universe too large to accumulate driver-side: the
                # distributed path — semi-join the keys, one grouped
                # max_by shuffle, result never touches the driver
                self.last_point_stats["chunks_scanned"] = [
                    c["range_start"] for c in chunks
                ]
                self.last_point_stats["mode"] = "group_by_fallback"
                return _agg(self.df().join(kdf, on=by, how="left_semi"))
            remaining = {tuple(r) for r in kdf.collect()}
        else:
            remaining = {
                k if isinstance(k, tuple) else (k,) for k in keys
            }
        self.last_point_stats["mode"] = "catalog_walk"
        found_rows: list = []
        i, batch = 0, max(1, int(batch_chunks))
        while i < len(chunks) and remaining:
            group = chunks[i : i + batch]
            i += batch
            batch *= 2  # geometric growth bounds the number of jobs
            self.last_point_stats["chunks_scanned"] += [
                c["range_start"] for c in group
            ]
            df = (
                self._chunk_reader()
                .option("basePath", self.data_dir)
                .parquet(*[self._chunk_glob(c) for c in group])
            )
            df = self._apply_fills(df, group).select(*data_cols)
            if len(by) == 1 and len(remaining) <= 10_000:
                # single-key: an IN filter pushes to the parquet scan
                # (row-group skipping on the key's column stats)
                df = df.filter(
                    F.col(by[0]).isin([k[0] for k in remaining])
                )
            else:
                kdf = spark.createDataFrame(
                    [tuple(k) for k in remaining], schema=", ".join(
                        f"{c} {dict(df.dtypes)[c]}" for c in by
                    )
                )
                df = df.join(F.broadcast(kdf), on=by, how="left_semi")
            for r in _agg(df).collect():
                key = tuple(r[c] for c in by)
                if key in remaining:
                    remaining.discard(key)
                    found_rows.append(tuple(r[c] for c in data_cols))
        if not found_rows:
            return spark.createDataFrame([], self._schema_or_empty())
        return spark.createDataFrame(found_rows, self._schema())

    def distinct_values(
        self,
        column: Union[str, Sequence[str]],
        max_collect_tuples: int = 1_000_000,
    ) -> DataFrame:
        """Plain ``SELECT DISTINCT column[, column…]`` — the generic
        SkipScan analog (``tsl/src/nodes/skip_scan/planner.c:576``;
        ``last_point`` covers the DISTINCT ON shape).

        A parquet scan cannot jump to the next distinct key the way the
        reference's index loose scan does, so the skip structure is the
        CATALOG: ``compress_chunk`` records each columnstore chunk's
        distinct segmentby values while the rewrite is hot (they are the
        chunk's segment keys — already materialized, capped at
        ``compression.SEGMENT_VALUES_CAP``). A chunk covered by a
        recorded list contributes ZERO I/O; only uncovered chunks
        (rowstore, modified-since-compress — every DML invalidation path
        drops the stats row — over-cap, or a non-segmentby column) are
        scanned, and that scan is a column-pruned per-chunk DISTINCT
        whose shuffle carries only the distinct values. Fully compressed
        hypertable ⇒ the answer is a catalog read with no Spark job over
        data at all — O(segments), the SkipScan cost profile.

        Multi-column form (round 10): ``distinct_values(["a", "b"])``
        answers ``SELECT DISTINCT a, b`` from the recorded segment-key
        TUPLES when the requested columns are a subset of the chunk's
        segmentby — ``compress_chunk`` records the full composite
        segment keys (the reference builds SkipScan paths for every
        ordered index prefix; recorded tuples subsume prefixes and
        subsets by projection). Coverage and invalidation rules are the
        same as the single-column form.

        ``self.distinct_values_stats`` records covered/scanned chunk
        counts (and the chosen ``path``) for plan assertions.

        Driver-memory guard (round 11): the catalog walk unions up to
        ``covered_chunks × SEGMENT_VALUES_CAP`` (1024) recorded
        values/tuples BEFORE dedup — bounded by the answer for the
        single-column form, but the composite form can transiently
        exceed it. When that pre-dedup total would exceed
        ``max_collect_tuples``, the method falls back to the
        distributed scan path for every chunk (``path =
        "scan_fallback"``), the same discipline as
        ``last_point(max_collect_keys=)``; the scan's shuffle carries
        only the distinct values, so the fallback stays
        result-bounded executor-side.
        """
        from .compression import SEGMENT_TUPLES_KEY

        spark = self.ts.spark
        cols = [column] if isinstance(column, str) else list(column)
        fields = []
        for c in cols:
            field = next(
                (f for f in self._schema().fields if f.name == c), None
            )
            if field is None:
                raise ValueError(f"column {c!r} not in schema")
            fields.append(field)
        multi = len(cols) > 1
        chunks = self.chunks()
        srows = self.ts.catalog.chunk_column_stats.find(
            hypertable_id=self.id,
            column=SEGMENT_TUPLES_KEY if multi else cols[0],
        )
        recorded = {
            s["chunk_id"]: s
            for s in srows
            if s.get("distinct_values") is not None
            and (not multi or set(cols) <= set(s.get("columns") or []))
        }
        # pre-dedup accumulation budget: the recorded lists are already
        # in driver memory (catalog rows), so summing their lengths is
        # free — what the guard caps is the UNION set built below
        covered_est = sum(
            len(s["distinct_values"])
            for c in chunks
            for s in (recorded.get(c["id"]),)
            if s is not None and c.get("status") == "columnstore"
        )
        force_scan = covered_est > max_collect_tuples
        vals: set = set()
        has_null = False
        uncovered = []
        for c in chunks:
            s = recorded.get(c["id"])
            # a recorded list is only trusted on a chunk still in
            # columnstore form — any rewrite downgraded the status and
            # dropped the stats row, but belt over suspenders here
            if not force_scan and s is not None and c.get("status") == "columnstore":
                if multi:
                    # project the full segment tuples onto the request
                    idx = [s["columns"].index(col) for col in cols]
                    vals.update(
                        tuple(t[i] for i in idx)
                        for t in s["distinct_values"]
                    )
                else:
                    vals.update(s["distinct_values"])
                    has_null = has_null or bool(s.get("distinct_has_null"))
            else:
                uncovered.append(c)
        self.distinct_values_stats = {
            "total_chunks": len(chunks),
            "covered_chunks": len(chunks) - len(uncovered),
            "scanned_chunks": len(uncovered),
            "path": (
                "scan_fallback"
                if force_scan
                else (
                    "catalog"
                    if not uncovered
                    else ("hybrid" if vals or has_null else "scan")
                )
            ),
            "covered_tuples_pre_dedup": covered_est,
        }
        out_schema = T.StructType(fields)
        if multi:
            rows = sorted(
                vals, key=lambda t: tuple((v is None, v) for v in t)
            )
        else:
            rows = [(v,) for v in sorted(vals)] + (
                [(None,)] if has_null else []
            )
        catalog_df = spark.createDataFrame(rows, out_schema)
        if not uncovered:
            return catalog_df
        scanned = (
            self._chunk_reader()
            .option("basePath", self.data_dir)
            .parquet(*[self._chunk_glob(c) for c in uncovered])
        )
        scanned = self._apply_fills(scanned, uncovered).select(*cols)
        if not rows:
            return scanned.distinct()
        return scanned.union(catalog_df).distinct()

    def _time_bound_filter(self, df, lo, hi) -> DataFrame:
        """``df`` filtered by :meth:`_time_bound_sql`."""
        for cond in self._time_bound_sql(lo, hi):
            df = df.filter(cond)
        return df

    def _time_bound_sql(self, lo, hi) -> list[str]:
        """Row-level ``lo <= time < hi`` as SQL conjuncts against a TYPED
        literal (not unix_micros arithmetic) so the predicate reaches
        the parquet scan as a PushedFilter -> row-group skipping — the
        analog of the reference's per-batch minmax sparse index
        (tsl/src/compression/batch_metadata_builder_minmax.c). The one
        place this recipe lives; read() and read_ordered() both use it.
        """
        tc, dt = q(self.time_column), self._time_dtype()
        internal = self._internal_time_sql(dt)
        out = []
        for bound, op in ((lo, ">="), (hi, "<")):
            if bound is None:
                continue
            if self.row.get("time_type") == "uuid":
                # coarse PUSHABLE string-range filter: canonical UUIDv7
                # text orders by its embedded ms timestamp, so boundary
                # UUIDs at the enclosing ms give a row-group-skipping
                # predicate; the exact µs bound is the residual filter
                ms = bound // 1000 if op == ">=" else -(-bound // 1000)
                coarse = 0 <= ms < 1 << 48
                if coarse:
                    out.append(f"{tc} {op} {_uuidv7_boundary_sql(ms)}")
                if not coarse or ms * 1000 != bound:
                    out.append(f"{internal} {op} {bound}")
            elif dt.startswith("timestamp"):
                out.append(f"{tc} {op} timestamp_micros({bound})")
            else:
                out.append(f"{internal} {op} {bound}")
        return out

    def _time_dtype(self) -> str:
        """The time column's catalog type (``simpleString``), '' if none."""
        for f in self._schema_or_empty().fields:
            if f.name == self.time_column:
                return f.dataType.simpleString()
        return ""

    def _chunk_glob(self, chunk: dict) -> str:
        return os.path.join(self.data_dir, f"{CHUNK_COL}={chunk['range_start']}")

    def _schema_or_empty(self) -> T.StructType:
        if self.row.get("schema_ddl"):
            return self._schema()
        return T.StructType([])

    def _data_schema(self) -> T.StructType:
        """The catalog schema without the partition columns."""
        return T.StructType(
            [
                f
                for f in self._schema_or_empty().fields
                if f.name not in (CHUNK_COL, SPACE_COL)
            ]
        )

    def df(self) -> DataFrame:
        """Whole-table read (no pruning)."""
        return self.read()

    # --------------------------------------------------------- chunk admin
    def chunks(self) -> list[dict]:
        return sorted(
            self.ts.catalog.chunk.find(hypertable_id=self.id),
            key=lambda c: c["range_start"],
        )

    def show_chunks(
        self,
        older_than: Union[int, str, datetime, None] = None,
        newer_than: Union[int, str, datetime, None] = None,
        created_before: Union[str, datetime, None] = None,
        created_after: Union[str, datetime, None] = None,
    ) -> list[dict]:
        """``show_chunks`` (sql/ddl_api.sql:101): older_than compares
        range_end, newer_than compares range_start — same as the reference
        (``src/chunk.c ts_chunk_get_by_time_constraint``).
        ``created_before``/``created_after`` filter on the chunk's
        creation wall-clock instead of its data range (ddl_api.sql v2.16
        overloads)."""
        out = []
        ot, nt = _to_internal(older_than), _to_internal(newer_than)
        cb = _to_internal(created_before)
        ca = _to_internal(created_after)
        for c in self.chunks():
            if ot is not None and not (c["range_end"] <= ot):
                continue
            if nt is not None and not (c["range_start"] >= nt):
                continue
            created_us = int((c.get("created_at") or 0) * 1_000_000)
            if cb is not None and not (created_us < cb):
                continue
            if ca is not None and not (created_us > ca):
                continue
            out.append(c)
        return out

    def drop_chunks(
        self,
        older_than: Union[int, str, datetime, None] = None,
        newer_than: Union[int, str, datetime, None] = None,
        created_before: Union[str, datetime, None] = None,
        created_after: Union[str, datetime, None] = None,
    ) -> list[int]:
        """Retention: drop whole chunks (sql/ddl_api.sql:89). O(chunks
        dropped) — directory removal, never a row-level delete."""
        dropped, doomed_ids = [], []
        for c in self.show_chunks(
            older_than=older_than,
            newer_than=newer_than,
            created_before=created_before,
            created_after=created_after,
        ):
            if c.get("frozen"):
                raise PermissionError(
                    f"chunk [{c['range_start']},{c['range_end']}) is frozen"
                )
            path = self._chunk_glob(c)
            if os.path.isdir(path):
                shutil.rmtree(path)
            doomed_ids.append(c["id"])
            dropped.append(c["range_start"])
        # ONE catalog rewrite for the whole batch — a per-chunk delete
        # loop is O(dropped · chunks) file rewrites
        self.ts.catalog.chunk.delete_in("id", doomed_ids)
        return dropped

    def delete_range(self, lo: Optional[int], hi: Optional[int]) -> int:
        """Delete rows with ``lo <= internal_time < hi``: a
        :meth:`replace_ranges` with no new rows. As row-level DML it
        invalidates watching caggs (``continuous_agg_dml_invalidate``),
        unlike ``drop_chunks`` (the downsample-then-retain pattern)."""
        return self.replace_ranges([(lo, hi)])

    @_serialized_dml
    def replace_ranges(self, ranges, rows: Optional[DataFrame] = None) -> int:
        """Replace the rows in each disjoint ``[lo, hi)`` of ``ranges``
        (internal units, ``None`` open) with ``rows`` (``None``: delete),
        whose times lie inside the ranges — a cagg refresh's DELETE +
        INSERT (``materialize.c:442-489``) for every range at once.
        Returns the number of chunks touched.

        Chunk-wise, like compressed DML in the reference
        (``tsl/src/compression/compression_dml.c``): ONE write stages
        every chunk the ranges touch as its rows outside them plus its
        new rows, one file per partition dir; each staged chunk swaps in
        (:func:`compression._swap_dir`), a touched chunk left empty is
        dropped, and no other chunk is read or written. Watching caggs
        are invalidated over each range, clipped to the chunks it hit."""
        from .compression import _swap_dir

        def hits(c, lo, hi):
            return (hi is None or c["range_start"] < hi) and (lo is None or c["range_end"] > lo)

        for lo, hi in ranges:
            self._check_frozen(lo, None if hi is None else hi - 1)
        touched = [c for c in self.chunks() if any(hits(c, *r) for r in ranges)]
        # chunks a range only partly covers keep their other rows, with
        # the partition values they were written with (space modulus)
        partial = [
            (c["range_start"], c["range_end"])
            for c in touched
            if not any(
                (lo is None or lo <= c["range_start"]) and (hi is None or c["range_end"] <= hi)
                for lo, hi in ranges
            )
        ]
        parts = []
        if partial:
            inside = " OR ".join(
                f"({' AND '.join(self._time_bound_sql(*r)) or 'true'})" for r in ranges
            )
            sc = self._scan(ranges=partial, with_partition_cols=True).select(
                where=f"NOT ({inside})"
            )
            parts.append(self.ts.scans.plan([sc], lambda views: sc.text(views[0])))
        if rows is not None:
            self._ensure_typed(rows)
            rows = self._conform_input(rows)
            want, have = {f.name for f in self._schema().fields}, set(rows.columns)
            if want != have:
                raise ValueError(f"schema mismatch: want {sorted(want)}, have {sorted(have)}")
            parts.append(rows.select("*", *self._partition_exprs(rows)))
        tmp = os.path.join(self.data_dir, ".tmp_rewrite")
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            if parts:
                df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
                pcols = self._partition_cols
                self._null_guarded(
                    lambda: storage.writer(df.repartition(*pcols), partition_by=pcols).parquet(tmp)
                )
            staged = {
                int(d.split("=", 1)[1])
                for d in (os.listdir(tmp) if os.path.isdir(tmp) else ())
                if d.startswith(f"{CHUNK_COL}=")
            }
            # stale stats and columnstore status go before any data moves
            self._mark_rewritten([c["range_start"] for c in touched])
            for start in sorted(staged):
                path = os.path.join(self.data_dir, f"{CHUNK_COL}={start}")
                new = os.path.join(tmp, f"{CHUNK_COL}={start}")
                if os.path.isdir(path):
                    _swap_dir(path, new)
                else:
                    os.replace(new, path)
            emptied = [c for c in touched if c["range_start"] not in staged]
            for c in emptied:
                shutil.rmtree(self._chunk_glob(c), ignore_errors=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.ts.catalog.chunk.delete_in("id", [c["id"] for c in emptied])
        self._register_chunks_in_range(0, 0)
        self._mark_fill_done([c["range_start"] for c in touched])
        spans = touched + [c for c in self.chunks() if c["range_start"] in staged]
        for lo, hi in ranges:
            hit = [c for c in spans if hits(c, lo, hi)]
            if hit:
                a, b = min(c["range_start"] for c in hit), max(c["range_end"] for c in hit)
                self._capture_invalidation(
                    a if lo is None else max(a, lo), (b if hi is None else min(b, hi)) - 1
                )
        return len(touched)

    # ------------------------------------------------------------- stats
    def approximate_row_count(self) -> int:
        """``approximate_row_count`` (sql/size_utils.sql:311): the
        reference answers instantly from pg statistics; here the analog
        is a per-chunk ``n_rows`` on the chunk catalog row, recorded by
        compress_chunk and ANALYZE and invalidated by DML into the chunk
        — so after a settle the call is O(chunks) against the cached
        catalog, not O(files) random footer I/O (probed: 12.7s for 2,400
        chunks of footers vs <0.1s from the catalog).

        Chunks whose count is unknown (fresh appends since the last
        ANALYZE) fall back to THEIR footers only, and the result is
        written back, so repeated calls self-heal to catalog-only.
        Footer reads are random I/O, one per file: beyond
        :data:`FOOTER_DRIVER_FILES` files they run as a narrow Spark job
        on executors (at 100 TB / ~1M files a driver-side loop would
        serialize ~1M round-trips)."""
        chunks = self.chunks()
        if not chunks:
            # unregistered layout (external writer): raw footer walk
            files = glob.glob(
                os.path.join(self.data_dir, "**", "*.parquet"), recursive=True
            )
            return self._footer_counts_by_key({0: files})[0]
        cat = self.ts.catalog
        total = sum(
            int(c["n_rows"]) for c in chunks if c.get("n_rows") is not None
        )
        unknown = [c for c in chunks if c.get("n_rows") is None]
        if not unknown:
            return total
        # one batched footer pass over ALL unknown chunks' files, then
        # ONE catalog rewrite with every learned count — per-chunk
        # update calls would rewrite the chunk table O(chunks) times
        files_by_chunk: dict[int, list] = {
            c["id"]: glob.glob(
                os.path.join(
                    self.data_dir,
                    f"{CHUNK_COL}={c['range_start']}",
                    "**",
                    "*.parquet",
                ),
                recursive=True,
            )
            for c in unknown
        }
        counts = self._footer_counts_by_key(files_by_chunk)
        with cat.write_lock:
            rows = cat.chunk.read()
            for r in rows:
                # only fill chunks whose count is STILL unknown — a
                # concurrent insert may have invalidated (or a concurrent
                # ANALYZE refreshed) the row since the footer walk, and
                # overwriting would cache a stale pre-insert count that
                # the self-heal path would then never correct
                if r.get("id") in counts and r.get("n_rows") is None:
                    r["n_rows"] = counts[r["id"]]
            cat.chunk.replace(rows)
        return total + sum(counts.values())

    def _footer_counts_by_key(self, files_by_key: dict) -> dict:
        """Per-key parquet footer row counts; distributed beyond
        :data:`FOOTER_DRIVER_FILES` (total files) so a cold start over
        many chunks fans the random footer I/O across executors."""
        import pyarrow.parquet as pq

        pairs = [(k, f) for k, fs in files_by_key.items() for f in fs]
        out = {k: 0 for k in files_by_key}
        if len(pairs) <= FOOTER_DRIVER_FILES:
            for k, f in pairs:
                out[k] += pq.ParquetFile(f).metadata.num_rows
            return out

        def _counts(batches):
            import pandas as pd
            import pyarrow.parquet as pq  # noqa: F811 — executor-side

            for pdf in batches:
                g = {
                    "key": [],
                    "n": [],
                }
                for k, sub in pdf.groupby("key"):
                    g["key"].append(k)
                    g["n"].append(
                        sum(
                            pq.ParquetFile(p).metadata.num_rows
                            for p in sub["path"]
                        )
                    )
                yield pd.DataFrame(g)

        spark = self.ts.spark
        paths = spark.createDataFrame(pairs, "key long, path string")
        slices = min(len(pairs) // 32 + 1, 512)
        rows = (
            paths.repartition(slices)
            .mapInPandas(_counts, "key long, n long")
            .groupBy("key")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        for r in rows:
            out[r["key"]] = int(r["n"])
        return out

    def hypertable_size(self) -> int:
        """``hypertable_size`` (sql/size_utils.sql:119): bytes on disk."""
        total = 0
        for dirpath, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                total += os.path.getsize(os.path.join(dirpath, fn))
        return total
