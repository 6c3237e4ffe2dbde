"""Admin statements for the SQL surface — the reference's SQL-callable
management API (``sql/ddl_api.sql``, ``sql/policy_api.sql``,
``sql/size_utils.sql``) plus the cagg / columnstore DDL forms:

- ``SELECT create_hypertable('t', 'ts', chunk_time_interval => INTERVAL '7 days')``
- ``SELECT show_chunks('t' [, older_than =>, newer_than =>])``
- ``SELECT drop_chunks('t', older_than => ...)``
- ``SELECT compress_chunk('_timescaledb_internal._hyper_1_2_chunk')`` (+
  decompress / recompress / convert_to_columnstore / convert_to_rowstore,
  freeze_chunk / unfreeze_chunk)
- ``SELECT add_retention_policy(...)`` & friends; ``remove_*_policy``
- ``SELECT set_chunk_time_interval / hypertable_size / run_job / delete_job``
- ``CALL refresh_continuous_aggregate('cagg', start, finish)``
- ``ALTER TABLE t SET (timescaledb.compress, timescaledb.compress_segmentby
  = '...', timescaledb.compress_orderby = '...')``
  (tsl/src/compression/create.c DDL path)
- ``CREATE MATERIALIZED VIEW c WITH (timescaledb.continuous) AS SELECT
  time_bucket(...) ... GROUP BY ... [WITH [NO] DATA]``
  (tsl/src/continuous_aggs/create.c:600)

Every handler maps 1:1 onto the Python API (hypertable.py, chunkops.py,
compression.py, jobs.py, caggs.py) and returns a small DataFrame so the
statement composes with the rest of the SQL surface. Chunks are named
``_timescaledb_internal._hyper_<ht_id>_<chunk_id>_chunk`` exactly like
the reference (src/chunk.c ts_chunk_create_table).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone as _tz

from pyspark.sql import DataFrame, functions as F

from .cagg_families import BY_CTOR, FAMILIES, family_of
from .sqlapi import (
    _NAMED,
    _literal_of,
    _split_args,
    _strip_strings,
)

_CHUNK_NAME = re.compile(
    r"^(?:_timescaledb_internal\s*\.\s*)?_hyper_(\d+)_(\d+)_chunk$"
)


def _chunk_sql_name(ht, chunk: dict) -> str:
    return f"_timescaledb_internal._hyper_{ht.id}_{chunk['id']}_chunk"


def _resolve_chunk(ts, name: str):
    m = _CHUNK_NAME.match(name.strip())
    if not m:
        raise ValueError(
            f"bad chunk name {name!r} (expected _timescaledb_internal."
            f"_hyper_<ht>_<chunk>_chunk, as printed by show_chunks)"
        )
    ht_id, chunk_id = int(m.group(1)), int(m.group(2))
    row = ts.catalog.hypertable.find_one(id=ht_id)
    if row is None:
        raise ValueError(f"no hypertable with id {ht_id}")
    ht = ts.get_hypertable(row["name"])
    chunk = ts.catalog.chunk.find_one(hypertable_id=ht_id, id=chunk_id)
    if chunk is None:
        raise ValueError(f"no chunk {chunk_id} on hypertable {row['name']!r}")
    return ht, chunk


def _time_arg(ts, ht, val, kind):
    """older_than/newer_than & friends: absolute timestamp literal, or an
    INTERVAL meaning now() - interval (sql/ddl_api.sql:101 semantics)."""
    from .functions.time import parse_interval
    from .hypertable import _to_internal

    if val is None:
        return None
    if kind == "interval":
        iv = parse_interval(val)
        if iv.months:
            raise ValueError("month-granular older_than/newer_than not supported")
        if ht is not None and ht.row.get("time_type") == "int":
            # reference parity: an INTERVAL bound on an integer time
            # dimension is an error (pass an integer in the dimension's
            # units) — wall-clock microseconds against small integer
            # range_ends would match EVERY chunk and silently drop all
            # data (policies use integer_now; ad-hoc bounds are absolute)
            raise ValueError(
                f"hypertable {ht.name!r} has an integer time dimension: "
                f"older_than/newer_than must be an integer in the "
                f"dimension's units, not an interval"
            )
        now_us = int(datetime.now(_tz.utc).timestamp() * 1_000_000)
        return now_us - iv.us
    return _to_internal(val)


def _args_of(ts, raw_args: list[str]):
    """(positional, named) literal values; non-literals are rejected."""
    pos, named = [], {}
    for a in raw_args:
        nm = _NAMED.match(a)
        if nm:
            k, v = _literal_of(nm.group(2))
            if k is None and nm.group(2).strip().lower() not in ("null", "true", "false"):
                raise ValueError(f"admin argument must be a literal: {a!r}")
            named[nm.group(1).lower()] = _coerce(k, v, nm.group(2))
        else:
            k, v = _literal_of(a)
            if k is None and a.strip().lower() not in ("null", "true", "false"):
                raise ValueError(f"admin argument must be a literal: {a!r}")
            pos.append(_coerce(k, v, a))
    return pos, named


class _Lit:
    __slots__ = ("kind", "value")

    def __init__(self, kind, value):
        self.kind = kind
        self.value = value


def _coerce(kind, value, raw):
    s = raw.strip().lower()
    if kind is None:
        if s == "null":
            return _Lit("null", None)
        return _Lit("bool", s == "true")
    if kind == "string":
        try:
            return _Lit("number", int(value))
        except (TypeError, ValueError):
            return _Lit(kind, value)
    return _Lit(kind, value)


def _df(ts, rows, schema) -> DataFrame:
    return ts.spark.createDataFrame(rows, schema)


def _ts_or_us(ht, us: int):
    try:
        import pyspark.sql.types as T

        f = next(
            f for f in ht._schema().fields if f.name == ht.time_column
        )
        if isinstance(f.dataType, (T.TimestampType, T.DateType)):
            # integer construction: float µs/1e6 rounds by ~0.4 µs at
            # present-day magnitudes
            from datetime import timedelta as _td

            return datetime(1970, 1, 1) + _td(microseconds=int(us))
    except Exception:
        pass
    return us


# ---------------------------------------------------------------------------
# handlers: SELECT fn(...)
# ---------------------------------------------------------------------------

_CREATE_HT_ARGS = {
    "time_column",
    "chunk_time_interval",
    "partitioning_column",
    "number_partitions",
    "migrate_data",
    "if_not_exists",
    "create_default_indexes",
    "associated_schema_name",
    "associated_table_prefix",
}


def _h_create_hypertable(ts, pos, named):
    name = pos[0].value
    time_col = pos[1].value if len(pos) > 1 else named["time_column"].value
    unknown = set(named) - _CREATE_HT_ARGS
    if unknown:
        # reference parity: PG raises on unknown named args instead of
        # silently ignoring them (a misspelled chunk_time_interval would
        # otherwise give 7-day default chunks without a word)
        raise ValueError(
            f"create_hypertable: unknown named argument(s) {sorted(unknown)}"
        )
    kw = {}
    ci = named.get("chunk_time_interval")
    if ci is not None:
        kw["chunk_interval"] = ci.value
    if "partitioning_column" in named:
        kw["space_column"] = named["partitioning_column"].value
        if "number_partitions" in named:
            kw["num_partitions"] = int(named["number_partitions"].value)
    if "if_not_exists" in named:
        # forward it — idempotent setup scripts rely on the no-op
        kw["if_not_exists"] = bool(named["if_not_exists"].value)
    # PG flow: a data-bearing plain table converts via migrate_data=>true
    # (default in our SQL surface); with migrate_data=>false PG errors
    # 'table is not empty' — silently shadowing the data behind an empty
    # hypertable would lose it from every read
    row = ts.catalog.plain_table.find_one(name=name)
    migrate = named.get("migrate_data", _Lit("bool", True)).value
    if row is not None and row.get("path") is not None and not migrate:
        raise ValueError(
            f"table {name!r} is not empty: pass migrate_data => true "
            f"(src/hypertable.c create_hypertable table-not-empty check)"
        )
    ht = ts.create_hypertable(name, time_col, **kw)
    if row is not None and row.get("path") is not None and migrate:
        ht.insert(ts.spark.read.parquet(row["path"]))
        ts.catalog.plain_table.delete({"name": name})
    return _df(ts, [(ht.id, name, True)], "hypertable_id int, name string, created boolean")


def _h_show_chunks(ts, pos, named):
    ht = ts.get_hypertable(pos[0].value)
    ot = named.get("older_than") or (pos[1] if len(pos) > 1 else None)
    nt = named.get("newer_than") or (pos[2] if len(pos) > 2 else None)
    cb, ca = named.get("created_before"), named.get("created_after")
    chunks = ht.show_chunks(
        older_than=_time_arg(ts, ht, ot.value, ot.kind) if ot else None,
        newer_than=_time_arg(ts, ht, nt.value, nt.kind) if nt else None,
        created_before=_time_arg(ts, ht, cb.value, cb.kind) if cb else None,
        created_after=_time_arg(ts, ht, ca.value, ca.kind) if ca else None,
    )
    rows = [
        (
            _chunk_sql_name(ht, c),
            _ts_or_us(ht, c["range_start"]),
            _ts_or_us(ht, c["range_end"]),
            c.get("status") == "columnstore",
            bool(c.get("frozen")),
        )
        for c in chunks
    ]
    dt = "timestamp" if rows and isinstance(rows[0][1], datetime) else "bigint"
    return _df(
        ts, rows,
        f"chunk string, range_start {dt}, range_end {dt}, "
        "is_compressed boolean, is_frozen boolean",
    )


def _h_drop_chunks(ts, pos, named):
    ht = ts.get_hypertable(pos[0].value)
    ot = named.get("older_than") or (pos[1] if len(pos) > 1 else None)
    nt = named.get("newer_than") or (pos[2] if len(pos) > 2 else None)
    cb, ca = named.get("created_before"), named.get("created_after")
    before = {c["range_start"]: _chunk_sql_name(ht, c) for c in ht.chunks()}
    dropped = ht.drop_chunks(
        older_than=_time_arg(ts, ht, ot.value, ot.kind) if ot else None,
        newer_than=_time_arg(ts, ht, nt.value, nt.kind) if nt else None,
        created_before=_time_arg(ts, ht, cb.value, cb.kind) if cb else None,
        created_after=_time_arg(ts, ht, ca.value, ca.kind) if ca else None,
    )
    return _df(ts, [(before[s],) for s in dropped], "dropped_chunk string")


def _chunk_op(fn):
    def h(ts, pos, named):
        from . import chunkops, compression

        ht, chunk = _resolve_chunk(ts, pos[0].value)
        ops = {
            "compress_chunk": lambda: compression.compress_chunk(ht, chunk),
            "convert_to_columnstore": lambda: compression.compress_chunk(ht, chunk),
            "decompress_chunk": lambda: compression.decompress_chunk(ht, chunk),
            "convert_to_rowstore": lambda: compression.decompress_chunk(ht, chunk),
            "recompress_chunk": lambda: compression.recompress_chunk(ht, chunk),
            "compact_chunk": lambda: compression.compact_chunk(ht, chunk),
            "rebuild_columnstore": lambda: compression.rebuild_columnstore(
                ht, chunk
            ),
            "rebuild_sparse_index": lambda: compression.rebuild_sparse_index(
                ht,
                chunk,
                force=bool(
                    named["force"].value
                    if "force" in named
                    else (pos[1].value if len(pos) > 1 else False)
                ),
            ),
            "freeze_chunk": lambda: chunkops.freeze_chunk(ht, chunk),
            "unfreeze_chunk": lambda: chunkops.unfreeze_chunk(ht, chunk),
        }
        ops[fn]()
        return _df(ts, [(pos[0].value,)], "chunk string")

    return h


def _h_detach_chunk(ts, pos, named):
    from . import chunkops

    ht, chunk = _resolve_chunk(ts, pos[0].value)
    chunkops.detach_chunk(ht, chunk)
    return _df(ts, [(pos[0].value, "detached")], "chunk string, action string")


def _h_attach_chunk(ts, pos, named):
    from . import chunkops
    from .hypertable import _to_internal

    ht = ts.get_hypertable(pos[0].value)
    row = chunkops.attach_chunk(
        ht, _to_internal(pos[1].value), _to_internal(pos[2].value)
    )
    return _df(ts, [(_chunk_sql_name(ht, row), "attached")], "chunk string, action string")


def _h_set_chunk_time_interval(ts, pos, named):
    ht = ts.get_hypertable(pos[0].value)
    iv = (
        named.get("chunk_time_interval")
        or named.get("partition_interval")
        or pos[1]
    )
    ht.set_chunk_time_interval(iv.value)
    return _df(ts, [(True,)], "ok boolean")


def _h_set_number_partitions(ts, pos, named):
    """``set_number_partitions(ht, n)`` (sql/ddl_api.sql:77)."""
    ht = ts.get_hypertable(pos[0].value)
    n = named.get("number_partitions") or pos[1]
    ht.set_number_partitions(int(n.value))
    return _df(ts, [(True,)], "ok boolean")


def _h_pre_restore(ts, pos, named):
    """``timescaledb_pre_restore()`` (sql/restoring.sql): pause job
    scheduling while a dump loads."""
    ts.pre_restore()
    return _df(ts, [(True,)], "ok boolean")


def _h_post_restore(ts, pos, named):
    ts.post_restore()
    return _df(ts, [(True,)], "ok boolean")


def _h_clear_hypertable_cache(ts, pos, named):
    """``clear_hypertable_cache()`` (sql/ddl_api.sql — multinode-era
    cache helper, kept for public-API name parity): drop cached
    catalog state so the next access re-reads storage. Here that is
    every JsonlTable's row cache plus Spark's relation cache."""
    with ts.catalog.write_lock:
        for t in ts.catalog._tables.values():
            t._cache_key = None
    ts.spark.catalog.clearCache()
    return _df(ts, [(True,)], "ok boolean")


def _h_get_telemetry_report(ts, pos, named):
    """``get_telemetry_report()`` — LOCAL installation-shape report
    (never transmitted; this engine has no phone-home path)."""
    import json as _json

    return _df(
        ts, [(_json.dumps(ts.get_telemetry_report()),)], "report string"
    )


def _h_hypertable_size(ts, pos, named):
    ht = ts.get_hypertable(pos[0].value)
    return _df(ts, [(ht.hypertable_size(),)], "hypertable_size bigint")


def _h_chunks_detailed_size(ts, pos, named):
    from .views import chunks_detailed_size

    ht = ts.get_hypertable(pos[0].value)
    rows = [
        (_chunk_sql_name(ht, c), d["total_bytes"])
        for c, d in zip(ht.chunks(), chunks_detailed_size(ht))
    ]
    return _df(ts, rows, "chunk string, total_bytes bigint")


def _h_hypertable_detailed_size(ts, pos, named):
    from .views import hypertable_detailed_size

    ht = ts.get_hypertable(pos[0].value)
    d = hypertable_detailed_size(ht)
    return _df(
        ts, [(d["table_bytes"], d["num_chunks"])],
        "table_bytes bigint, num_chunks int",
    )


def _policy(fnname):
    def h(ts, pos, named):
        jr = ts.jobs
        kw = {k: v.value for k, v in named.items()}
        args = [p.value for p in pos]
        job_id = getattr(jr, fnname)(*args, **kw)
        return _df(ts, [(job_id if isinstance(job_id, int) else -1,)], "job_id int")

    return h


def _h_remove_policy(fnname):
    def h(ts, pos, named):
        getattr(ts.jobs, fnname)(pos[0].value)
        return _df(ts, [(True,)], "ok boolean")

    return h


def _h_add_reorder_policy(ts, pos, named):
    """Reference takes an index name; here the second arg is the
    comma-separated sort column list the reorder clusters by."""
    cols = [c.strip() for c in str(pos[1].value).split(",") if c.strip()]
    job_id = ts.jobs.add_reorder_policy(
        pos[0].value, cols, **{k: v.value for k, v in named.items()}
    )
    return _df(ts, [(job_id,)], "job_id int")


def _h_run_job(ts, pos, named):
    res = ts.jobs.run_job(int(pos[0].value))
    # run_job returns success/error, not 'status' — report failures
    status = "ok" if res.get("success") else f"failed: {res.get('error')}"
    return _df(
        ts, [(int(pos[0].value), status)], "job_id int, status string"
    )


def _h_delete_job(ts, pos, named):
    ts.jobs.delete_job(int(pos[0].value))
    return _df(ts, [(True,)], "ok boolean")


def _h_enable_chunk_skipping(ts, pos, named):
    ht = ts.get_hypertable(pos[0].value)
    n = ht.enable_chunk_skipping(pos[1].value)
    return _df(ts, [(n,)], "chunks_indexed int")


def _h_disable_chunk_skipping(ts, pos, named):
    ht = ts.get_hypertable(pos[0].value)
    n = ht.disable_chunk_skipping(pos[1].value)
    return _df(ts, [(n,)], "stats_dropped int")


def _h_chunk_compression_stats(ts, pos, named):
    """``chunk_compression_stats`` / ``chunk_columnstore_stats``
    (sql/size_utils.sql:360,390)."""
    from . import compression

    ht = ts.get_hypertable(pos[0].value)
    by_start = {c["range_start"]: c for c in ht.chunks()}
    rows = [
        (
            _chunk_sql_name(ht, by_start[s["chunk"]]),
            int(s.get("before", 0)),
            int(s.get("after", 0)),
        )
        for s in compression.chunk_compression_stats(ht)
        if s["chunk"] in by_start
    ]
    return _df(
        ts,
        rows or [],
        "chunk_name string, before_compression_total_bytes bigint, "
        "after_compression_total_bytes bigint",
    )


def _h_hypertable_compression_stats(ts, pos, named):
    from . import compression

    ht = ts.get_hypertable(pos[0].value)
    stats = compression.chunk_compression_stats(ht)
    return _df(
        ts,
        [
            (
                len(stats),
                sum(int(s.get("before", 0)) for s in stats),
                sum(int(s.get("after", 0)) for s in stats),
            )
        ],
        "total_chunks bigint, before_compression_total_bytes bigint, "
        "after_compression_total_bytes bigint",
    )


def _h_hypertable_index_size(ts, pos, named):
    """Parquet has no secondary indexes; the skip-stats analog lives in
    the catalog and is negligible — reference parity is a 0-byte answer
    (sql/size_utils.sql:236)."""
    ts.get_hypertable(pos[0].value)  # raise on unknown table
    return _df(ts, [(0,)], "hypertable_index_size bigint")


def _h_show_policies(ts, pos, named):
    rows = [
        (str(p.get("policy_name")), str({k: v for k, v in p.items() if k != "policy_name"}))
        for p in ts.jobs.show_policies(pos[0].value)
    ]
    return _df(ts, rows or [], "policy_name string, config string")


def _h_remove_all_policies(ts, pos, named):
    ok = ts.jobs.remove_all_policies(
        pos[0].value,
        if_exists=bool(named.get("if_exists", _Lit("bool", False)).value),
    )
    return _df(ts, [(ok,)], "removed boolean")


ADMIN_FNS = {
    "create_hypertable": _h_create_hypertable,
    "show_chunks": _h_show_chunks,
    "drop_chunks": _h_drop_chunks,
    "compress_chunk": _chunk_op("compress_chunk"),
    "convert_to_columnstore": _chunk_op("convert_to_columnstore"),
    "decompress_chunk": _chunk_op("decompress_chunk"),
    "convert_to_rowstore": _chunk_op("convert_to_rowstore"),
    "recompress_chunk": _chunk_op("recompress_chunk"),
    "compact_chunk": _chunk_op("compact_chunk"),
    "rebuild_columnstore": _chunk_op("rebuild_columnstore"),
    "rebuild_sparse_index": _chunk_op("rebuild_sparse_index"),
    "freeze_chunk": _chunk_op("freeze_chunk"),
    "detach_chunk": _h_detach_chunk,
    "attach_chunk": _h_attach_chunk,
    "unfreeze_chunk": _chunk_op("unfreeze_chunk"),
    "set_chunk_time_interval": _h_set_chunk_time_interval,
    # generic-dimension naming of the same setter (sql/ddl_api.sql:69)
    "set_partitioning_interval": _h_set_chunk_time_interval,
    "set_number_partitions": _h_set_number_partitions,
    "timescaledb_pre_restore": _h_pre_restore,
    "timescaledb_post_restore": _h_post_restore,
    "clear_hypertable_cache": _h_clear_hypertable_cache,
    "get_telemetry_report": _h_get_telemetry_report,
    "hypertable_size": _h_hypertable_size,
    "chunks_detailed_size": _h_chunks_detailed_size,
    "hypertable_detailed_size": _h_hypertable_detailed_size,
    "add_retention_policy": _policy("add_retention_policy"),
    "add_compression_policy": _policy("add_compression_policy"),
    "add_columnstore_policy": _policy("add_columnstore_policy"),
    "add_compaction_policy": _policy("add_compaction_policy"),
    "add_continuous_aggregate_policy": _policy("add_continuous_aggregate_policy"),
    "add_reorder_policy": _h_add_reorder_policy,
    "remove_retention_policy": _h_remove_policy("remove_retention_policy"),
    "remove_compression_policy": _h_remove_policy("remove_compression_policy"),
    # columnstore naming of the same policy (sql/policy_api.sql)
    "remove_columnstore_policy": _h_remove_policy("remove_compression_policy"),
    "remove_compaction_policy": _h_remove_policy("remove_compaction_policy"),
    "remove_continuous_aggregate_policy": _h_remove_policy(
        "remove_continuous_aggregate_policy"
    ),
    "remove_reorder_policy": _h_remove_policy("remove_reorder_policy"),
    "run_job": _h_run_job,
    "delete_job": _h_delete_job,
    "enable_chunk_skipping": _h_enable_chunk_skipping,
    "disable_chunk_skipping": _h_disable_chunk_skipping,
    "chunk_compression_stats": _h_chunk_compression_stats,
    "chunk_columnstore_stats": _h_chunk_compression_stats,
    "hypertable_compression_stats": _h_hypertable_compression_stats,
    "hypertable_columnstore_stats": _h_hypertable_compression_stats,
    "hypertable_approximate_size": _h_hypertable_size,
    "hypertable_approximate_detailed_size": _h_hypertable_detailed_size,
    "hypertable_index_size": _h_hypertable_index_size,
    "show_policies": _h_show_policies,
    "remove_all_policies": _h_remove_all_policies,
}


def _rh_add_dimension(ts, argstr: str) -> DataFrame:
    """``add_dimension(rel, col, number_partitions)`` and the dimension-
    builder forms ``by_hash('col', n)`` / ``by_range('col', width)``
    (sql/ddl_api.sql:64,116). A second *range* dimension is rejected:
    the engine partitions on one open (time) dimension + one hash space
    dimension (SURVEY §1.1) — the reference itself warns multiple range
    dims rarely help."""
    args = _split_args(argstr)
    rel = _literal_of(args[0])[1]
    ht = ts.get_hypertable(rel)
    bh = re.match(r"^\s*by_hash\s*\((.*)\)\s*$", args[1], re.I | re.S)
    br = re.match(r"^\s*by_range\s*\(", args[1], re.I)
    if br:
        raise ValueError(
            "add_dimension(by_range(..)): second range dimensions are not "
            "supported — the open time dimension + by_hash space "
            "partitioning cover the chunk grid"
        )
    if bh:
        inner = _split_args(bh.group(1))
        col = _literal_of(inner[0])[1]
        nparts = int(_literal_of(inner[1])[1])
    else:
        col = _literal_of(args[1])[1]
        named = dict(
            (m.group(1).lower(), m.group(2))
            for a in args[2:]
            if (m := _NAMED.match(a))
        )
        raw_n = named.get("number_partitions") or (args[2] if len(args) > 2 else None)
        if raw_n is None:
            raise ValueError("add_dimension: number_partitions required")
        nparts = int(_literal_of(raw_n)[1])
    ht.add_dimension(col, nparts)
    return _df(
        ts, [(rel, col, nparts, True)],
        "hypertable string, column_name string, num_partitions int, created boolean",
    )


def _rh_merge_chunks(ts, argstr: str, concurrently: bool = False) -> DataFrame:
    """``merge_chunks(c1, c2)`` / ``merge_chunks(ARRAY[...])``
    (tsl/src/chunk.c merge API); ``merge_chunks_concurrently``
    (sql/maintenance_utils.sql:76) routes to the online variant that
    freezes only the source chunks so DML on other chunks proceeds."""
    from . import chunkops

    raw = argstr.strip()
    am = re.match(r"^\s*array\s*\[(.*)\]\s*$", raw, re.I | re.S)
    names = _split_args(am.group(1)) if am else _split_args(raw)
    pairs = [_resolve_chunk(ts, _literal_of(n)[1]) for n in names]
    ht = pairs[0][0]
    if any(p[0].name != ht.name for p in pairs):
        raise ValueError("merge_chunks: chunks belong to different hypertables")
    fn = (
        chunkops.merge_chunks_concurrently
        if concurrently
        else chunkops.merge_chunks
    )
    merged = fn(ht, [p[1] for p in pairs])
    return _df(
        ts,
        [(_chunk_sql_name(ht, merged), merged["range_start"], merged["range_end"])],
        "chunk_name string, range_start bigint, range_end bigint",
    )


def _rh_split_chunk(ts, argstr: str) -> DataFrame:
    """``split_chunk(chunk, split_at => ts)`` (tsl/src/chunk.c)."""
    from . import chunkops

    args = _split_args(argstr)
    ht, chunk = _resolve_chunk(ts, _literal_of(args[0])[1])
    split_at = None
    for a in args[1:]:
        m = _NAMED.match(a)
        split_at = _literal_of(m.group(2))[1] if m else _literal_of(a)[1]
    if split_at is None:
        raise ValueError("split_chunk: split_at required")
    parts = chunkops.split_chunk(ht, chunk, split_at)
    return _df(
        ts,
        [(_chunk_sql_name(ht, p), p["range_start"], p["range_end"]) for p in parts],
        "chunk_name string, range_start bigint, range_end bigint",
    )


def _rh_reorder_chunk(ts, argstr: str) -> DataFrame:
    """``reorder_chunk(chunk, index)`` (sql/maintenance_utils.sql:8) —
    the index argument maps to the comma-separated sort column list the
    rewrite clusters by."""
    from . import compression

    args = _split_args(argstr)
    ht, chunk = _resolve_chunk(ts, _literal_of(args[0])[1])
    cols_raw = None
    for a in args[1:]:
        m = _NAMED.match(a)
        cols_raw = _literal_of(m.group(2))[1] if m else _literal_of(a)[1]
    if not cols_raw:
        raise ValueError("reorder_chunk: sort columns required")
    cols = [c.strip() for c in str(cols_raw).split(",") if c.strip()]
    compression.reorder_chunk(ht, chunk, cols)
    return _df(ts, [(True,)], "reordered boolean")


def _rh_add_job(ts, argstr: str) -> DataFrame:
    """``add_job(proc, schedule_interval, config => jsonb)``
    (sql/job_api.sql:5): proc is a builtin payload or a name registered
    via ``ts.jobs.register_proc``; config is a JSON object literal."""
    import json as _json

    args = _split_args(argstr)
    proc = _literal_of(args[0])[1]
    interval = _literal_of(args[1])[1]
    kw = {}
    for a in args[2:]:
        m = _NAMED.match(a)
        if not m:
            # reference parity: reject positional/unparseable extras
            # instead of silently dropping them
            raise ValueError(f"add_job: cannot parse argument {a!r}")
        key, rawv = m.group(1).lower(), m.group(2).strip()
        if key == "config":
            kw["config"] = _json.loads(_literal_of(rawv)[1])
        elif key in ("fixed_schedule", "scheduled"):
            kw[key] = rawv.lower() == "true"
        elif key == "job_name":
            kw["job_name"] = _literal_of(rawv)[1]
        elif key == "retry_period":
            kw["retry_period"] = _literal_of(rawv)[1]
        elif key == "initial_start":
            # anchor of the fixed-schedule grid — dropping it would run
            # the job immediately on the wrong grid
            from .jobs import _epoch_seconds

            kw["initial_start"] = _epoch_seconds(_literal_of(rawv)[1])
        else:
            raise ValueError(f"add_job: unknown named argument {key!r}")
    job_id = ts.jobs.add_job(proc, interval, **kw)
    return _df(ts, [(job_id,)], "job_id int")


def _rh_alter_job(ts, argstr: str) -> DataFrame:
    """``alter_job(job_id, ...)`` (sql/job_api.sql:30)."""
    import json as _json

    args = _split_args(argstr)
    job_id = int(_literal_of(args[0])[1])
    changes = {}
    for i, a in enumerate(args[1:]):
        m = _NAMED.match(a)
        if not m:
            # PG's positional second argument is schedule_interval;
            # anything else unparseable must RAISE — silently dropping
            # it reported success without applying the change
            if i == 0:
                k, v = _literal_of(a)
                if k is not None:
                    changes["schedule_interval"] = v
                    continue
            raise ValueError(
                f"alter_job: cannot parse argument {a!r} (use named "
                f"arguments, e.g. schedule_interval => INTERVAL '1 hour')"
            )
        key, rawv = m.group(1).lower(), m.group(2).strip()
        if key in ("config", "config_merge"):
            changes[key] = _json.loads(_literal_of(rawv)[1])
        elif key in ("scheduled", "fixed_schedule"):
            changes[key] = rawv.lower() == "true"
        else:
            changes[key] = _literal_of(rawv)[1]
    row = ts.jobs.alter_job(job_id, **changes)
    return _df(
        ts, [(job_id, bool(row.get("scheduled", True)))],
        "job_id int, scheduled boolean",
    )


def _rh_set_integer_now_func(ts, argstr: str) -> DataFrame:
    """``set_integer_now_func(rel, fn)`` (sql/ddl_api.sql:137): the
    second argument is a SQL expression evaluated per policy run to get
    'now' in the integer time dimension's units."""
    args = _split_args(argstr)
    rel = _literal_of(args[0])[1]
    expr = _literal_of(args[1])[1]
    ts.get_hypertable(rel)  # raise on unknown table
    spark = ts.spark
    ts.jobs.set_integer_now(
        rel, lambda: int(spark.sql(f"SELECT ({expr}) AS v").collect()[0][0])
    )
    return _df(ts, [(rel, str(expr))], "hypertable string, now_expr string")


def _rh_add_policies(ts, argstr: str) -> DataFrame:
    args = _split_args(argstr)
    rel = _literal_of(args[0])[1]
    kw = {}
    for a in args[1:]:
        m = _NAMED.match(a)
        if not m:
            raise ValueError(
                f"add_policies: cannot parse argument {a!r} (named "
                f"arguments only)"
            )
        key, rawv = m.group(1).lower(), m.group(2).strip()
        if key == "if_not_exists":
            kw[key] = rawv.lower() == "true"
        else:
            kw[key] = _literal_of(rawv)[1]
    ok = ts.jobs.add_policies(rel, **kw)
    return _df(ts, [(ok,)], "added boolean")


def _rh_alter_policies(ts, argstr: str) -> DataFrame:
    args = _split_args(argstr)
    rel = _literal_of(args[0])[1]
    kw = {}
    for a in args[1:]:
        m = _NAMED.match(a)
        if not m:
            raise ValueError(
                f"alter_policies: cannot parse argument {a!r} (named "
                f"arguments only)"
            )
        key, rawv = m.group(1).lower(), m.group(2).strip()
        if key == "if_exists":
            kw[key] = rawv.lower() == "true"
        else:
            kw[key] = _literal_of(rawv)[1]
    ok = ts.jobs.alter_policies(rel, **kw)
    return _df(ts, [(ok,)], "altered boolean")


def _rh_remove_policies(ts, argstr: str) -> DataFrame:
    args = _split_args(argstr)
    rel = _literal_of(args[0])[1]
    if_exists = False
    names = []
    for a in args[1:]:
        m = _NAMED.match(a)
        if m and m.group(1).lower() == "if_exists":
            if_exists = m.group(2).strip().lower() == "true"
        else:
            names.append(_literal_of(a)[1])
    ok = ts.jobs.remove_policies(rel, if_exists, *names)
    return _df(ts, [(ok,)], "removed boolean")


RAW_ADMIN_FNS = {
    "add_dimension": _rh_add_dimension,
    "merge_chunks": _rh_merge_chunks,
    "merge_chunks_concurrently": lambda ts, a: _rh_merge_chunks(
        ts, a, concurrently=True
    ),
    "split_chunk": _rh_split_chunk,
    "reorder_chunk": _rh_reorder_chunk,
    "add_job": _rh_add_job,
    "alter_job": _rh_alter_job,
    "set_integer_now_func": _rh_set_integer_now_func,
    "add_policies": _rh_add_policies,
    "alter_policies": _rh_alter_policies,
    "remove_policies": _rh_remove_policies,
}

_ADMIN_SELECT = re.compile(
    r"^\s*select\s+([a-z_]+)\s*\(", re.I
)
_CALL = re.compile(r"^\s*call\s+([a-z_]+)\s*\(", re.I)


def match_admin(q: str):
    """If ``q`` is a single admin call, return (fn_name, argstr); else None."""
    for rx in (_ADMIN_SELECT, _CALL):
        m = rx.match(q)
        if not m:
            continue
        fn = m.group(1).lower()
        if (
            fn not in ADMIN_FNS
            and fn not in RAW_ADMIN_FNS
            and fn != "refresh_continuous_aggregate"
        ):
            return None
        from .sqlapi import _matching_paren

        open_idx = q.index("(", m.end() - 1)
        close = _matching_paren(q, open_idx)
        tail = q[close + 1:].strip().rstrip(";").strip()
        if tail and not re.match(r"^as\s+\w+$", tail, re.I):
            return None
        return fn, q[open_idx + 1: close]
    return None


def run_admin(ts, fn: str, argstr: str) -> DataFrame:
    if fn in RAW_ADMIN_FNS:
        return RAW_ADMIN_FNS[fn](ts, argstr)
    pos, named = _args_of(ts, _split_args(argstr))
    if fn == "refresh_continuous_aggregate":
        cagg = ts.get_cagg(pos[0].value)
        start = pos[1].value if len(pos) > 1 and pos[1].kind != "null" else None
        end = pos[2].value if len(pos) > 2 and pos[2].kind != "null" else None
        # 4th positional / named: force; 5th: options JSONB
        # (sql/ddl_api.sql:199-205 — buckets_per_batch,
        # max_batches_per_execution, refresh_newest_first)
        force = False
        fv = named.get("force") or (pos[3] if len(pos) > 3 else None)
        if fv is not None and fv.kind != "null":
            force = str(fv.value).lower() in ("true", "t", "on", "1")
        opts = {}
        ov = named.get("options") or (pos[4] if len(pos) > 4 else None)
        if ov is not None and ov.kind != "null":
            import json as _json

            opts = _json.loads(str(ov.value))
        ranges = cagg.refresh(
            start=start,
            end=end,
            force=force,
            buckets_per_batch=int(opts.get("buckets_per_batch") or 0),
            max_batches=int(
                opts.get("max_batches_per_execution")
                or opts.get("max_batches")
                or 0
            ),
            refresh_newest_first=bool(
                opts.get("refresh_newest_first") or False
            ),
        )
        return _df(ts, [(len(ranges),)], "ranges_materialized int")
    return ADMIN_FNS[fn](ts, pos, named)


# ---------------------------------------------------------------------------
# ALTER TABLE ... SET (timescaledb.compress ...)
# ---------------------------------------------------------------------------

_ALTER = re.compile(
    r"^\s*alter\s+table\s+([A-Za-z_]\w*)\s+set\s*\((.*)\)\s*$", re.I | re.S
)
_ALTER_ADD = re.compile(
    r"^\s*alter\s+table\s+([A-Za-z_]\w*)\s+add\s+(?:column\s+)?"
    r"([A-Za-z_]\w*)\s+([A-Za-z_][\w()<>, ]*?)"
    r"(?:\s+default\s+(.+?))?\s*$",
    re.I | re.S,
)
_ALTER_DROP = re.compile(
    r"^\s*alter\s+table\s+([A-Za-z_]\w*)\s+drop\s+(?:column\s+)?"
    r"([A-Za-z_]\w*)\s*$",
    re.I,
)
_ALTER_RENAME = re.compile(
    r"^\s*alter\s+table\s+([A-Za-z_]\w*)\s+rename\s+(?:column\s+)?"
    r"([A-Za-z_]\w*)\s+to\s+([A-Za-z_]\w*)\s*$",
    re.I,
)
_ALTER_RENAME_TABLE = re.compile(
    r"^\s*alter\s+table\s+([A-Za-z_]\w*)\s+rename\s+to\s+([A-Za-z_]\w*)\s*$",
    re.I,
)

# PostgreSQL → Spark type spellings (the reference's schemas are plain
# PG DDL; anything already a valid Spark type passes through)
_PG_TYPE_MAP = {
    "timestamptz": "timestamp",
    "timestamp with time zone": "timestamp",
    "timestamp without time zone": "timestamp",
    "int2": "short",
    "smallint": "short",
    "int4": "int",
    "integer": "int",
    "serial": "int",
    "int8": "bigint",
    "bigserial": "bigint",
    "real": "float",
    "float4": "float",
    "float8": "double",
    "double precision": "double",
    "text": "string",
    "character varying": "string",
    "varchar": "string",
    "char": "string",
    "character": "string",
    "bool": "boolean",
    "bytea": "binary",
    "uuid": "string",
    "json": "string",
    "jsonb": "string",
    "numeric": "decimal(38,18)",
}

_CONSTRAINT_HEADS = {
    "primary", "unique", "check", "constraint", "foreign", "exclude",
}
_COL_TAIL_KEYWORDS = {
    "not", "null", "default", "primary", "unique", "references", "check",
    "collate", "generated", "constraint",
}


def _pg_to_spark_type(pg: str) -> str:
    s = pg.strip().lower()
    s = re.sub(r"\s+", " ", s)
    if s.endswith("[]"):  # PG array spelling
        return f"array<{_pg_to_spark_type(s[:-2])}>"
    base = re.sub(r"\s*\(.*\)$", "", s)
    if base in ("numeric", "decimal") and "(" in s:
        return s.replace("numeric", "decimal")
    if base in ("varchar", "char", "character varying", "character", "timestamp", "timestamptz"):
        # drop length/precision qualifiers PG allows
        s = base
    return _PG_TYPE_MAP.get(s, _PG_TYPE_MAP.get(base, s))


_DROP_TABLE = re.compile(
    r"^\s*drop\s+table\s+(if\s+exists\s+)?([A-Za-z_]\w*)\s*"
    r"(cascade|restrict)?\s*$",
    re.I,
)
_DROP_MV = re.compile(
    r"^\s*drop\s+materialized\s+view\s+(if\s+exists\s+)?([A-Za-z_]\w*)\s*$",
    re.I,
)


def match_drop_table(q: str):
    s = q.strip().rstrip(";")
    m = _DROP_TABLE.match(s)
    if m:
        return ("table", m)
    m = _DROP_MV.match(s)
    if m:
        return ("mv", m)
    return None


def run_drop_table(ts, kind: str, m) -> DataFrame:
    """``DROP TABLE [IF EXISTS] t [CASCADE]`` /
    ``DROP MATERIALIZED VIEW [IF EXISTS] v`` — hypertable, plain-table,
    and continuous-aggregate teardown."""
    import shutil as _sh

    if_exists, name = bool(m.group(1)), m.group(2)
    if kind == "mv":
        from .caggs import ContinuousAggregate

        if not ts.catalog.continuous_agg.find_one(name=name):
            if if_exists:
                return _df(ts, [(name, "skipped")], "name string, action string")
            raise ValueError(f"no continuous aggregate {name!r}")
        ContinuousAggregate.get(ts, name).drop()
        return _df(ts, [(name, "dropped")], "name string, action string")
    cascade = bool(m.group(3)) and m.group(3).lower() == "cascade"
    if ts.catalog.hypertable.find_one(name=name):
        ts.get_hypertable(name).drop(cascade=cascade)
        return _df(ts, [(name, "dropped")], "name string, action string")
    row = ts.catalog.plain_table.find_one(name=name)
    if row:
        ts.catalog.plain_table.delete({"name": name})
        if row.get("path"):
            _sh.rmtree(row["path"], ignore_errors=True)
        return _df(ts, [(name, "dropped")], "name string, action string")
    # not an engine table: a Spark-catalog table the caller manages
    # through the same session still drops the Spark way
    try:
        if ts.spark.catalog.tableExists(name):
            ts.spark.sql(f"DROP TABLE {name}")
            return _df(ts, [(name, "dropped")], "name string, action string")
    except Exception:  # noqa: BLE001 — catalog probe only
        pass
    if if_exists:
        return _df(ts, [(name, "skipped")], "name string, action string")
    raise ValueError(f"no table {name!r}")


_CREATE_INDEX = re.compile(
    r"^\s*create\s+(?:unique\s+)?index\s+(?:concurrently\s+)?"
    r"(?:if\s+not\s+exists\s+)?(?:[A-Za-z_]\w*\s+)?on\s+([A-Za-z_]\w*)\s*"
    r"(?:using\s+\w+\s*)?\(([^)]*)\)\s*$",
    re.I,
)


def match_create_index(q: str):
    return _CREATE_INDEX.match(q.strip().rstrip(";"))


def run_create_index(ts, m) -> DataFrame:
    """``CREATE INDEX .. ON t (cols)``: parquet has no btrees; the
    engine's index analog is the per-chunk min/max skip index
    (``enable_chunk_skipping`` — the reference's chunk_column_stats /
    sparse indexes, ``sql/sparse_index.sql``), so an index declaration
    maps to exactly that. The time dimension is always range-pruned, so
    indexing it is a no-op; DESC/ASC and expression qualifiers are
    ignored (row-group ordering comes from compression orderby). On a
    plain (non-hypertable) table the statement is accepted and ignored —
    parquet scans carry row-group stats regardless."""
    name = m.group(1)
    if not ts.catalog.hypertable.find_one(name=name):
        known = ts.catalog.plain_table.find_one(name=name) is not None
        if not known:
            try:
                known = ts.spark.catalog.tableExists(name)
            except Exception:  # noqa: BLE001 — catalog probe only
                known = False
        if not known:
            raise ValueError(f"no table {name!r}")
        return _df(
            ts,
            [(name, "(plain table: parquet row-group stats)")],
            "hypertable string, skip_columns string",
        )
    ht = ts.get_hypertable(name)
    cols = []
    for piece in _split_args(m.group(2)):
        col = piece.strip().split()[0].strip('"')
        if col.lower() in ("asc", "desc"):
            continue
        cols.append(col)
    made = []
    for col in cols:
        if col == ht.time_column:
            continue  # chunk range pruning already covers the time dim
        ht.enable_chunk_skipping(col)
        made.append(col)
    return _df(
        ts,
        [(ht.name, ",".join(made) or "(time index: chunk pruning)")],
        "hypertable string, skip_columns string",
    )


# WITH (tsdb.*) option synonym sets — arg_names from the reference's
# create-table with-clause table (src/with_clause/
# create_table_with_clause.c:16)
_CT_WITH_SYNONYMS = {
    "hypertable": "hypertable",
    "columnstore": "columnstore",
    "enable_columnstore": "columnstore",
    "compress": "columnstore",
    "partition_column": "partition_column",
    "partitioning_column": "partition_column",
    "chunk_interval": "chunk_interval",
    "create_default_indexes": "create_default_indexes",
    "associated_schema": "associated_schema",
    "associated_table_prefix": "associated_table_prefix",
    "segmentby": "segmentby",
    "segment_by": "segmentby",
    "compress_segmentby": "segmentby",
    "orderby": "orderby",
    "order_by": "orderby",
    "compress_orderby": "orderby",
    "compress_index": "sparse_index",
    "compress_sparse_index": "sparse_index",
    "index": "sparse_index",
    "sparse_index": "sparse_index",
    "direct_compress": "direct_compress",
    "direct_compress_schedule_interval": "direct_compress_schedule_interval",
}


def match_create_table(q: str):
    """Parses ``CREATE TABLE [IF NOT EXISTS] name (cols...) [WITH
    (tsdb.opt [= val], ...)]``. Returns ``(if_not_exists, name,
    column_body, with_opts)`` or None; ``with_opts`` maps canonical
    option names (synonyms folded, ``tsdb.``/``timescaledb.`` prefix
    stripped) to string values — a bare flag parses as ``'true'``, PG
    boolean-option semantics."""
    s = q.strip().rstrip(";")
    m = re.match(
        r"^\s*create\s+table\s+(if\s+not\s+exists\s+)?([A-Za-z_]\w*)\s*\(",
        s,
        re.I,
    )
    if m is None:
        return None
    # paren-depth scan to the close of the column list: column types nest
    # parens (decimal(38,18)) and a WITH (...) clause may follow it, so a
    # single greedy/lazy regex group cannot split the two reliably
    depth, i = 1, m.end()
    while i < len(s) and depth:
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
        i += 1
    if depth:
        return None
    body, rest = s[m.end() : i - 1], s[i:].strip()
    with_opts: dict[str, str] = {}
    if rest:
        wm = re.match(r"^with\s*\((.*)\)\s*$", rest, re.I | re.S)
        if wm is None:
            return None
        for item in _split_args(wm.group(1)):
            item = item.strip()
            if not item:
                continue
            # PG storage options use '='; accept the '=>' named-arg
            # spelling too. Only the SEPARATOR is normalized — a '=>'
            # inside a quoted value must survive verbatim.
            sm = re.match(r"^([A-Za-z_][\w.]*)\s*(?:=>|=)\s*(.*)$", item, re.S)
            if sm:
                k, v = sm.group(1), sm.group(2)
            else:
                k, v = item, "true"
            k = k.strip().lower()
            for pfx in ("tsdb.", "timescaledb."):
                if k.startswith(pfx):
                    k = k[len(pfx) :]
                    break
            else:
                raise ValueError(
                    f"CREATE TABLE WITH option {k!r} must use the tsdb. "
                    f"(or timescaledb.) prefix"
                )
            canon = _CT_WITH_SYNONYMS.get(k)
            if canon is None:
                # reference parity: unrecognized with-clause options error
                # (with_clause_parser.c), they are never silently ignored
                raise ValueError(
                    f"unrecognized CREATE TABLE option tsdb.{k}"
                )
            with_opts[canon] = v.strip().strip("'\"")
    return (bool(m.group(1)), m.group(2), body, with_opts)


_TRUE = {"true", "on", "1", "yes", "t"}


def run_create_table(ts, parsed) -> DataFrame:
    """``CREATE TABLE name (col type, ...) [WITH (tsdb.hypertable,
    tsdb.partition_column => ..., ...)]``.

    The plain form is the reference workflow's first statement
    (``create_hypertable`` then converts it); the WITH form is the
    modern one-statement creation (src/with_clause/
    create_table_with_clause.c:16, src/process_utility.c:5956):
    registering the declared schema, creating the hypertable on
    ``partition_column``, and enabling columnstore (on by default, like
    the reference's ``default_val = true``) with any ``segmentby`` /
    ``orderby`` settings. PRIMARY KEY / UNIQUE constraints are recorded
    (insert warns / strict-validates, upsert uses them as the arbiter);
    FOREIGN KEY / REFERENCES constraints are recorded AND enforced on
    insert by default (``src/foreign_key.c`` — the reference propagates
    hypertable FKs to every chunk so plain PG enforcement applies; see
    ``Hypertable._check_foreign_keys``). CHECK constraints are accepted
    and ignored; the engine's NOT NULL on the time dimension is
    enforced by create_hypertable itself."""
    if_not_exists, name, body, with_opts = parsed
    is_ht = with_opts.get("hypertable", "false").lower() in _TRUE
    if with_opts and not is_ht:
        raise ValueError(
            "CREATE TABLE ... WITH (tsdb.*) requires tsdb.hypertable "
            "(src/process_utility.c hypertable option check)"
        )
    if is_ht and not with_opts.get("partition_column"):
        raise ValueError(
            "tsdb.hypertable requires tsdb.partition_column "
            "(src/process_utility.c: partition column must be specified)"
        )
    fields = []
    pg_types: dict[str, str] = {}
    unique_keys: list[list[str]] = []
    pk_columns: list[str] = []
    foreign_keys: list[dict] = []
    for item in _split_args(body):
        toks = item.strip().split()
        if not toks:
            continue
        if toks[0].lower() in _CONSTRAINT_HEADS:
            # table-level PRIMARY KEY (a, b) / UNIQUE (a) / CONSTRAINT
            # name PRIMARY KEY|UNIQUE (...) — recorded (not enforced by
            # parquet; insert warns / strict-validates, upsert uses
            # them). Match on the ORIGINAL text: lowercasing here would
            # break the case-sensitive column comparisons downstream.
            km = re.match(
                r"(?:constraint\s+\w+\s+)?(primary\s+key|unique)\s*"
                r"\(([^)]*)\)",
                " ".join(toks),
                re.I,
            )
            if km:
                cols = [c.strip().strip('"') for c in km.group(2).split(",")]
                unique_keys.append(cols)
                if km.group(1).lower().startswith("primary"):
                    # PK implies NOT NULL on every key column
                    pk_columns.extend(cols)
                continue
            # FOREIGN KEY (a, b) REFERENCES t [(c, d)] — recorded and
            # ENFORCED on insert by default (src/foreign_key.c
            # propagates hypertable FKs to every chunk so plain PG
            # enforcement applies; here the insert path validates each
            # batch instead — see Hypertable._check_foreign_keys)
            fkm = re.match(
                r"(?:constraint\s+\w+\s+)?foreign\s+key\s*\(([^)]*)\)\s*"
                r"references\s+\"?(\w+)\"?\s*(?:\(([^)]*)\))?",
                " ".join(toks),
                re.I,
            )
            if fkm:
                foreign_keys.append(
                    {
                        "columns": [
                            c.strip().strip('"')
                            for c in fkm.group(1).split(",")
                        ],
                        "ref_table": fkm.group(2),
                        "ref_columns": (
                            [
                                c.strip().strip('"')
                                for c in fkm.group(3).split(",")
                            ]
                            if fkm.group(3)
                            else None
                        ),
                    }
                )
            continue
        col = toks[0].strip('"')
        tt = []
        for t in toks[1:]:
            if t.lower() in _COL_TAIL_KEYWORDS:
                break
            tt.append(t)
        if not tt:
            raise ValueError(f"column {col!r} has no type")
        tail_orig = " ".join(toks[1 + len(tt):])
        tail = tail_orig.lower()
        if re.search(r"\bprimary\s+key\b", tail):
            unique_keys.append([col])
            pk_columns.append(col)
        elif re.search(r"\bunique\b", tail):
            unique_keys.append([col])
        # column-level: col type REFERENCES t [(c)] — match on the
        # ORIGINAL text (table/column identifiers are case-sensitive)
        rm = re.search(
            r"\breferences\s+\"?(\w+)\"?\s*(?:\(([^)]*)\))?",
            tail_orig,
            re.I,
        )
        if rm:
            foreign_keys.append(
                {
                    "columns": [col],
                    "ref_table": rm.group(1),
                    "ref_columns": (
                        [
                            c.strip().strip('"')
                            for c in rm.group(2).split(",")
                        ]
                        if rm.group(2)
                        else None
                    ),
                }
            )
        pg_types[col] = " ".join(tt).strip().lower()
        fields.append((col, _pg_to_spark_type(" ".join(tt))))
    if not fields:
        raise ValueError("CREATE TABLE with no columns")
    # FK validation at declaration, like PG: the referenced table must
    # already exist (plain or hypertable) and the declaring columns must
    # be columns of this table
    colset = {c for c, _t in fields}
    for fk in foreign_keys:
        bad = set(fk["columns"]) - colset
        if bad:
            raise ValueError(
                f"foreign key names unknown column(s) {sorted(bad)}"
            )
        rt = fk["ref_table"]
        if not (
            ts.catalog.plain_table.find_one(name=rt)
            or ts.catalog.hypertable.find_one(name=rt)
        ):
            raise ValueError(
                f'relation "{rt}" referenced by foreign key does not exist'
            )
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        ", ".join(f"{c} {t}" for c, t in fields)
    )
    # WITH-form validation BEFORE any catalog mutation (the same rule
    # create_hypertable follows): a failed one-statement DDL must not
    # leave an orphaned declared table that blocks the corrected retry
    if is_ht:
        part_col = with_opts["partition_column"]
        if part_col not in {c for c, _t in fields}:
            raise ValueError(
                f"partition column {part_col!r} is not a column of "
                f"{name!r}"
            )
    cat = ts.catalog
    with cat.write_lock:
        if cat.hypertable.find_one(name=name) or cat.plain_table.find_one(
            name=name
        ):
            if if_not_exists:
                return _df(
                    ts, [(name, 0)], "table string, n_columns int"
                )
            raise ValueError(f"table {name!r} already exists")
        cat.plain_table.append(
            [
                {
                    "name": name,
                    "path": None,
                    "schema_ddl": schema.json(),
                    "unique_keys": unique_keys or None,
                    "pk_columns": pk_columns or None,
                    "foreign_keys": foreign_keys or None,
                }
            ]
        )
    if is_ht:
        kw = {}
        if with_opts.get("chunk_interval"):
            kw["chunk_interval"] = with_opts["chunk_interval"]
        if pg_types.get(part_col) == "uuid":
            # UUIDv7 "time" partitioning (test/sql/uuid.sql): the PG
            # column type carries the hint our string-typed schema loses
            kw["time_type"] = "uuid"
        try:
            ht = ts.create_hypertable(name, part_col, **kw)
        except Exception:
            # e.g. a declared unique key missing the partition column —
            # roll the declared table back so the statement is atomic
            cat.plain_table.delete({"name": name})
            raise
        # columnstore defaults ON in the WITH form (default_val = true,
        # create_table_with_clause.c:17) — segmentby/orderby flow into
        # the compression settings like ALTER TABLE .. SET would
        if with_opts.get("columnstore", "true").lower() in _TRUE:
            from .compression import enable_columnstore

            seg = [
                s.strip()
                for s in with_opts.get("segmentby", "").split(",")
                if s.strip()
            ]
            orderby = with_opts.get("orderby") or None
            if orderby is not None:
                orderby = [o.strip() for o in orderby.split(",") if o.strip()]
            try:
                enable_columnstore(ht, segmentby=seg, orderby=orderby)
            except Exception:
                # statement atomicity: a typo'd segmentby/orderby must
                # not leave the half-configured hypertable behind
                ht.drop()
                raise
    return _df(
        ts, [(name, len(fields))], "table string, n_columns int"
    )


def match_alter_column(q: str):
    q = q.strip().rstrip(";")
    m = _ALTER_ADD.match(q)
    if m:
        return ("add", m)
    m = _ALTER_DROP.match(q)
    if m:
        return ("drop", m)
    m = _ALTER_RENAME_TABLE.match(q)
    if m:
        return ("rename_table", m)
    m = _ALTER_RENAME.match(q)
    if m:
        return ("rename", m)
    return None


def run_alter_column(ts, kind: str, m) -> DataFrame:
    """``ALTER TABLE .. ADD/DROP/RENAME COLUMN`` on a hypertable —
    add/drop are lazy schema evolution, rename rewrites chunks once
    (hypertable.py add_column/drop_column/rename_column; reference
    propagates the DDL to chunks, src/process_utility.c)."""
    ht = ts.get_hypertable(m.group(1))
    if kind == "drop":
        ht.drop_column(m.group(2))
        return _df(ts, [(m.group(2), "dropped")], "column string, action string")
    if kind == "rename_table":
        ht.rename_to(m.group(2))
        return _df(
            ts, [(m.group(2), "renamed")], "table string, action string"
        )
    if kind == "rename":
        ht.rename_column(m.group(2), m.group(3))
        return _df(
            ts,
            [(m.group(3), "renamed")],
            "column string, action string",
        )
    name, dtype, default_sql = m.group(2), m.group(3).strip(), m.group(4)
    # accept PG type spellings + trailing column constraints, like
    # CREATE TABLE does (ALTER TABLE t ADD COLUMN note TEXT NOT NULL)
    toks = dtype.split()
    tt = []
    for t in toks:
        if t.lower() in _COL_TAIL_KEYWORDS:
            break
        tt.append(t)
    if tt:
        dtype = _pg_to_spark_type(" ".join(tt))
    default = None
    if default_sql is not None:
        k, v = _literal_of(default_sql)
        if k is None:
            s = default_sql.strip().lower()
            if s == "null":
                v = None
            elif s in ("true", "false"):
                v = s == "true"
            else:
                try:
                    v = float(default_sql) if "." in default_sql else int(default_sql)
                except ValueError as e:
                    raise ValueError(
                        f"ADD COLUMN default must be a literal: {default_sql!r}"
                    ) from e
        default = v
    ht.add_column(name, dtype, default=default)
    return _df(ts, [(name, "added")], "column string, action string")


def match_alter_compress(q: str):
    m = _ALTER.match(q.strip().rstrip(";"))
    if not m:
        return None
    if "timescaledb.compress" not in m.group(2).lower().replace(" ", ""):
        return None
    return m.group(1), m.group(2)


def run_alter_compress(ts, table: str, optstr: str) -> DataFrame:
    """``ALTER TABLE t SET (timescaledb.compress, ...)``
    (tsl/src/compression/create.c): enables columnstore settings."""
    from .compression import enable_columnstore

    ht = ts.get_hypertable(table)
    segmentby: list[str] = []
    orderby: list[tuple] = []
    enabled = True
    for opt in _split_args(optstr):
        if "=" in opt:
            key, _, val = opt.partition("=")
        else:
            key, val = opt, "true"
        key = key.strip().lower()
        val = val.strip().strip("'")
        if key == "timescaledb.compress":
            enabled = val.lower() != "false"
        elif key in ("timescaledb.compress_segmentby", "timescaledb.segmentby"):
            segmentby = [c.strip() for c in val.split(",") if c.strip()]
        elif key in ("timescaledb.compress_orderby", "timescaledb.orderby"):
            for piece in val.split(","):
                toks = piece.split()
                if not toks:
                    continue
                direction = "desc" if len(toks) > 1 and toks[1].lower() == "desc" else "asc"
                orderby.append((toks[0], direction))
        else:
            raise ValueError(f"unsupported ALTER TABLE option {key!r}")
    if not enabled:
        raise ValueError("disabling compression via ALTER is not supported")
    enable_columnstore(ht, segmentby=segmentby, orderby=orderby or None)
    return _df(ts, [(table, True)], "hypertable string, compress boolean")


# ---------------------------------------------------------------------------
# CREATE MATERIALIZED VIEW ... WITH (timescaledb.continuous) AS SELECT ...
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# UPDATE / DELETE DML statements (test/sql/update.sql, delete.sql)
# ---------------------------------------------------------------------------

_UPDATE_HEAD = re.compile(r"^\s*update\s+([A-Za-z_]\w*)\s+set\s+", re.I)
_DELETE_HEAD = re.compile(r"^\s*delete\s+from\s+([A-Za-z_]\w*)\s*", re.I)


def _split_where(tail: str):
    """(body, where) at the first top-level WHERE (quote-aware)."""
    stripped = _strip_strings(tail)
    depth = 0
    low = stripped.lower()
    for m in re.finditer(r"\bwhere\b", low):
        depth = stripped[: m.start()].count("(") - stripped[: m.start()].count(")")
        if depth == 0:
            return tail[: m.start()].strip(), tail[m.end():].strip()
    return tail.strip(), None


_TRUNCATE_RE = re.compile(
    r"^\s*truncate\s+(?:table\s+)?([A-Za-z_]\w*)\s*$", re.I
)
_ANALYZE_RE = re.compile(
    r"^\s*(?:vacuum\s+(?:full\s+)?)?analyze\s+([A-Za-z_]\w*)\s*$"
    r"|^\s*vacuum\s+(?:full\s+)?([A-Za-z_]\w*)\s*$",
    re.I,
)


def match_dml(q: str):
    q = q.strip().rstrip(";")
    m = _UPDATE_HEAD.match(q)
    if m:
        body, where = _split_where(q[m.end():])
        return ("update", m.group(1), body, where)
    m = _DELETE_HEAD.match(q)
    if m:
        _, where = _split_where(" " + q[m.end():])
        return ("delete", m.group(1), None, where)
    m = _TRUNCATE_RE.match(q)
    if m:
        return ("truncate", m.group(1), None, None)
    m = _ANALYZE_RE.match(q)
    if m:
        return ("analyze", m.group(1) or m.group(2), None, None)
    return None


def run_dml(ts, kind: str, table: str, body, where) -> DataFrame:
    """UPDATE .. SET .. WHERE / DELETE FROM .. WHERE on hypertables —
    routed through the chunk-pruned rewrite DML (hypertable.py
    update_where/delete_where); time predicates in WHERE prune the chunk
    set exactly like reads."""
    from .sqlapi import extract_time_bounds, rewrite_sql

    ht = ts.get_hypertable(table)
    if kind == "truncate":
        # TRUNCATE hypertable (test/sql/truncate.sql): drop all chunks,
        # keep the hypertable; O(chunks), never reads data
        n = ht.truncate()
        return _df(ts, [(n,)], "chunks_dropped bigint")
    if kind == "analyze":
        # ANALYZE / VACUUM [ANALYZE] hypertable: refresh chunk-skipping
        # stats (parquet needs no vacuuming; stats are the part that
        # goes stale, src/ts_catalog/chunk_column_stats.c)
        n = ht.analyze()
        return _df(ts, [(n,)], "stats_rows bigint")
    cond_sql = rewrite_sql(where, ts) if where else "true"
    lo = hi = None
    if where:
        lo, hi = extract_time_bounds(where, table, ht.time_column, set())
    if kind == "delete":
        n = ht.delete_where(cond_sql, start=lo, end=hi)
        return _df(ts, [(n,)], "rows_deleted bigint")
    assignments = {}
    for item in _split_args(body):
        col, eq, expr = item.partition("=")
        if not eq:
            raise ValueError(f"bad SET item {item!r}")
        assignments[col.strip()] = rewrite_sql(expr.strip(), ts)
    n = ht.update_where(assignments, cond_sql, start=lo, end=hi)
    return _df(ts, [(n,)], "rows_updated bigint")


_ALTER_MV = re.compile(
    r"^\s*alter\s+materialized\s+view\s+([A-Za-z_]\w*)\s+set\s*\("
    r"\s*timescaledb\.materialized_only\s*=\s*'?(true|false)'?\s*\)\s*$",
    re.I,
)


def match_alter_mv(q: str):
    return _ALTER_MV.match(q.strip().rstrip(";"))


def run_alter_mv(ts, m) -> DataFrame:
    cagg = ts.get_cagg(m.group(1))
    cagg.set_materialized_only(m.group(2).lower() == "true")
    return _df(ts, [(m.group(1), m.group(2).lower() == "true")],
               "view string, materialized_only boolean")


_CMV = re.compile(
    r"^\s*create\s+materialized\s+view\s+([A-Za-z_]\w*)\s+"
    r"with\s*\((?P<opts>[^)]*)\)\s*as\s+(?P<body>.+?)"
    r"(?:\s+with\s+(?P<data>no\s+)?data)?\s*$",
    re.I | re.S,
)


def match_create_cagg(q: str):
    m = _CMV.match(q.strip().rstrip(";"))
    if not m:
        return None
    if "timescaledb.continuous" not in m.group("opts").lower().replace(" ", ""):
        return None
    return m


def run_create_cagg(ts, m) -> DataFrame:
    """Parse the defining query into ``TSSession.create_cagg`` arguments
    (the same validation path as tsl/src/continuous_aggs/common.c
    ``cagg_validate_query``): one time_bucket in the target list, plain
    group columns, aggregate expressions, optional WHERE and a single
    optional ``JOIN dim ON a = b``."""
    from .sqlapi import rewrite_sql as _rw
    from .sqlgapfill import _alias_of, _clauses_of, _head_call, _split_select_items

    name = m.group(1)
    opts = {
        kv.partition("=")[0].strip().lower(): kv.partition("=")[2].strip().strip("'")
        for kv in _split_args(m.group("opts"))
    }
    mat_only = opts.get("timescaledb.materialized_only", "false").lower() == "true"
    body = m.group("body")
    cl = _clauses_of(body)
    items = _split_select_items(cl["select"])

    bucket = None
    bucket_alias = "bucket"
    group_by: list[str] = []
    aggs: dict[str, str] = {}
    specs: dict[str, dict[str, dict]] = {f.key: {} for f in FAMILIES}
    rollups: dict[str, str] = {}  # alias -> parent partial column
    partial_time_args: list[tuple[str, str, str]] = []
    for item in items:
        expr, alias = _alias_of(item)
        ph = _head_call(expr, set(BY_CTOR) | {"rollup"})
        if ph:
            # a toolkit partial aggregate inside the cagg definition:
            # store the family's mergeable PARTIAL state instead of a
            # finished number (the rollup(<agg>(...)) idiom);
            # rollup(col) defines a hierarchical child over a parent
            # cagg's stored partial column
            if alias is None:
                raise ValueError(f"cagg partial needs AS alias: {item!r}")
            fn, args = ph
            if fn == "rollup":
                if len(args) != 1:
                    raise ValueError("rollup(partial_column)")
                rollups[alias] = args[0].strip().split(".")[-1]
                continue
            fam = BY_CTOR[fn]
            spec, targ = fam.ctors[fn](args, lambda a: _rw(a.strip(), ts))
            specs[fam.key][alias] = spec
            if targ is not None:
                # the ordering argument must be the cagg's time column
                # — validated against the time_bucket call after the
                # SELECT loop (the bucket item may appear later).
                # NOTE: SQL partials order by time only; equal-timestamp
                # rows need the Python API's tiebreak= option.
                partial_time_args.append((fn, alias, targ))
            continue
        head = _head_call(expr, {"time_bucket"})
        if head:
            if bucket is not None:
                raise ValueError("cagg query must have exactly one time_bucket")
            wk, wv = _literal_of(head[1][0])
            if wk == "int":
                width = int(wv)
            elif wk in ("interval", "string"):
                width = str(wv)
            else:
                raise ValueError("cagg time_bucket width must be a literal")
            tcol = head[1][1].strip().split(".")[-1].strip()
            bucket = (width, tcol)
            if alias:
                bucket_alias = alias
            continue
        if re.match(r"^\s*(?:[A-Za-z_]\w*\s*\.\s*)?[A-Za-z_]\w*\s*$", expr):
            group_by.append(expr.strip().split(".")[-1].strip())
            continue
        if alias is None:
            raise ValueError(f"cagg aggregate needs AS alias: {item!r}")
        aggs[alias] = _rw(expr, ts)
    if bucket is None:
        raise ValueError(
            "cagg defining query must bucket by time_bucket "
            "(continuous_aggs/common.c cagg_validate_query)"
        )
    for fn, alias, targ in partial_time_args:
        # counter/gauge partials order samples by their first argument;
        # silently accepting a non-time column would store partials
        # ordered by the wrong dimension
        if targ != bucket[1]:
            raise ValueError(
                f"{fn} for {alias!r} must order by the cagg's time "
                f"column {bucket[1]!r}, got {targ!r}"
            )

    # FROM: hypertable [alias] [JOIN table [alias] ON cond]
    from_clause = cl["from"].strip()
    jm = re.match(
        r"^([A-Za-z_]\w*)(?:\s+(?:as\s+)?(\w+))?"
        r"(?:\s+(?:inner\s+|left\s+(?:outer\s+)?)?join\s+([A-Za-z_]\w*)"
        r"(?:\s+(?:as\s+)?(\w+))?\s+on\s+(.+))?$",
        from_clause,
        re.I | re.S,
    )
    if not jm:
        raise ValueError(f"unsupported cagg FROM clause: {from_clause!r}")
    ht_name, ht_alias, join_tbl, j_alias, join_cond = jm.groups()
    quals = {q for q in (ht_name, ht_alias, join_tbl, j_alias) if q}
    aggs = {k: _strip_quals(v, quals) for k, v in aggs.items()}
    for fam in FAMILIES:
        for spec in specs[fam.key].values():
            for f in fam.expr_fields:
                if f in spec:
                    spec[f] = _strip_quals(spec[f], quals)
    join = None
    if join_tbl:
        how = "left" if re.search(r"\bleft\b", from_clause, re.I) else "inner"
        join = {
            "table": join_tbl,
            "on": _strip_quals(join_cond.strip(), quals),
            "how": how,
        }

    where = _strip_quals(_rw(cl["where"], ts), quals) if cl.get("where") else None
    try:
        ht = ts.get_hypertable(ht_name)
    except KeyError:
        # hierarchical cagg: FROM names another cagg → define over its
        # materialization hypertable (create.c allows cagg-on-cagg)
        crow = ts.catalog.continuous_agg.find_one(name=ht_name)
        if crow is None:
            raise
        ht = ts.get_hypertable(crow["mat_table"])
    if rollups:
        # route each rollup(col) to the family the PARENT cagg stores
        # that column under
        prow = ts.catalog.continuous_agg.find_one(mat_table=ht.name) or {}
        for alias, src_col in rollups.items():
            fam = family_of(prow, src_col)
            if fam is None:
                raise ValueError(
                    f"rollup({src_col}) AS {alias}: {src_col!r} is not a "
                    f"stored partial state of parent cagg "
                    f"{prow.get('name', ht_name)!r}"
                )
            specs[fam.key][alias] = {"rollup_of": src_col}
    cagg = ts.create_cagg(
        name,
        ht,
        bucket_width=bucket[0],
        time_column=bucket[1],
        bucket_alias=bucket_alias,
        aggs=aggs,
        group_by=group_by,
        where=where,
        join=join,
        materialized_only=mat_only,
        **{k: v or None for k, v in specs.items()},
    )
    if not (m.group("data") or "").strip():  # WITH DATA is the PG default
        try:
            cagg.refresh()
        except BaseException:
            # CREATE .. WITH DATA is one statement: a failed initial
            # refresh leaves no half-created cagg behind (PostgreSQL
            # rolls the whole CREATE back)
            cagg.drop()
            raise
    return _df(ts, [(name, True)], "view string, created boolean")


def _strip_quals(sql: str, quals: set[str]) -> str:
    """Drop the FROM clause's table/alias qualifiers (``e.value`` →
    ``value``) — the cagg machinery evaluates expressions on the (joined)
    frame where columns are unqualified. Only known qualifiers are
    stripped so struct-field access (``props.key``) survives."""
    if not quals:
        return sql
    pat = "|".join(re.escape(q) for q in quals)
    return re.sub(rf"\b(?:{pat})\s*\.\s*(?=[A-Za-z_])", "", sql)


# ---------------------------------------------------------------------------
# MERGE INTO / INSERT .. ON CONFLICT / COPY (test/sql/upsert.sql,
# tsl/test/sql/cagg_query_using_merge.sql, src/copy.c)
# ---------------------------------------------------------------------------

_MERGE_HEAD = re.compile(
    r"^\s*merge\s+into\s+([A-Za-z_]\w*)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?"
    r"\s+using\s+",
    re.I,
)
_ON_CONFLICT = re.compile(
    r"\bon\s+conflict\s*\(([^)]*)\)\s*do\s+(nothing|update\s+set\s+(.*))\s*$",
    re.I | re.S,
)
_COPY_RE = re.compile(
    r"^\s*copy\s+([A-Za-z_]\w*)\s+from\s+'([^']+)'\s*"
    r"(?:with\s*\((?P<opts>[^)]*)\))?"
    r"(?:\s+where\s+(?P<where>.+))?\s*$",
    re.I | re.S,
)

_RESERVED_ALIASES = {"target", "excluded"}


def _qualify_bare(expr: str, cols, qual: str) -> str:
    """Qualify bare references to target columns (PG's ON CONFLICT scope:
    unqualified names mean the target row). Leaves ``excluded.c`` /
    ``target.c`` / function names / struct access untouched."""
    pat = r"(?<![\w.`'])(" + "|".join(re.escape(c) for c in cols) + r")\b(?!\s*\(|\s*\.)"
    # operate only outside string literals
    out, i = [], 0
    stripped = _strip_strings(expr)
    for m in re.finditer(pat, stripped):
        out.append(expr[i : m.start()])
        out.append(f"{qual}.{m.group(1)}")
        i = m.end()
    out.append(expr[i:])
    return "".join(out)


def match_insert_on_conflict(q: str):
    """INSERT INTO t [..] <src> ON CONFLICT (keys) DO NOTHING|UPDATE SET.
    Returns (head_without_conflict_clause, keys, set_items|None)."""
    stripped = _strip_strings(q.strip().rstrip(";"))
    m = _ON_CONFLICT.search(stripped)
    if not m or not re.match(r"^\s*insert\b", stripped, re.I):
        return None
    head = q.strip().rstrip(";")[: m.start()].strip()
    keys = [k.strip() for k in m.group(1).split(",") if k.strip()]
    action = m.group(2)
    if action.lower().startswith("nothing"):
        return (head, keys, None)
    body = q.strip().rstrip(";")[m.start() :]
    set_part = re.search(r"do\s+update\s+set\s+", body, re.I)
    return (head, keys, body[set_part.end() :])


def run_insert_on_conflict(ts, head: str, keys, set_items) -> DataFrame:
    """ON CONFLICT routed through Hypertable.merge_into: DO NOTHING keeps
    matched target rows; DO UPDATE recomputes columns from expressions
    over the PG scopes (bare = target row, ``excluded.c`` = incoming)."""
    from .sqlapi import _INSERT_RE, _query_tables, rewrite_sql

    m = _INSERT_RE.match(head)
    if not m:
        raise ValueError(f"cannot parse INSERT head {head!r}")
    name, collist, rest = m.group(1), m.group(2), m.group(3)
    ht = ts.get_hypertable(name)
    src = _query_tables(ts, rest)
    if collist:
        cols = [c.strip() for c in collist.split(",") if c.strip()]
        src = src.toDF(*cols)
    elif ht.row.get("schema_ddl"):
        want = [f.name for f in ht._schema().fields]
        if len(src.columns) == len(want) and all(
            re.fullmatch(r"col\d+", c) for c in src.columns
        ):
            src = src.toDF(*want)
    if ht.row.get("schema_ddl"):
        sch = {f.name: f.dataType for f in ht._schema().fields}
        from pyspark.sql import functions as _F

        src = src.select(
            *[
                _F.col(c).cast(sch[c]).alias(c) if c in sch else _F.col(c)
                for c in src.columns
            ]
        )
    matched = None
    if set_items is not None:
        tcols = [f.name for f in ht._schema().fields] if ht.row.get(
            "schema_ddl"
        ) else src.columns
        matched = {}
        for item in _split_args(set_items):
            col, eq, expr = item.partition("=")
            if not eq:
                raise ValueError(f"bad SET item {item!r}")
            matched[col.strip()] = _qualify_bare(
                rewrite_sql(expr.strip(), ts), tcols, "target"
            )
    st = ht.merge_into(src, keys, matched_update=matched)
    return _df(
        ts,
        [(st["rows_inserted"], st["rows_updated"])],
        "rows_inserted bigint, rows_updated bigint",
    )


def match_merge(q: str):
    return _MERGE_HEAD.match(q.strip().rstrip(";"))


def run_merge(ts, q: str) -> DataFrame:
    """MERGE INTO t [AS a] USING <table|(subquery)> [AS b] ON <equi-keys>
    WHEN MATCHED THEN UPDATE SET .. | DELETE
    [WHEN NOT MATCHED THEN INSERT * | (cols) VALUES (exprs)].

    The ON condition must be a conjunction of target/source column
    equalities (the arbiter keys, like the reference's unique-index
    requirement). Aliases are normalized to the merge scopes ``target``
    and ``excluded`` before expressions reach Spark.
    """
    from .sqlapi import _query_tables, rewrite_sql

    q = q.strip().rstrip(";")
    m = _MERGE_HEAD.match(q)
    tname, talias = m.group(1), m.group(2)
    rest = q[m.end() :]
    # USING <source> ON ...
    stripped = _strip_strings(rest)
    on_m = None
    depth = 0
    for mm in re.finditer(r"\(|\)|\bon\b", stripped, re.I):
        tok = mm.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            on_m = mm
            break
    if on_m is None:
        raise ValueError("MERGE missing ON clause")
    using_part = rest[: on_m.start()].strip()
    after_on = rest[on_m.end() :]
    when_m = re.search(
        r"\bwhen\b(?=\s+(?:not\s+)?matched\b)", _strip_strings(after_on), re.I
    )
    if when_m is None:
        raise ValueError("MERGE missing WHEN clause")
    on_cond = after_on[: when_m.start()].strip()
    when_part = after_on[when_m.start() :]

    # source: table name or (subquery), optional alias
    sm = re.match(
        r"^(\((?:.|\n)*\)|[A-Za-z_]\w*)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?$",
        using_part.strip(),
        re.I,
    )
    if not sm:
        raise ValueError(f"cannot parse USING clause {using_part!r}")
    src_sql, salias = sm.group(1), sm.group(2)
    if src_sql.startswith("("):
        src_sql = src_sql[1:-1]
    else:
        src_sql = f"SELECT * FROM {src_sql}"
    src = _query_tables(ts, src_sql)
    salias = salias or "src"

    ht = ts.get_hypertable(tname)
    talias = talias or tname

    def _normalize(expr: str) -> str:
        e = re.sub(rf"\b{re.escape(talias)}\s*\.", "target.", expr)
        e = re.sub(rf"\b{re.escape(salias)}\s*\.", "excluded.", e)
        e = re.sub(rf"\b{re.escape(tname)}\s*\.", "target.", e)
        return e

    def _split_stripped(text: str, pattern: str) -> list[str]:
        """Split at keyword matches located in the string-stripped form
        (length-preserving), so literals containing 'and'/'when'
        survive parsing."""
        stripped_t = _strip_strings(text)
        parts, last = [], 0
        for km in re.finditer(pattern, stripped_t, re.I):
            parts.append(text[last : km.start()])
            last = km.end()
        parts.append(text[last:])
        return parts

    ident = r"[A-Za-z_]\w*"
    keys = []
    pending_renames: list[tuple[str, str]] = []
    for part in _split_stripped(on_cond, r"\band\b"):
        # reject non-equi operators up front — '>=', '!=', '<>' etc.
        # contain '=' and would otherwise partition into garbage key
        # names that only fail later as an opaque analysis error
        # (checked on the stripped form: literals may contain '<'/'>')
        if re.search(r"[<>!]=|<>|<|>", _strip_strings(part)):
            raise ValueError(f"MERGE ON must be equality conjunction: {part!r}")
        lhs, eq, rhs = part.partition("=")
        if not eq:
            raise ValueError(f"MERGE ON must be equality conjunction: {part!r}")
        lhs, rhs = _normalize(lhs.strip()), _normalize(rhs.strip())
        tgt_side = lhs if lhs.startswith("target.") else rhs
        src_side = rhs if tgt_side is lhs else lhs
        # both sides must be PLAIN column references: an expression like
        # upper(s.id) would silently degrade to merging on the raw
        # column (withColumnRenamed no-op) — wrong rows, no error
        if not re.fullmatch(rf"target\.{ident}", tgt_side):
            raise ValueError(
                f"MERGE ON target side must be a plain column: {part!r}"
            )
        if not re.fullmatch(rf"(?:excluded\.)?{ident}", src_side):
            raise ValueError(
                f"MERGE ON source side must be a plain column: {part!r}"
            )
        kt = tgt_side.split(".", 1)[1].strip()
        ks = src_side.split(".", 1)[1].strip() if "." in src_side else src_side
        if kt != ks:
            # align source column name to the target key name — applied
            # AFTER clause parsing: an INSERT (cols) VALUES (exprs)
            # projection references the ORIGINAL source names
            pending_renames.append((ks, kt))
        keys.append(kt)

    matched_update = None
    delete_matched = False
    insert_not_matched = False
    not_matched_by_source: list = []

    def _parse_set(body: str) -> dict:
        out = {}
        for item in _split_args(body):
            col, eq, expr = item.partition("=")
            if not eq:
                raise ValueError(f"bad SET item {item!r}")
            col = _normalize(col.strip()).removeprefix("target.")
            out[col] = _normalize(rewrite_sql(expr.strip(), ts))
        return out

    # split ONLY at MERGE-clause WHENs: a CASE WHEN inside a SET/VALUES
    # expression must not fragment the clause list
    for clause in _split_stripped(
        when_part, r"\bwhen\b(?=\s+(?:not\s+)?matched\b)"
    )[1:]:
        clause = clause.strip()
        # PG17: WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE|DELETE
        # (test/sql/merge_not_matched_by_source.sql)
        bm = re.match(
            r"^not\s+matched\s+by\s+source\s*(?:and\s+(.*?))?\s*then\s+(.*)$",
            clause,
            re.I | re.S,
        )
        if bm:
            cnd = _normalize(rewrite_sql(bm.group(1), ts)) if bm.group(1) else None
            act = bm.group(2).strip()
            if re.match(r"^delete\s*$", act, re.I):
                not_matched_by_source.append(
                    {"condition": cnd, "action": "delete"}
                )
            else:
                um = re.match(r"^update\s+set\s+(.*)$", act, re.I | re.S)
                if not um:
                    raise ValueError(
                        f"unsupported NOT MATCHED BY SOURCE action {act!r}"
                    )
                not_matched_by_source.append(
                    {"condition": cnd, "action": _parse_set(um.group(1))}
                )
            continue
        cm = re.match(
            r"^(not\s+)?matched\s+(?:by\s+target\s+)?then\s+(.*)$",
            clause,
            re.I | re.S,
        )
        if not cm:
            raise ValueError(f"cannot parse WHEN clause {clause!r}")
        action = cm.group(2).strip()
        if cm.group(1):  # NOT MATCHED [BY TARGET]
            im = re.match(
                r"^insert\s*(\*|\(([^)]*)\)\s*values\s*\((.*)\))\s*$",
                action,
                re.I | re.S,
            )
            if not im:
                raise ValueError(f"unsupported NOT MATCHED action {action!r}")
            insert_not_matched = True
            if im.group(2) is not None:
                cols = [c.strip() for c in im.group(2).split(",")]
                exprs = [
                    re.sub(rf"\b{re.escape(salias)}\s*\.", "", e.strip())
                    for e in _split_args(im.group(3))
                ]
                src = src.selectExpr(
                    *[f"{rewrite_sql(e, ts)} AS {c}" for e, c in zip(exprs, cols)]
                )
        elif re.match(r"^delete\s*$", action, re.I):
            delete_matched = True
        else:
            um = re.match(r"^update\s+set\s+(.*)$", action, re.I | re.S)
            if not um:
                raise ValueError(f"unsupported MATCHED action {action!r}")
            matched_update = _parse_set(um.group(1))
    for ks, kt in pending_renames:
        if kt not in src.columns and ks in src.columns:
            src = src.withColumnRenamed(ks, kt)
    # clear error instead of an opaque analysis failure: SET expressions
    # evaluate against the (possibly INSERT-projected) source frame
    set_exprs = list((matched_update or {}).values()) + [
        e
        for cl in not_matched_by_source
        if isinstance(cl.get("action"), dict)
        for e in cl["action"].values()
    ]
    for e in set_exprs:
        for ref in re.findall(r"\bexcluded\.([A-Za-z_]\w*)", str(e)):
            if ref not in src.columns:
                raise ValueError(
                    f"MERGE UPDATE SET references excluded.{ref}, which is "
                    f"not among the source columns after the INSERT column "
                    f"list projection — include {ref!r} in the INSERT list "
                    f"or project it in the USING subquery"
                )
    st = ht.merge_into(
        src,
        keys,
        matched_update=matched_update,
        insert_not_matched=insert_not_matched,
        delete_matched=delete_matched,
        not_matched_by_source=not_matched_by_source or None,
    )
    return _df(
        ts,
        [(st["rows_inserted"], st["rows_updated"], st["rows_deleted"])],
        "rows_inserted bigint, rows_updated bigint, rows_deleted bigint",
    )


def match_copy(q: str):
    return _COPY_RE.match(q.strip().rstrip(";"))


def run_copy(ts, m) -> DataFrame:
    """COPY t FROM 'file' WITH (FORMAT csv|text|binary, HEADER,
    DELIMITER 'c') [WHERE cond] — the reference's chunk-routing COPY
    path (src/copy.c; WHERE filtering per test/sql/copy_where.sql): the
    file is read with the hypertable's declared schema (parallel,
    splittable scan), filtered, and routed through the normal insert
    tuple routing."""
    name, path = m.group(1), m.group(2)
    where = m.group("where")
    opts = {}
    for item in _split_args(m.group("opts") or ""):
        if not item:
            continue
        parts = item.split(None, 1)
        opts[parts[0].lower()] = parts[1].strip().strip("'") if len(parts) > 1 else "true"
    fmt = opts.get("format", "text").lower()
    ht = ts.get_hypertable(name)
    if fmt == "binary":
        # PG binary dump (src/copy.c binary path): schema-driven wire
        # decode, one task per dump file — see sources/pgcopy.py
        from .sources.pgcopy import read_pgcopy

        if not ht.row.get("schema_ddl"):
            raise ValueError(
                "COPY ... WITH (FORMAT binary) needs a declared table "
                "schema (the binary format carries no type metadata)"
            )
        src = read_pgcopy(ts.spark, path, ht._schema())
        if where:
            src = src.filter(F.expr(where))
        st = ht.insert(src)
        return _df(ts, [(int(st["rows"]),)], "rows_copied bigint")
    reader = ts.spark.read
    if ht.row.get("schema_ddl"):
        reader = reader.schema(ht._schema())
    delim = opts.get("delimiter", "," if fmt == "csv" else "\t")
    header = opts.get("header", "false").lower() in ("true", "on", "1")
    reader = reader.option("header", header).option("sep", delim)
    if fmt == "text":
        # PG text format: tab-separated, NO quoting (a double quote is
        # data), \N means NULL — Spark's CSV defaults would strip quotes
        # and load the literal string '\N'. (PG backslash escapes inside
        # values beyond \N are not decoded — documented limitation.)
        reader = (
            reader.option("quote", "\u0000")
            .option("nullValue", "\\N")
            .option("emptyValue", "")
        )
    src = reader.csv(path)
    if where:
        src = src.filter(F.expr(where))
    st = ht.insert(src)
    return _df(ts, [(int(st["rows"]),)], "rows_copied bigint")
