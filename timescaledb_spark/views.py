"""``timescaledb_information.*`` views (``sql/views.sql:9-426``) and the
size-utils introspection functions (``sql/size_utils.sql``).

Each view is a small driver-built DataFrame over the engine catalog —
the reference's views are likewise thin SQL over ``_timescaledb_catalog``.
Row counts are O(hypertables + chunks + jobs), never data-sized, so
building them on the driver is correct at any scale.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame

from .hypertable import CHUNK_COL, Hypertable


def _df(ts, rows: list[dict], schema: str) -> DataFrame:
    return ts.spark.createDataFrame(rows, schema=schema)


def hypertables(ts) -> DataFrame:
    """``timescaledb_information.hypertables`` (sql/views.sql:9)."""
    rows = []
    for h in ts.catalog.hypertable.read():
        chunks = ts.catalog.chunk.find(hypertable_id=h["id"])
        rows.append(
            {
                "hypertable_name": h["name"],
                "owner": "spark",
                "num_dimensions": len(
                    ts.catalog.dimension.find(hypertable_id=h["id"])
                ),
                "num_chunks": len(chunks),
                "compression_enabled": bool(
                    ts.catalog.compression_settings.find_one(hypertable_id=h["id"])
                ),
            }
        )
    return _df(
        ts,
        rows,
        "hypertable_name string, owner string, num_dimensions int, "
        "num_chunks int, compression_enabled boolean",
    )


def chunks(ts, hypertable: Optional[str] = None) -> DataFrame:
    """``timescaledb_information.chunks`` (sql/views.sql:106)."""
    hts = {h["id"]: h for h in ts.catalog.hypertable.read()}
    rows = []
    for c in ts.catalog.chunk.read():
        h = hts.get(c["hypertable_id"])
        if not h or (hypertable and h["name"] != hypertable):
            continue
        rows.append(
            {
                "hypertable_name": h["name"],
                # reference chunk naming (src/chunk.c ts_chunk_create_table);
                # resolvable by the SQL chunk ops (sqladmin._resolve_chunk)
                "chunk_name": f"_hyper_{h['id']}_{c['id']}_chunk",
                "chunk_dir": f"{CHUNK_COL}={c['range_start']}",
                "range_start": c["range_start"],
                "range_end": c["range_end"],
                "is_compressed": c.get("status") == "columnstore",
            }
        )
    return _df(
        ts,
        rows,
        "hypertable_name string, chunk_name string, chunk_dir string, "
        "range_start long, range_end long, is_compressed boolean",
    )


def dimensions(ts) -> DataFrame:
    """``timescaledb_information.dimensions`` (sql/views.sql:62)."""
    hts = {h["id"]: h for h in ts.catalog.hypertable.read()}
    rows = []
    for d in ts.catalog.dimension.read():
        h = hts.get(d["hypertable_id"])
        if not h:
            continue
        rows.append(
            {
                "hypertable_name": h["name"],
                "column_name": d["column"],
                "dimension_type": "Time" if d["type"] == "open" else "Space",
                "time_interval": h.get("chunk_interval")
                if d["type"] == "open"
                else None,
                "num_partitions": d.get("num_slices"),
            }
        )
    return _df(
        ts,
        rows,
        "hypertable_name string, column_name string, dimension_type string, "
        "time_interval long, num_partitions int",
    )


def continuous_aggregates(ts) -> DataFrame:
    """``timescaledb_information.continuous_aggregates`` (sql/views.sql:182)."""
    from .cagg_families import partials

    rows = []
    for c in ts.catalog.continuous_agg.read():
        wm = ts.catalog.cagg_watermark.find_one(cagg_id=c["id"])
        # the mat table stores mergeable partials for these columns (the
        # toolkit finalized=false idiom), listed per family view column
        cols = {"sketch_columns": [], "partial_columns": []}
        for fam, col, _spec in partials(c):
            cols[fam.view_column].append(col)
        rows.append(
            {
                "view_name": c["name"],
                "hypertable_name": c["hypertable_name"],
                "materialized_only": bool(c.get("materialized_only")),
                "bucket_width": c["bucket_width_us"],
                "watermark": wm.get("watermark") if wm else None,
                "materialization_hypertable_name": c["mat_table"],
                **{k: sorted(v) for k, v in cols.items()},
            }
        )
    return _df(
        ts,
        rows,
        "view_name string, hypertable_name string, materialized_only boolean, "
        "bucket_width long, watermark long, "
        "materialization_hypertable_name string, "
        "sketch_columns array<string>, partial_columns array<string>",
    )


def compression_settings(ts) -> DataFrame:
    """``timescaledb_information.hypertable_compression_settings``."""
    hts = {h["id"]: h for h in ts.catalog.hypertable.read()}
    rows = []
    for s in ts.catalog.compression_settings.read():
        h = hts.get(s["hypertable_id"])
        if not h:
            continue
        rows.append(
            {
                "hypertable_name": h["name"],
                "segmentby": ",".join(s.get("segmentby") or []),
                "orderby": ",".join(
                    f"{c} {d}" for c, d in (s.get("orderby") or [])
                ),
            }
        )
    return _df(ts, rows, "hypertable_name string, segmentby string, orderby string")


def hypertable_compression_settings(ts) -> DataFrame:
    """``timescaledb_information.hypertable_compression_settings``
    (sql/views.sql) — same shape as ``compression_settings``."""
    return compression_settings(ts)


#: columnstore-era name (sql/views.sql keeps both)
hypertable_columnstore_settings = hypertable_compression_settings


def chunk_compression_settings(ts) -> DataFrame:
    """``timescaledb_information.chunk_compression_settings``: the
    per-chunk settings rows — settings are hypertable-wide here (as in
    the reference unless ALTERed mid-life), repeated per chunk."""
    hts = {h["id"]: h for h in ts.catalog.hypertable.read()}
    settings = {
        s["hypertable_id"]: s for s in ts.catalog.compression_settings.read()
    }
    rows = []
    for c in ts.catalog.chunk.read():
        s = settings.get(c["hypertable_id"])
        h = hts.get(c["hypertable_id"])
        if not s or not h:
            continue
        rows.append(
            {
                "hypertable_name": h["name"],
                "chunk_name": f"_hyper_{h['id']}_{c['id']}_chunk",
                "segmentby": ",".join(s.get("segmentby") or []),
                "orderby": ",".join(
                    f"{col} {d}" for col, d in (s.get("orderby") or [])
                ),
            }
        )
    return _df(
        ts,
        rows,
        "hypertable_name string, chunk_name string, segmentby string, "
        "orderby string",
    )


chunk_columnstore_settings = chunk_compression_settings


def job_errors(ts) -> DataFrame:
    """``timescaledb_information.job_errors`` (sql/views.sql): failed
    runs from the job history."""
    rows = [
        {
            "job_id": h["job_id"],
            "proc_name": h["proc"],
            "start": h["start"],
            "finish": h["finish"],
            "error": h.get("error"),
        }
        for h in ts.catalog.bgw_job_stat_history.read()
        if not h.get("success")
    ]
    return _df(
        ts,
        rows,
        "job_id long, proc_name string, start double, finish double, "
        "error string",
    )


def jobs(ts) -> DataFrame:
    """``timescaledb_information.jobs`` (sql/views.sql:268)."""
    rows = [
        {
            "job_id": j["id"],
            "application_name": j["application_name"],
            "proc_name": j["proc"],
            "schedule_interval": j["schedule_interval"],
            "fixed_schedule": bool(j.get("fixed_schedule")),
            "scheduled": bool(j.get("scheduled")),
            "config": __import__("json").dumps(j.get("config") or {}),
        }
        for j in ts.catalog.bgw_job.read()
    ]
    return _df(
        ts,
        rows,
        "job_id long, application_name string, proc_name string, "
        "schedule_interval double, fixed_schedule boolean, scheduled boolean, "
        "config string",
    )


def job_stats(ts) -> DataFrame:
    """``timescaledb_information.job_stats`` (sql/views.sql:305)."""
    rows = [
        {
            "job_id": s["job_id"],
            "last_run_started_at": s.get("last_start"),
            "last_successful_finish": s.get("last_finish")
            if s.get("last_run_success")
            else None,
            "last_run_status": None
            if s.get("last_run_success") is None
            else ("Success" if s["last_run_success"] else "Failed"),
            "next_start": s.get("next_start"),
            "total_runs": s.get("total_runs", 0),
            "total_successes": s.get("total_successes", 0),
            "total_failures": s.get("total_failures", 0),
        }
        for s in ts.catalog.bgw_job_stat.read()
    ]
    return _df(
        ts,
        rows,
        "job_id long, last_run_started_at double, last_successful_finish double, "
        "last_run_status string, next_start double, total_runs long, "
        "total_successes long, total_failures long",
    )


def job_history(ts) -> DataFrame:
    """``timescaledb_information.job_history``."""
    rows = [
        {
            "job_id": h["job_id"],
            "proc_name": h["proc"],
            "start": h["start"],
            "finish": h["finish"],
            "success": bool(h["success"]),
            "error": h.get("error"),
        }
        for h in ts.catalog.bgw_job_stat_history.read()
    ]
    return _df(
        ts,
        rows,
        "job_id long, proc_name string, start double, finish double, "
        "success boolean, error string",
    )


# ------------------------------------------------------- size utils ------

def chunks_detailed_size(ht: Hypertable) -> list[dict]:
    """``chunks_detailed_size`` (sql/size_utils.sql:310): per-chunk bytes."""
    out = []
    for c in ht.chunks():
        path = os.path.join(ht.data_dir, f"{CHUNK_COL}={c['range_start']}")
        total = 0
        for dirpath, _d, files in os.walk(path):
            for fn in files:
                total += os.path.getsize(os.path.join(dirpath, fn))
        out.append(
            {
                "chunk_name": f"{CHUNK_COL}={c['range_start']}",
                "range_start": c["range_start"],
                "range_end": c["range_end"],
                "total_bytes": total,
                "status": c.get("status"),
            }
        )
    return out


def hypertable_detailed_size(ht: Hypertable) -> dict:
    """``hypertable_detailed_size`` (sql/size_utils.sql:139)."""
    per_chunk = chunks_detailed_size(ht)
    return {
        "table_bytes": sum(c["total_bytes"] for c in per_chunk),
        "num_chunks": len(per_chunk),
    }
