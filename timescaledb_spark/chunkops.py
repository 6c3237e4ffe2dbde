"""Chunk surgery: merge_chunks / split_chunk.

Reference parity: ``merge_chunks`` (``sql/maintenance_utils.sql:70``;
``tsl/src/chunk_merge.c``) and ``split_chunk``
(``sql/maintenance_utils.sql:85``; ``tsl/src/chunk_split.c``). Both are
metadata+rewrite operations on whole chunks; the resulting slices leave
the uniform interval grid, which insert routing handles via the
irregular-chunk override in ``Hypertable._partition_exprs``.

Scale note: each operation touches only the named chunks — a directory
read + clustered write of those chunks, never a table scan. On a real
cluster this is one job over the merged range's files.
"""

from __future__ import annotations

import os
import shutil
import time as _time
from typing import Sequence, Union

from pyspark.sql import functions as F

from . import storage
from .compression import _swap_dir
from .hypertable import CHUNK_COL, SPACE_COL, Hypertable, _to_internal


def _chunk_by_start(ht: Hypertable, start: Union[dict, int]) -> dict:
    if isinstance(start, dict):
        return start
    for c in ht.chunks():
        if c["range_start"] == start:
            return c
    raise KeyError(f"no chunk starting at {start}")


def _chunk_dir(ht: Hypertable, c: dict) -> str:
    return os.path.join(ht.data_dir, f"{CHUNK_COL}={c['range_start']}")


def _validate_adjacent(ht: Hypertable, starts) -> list[dict]:
    chunks = sorted(
        (_chunk_by_start(ht, s) for s in starts), key=lambda c: c["range_start"]
    )
    if len(chunks) < 2:
        raise ValueError("merge_chunks needs at least two chunks")
    for a, b in zip(chunks, chunks[1:]):
        if a["range_end"] != b["range_start"]:
            raise ValueError(
                f"chunks not adjacent: [{a['range_start']},{a['range_end']}) then "
                f"[{b['range_start']},{b['range_end']})"
            )
    for c in chunks:
        if c.get("frozen"):
            # merges rewrite and delete the source dirs — the freeze
            # contract (sql/chunk.sql:45) applies like any write path
            raise PermissionError(
                f"chunk [{c['range_start']},{c['range_end']}) is frozen"
            )
    return chunks


def _space_rewrite(ht: Hypertable, df):
    """On a space-partitioned hypertable, (re)derive the ``_space``
    bucket with the CURRENT modulus and return ``(df, space_n)`` so the
    caller writes ``partitionBy(_space)`` — a flat rewrite would drop
    the ``_space=`` subdirs and space-pruned reads (which probe those
    dirs) would silently skip the chunk's rows. Recomputing (instead of
    carrying the read value) also normalizes sources written under an
    older modulus; the chunk row records the modulus used."""
    sc = ht.row.get("space_column")
    if not sc or not ht.row.get("num_partitions"):
        return df, None
    n = int(ht.row["num_partitions"])
    if SPACE_COL in df.columns:
        df = df.drop(SPACE_COL)
    return (
        df.withColumn(SPACE_COL, F.pmod(F.xxhash64(F.col(sc)), F.lit(n))),
        n,
    )


def _merge_rewrite(ht: Hypertable, chunks: list[dict], tmp: str):
    """Heavy phase: clustered rewrite of the source chunks into ``tmp``.
    Returns ``(have_data, space_n)``."""
    # per-source-chunk conforming reads: after ALTER TABLE the files
    # may be at different schema versions, and the merged chunk row is
    # new (no fill would ever apply again) — materialize now
    parts = []
    for c in chunks:
        d = _chunk_dir(ht, c)
        if not os.path.isdir(d):
            continue
        p_ = ht._conform_chunk_df(c, ht._chunk_reader().parquet(d))
        if SPACE_COL in p_.columns:
            # sources may disagree on having _space dirs; drop and
            # recompute uniformly below
            p_ = p_.drop(SPACE_COL)
        parts.append(p_)
    if not parts:
        return False, None
    merged = parts[0]
    for p_ in parts[1:]:
        merged = merged.unionByName(p_)
    merged, space_n = _space_rewrite(ht, merged)
    space = [SPACE_COL] if space_n is not None else []
    storage.writer(merged, partition_by=space).parquet(tmp)
    return True, space_n


def _merge_commit(
    ht: Hypertable,
    chunks: list[dict],
    tmp: str,
    have_data: bool,
    space_n=None,
) -> dict:
    """Metadata phase: swap directories and rewrite the catalog rows in
    one compound transaction."""
    cat = ht.ts.catalog
    target = chunks[0]
    merged_dir = _chunk_dir(ht, target)
    if have_data:
        _swap_dir(merged_dir, tmp, gone=[_chunk_dir(ht, c) for c in chunks[1:]])
    with cat.write_lock:
        new_row = {
            "id": cat.next_id("chunk"),
            "hypertable_id": ht.id,
            "range_start": target["range_start"],
            "range_end": chunks[-1]["range_end"],
            "status": "rowstore",  # unclustered until recompressed
            "created_at": _time.time(),
        }
        if space_n is not None:
            new_row["space_n"] = space_n
        ids = [c["id"] for c in chunks]
        cat.chunk.delete_in("id", ids)
        cat.chunk_column_stats.delete_in("chunk_id", ids)
        cat.chunk.append([new_row])
    return new_row


def merge_chunks(ht: Hypertable, starts: Sequence[Union[int, dict]]) -> dict:
    """``merge_chunks(chunk[])``: combine adjacent chunks into one.

    The chunks must tile a contiguous range (each ``range_end`` equals
    the next ``range_start``) — same precondition as the reference
    (``tsl/src/chunk_merge.c`` checks slice adjacency). Holds the
    hypertable DML lock for the whole operation — correct and simple;
    :func:`merge_chunks_concurrently` is the online variant.
    """
    with ht.ts.catalog.ht_lock(ht.name):
        chunks = _validate_adjacent(ht, starts)
        # dot-prefixed: invisible to _scan_chunk_dirs / chunk globs
        tmp = os.path.join(
            ht.data_dir, f".tmp_merge_{chunks[0]['range_start']}"
        )
        have, space_n = _merge_rewrite(ht, chunks, tmp)
        return _merge_commit(ht, chunks, tmp, have, space_n)


def merge_chunks_concurrently(
    ht: Hypertable, starts: Sequence[Union[int, dict]]
) -> dict:
    """``merge_chunks_concurrently`` (sql/maintenance_utils.sql:76): the
    online merge — DML on UNRELATED chunks proceeds while the heavy
    rewrite runs.

    Three phases, mirroring the reference's lowered lock level:

    1. **freeze** (brief ``ht_lock``): validate adjacency and mark the
       source chunks frozen — in-flight DML has drained (the lock), and
       any later write into the merging range is refused by the DML
       paths' frozen check (``_check_frozen``), exactly like DML into a
       tiered chunk;
    2. **rewrite** (NO locks): the clustered merge job writes to a
       dot-prefixed temp dir invisible to chunk scans — inserts,
       updates, merges on other chunks run concurrently;
    3. **commit** (brief ``ht_lock``): swap directories and rewrite the
       catalog rows in one compound transaction.

    On failure the source chunks are unfrozen and the temp dir removed —
    the table is exactly as before."""
    cat = ht.ts.catalog
    with cat.ht_lock(ht.name):
        # _validate_adjacent refuses frozen chunks, which also guards
        # against merging a chunk another online merge has frozen
        chunks = _validate_adjacent(ht, starts)
        for c in chunks:
            cat.chunk.update({"id": c["id"]}, {"frozen": True})
    tmp = os.path.join(
        ht.data_dir, f".tmp_merge_{chunks[0]['range_start']}"
    )
    try:
        have, space_n = _merge_rewrite(ht, chunks, tmp)
        with cat.ht_lock(ht.name):
            return _merge_commit(ht, chunks, tmp, have, space_n)
    except BaseException:
        with cat.ht_lock(ht.name):
            for c in chunks:
                cat.chunk.update({"id": c["id"]}, {"frozen": False})
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def freeze_chunk(ht: Hypertable, chunk: Union[int, dict]) -> None:
    """``freeze_chunk`` (sql/chunk.sql:45): mark a chunk read-only; write
    paths refuse to touch it until unfrozen."""
    c = _chunk_by_start(ht, chunk)
    ht.ts.catalog.chunk.update({"id": c["id"]}, {"frozen": True})


def unfreeze_chunk(ht: Hypertable, chunk: Union[int, dict]) -> None:
    """``unfreeze_chunk`` (sql/chunk.sql:52)."""
    c = _chunk_by_start(ht, chunk)
    ht.ts.catalog.chunk.update({"id": c["id"]}, {"frozen": False})


def detach_chunk(ht: Hypertable, chunk: Union[int, dict]) -> dict:
    """``detach_chunk`` (sql/chunk.sql:64): remove the chunk from the
    catalog without deleting its data directory (the OSM/tiering hook —
    the dir can be re-attached or managed externally)."""
    c = _chunk_by_start(ht, chunk)
    with ht.ts.catalog.write_lock:
        ht.ts.catalog.chunk.delete({"id": c["id"]})
        ht.ts.catalog.chunk_column_stats.delete({"chunk_id": c["id"]})
    return c


def attach_chunk(ht: Hypertable, range_start: int, range_end: int) -> dict:
    """``attach_chunk`` / ``create_chunk`` (sql/chunk.sql:31,58): register
    an existing partition directory as a chunk with the given slice."""
    if not os.path.isdir(os.path.join(ht.data_dir, f"{CHUNK_COL}={range_start}")):
        raise ValueError(f"no partition dir {CHUNK_COL}={range_start} on disk")
    # overlap-check + append is one catalog transaction: two concurrent
    # attaches of overlapping slices must not both pass the scan
    # (catalog.py's compound find->append rule)
    with ht.ts.catalog.write_lock:
        for c in ht.chunks():
            if range_start < c["range_end"] and range_end > c["range_start"]:
                raise ValueError(
                    f"slice [{range_start},{range_end}) overlaps chunk {c['id']}"
                )
        row = {
            "id": ht.ts.catalog.next_id("chunk"),
            "hypertable_id": ht.id,
            "range_start": range_start,
            "range_end": range_end,
            "status": "rowstore",
            "created_at": _time.time(),
        }
        ht.ts.catalog.chunk.append([row])
    return row


def split_chunk(
    ht: Hypertable, chunk: Union[int, dict], at: Union[int, str]
) -> list[dict]:
    """``split_chunk(chunk, split_at)``: one chunk -> two at ``at``.

    Serialized with DML (the rewrite deletes the dir it read — an
    insert routed into it mid-split would be destroyed), refuses frozen
    chunks, stages under DOT-prefixed temps outside the ``_chunk=``
    namespace (a leftover ``_chunk=X.tmp_*`` dir would break the int()
    parse in every later chunk-dir scan), preserves the ``_space``
    layout, and commits the delete+append catalog sequence as one
    write_lock transaction."""
    with ht.ts.catalog.ht_lock(ht.name):
        return _split_locked(ht, chunk, at)


def _split_locked(ht, chunk, at) -> list[dict]:
    c = _chunk_by_start(ht, chunk)
    at_i = _to_internal(at)
    if not (c["range_start"] < at_i < c["range_end"]):
        raise ValueError(
            f"split point {at_i} outside ({c['range_start']}, {c['range_end']})"
        )
    if c.get("frozen"):
        raise PermissionError(
            f"chunk [{c['range_start']},{c['range_end']}) is frozen"
        )
    cat = ht.ts.catalog
    path = _chunk_dir(ht, c)
    lo_tmp = os.path.join(ht.data_dir, f".tmp_split_lo_{c['range_start']}")
    hi_tmp = os.path.join(ht.data_dir, f".tmp_split_hi_{c['range_start']}")
    space_n = None
    if os.path.isdir(path):
        df = ht._conform_chunk_df(c, ht._chunk_reader().parquet(path))
        df, space_n = _space_rewrite(ht, df)
        internal = ht._internal_time_expr(df)
        space = [SPACE_COL] if space_n is not None else []
        try:
            for flt, tmp in (
                (internal < at_i, lo_tmp),
                (internal >= at_i, hi_tmp),
            ):
                storage.writer(df.filter(flt), partition_by=space).parquet(tmp)
            hi_path = os.path.join(ht.data_dir, f"{CHUNK_COL}={at_i}")
            _swap_dir(path, lo_tmp, also=[(hi_tmp, hi_path)])
        except BaseException:
            shutil.rmtree(lo_tmp, ignore_errors=True)
            shutil.rmtree(hi_tmp, ignore_errors=True)
            raise
    with cat.write_lock:
        rows = [
            {
                "id": cat.next_id("chunk"),
                "hypertable_id": ht.id,
                "range_start": c["range_start"],
                "range_end": at_i,
                "status": "rowstore",
                "created_at": _time.time(),
            },
            {
                "id": cat.next_id("chunk"),
                "hypertable_id": ht.id,
                "range_start": at_i,
                "range_end": c["range_end"],
                "status": "rowstore",
                "created_at": _time.time(),
            },
        ]
        if space_n is not None:
            for r in rows:
                r["space_n"] = space_n
        cat.chunk.delete({"id": c["id"]})
        cat.chunk_column_stats.delete({"chunk_id": c["id"]})
        cat.chunk.append(rows)
    return rows
