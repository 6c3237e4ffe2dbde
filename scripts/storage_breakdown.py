#!/usr/bin/env python
"""Where the stored bytes of an engine root go, from the parquet footers.

For every table under ``ROOT`` — hypertables and cagg materializations
under ``ROOT/data/<name>``, plain tables under ``ROOT/tables/<name>`` —
prints one line with its rows, parquet files, chunk dirs, files per
chunk and bytes per row, then one line per column with its encodings
and its dictionary-page and data-page bytes (compressed, as stored),
then the footer bytes (file metadata plus its length and magic) and the
rest of the files (bloom filters, the leading magic, ``.crc`` and
``_SUCCESS`` files), each in bytes per row of the table. A last line
totals every table and the catalog files.

Reads footers only (pyarrow), so it runs in a second on a benchmark
store. Usage:
    python scripts/storage_breakdown.py ROOT
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def _tables(root: str) -> list[tuple[str, str]]:
    out = []
    for kind in ("data", "tables"):
        base = os.path.join(root, kind)
        if os.path.isdir(base):
            out += [(f"{kind}/{n}", os.path.join(base, n)) for n in sorted(os.listdir(base))]
    return out


def _walk(path: str):
    """Every file under ``path`` outside dot-prefixed staging dirs."""
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        for f in files:
            yield d, f


def breakdown(path: str) -> dict:
    """Byte accounting of one table dir."""
    cols: dict = defaultdict(lambda: {"dict": 0, "data": 0, "enc": set()})
    t = {"rows": 0, "files": 0, "footer": 0, "other": 0, "chunks": set()}
    for d, f in _walk(path):
        p = os.path.join(d, f)
        size = os.path.getsize(p)
        chunk = next((s for s in os.path.relpath(d, path).split(os.sep) if s.startswith("_chunk=")), None)
        if chunk:
            t["chunks"].add(chunk)
        if not f.endswith(".parquet"):
            t["other"] += size
            continue
        md = pq.ParquetFile(p).metadata
        t["rows"] += md.num_rows
        t["files"] += 1
        t["footer"] += md.serialized_size + 8
        in_cols = 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                dict_b = c.data_page_offset - c.dictionary_page_offset if c.has_dictionary_page else 0
                e = cols[c.path_in_schema]
                e["dict"] += dict_b
                e["data"] += c.total_compressed_size - dict_b
                e["enc"].update(c.encodings)
                in_cols += c.total_compressed_size
        t["other"] += size - in_cols - md.serialized_size - 8
    t["cols"] = dict(cols)
    t["chunks"] = len(t["chunks"])
    t["bytes"] = t["footer"] + t["other"] + sum(e["dict"] + e["data"] for e in cols.values())
    return t


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        return 2
    root = argv[0]
    total_bytes = total_rows = 0
    for name, path in _tables(root):
        t = breakdown(path)
        n = max(1, t["rows"])
        per_chunk = t["files"] / t["chunks"] if t["chunks"] else float(t["files"])
        print(
            f"{name}: {t['rows']} rows, {t['files']} files, {t['chunks']} chunks, "
            f"{per_chunk:.2f} files/chunk, {t['bytes']} B, {t['bytes'] / n:.2f} B/row"
        )
        for c, e in sorted(t["cols"].items()):
            print(
                f"  {c:<20} dict {e['dict'] / n:7.2f}  data {e['data'] / n:7.2f} B/row"
                f"  [{','.join(sorted(e['enc']))}]"
            )
        print(f"  {'(footers)':<20} {t['footer'] / n:.2f} B/row")
        print(f"  {'(other)':<20} {t['other'] / n:.2f} B/row")
        total_bytes += t["bytes"]
        total_rows += t["rows"]
    catalog = sum(
        os.path.getsize(os.path.join(d, f))
        for d, f in _walk(root)
        if not d.startswith((os.path.join(root, "data"), os.path.join(root, "tables")))
    )
    print(f"total: {total_bytes} B in tables, {catalog} B catalog, {total_rows} table rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
