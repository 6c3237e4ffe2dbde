#!/usr/bin/env python
"""Oracle-check a named subset of gates (same protocol as local_mirror).

Usage: python scripts/check_gates.py q_name1 q_name2 ...
"""

from __future__ import annotations

import os
import sys

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

    names = sys.argv[1:]
    spark = build_spark(app_name="ts_check_gates")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs, osql = queries(), oracle_sql()
    bad = 0
    for name in names:
        fn = qs[name]
        df = fn(spark, SF_DIR)
        scols, srows = spark_rows(df)
        sql = osql.get(name)
        if sql is None:
            print(f"{name} rows_only spark_rows={len(srows)}")
            continue
        dcols, drows = duck_rows(con, sql)
        hm = canon_rows(scols, srows) == canon_rows(dcols, drows)
        sm = sorted(scols) == sorted(dcols)
        print(
            f"{name} hash_match={hm} schema_match={sm} "
            f"spark_rows={len(srows)} oracle_rows={len(drows)}"
        )
        if not (hm and sm):
            bad += 1
        spark.catalog.clearCache()
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
