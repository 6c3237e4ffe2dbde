"""Schema-drift guards.

Round 3/4 regression: the events parquet started surfacing ``ts`` as
TIMESTAMP_NTZ and three raw ``unix_micros`` call sites broke at analysis
time — but only in the driver gate, not locally. These tests pin the
normalized load_table contract and force plan *analysis* of every
registered query so any future drift fails in-round, cheaply (schema
resolution runs the analyzer without executing a job).
"""

import os

import pytest
from pyspark.sql import types as T

from timescaledb_spark.queries import oracle_sql, queries
from timescaledb_spark.sources import load_table

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.exists(os.path.join(d, "events.parquet"))
]


@pytest.mark.parametrize("sf", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
def test_events_ts_is_session_timestamp(spark, sf):
    df = load_table(spark, sf, "events")
    ts_type = df.schema["ts"].dataType
    assert isinstance(ts_type, T.TimestampType), (
        f"load_table must normalize events.ts to TimestampType "
        f"(internal int64-µs unit); got {ts_type} at {sf}"
    )


def test_all_queries_analyze(spark, sf_dir):
    """Every registered query must at least pass Catalyst analysis —
    ``df.schema`` resolves the plan without running a job, so an
    AnalysisException (wrong type, missing column) surfaces here even
    for queries currently rotated outside the driver window."""
    failures = {}
    for name, fn in queries().items():
        try:
            fn(spark, sf_dir).schema  # noqa: B018 — forces analysis
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {e}"
    assert not failures, f"queries failing analysis: {failures}"


#: non-SQL-expressible ops: the driver runs a rows-only check for
#: these, and their correctness lives in dedicated tests instead —
#: keep this list deliberate and short, and document WHY per entry
# empty since round 7 (q_lttb gained a recursive-CTE oracle): every
# registered query has a DuckDB oracle; keep the guard so a future
# oracle-less query must be exempted HERE with a written justification
ROWS_ONLY_EXEMPT: set = set()


def test_every_query_has_oracle_or_documented_exemption():
    qs, os_ = queries(), oracle_sql()
    missing = sorted(set(qs) - set(os_) - ROWS_ONLY_EXEMPT)
    assert missing == [], f"queries without oracle SQL: {missing}"
    stale = sorted(ROWS_ONLY_EXEMPT - set(qs) | ROWS_ONLY_EXEMPT & set(os_))
    assert stale == [], f"stale exemptions: {stale}"
