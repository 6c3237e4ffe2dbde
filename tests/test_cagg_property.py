"""The cagg correctness property (SURVEY §7 phase 3, the isolation-test
analog): for ANY sequence of inserts / range-deletes / partial
refreshes, a final refresh makes the materialized table equal the full
re-aggregation of the table's current contents — the invalidation
protocol may defer work but never loses or double-counts a dirty range.
"""

import tempfile

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession

T0_US = 1704067200000000
HOUR_US = 3_600_000_000

# op space: hours 0..199 over a 1-day-chunk hypertable with 1-day buckets
_INSERT = st.tuples(
    st.just("insert"), st.integers(0, 180), st.integers(1, 30), st.integers(0, 9)
)
_DELETE = st.tuples(st.just("delete"), st.integers(0, 180), st.integers(1, 48))
_REFRESH = st.tuples(st.just("refresh"), st.integers(0, 180), st.integers(1, 100))
_OPS = st.lists(st.one_of(_INSERT, _DELETE, _REFRESH), min_size=1, max_size=5)


def _rows(spark, start_h, n_h, tag):
    return spark.range(n_h).select(
        F.timestamp_micros(
            (F.lit(T0_US) + (F.col("id") + start_h) * HOUR_US).cast("long")
        ).alias("ts"),
        (F.col("id") + tag).cast("double").alias("v"),
    )


def test_delete_after_refresh_invalidates(spark):
    """Deterministic regression for the delete-after-refresh interleaving:
    a row-level delete below the watermark must dirty the range so the
    next refresh shrinks the materialized bucket (DML invalidation,
    tsl/src/continuous_aggs/insert.c) — while drop_chunks, by contrast,
    preserves cagg contents."""
    root = tempfile.mkdtemp(prefix="ts_delinv_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("d", "ts", chunk_interval="1 day")
    ht.insert(_rows(spark, 0, 48, 0))
    cagg = ts.create_cagg("dd", "d", bucket_width="1 day", aggs={"n": "count(1)"})
    cagg.refresh()
    assert {r["n"] for r in cagg.read(realtime=False).collect()} == {24}
    # delete 6 hours inside day 0 (already materialized, below watermark)
    ht.delete_range(T0_US + 6 * HOUR_US, T0_US + 12 * HOUR_US)
    cagg.refresh()
    got = {
        r["bucket"].isoformat(): r["n"] for r in cagg.read(realtime=False).collect()
    }
    assert got["2024-01-01T00:00:00"] == 18
    assert got["2024-01-02T00:00:00"] == 24
    # retention via drop_chunks keeps the aggregate (downsample-then-retain)
    ht.drop_chunks(older_than=T0_US + 24 * HOUR_US)
    cagg.refresh()
    got = {
        r["bucket"].isoformat(): r["n"] for r in cagg.read(realtime=False).collect()
    }
    assert got["2024-01-01T00:00:00"] == 18  # preserved despite raw data gone


@settings(max_examples=6, deadline=None)
@given(ops=_OPS)
# every row deleted after a refresh: the final open-ended refresh over
# the emptied table must still drop the stale materialized day
@example(ops=[("refresh", 0, 24), ("delete", 0, 24)])
def test_any_dml_sequence_converges(spark, ops):
    root = tempfile.mkdtemp(prefix="ts_prop_")
    ts = TSSession(spark, root)
    ht = ts.create_hypertable("p", "ts", chunk_interval="1 day")
    ht.insert(_rows(spark, 0, 24, 0))  # seed so the cagg has data
    cagg = ts.create_cagg(
        "pd", "p", bucket_width="1 day",
        aggs={"n": "count(1)", "sum_v": "sum(v)"},
    )
    for op in ops:
        if op[0] == "insert":
            _, start_h, n_h, tag = op
            ht.insert(_rows(spark, start_h, n_h, tag))
        elif op[0] == "delete":
            _, lo_h, span = op
            ht.delete_range(T0_US + lo_h * HOUR_US, T0_US + (lo_h + span) * HOUR_US)
        else:
            _, lo_h, span = op
            cagg.refresh(
                start=T0_US + lo_h * HOUR_US, end=T0_US + (lo_h + span) * HOUR_US
            )
    cagg.refresh()  # final full refresh must converge
    got = {
        r["bucket"].isoformat(): (r["n"], r["sum_v"])
        for r in cagg.read(realtime=False).collect()
        if r["n"] > 0
    }
    want = {
        r["b"].isoformat(): (r["n"], r["sum_v"])
        for r in ht.df()
        .groupBy(F.date_trunc("day", "ts").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want, f"ops={ops}"
    # realtime view agrees too once fully refreshed
    rt = {
        r["bucket"].isoformat(): (r["n"], r["sum_v"])
        for r in cagg.read(realtime=True).collect()
        if r["n"] > 0
    }
    assert rt == want, f"realtime mismatch ops={ops}"
