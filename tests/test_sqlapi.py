"""SQL surface tests: macro parity with the Column API, DuckDB oracles,
chunk pruning, and the gapfill statement path."""

import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.functions.time import (
    time_bucket,
    time_bucket_int,
    time_bucket_int_sql,
    time_bucket_sql,
)
from timescaledb_spark.session import TSSession
from timescaledb_spark.sources import load_table
from timescaledb_spark.sqlapi import extract_time_bounds, rewrite_sql

from .oracle import assert_match, canon_rows, spark_rows


@pytest.fixture(scope="module")
def ts(spark, tmp_path_factory, sf_dir):
    s = TSSession(spark, str(tmp_path_factory.mktemp("ts_sql")))
    ht = s.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    return s


# ---------------------------------------------------------------------------
# macro parity: SQL text generator vs Column function (same rows out)
# ---------------------------------------------------------------------------

BUCKET_CASES = [
    dict(width="1 hour"),
    dict(width="5 minutes"),
    dict(width="1 day"),
    dict(width="1 week"),
    dict(width="1 month"),
    dict(width="3 months"),
    dict(width="1 day", origin="2024-01-05"),
    dict(width="1 hour", offset="17 minutes"),
    dict(width="1 day", timezone="America/New_York"),
    dict(width="1 month", timezone="Asia/Kolkata"),
    dict(width="1 week", origin="2024-01-02", offset="90 seconds"),
]


@pytest.mark.parametrize("case", BUCKET_CASES)
def test_time_bucket_sql_parity(spark, sf_dir, case):
    ev = load_table(spark, sf_dir, "events")
    col = time_bucket(case["width"], "ts", origin=case.get("origin"),
                      offset=case.get("offset"), timezone=case.get("timezone"))
    sql = time_bucket_sql(case["width"], "ts", origin=case.get("origin"),
                          offset=case.get("offset"), timezone=case.get("timezone"))
    df = ev.select(
        col.alias("a"), F.expr(sql).alias("b")
    ).filter("a IS DISTINCT FROM b")
    assert df.count() == 0, f"divergence for {case}: {df.first()}"


def test_time_bucket_int_sql_parity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        time_bucket_int(250, "user_id", offset=13).alias("a"),
        F.expr(time_bucket_int_sql(250, "user_id", offset=13)).alias("b"),
    ).filter("a IS DISTINCT FROM b")
    assert df.count() == 0


# ---------------------------------------------------------------------------
# rewriter unit behavior
# ---------------------------------------------------------------------------

def test_rewrite_first_last():
    out = rewrite_sql("SELECT first(v, t) AS a, last(v, t) AS b FROM x")
    assert "min_by(v, t)" in out and "max_by(v, t)" in out


def test_rewrite_spark_first_untouched():
    out = rewrite_sql("SELECT first(v, true) AS a FROM x")
    assert "first(v, true)" in out


def test_rewrite_nested_macros():
    out = rewrite_sql("SELECT last(time_bucket('1 hour', t), t) FROM x")
    assert "max_by" in out and "pmod" in out and "time_bucket" not in out


def test_rewrite_string_literals_protected():
    q = "SELECT 'time_bucket(''1 hour'', ts)' AS s FROM x"
    assert rewrite_sql(q) == q


def test_locf_outside_gapfill_raises():
    with pytest.raises(ValueError, match="time_bucket_gapfill"):
        rewrite_sql("SELECT locf(avg(v)) FROM x")


# ---------------------------------------------------------------------------
# bounds extraction (drives chunk pruning)
# ---------------------------------------------------------------------------

US = 1_000_000


def test_bounds_simple():
    lo, hi = extract_time_bounds(
        "SELECT * FROM events WHERE ts >= '2024-01-10' AND ts < '2024-01-20'",
        "events", "ts", set())
    assert lo == 1704844800 * US and hi == 1705708800 * US


def test_bounds_or_disables():
    lo, hi = extract_time_bounds(
        "SELECT * FROM events WHERE ts >= '2024-01-10' OR user_id = 3",
        "events", "ts", set())
    assert lo is None and hi is None


def test_bounds_other_alias_ignored():
    lo, hi = extract_time_bounds(
        "SELECT * FROM events e JOIN clicks c ON e.id=c.id WHERE c.ts >= '2024-01-10'",
        "events", "ts", {"e"})
    assert lo is None and hi is None


def test_bounds_between_and_qualified():
    lo, hi = extract_time_bounds(
        "SELECT * FROM events e WHERE e.ts BETWEEN '2024-01-10' AND '2024-01-20'",
        "events", "ts", {"e"})
    assert lo == 1704844800 * US and hi == 1705708800 * US + 1


def test_bounds_not_disables():
    """NOT (ts > x) inverts the range — extraction must bail, a
    pruned-superset claim only holds for un-negated conjuncts."""
    lo, hi = extract_time_bounds(
        "SELECT * FROM events WHERE NOT (ts > '2024-01-10')",
        "events", "ts", set())
    assert lo is None and hi is None


def test_bounds_case_projection_disables():
    """A comparison inside a SELECT-list CASE is not a filter."""
    from timescaledb_spark.sqlapi import extract_numeric_bounds

    lo, hi = extract_numeric_bounds(
        "SELECT sum(CASE WHEN value > 100 THEN 1 END) FROM events",
        "events", "value", set())
    assert lo is None and hi is None


def test_bounds_boolean_projection_disables():
    from timescaledb_spark.sqlapi import extract_numeric_bounds

    lo, hi = extract_numeric_bounds(
        "SELECT value > 100 AS flag FROM events", "events", "value", set())
    assert lo is None and hi is None


def test_bounds_no_where_disables():
    from timescaledb_spark.sqlapi import extract_numeric_bounds

    lo, hi = extract_numeric_bounds(
        "SELECT value FROM events", "events", "value", set())
    assert lo is None and hi is None


def test_bounds_is_not_null_still_extracts():
    """IS NOT NULL never wraps a comparison — must not trip the NOT
    guard."""
    lo, hi = extract_time_bounds(
        "SELECT * FROM events WHERE value IS NOT NULL AND ts >= '2024-01-10'",
        "events", "ts", set())
    assert lo == 1704844800 * US


def test_bounds_having_disables():
    from timescaledb_spark.sqlapi import extract_numeric_bounds

    lo, hi = extract_numeric_bounds(
        "SELECT k, count(*) FROM events WHERE k > 0 GROUP BY k "
        "HAVING max(value) > 100",
        "events", "value", set())
    assert lo is None and hi is None


def test_bounds_where_fragment_mode():
    """Gapfill/DML pass bare WHERE fragments (no SELECT/WHERE keyword)."""
    lo, hi = extract_time_bounds(
        "ts >= '2024-01-10' AND ts < '2024-01-20'", "", "ts", set())
    assert lo == 1704844800 * US and hi == 1705708800 * US


def test_space_keys_case_disables():
    from timescaledb_spark.sqlapi import extract_space_keys

    keys = extract_space_keys(
        "SELECT sum(CASE WHEN device = 'a' THEN 1 END) FROM events",
        "events", "device", set())
    assert keys is None


# ---------------------------------------------------------------------------
# end-to-end vs DuckDB oracle
# ---------------------------------------------------------------------------

def test_sql_bucket_agg_oracle(ts, duck):
    df = ts.sql("""
        SELECT time_bucket(INTERVAL '1 day', ts) AS bucket,
               count(*) AS n, sum(value) AS sum_v,
               first(value, event_id) AS first_v, last(value, event_id) AS last_v
        FROM events
        WHERE ts >= '2024-01-05' AND ts < '2024-01-25'
        GROUP BY bucket
    """)
    assert_match(df, duck, """
        SELECT make_timestamp(epoch_us(ts) - ((epoch_us(ts) - 946857600000000) % 86400000000 + 86400000000) % 86400000000) AS bucket,
               count(*) AS n, sum(value) AS sum_v,
               arg_min(value, event_id) AS first_v, arg_max(value, event_id) AS last_v
        FROM events
        WHERE ts >= '2024-01-05' AND ts < '2024-01-25'
        GROUP BY bucket
    """)


def test_sql_histogram_oracle(ts, duck):
    df = ts.sql("""
        SELECT event_type, histogram(value, 0, 100, 10) AS hist
        FROM events GROUP BY event_type
    """)
    scols, srows = spark_rows(df)
    dcols = ["event_type", "hist"]
    drows = duck.execute("""
        SELECT event_type,
               list(cnt ORDER BY slot) AS hist
        FROM (
          SELECT event_type, s.slot AS slot,
                 count(*) FILTER (
                   WHERE CASE WHEN value < 0 THEN 0
                              WHEN value >= 100 THEN 11
                              ELSE 1 + floor(value / 10)::int END = s.slot
                 )::int AS cnt
          FROM events, (SELECT unnest(range(12)) AS slot) s
          GROUP BY event_type, s.slot
        ) GROUP BY event_type
    """).fetchall()
    assert canon_rows(scols, srows) == canon_rows(dcols, drows)


def test_sql_gapfill_locf_oracle(ts, duck):
    df = ts.sql("""
        SELECT time_bucket_gapfill('6 hours', ts) AS bucket, event_type,
               locf(avg(value)) AS v
        FROM events
        WHERE ts >= '2024-01-08' AND ts < '2024-01-15'
        GROUP BY bucket, event_type
    """)
    assert_match(df, duck, """
        WITH spine AS (
          SELECT unnest(generate_series(
            TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-14 23:59:59',
            INTERVAL 6 HOUR)) AS bucket
        ), types AS (SELECT DISTINCT event_type FROM events),
        agg AS (
          SELECT make_timestamp(epoch_us(ts) - ((epoch_us(ts) - 946857600000000) % 21600000000 + 21600000000) % 21600000000) AS bucket,
                 event_type, avg(value) AS v
          FROM events
          WHERE ts >= '2024-01-08' AND ts < '2024-01-15'
          GROUP BY 1, 2
        )
        SELECT s.bucket AS bucket, t.event_type,
               coalesce(a.v, lag(a.v IGNORE NULLS) OVER (
                 PARTITION BY t.event_type ORDER BY s.bucket)) AS v
        FROM spine s CROSS JOIN types t
        LEFT JOIN agg a ON a.bucket = s.bucket AND a.event_type = t.event_type
    """)


def test_sql_insert_and_prune_plan(ts):
    before = ts.sql("SELECT count(*) AS n FROM events").first()["n"]
    res = ts.sql(
        "INSERT INTO events SELECT * FROM events WHERE ts >= '2024-01-10' AND ts < '2024-01-11'"
    ).first()
    # keyed dedup on insert: re-inserting existing event_ids replaces rows
    after = ts.sql("SELECT count(*) AS n FROM events").first()["n"]
    assert res["rows_inserted"] > 0
    assert after >= before

    pruned = ts.sql(
        "SELECT count(*) AS n FROM events WHERE ts >= '2024-01-10' AND ts < '2024-01-20'"
    )
    from timescaledb_spark.plans.inspect import scanned_paths

    full = ts.sql("SELECT count(*) AS n FROM events")
    assert 0 < scanned_paths(pruned) < scanned_paths(full)


def test_sql_approximate_row_count(ts):
    n = ts.sql("SELECT approximate_row_count('events') AS n").first()["n"]
    real = ts.sql("SELECT count(*) AS n FROM events").first()["n"]
    assert n == real


def test_uuid_sql_macros_parity(spark, sf_dir):
    from timescaledb_spark.functions.uuid7 import (
        to_uuidv7,
        uuid_timestamp_micros,
        uuid_version,
    )
    from timescaledb_spark.sources import load_table as _lt

    ev = _lt(spark, sf_dir, "events").select(
        to_uuidv7("ts", seed="event_id").alias("u")
    )
    ev.createOrReplaceTempView("_uuid_probe")
    df = spark.sql(rewrite_sql(
        "SELECT u, uuid_timestamp(u) AS t, uuid_version(u) AS v, "
        "time_bucket_uuid('1 hour', u) AS b FROM _uuid_probe"
    ))
    chk = df.join(ev, "u").select(
        (F.col("t") == F.timestamp_micros(uuid_timestamp_micros("u"))).alias("t_ok"),
        (F.col("v") == uuid_version("u")).alias("v_ok"),
        (F.col("b") == time_bucket("1 hour", F.timestamp_micros(uuid_timestamp_micros("u")))).alias("b_ok"),
    )
    bad = chk.filter(~(F.col("t_ok") & F.col("v_ok") & F.col("b_ok"))).count()
    assert bad == 0


def test_insert_values_with_column_list(spark, tmp_path_factory):
    s = TSSession(spark, str(tmp_path_factory.mktemp("ts_ins")))
    ht = s.create_hypertable("m2", "ts", chunk_interval="1 day")
    seed = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1, 1.0)], "ts string, device int, value double"
    ).select(F.col("ts").cast("timestamp"), "device", "value")
    ht.insert(seed)
    r = s.sql(
        "INSERT INTO m2 (ts, device, value) VALUES "
        "(TIMESTAMP '2024-01-02 01:00:00', 2, 2.5), "
        "(TIMESTAMP '2024-01-02 02:00:00', 3, 3.5)"
    ).first()
    assert r["rows_inserted"] == 2
    assert s.sql("SELECT count(*) AS n FROM m2").first()["n"] == 3
    # added column missing from an INSERT is filled with its default
    ht.add_column("site", "string", default="eu")
    s.sql(
        "INSERT INTO m2 (ts, device, value) VALUES (TIMESTAMP '2024-01-03 00:00:00', 4, 4.0)"
    ).collect()
    assert s.sql("SELECT count(*) AS n FROM m2 WHERE site = 'eu'").first()["n"] == 4


def test_stats_accessor_macros(ts):
    """Toolkit two-step idiom accessor(stats_agg(..)) expands to single
    built-in aggregates; colliding names (sum/stddev/corr) only rewrite
    when wrapping stats_agg."""
    r = ts.sql(
        "SELECT average(stats_agg(value)) AS a, sum(stats_agg(value)) AS s, "
        "kurtosis(stats_agg(value)) AS k, "
        "x_intercept(stats_agg(value, unix_micros(ts)/1e6)) AS xi, "
        "determination_coefficient(stats_agg(value, unix_micros(ts)/1e6)) AS r2 "
        "FROM events"
    ).collect()[0]
    plain = ts.sql(
        "SELECT avg(value) AS a, sum(value) AS s, kurtosis(value) AS k FROM events"
    ).collect()[0]
    assert r["a"] == plain["a"] and r["s"] == plain["s"] and r["k"] == plain["k"]
    assert r["r2"] is not None and r["xi"] is not None


def test_stats_accessor_arity_error(ts):
    import pytest as _pt

    with _pt.raises(ValueError):
        ts.sql("SELECT slope(stats_agg(value)) FROM events")


def test_approx_percentile_macro(ts):
    r = ts.sql(
        "SELECT approx_percentile(0.5, percentile_agg(value)) AS p FROM events"
    ).collect()[0]
    p = ts.sql(
        "SELECT percentile(value, 0.5) AS p FROM events"
    ).collect()[0]
    assert r["p"] == p["p"]


def test_sql_stats_column_chunk_skipping(spark, tmp_path):
    """WHERE bounds on a stat-tracked column (enable_chunk_skipping)
    prune chunks in the SQL path, like the where_stats API arg: only
    chunks whose recorded min/max overlap the predicate are scanned."""
    from pyspark.sql import functions as F

    from timescaledb_spark.plans.inspect import scanned_paths

    s = TSSession(spark, str(tmp_path / "skipsql"))
    ht = s.create_hypertable("m", "ts", chunk_interval="1 day")
    # value correlates with day: day d holds values [100d, 100d+24)
    df = spark.range(5 * 24).select(
        F.timestamp_micros(
            (F.lit(1704067200000000) + F.col("id") * 3_600_000_000).cast("long")
        ).alias("ts"),
        (F.floor(F.col("id") / 24) * 100 + F.pmod(F.col("id"), F.lit(24))).cast(
            "double"
        ).alias("value"),
    )
    ht.insert(df)
    ht.enable_chunk_skipping("value")
    full = s.sql("SELECT count(*) AS n FROM m").collect()[0]["n"]
    assert full == 120
    q = "SELECT count(*) AS n FROM m WHERE value >= 200 AND value < 230"
    # correctness: rows from day 2 only
    assert s.sql(q).collect()[0]["n"] == 24
    # plan shape: the registered view scanned only the overlapping chunk
    pruned = s.sql(q)
    assert scanned_paths(pruned) <= 2  # 1 chunk (+1 tolerance for stats)


def test_pruning_skips_arithmetic_rhs(ts):
    """Review fix: 'ts >= literal - interval' must not prune on the bare
    literal (over-tight bound would silently drop rows)."""
    full = ts.sql("SELECT count(*) AS n FROM events").first()["n"]
    n = ts.sql(
        "SELECT count(*) AS n FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-10' - INTERVAL '9 days'"
    ).first()["n"]
    want = ts.sql(
        "SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-01'"
    ).first()["n"]
    assert n == want == full  # data starts 2024-01-01


def test_self_join_not_pruned_by_one_alias(ts):
    """Review fix: a bound on one alias of a self-joined hypertable must
    not prune the other alias's scan."""
    rows = ts.sql(
        "SELECT count(*) AS n FROM events a JOIN events b "
        "ON a.event_id = b.event_id WHERE a.ts >= TIMESTAMP '2024-01-20'"
    ).first()["n"]
    want = ts.sql(
        "SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-20'"
    ).first()["n"]
    assert rows == want  # every late row still finds its b-side match


def test_comma_self_join_not_pruned(ts):
    """Advice fix (r9): the comma-list self-join spelling must disable
    pruning just like the JOIN spelling — the old counter only saw
    `from|join <name>` and pruned the shared view from a's bound."""
    rows = ts.sql(
        "SELECT count(*) AS n FROM events a, events b "
        "WHERE a.event_id = b.event_id AND a.ts >= TIMESTAMP '2024-01-20'"
    ).first()["n"]
    want = ts.sql(
        "SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-20'"
    ).first()["n"]
    assert rows == want


def test_select_list_comma_does_not_disable_pruning(ts):
    """The comma branch of the self-join counter must not misfire on a
    qualified column ref after a select-list comma — pruning stays on."""
    from timescaledb_spark.plans.inspect import scanned_paths

    df = ts.sql(
        "SELECT max(events.value) AS m, min(events.value), events.user_id "
        "FROM events WHERE events.ts >= TIMESTAMP '2024-01-25' "
        "GROUP BY events.user_id"
    )
    full = ts.sql("SELECT count(*) FROM events")
    assert scanned_paths(df) < scanned_paths(full)


def test_temp_views_are_dropped(ts):
    before = {v.name for v in ts.spark.catalog.listTables() if v.isTemporary}
    for _ in range(3):
        ts.sql("SELECT count(*) FROM events").collect()
    after = {v.name for v in ts.spark.catalog.listTables() if v.isTemporary}
    assert not {v for v in after - before if v.startswith("_ts_sql_")}


def test_insert_partial_columns_into_declared_table(ts):
    ts.sql("CREATE TABLE dims (id INT, name TEXT, w DOUBLE)")
    ts.sql("INSERT INTO dims (id) VALUES (1)").collect()
    r = ts.sql("SELECT * FROM dims").first()
    assert r["id"] == 1 and r["name"] is None and r["w"] is None


# ---------------------------------------------------------------------------
# EXPLAIN (plan transparency: ChunkAppend "chunks excluded" analog)
# ---------------------------------------------------------------------------


def test_explain_reports_chunk_exclusion(ts):
    out = ts.sql(
        "EXPLAIN SELECT count(*) AS n FROM events "
        "WHERE ts >= '2024-01-10' AND ts < '2024-01-20'"
    ).collect()
    lines = [r["plan_line"] for r in out]
    hdr = [l for l in lines if l.startswith("Hypertable events:")]
    assert len(hdr) == 1
    m = re.search(r"total=(\d+) scanned=(\d+) excluded=(\d+)", hdr[0])
    total, scanned, excluded = (int(g) for g in m.groups())
    assert total == scanned + excluded
    assert 0 < scanned < total  # the time predicate pruned something
    # the physical plan itself is included
    assert any("HashAggregate" in l or "Scan parquet" in l for l in lines)


def test_explain_unfiltered_scans_everything(ts):
    hdr = [
        r["plan_line"]
        for r in ts.sql("EXPLAIN SELECT count(*) AS n FROM events").collect()
        if r["plan_line"].startswith("Hypertable events:")
    ][0]
    assert "excluded=0" in hdr


def test_explain_refuses_dml(ts):
    with pytest.raises(ValueError, match="SELECT/WITH"):
        ts.sql("EXPLAIN DELETE FROM events WHERE ts < '2024-01-02'")


def test_explain_realtime_cagg_header(spark, sf_dir, tmp_path):
    """r9 (VERDICT #4): EXPLAIN over a realtime cagg annotates the
    mat/raw union split with the baked watermark literal and reports
    chunk exclusion on BOTH sides (parity with the reference's cagg
    EXPLAIN goldens, tsl/test/sql/cagg_union_view.sql)."""
    from timescaledb_spark.session import TSSession
    from timescaledb_spark.sources import load_table

    s = TSSession(spark, str(tmp_path / "ts_cagg_explain"))
    ht = s.create_hypertable("events", "ts", chunk_interval="7 days")
    ht.insert(load_table(spark, sf_dir, "events"))
    s.create_cagg(
        "ev_daily", "events", bucket_width="1 day", aggs={"n": "count(1)"}
    )
    s.get_cagg("ev_daily").refresh()
    lines = [
        r["plan_line"]
        for r in s.sql("EXPLAIN SELECT * FROM ev_daily").collect()
    ]
    hdr = [l for l in lines if l.startswith("Cagg ev_daily")]
    assert len(hdr) == 1
    assert "realtime union" in hdr[0]
    assert re.search(r"watermark \d{4}-\d{2}-\d{2} ", hdr[0])
    assert "bucket < watermark" in hdr[0] and ">= watermark" in hdr[0]
    # both sides carry a chunk-exclusion triple
    assert len(re.findall(r"total=\d+ scanned=\d+ excluded=\d+", hdr[0])) == 2
    # materialized-only mode is annotated distinctly
    s.get_cagg("ev_daily").set_materialized_only(True)
    hdr2 = [
        r["plan_line"]
        for r in s.sql("EXPLAIN SELECT * FROM ev_daily").collect()
        if r["plan_line"].startswith("Cagg ev_daily")
    ]
    assert len(hdr2) == 1 and "materialized-only" in hdr2[0]


def test_insert_returning(spark, tmp_path_factory):
    """INSERT .. RETURNING (round 14; test/sql/insert_returning.sql):
    * returns the inserted rows post-cast; an expression list evaluates
    over them; a string literal containing 'returning' doesn't split."""
    import datetime

    s = TSSession(spark, str(tmp_path_factory.mktemp("ts_ret")))
    s.sql(
        "CREATE TABLE r (ts TIMESTAMPTZ NOT NULL, v DOUBLE PRECISION) "
        "WITH (tsdb.hypertable, tsdb.partition_column='ts', "
        "tsdb.chunk_interval='7 days')"
    )
    rows = s.sql(
        "INSERT INTO r VALUES (TIMESTAMP '2024-01-01', 1.5), "
        "(TIMESTAMP '2024-01-02', 2.5) RETURNING *"
    ).collect()
    assert sorted((r["ts"].day, r["v"]) for r in rows) == [
        (1, 1.5), (2, 2.5)
    ]
    rows = s.sql(
        "INSERT INTO r (ts, v) VALUES (TIMESTAMP '2024-01-03', 3.0) "
        "RETURNING v * 2 AS dbl"
    ).collect()
    assert [r["dbl"] for r in rows] == [6.0]
    assert s.get_hypertable("r").df().count() == 3

    s.sql(
        "CREATE TABLE rs (ts TIMESTAMPTZ NOT NULL, t TEXT) "
        "WITH (tsdb.hypertable, tsdb.partition_column='ts', "
        "tsdb.chunk_interval='7 days')"
    )
    out = s.sql(
        "INSERT INTO rs VALUES (TIMESTAMP '2024-01-01', "
        "'not returning anything')"
    ).collect()
    assert out[0]["rows_inserted"] == 1
    assert s.get_hypertable("rs").df().collect()[0]["t"] == (
        "not returning anything"
    )
