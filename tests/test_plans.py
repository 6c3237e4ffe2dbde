"""Plan-shape assertions: chunk exclusion, filter pushdown, column
pruning, broadcast joins — the EXPLAIN-golden analog (SURVEY §4)."""

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.plans import (
    broadcast_join_count,
    cartesian_count,
    pushed_filters,
    read_schema_columns,
    scanned_paths,
    shuffle_count,
)
from timescaledb_spark.queries import queries
from timescaledb_spark.session import TSSession

T0_US = 1704067200000000


@pytest.fixture()
def ht(spark, tmp_path):
    ts = TSSession(spark, str(tmp_path / "ts"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="1 day")
    df = spark.range(10 * 24).select(
        F.timestamp_micros(
            (F.lit(T0_US) + F.col("id") * 3600 * 1_000_000).cast("long")
        ).alias("ts"),
        (F.col("id") % 4).cast("int").alias("device"),
        F.col("id").cast("double").alias("value"),
    )
    ht.insert(df)
    return ht


def test_chunk_exclusion_prunes_paths(ht):
    full = ht.df()
    assert scanned_paths(full) == 10
    pruned = ht.read(start="2024-01-03", end="2024-01-06")
    assert scanned_paths(pruned) == 3
    assert pruned.count() == 72


def test_time_predicate_reaches_parquet_scan(ht):
    pruned = ht.read(start="2024-01-03", end="2024-01-06")
    pf = " ".join(pushed_filters(pruned))
    assert "GreaterThanOrEqual(ts" in pf and "LessThan(ts" in pf


def test_column_pruning(ht):
    df = ht.read().select("device").groupBy("device").count()
    cols = read_schema_columns(df)
    assert "value" not in cols and "ts" not in cols


def test_tpch_q6_pushdown(tsdata, sf_dir):
    df = queries()["q_tpch_q6"](tsdata, sf_dir)
    pf = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed: {pf}"
    cols = read_schema_columns(df)
    assert set(cols) == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_histogram_bounded_state(spark):
    # histogram() must aggregate with O(nbuckets) state (conditional sums),
    # never an O(rows-per-group) collect_list buffer (VERDICT r1 item 7).
    from timescaledb_spark.functions import histogram

    df = spark.range(100).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("double").alias("v")
    )
    agg = df.groupBy("g").agg(histogram("v", 0.0, 100.0, 10).alias("h"))
    plan = agg._jdf.queryExecution().toString()
    assert "collect_list" not in plan
    # partial + final hash aggregate, nothing else stateful
    assert plan.count("ObjectHashAggregate") == 0


def test_insert_scans_source_once(spark, tmp_path):
    # ingest stats ride the write job via observe() — a second stats scan
    # would double source cost at 100 TB (VERDICT r1 item 6)
    from pyspark.sql.functions import udf

    acc = spark.sparkContext.accumulator(0)

    @udf("long")
    def tick(x):
        acc.add(1)
        return x

    ts = TSSession(spark, str(tmp_path / "ts1"))
    ht = ts.create_hypertable("m1", "ts", chunk_interval="1 day")
    df = spark.range(48).select(
        F.timestamp_micros(
            (F.lit(T0_US) + tick(F.col("id")) * 3600 * 1_000_000).cast("long")
        ).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    stats = ht.insert(df)
    assert stats["rows"] == 48 and ht.df().count() == 48
    assert acc.value == 48, f"source evaluated {acc.value / 48:.1f}x"


def test_embedding_lsh_no_cartesian(tsdata, sf_dir):
    # the scale tier of embedding dedup must never cross-join the corpus
    # (VERDICT r1 item 3); its O(n²) sibling is the verification baseline
    df = queries()["q_dedup_embedding_lsh"](tsdata, sf_dir)
    assert cartesian_count(df) == 0
    baseline = queries()["q_dedup_embedding"](tsdata, sf_dir)
    assert cartesian_count(baseline) >= 1  # sanity: the detector detects


def test_broadcast_dims_no_extra_shuffle(tsdata, sf_dir):
    df = queries()["q_revenue_by_nation"](tsdata, sf_dir)
    assert broadcast_join_count(df) >= 2  # customer + nation broadcast
    # lineitem is shuffled once for the orders join and once for the agg;
    # broadcasting the dims must not add more
    assert shuffle_count(df) <= 4


def test_tpch_q5_broadcast_chain(tsdata, sf_dir):
    # region→nation→supplier collapses into broadcast builds; customer is
    # broadcast too — the only big exchange is lineitem⋈orders + the agg
    df = queries()["q_tpch_q5"](tsdata, sf_dir)
    assert broadcast_join_count(df) >= 3
    assert shuffle_count(df) <= 3
    assert cartesian_count(df) == 0


def test_srf_unnest_single_shuffle(tsdata, sf_dir):
    # explode + count: one scan, one hash shuffle on the word key
    df = queries()["q_srf_unnest"](tsdata, sf_dir)
    assert shuffle_count(df) <= 1
    assert read_schema_columns(df) == ["text"]


def test_json_props_column_pruning(tsdata, sf_dir):
    # the JSON extraction filter must not widen the scan beyond the two
    # referenced columns
    df = queries()["q_json_props"](tsdata, sf_dir)
    assert set(read_schema_columns(df)) == {"event_type", "props"}


# ---------------------------------------------------------------------------
# SQL surface: same plans as the DataFrame API (sqlapi.py macro expansion)
# ---------------------------------------------------------------------------

def test_sql_surface_plan_shapes(ht):
    ts = ht.ts
    # chunk exclusion driven by the statement's WHERE clause
    pruned = ts.sql(
        "SELECT count(*) AS n FROM m WHERE ts >= '2024-01-03' AND ts < '2024-01-06'"
    )
    assert scanned_paths(pruned) == 3
    # macro expansion emits built-in expressions only: no BatchEvalPython /
    # ArrowEvalPython stage anywhere in the plan
    df = ts.sql(
        "SELECT time_bucket('1 hour', ts) AS b, first(value, ts) AS f, "
        "histogram(value, 0, 100, 5) AS h FROM m GROUP BY b"
    )
    from timescaledb_spark.plans.inspect import _plan

    plan = _plan(df)
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    # one shuffle for the aggregation, none extra from the macros
    assert shuffle_count(df) <= 2


def test_sql_join_broadcasts_dim(ht, spark):
    ts = ht.ts
    dim = spark.range(4).select(
        F.col("id").cast("int").alias("device"),
        F.concat(F.lit("seg"), (F.col("id") % 2).cast("string")).alias("seg"),
    )
    ts.create_table("devdim", dim)
    df = ts.sql(
        "SELECT time_bucket('1 day', m.ts) AS b, d.seg, sum(m.value) AS s "
        "FROM m JOIN devdim d ON m.device = d.device "
        "WHERE m.ts >= '2024-01-02' AND m.ts < '2024-01-08' "
        "GROUP BY b, seg"
    )
    assert broadcast_join_count(df) >= 1
    assert cartesian_count(df) == 0
    # 6 surviving chunk dirs + the broadcast dim table's single file
    assert scanned_paths(df) == 7


def test_sql_space_dimension_exclusion(spark, tmp_path):
    ts = TSSession(spark, str(tmp_path / "sp"))
    ht = ts.create_hypertable(
        "sm", "ts", chunk_interval="1 day", space_column="device", num_partitions=4
    )
    df = spark.range(4 * 24).select(
        F.timestamp_micros(
            (F.lit(T0_US) + F.col("id") * 3600 * 1_000_000).cast("long")
        ).alias("ts"),
        (F.col("id") % 8).cast("int").alias("device"),
        F.col("id").cast("double").alias("value"),
    )
    ht.insert(df)
    from timescaledb_spark.plans.inspect import _plan

    full = ts.sql("SELECT count(*) AS n FROM sm")
    one = ts.sql("SELECT count(*) AS n FROM sm WHERE device = 3")
    # pruned scan selects one _space=k sub-dir per chunk, the full scan
    # every sub-dir of every chunk
    assert "_space" in _plan(one).split("PartitionFilters:")[1].split("\n")[0]
    assert scanned_paths(one) == len(ht.chunks()) < scanned_paths(full)
    # correctness: the pruned scan still answers exactly
    assert one.first()["n"] == df.filter("device = 3").count()
    many = ts.sql("SELECT count(*) AS n FROM sm WHERE device IN (1, 3)")
    assert many.first()["n"] == df.filter("device in (1,3)").count()
    # OR disables extraction but never correctness
    safe = ts.sql("SELECT count(*) AS n FROM sm WHERE device = 3 OR value < 5")
    assert safe.first()["n"] == df.filter("device = 3 or value < 5").count()


def test_new_operator_plan_shapes(spark, sf_dir):
    """Shuffle discipline of the round-5 operators: the window+agg
    hyperfunction pairs share ONE exchange; the as-of and range joins
    never degrade to nested-loop/cartesian plans."""
    from timescaledb_spark.plans.inspect import _plan
    from timescaledb_spark.queries import queries

    qs = queries()
    for name, max_ex in (
        ("q_counter_agg", 1),
        ("q_time_weight", 1),
        ("q_asof_join", 2),  # one per union input feeding the carry window
    ):
        plan = _plan(qs[name](spark, sf_dir))
        n_ex = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        assert n_ex <= max_ex, f"{name}: {n_ex} exchanges (max {max_ex})"
        assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan

    plan = _plan(qs["q_range_join"](spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_ordered_limit_avoids_global_sort(ht):
    """SURVEY §4 item 4 (ordered append): the reference skips sorting
    time-disjoint chunks for ORDER BY time LIMIT n; Spark's equivalent is
    TakeOrderedAndProject — per-partition top-N merged on the driver, no
    range-repartition exchange."""
    from timescaledb_spark.plans.inspect import _plan

    plan = _plan(ht.read().orderBy("ts").limit(20))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_toolkit_stats_single_shuffle(tsdata, sf_dir):
    """stats/candlestick/percentile/gauge families: one hash exchange
    (the groupBy), zero joins/cartesians — the codegen composition the
    round-6 toolkit additions promise."""
    from timescaledb_spark.plans.inspect import _plan
    from timescaledb_spark.queries import queries

    qs = queries()
    spark = tsdata
    for name, max_ex in (
        ("q_stats_agg", 1),
        ("q_stats_regr", 1),
        ("q_candlestick", 1),
        ("q_percentile_agg", 1),
        ("q_gauge_agg", 1),
        # topn: agg on (by, value) then rank window on (by) — the second
        # exchange carries only post-aggregation (key, count) rows
        ("q_topn", 2),
    ):
        plan = _plan(qs[name](spark, sf_dir))
        n_ex = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        assert n_ex <= max_ex, f"{name}: {n_ex} exchanges (max {max_ex})"
        assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_tpch_q2_decorrelated_no_cartesian(tsdata, sf_dir):
    """Q2's correlated scalar-min must decorrelate: no cartesian
    product, dims broadcast."""
    df = queries()["q_tpch_q2"](tsdata, sf_dir)
    assert cartesian_count(df) == 0
    assert broadcast_join_count(df) >= 3


def test_tpch_q9_broadcasts_dims(tsdata, sf_dir):
    """Q9: part/supplier/nation broadcast; only lineitem->orders
    shuffles."""
    df = queries()["q_tpch_q9"](tsdata, sf_dir)
    assert cartesian_count(df) == 0
    assert broadcast_join_count(df) >= 3


def test_tpch_q16_anti_join_broadcasts(tsdata, sf_dir):
    """Q16's NOT IN blacklist must plan as a broadcast anti join, not a
    shuffled one — the blacklist is tiny."""
    df = queries()["q_tpch_q16"](tsdata, sf_dir)
    assert cartesian_count(df) == 0
    assert broadcast_join_count(df) >= 2


def test_tpch_q20_semi_join_no_cartesian(tsdata, sf_dir):
    df = queries()["q_tpch_q20"](tsdata, sf_dir)
    assert cartesian_count(df) == 0
    assert broadcast_join_count(df) >= 3


def test_cagg_refresh_scans_only_dirty_chunks(spark, tmp_path, monkeypatch):
    """Refresh is O(dirty range): every source scan the materialize pass
    issues must be chunk-pruned to the invalidated chunks, never the
    whole table (tsl/src/continuous_aggs/materialize.c:442 range-bound
    materialization)."""
    from timescaledb_spark.hypertable import Hypertable

    ts = TSSession(spark, str(tmp_path / "cgp"))
    ht = ts.create_hypertable("m2", "ts", chunk_interval="1 day")
    df = spark.range(10 * 24).select(
        F.timestamp_micros(
            (F.lit(T0_US) + F.col("id") * 3600 * 1_000_000).cast("long")
        ).alias("ts"),
        (F.col("id") % 4).cast("int").alias("device"),
        F.col("id").cast("double").alias("value"),
    )
    ht.insert(df)
    cagg = ts.create_cagg(
        "cg1", ht, bucket_width="1 hour", aggs={"n": "count(*)"}
    )
    cagg.refresh()
    assert len(ht.chunks()) == 10
    # late data dirties exactly one chunk (day 3)
    late = spark.createDataFrame(
        [("2024-01-03 05:30:00", 9, 1.0)], "ts string, device int, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ht.insert(late)

    reads = []
    orig = Hypertable.read

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        if self.name == "m2":
            reads.append(out)
        return out

    monkeypatch.setattr(Hypertable, "read", spy)
    ranges = cagg.refresh()
    assert ranges, "late insert must produce a dirty range"
    assert reads, "refresh must read the source hypertable"
    widths = [scanned_paths(r) for r in reads]
    # max-row probe reads 1 chunk; the dirty materialize scan reads the
    # invalidated chunk (±1 for a bucket straddling midnight) — a
    # full-table (10-path) scan here is the O(table) refresh bug
    assert max(widths) <= 2, f"refresh scanned {widths} chunk paths"
    # and the result converged
    got = cagg.read(realtime=False)
    assert got.filter(
        (F.col("bucket") == "2024-01-03 05:00:00") & (F.col("n") == 2)
    ).count() == 1


def test_quality_signals_zero_shuffle(tsdata, sf_dir):
    """Repetition signals and PII redaction are pure projections — a
    100 TB corpus must filter at scan speed with no exchange at all."""
    for name in ("q_text_repetition", "q_pii_redact"):
        df = queries()[name](tsdata, sf_dir)
        assert shuffle_count(df) == 0, name
        assert cartesian_count(df) == 0, name


def test_line_dedup_shuffle_budget(tsdata, sf_dir):
    """Corpus line dedup: spread + keeper agg + join + reassembly — at
    most 4 linear exchanges and never a cartesian product."""
    df = queries()["q_dedup_lines"](tsdata, sf_dir)
    assert shuffle_count(df) <= 4
    assert cartesian_count(df) == 0
    assert "text" in read_schema_columns(df)


def test_bm25_topk_plan(tsdata, sf_dir):
    """BM25 is single-source-scan (r9): the stats pass materializes the
    tokenized frame in the cache, so the scoring pass reads
    InMemoryTableScan — never a second corpus scan — and stays a pure
    projection + TakeOrderedAndProject (per-partition heaps, no global
    sort). The returned top-k is a materialized local relation, so the
    scoring plan is asserted via the module's debug hook."""
    from timescaledb_spark.pipeline import search

    df = queries()["q_bm25"](tsdata, sf_dir)
    assert df.count() > 0
    plan = search._LAST_SCORING_PLAN
    assert "TakeOrderedAndProject" in plan
    assert "InMemoryTableScan" in plan
    # pass 2 must not re-scan the corpus from source: everything above
    # the InMemoryRelation reads the cache (the relation's rendered
    # CHILD plan below that line is the already-executed pass 1)
    live = plan.split("InMemoryRelation")[0]
    assert "FileScan" not in live and "Scan parquet" not in live


def test_shuffle_count_excludes_reused_exchange(spark):
    """Advice fix (r9): a ReusedExchange line renders as
    ``ReusedExchange [...], Exchange hashpartitioning(...)`` — the
    embedded child text must not count as a second shuffle."""
    from timescaledb_spark.plans.inspect import _plan

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = (
            spark.range(100)
            .select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
        )
        df = agg.alias("a").join(agg.alias("b"), "k")
        plan = _plan(df)
        assert "ReusedExchange" in plan  # the join reuses the agg shuffle
        # one real Exchange feeds both SMJ sides; the reuse is free
        assert shuffle_count(df) == 1
    finally:
        for k, v in saved.items():
            conf.set(k, v)
