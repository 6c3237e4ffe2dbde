"""CREATE TABLE — the reference workflow's first statement (plain PG
DDL), followed by create_hypertable adoption and positional INSERT
VALUES, exactly as a TimescaleDB user would run it."""

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession


@pytest.fixture()
def ts(spark, tmp_path):
    return TSSession(spark, str(tmp_path / "ts"))


def test_reference_first_session_flow(ts):
    ts.sql(
        "CREATE TABLE metrics (ts TIMESTAMPTZ NOT NULL, device INT, "
        "value DOUBLE PRECISION, note TEXT)"
    )
    ts.sql(
        "SELECT create_hypertable('metrics', 'ts', "
        "chunk_time_interval => INTERVAL '7 days')"
    )
    ts.sql("INSERT INTO metrics VALUES (TIMESTAMP '2024-01-01', 1, 2.5, 'a')")
    ts.sql(
        "INSERT INTO metrics VALUES "
        "(TIMESTAMP '2024-01-09', 2, 3.5, 'b'), "
        "(TIMESTAMP '2024-01-16', 3, 4.5, NULL)"
    )
    rows = ts.sql(
        "SELECT device, value FROM metrics WHERE ts >= '2024-01-05' "
        "ORDER BY ts"
    ).collect()
    assert [(r["device"], r["value"]) for r in rows] == [(2, 3.5), (3, 4.5)]
    ht = ts.get_hypertable("metrics")
    assert len(ht.chunks()) == 3
    assert ht.row["time_type"] == "timestamp"


def test_pg_type_mapping(ts):
    ts.sql(
        "CREATE TABLE dims (id BIGSERIAL, name VARCHAR(50), w NUMERIC(10,2), "
        "ok BOOLEAN, blob BYTEA, tag UUID, PRIMARY KEY (id))"
    )
    assert ts.read_table("dims").schema.simpleString() == (
        "struct<id:bigint,name:string,w:decimal(10,2),ok:boolean,"
        "blob:binary,tag:string>"
    )
    # schema-only declared table reads as empty with the right columns
    assert ts.read_table("dims").count() == 0


def test_declared_table_with_nested_struct_reads_empty(ts):
    # no rows yet: read as typed NULL casts, nested field names quoted
    ts.sql(
        "CREATE TABLE nest (id INT, s struct<`x y`: int, "
        "z: array<struct<`q r`: double>>>, m map<string, struct<`k-1`: int>>)"
    )
    want = "struct<id:int,s:struct<x y:int,z:array<struct<q r:double>>>,m:map<string,struct<k-1:int>>>"
    assert ts.read_table("nest").schema.simpleString() == want
    got = ts.sql("SELECT * FROM nest")
    assert got.schema.simpleString() == want
    assert got.count() == 0


def test_if_not_exists_and_duplicate(ts):
    ts.sql("CREATE TABLE t1 (ts TIMESTAMP, v DOUBLE)")
    ts.sql("CREATE TABLE IF NOT EXISTS t1 (other INT)")  # no-op
    with pytest.raises(ValueError, match="already exists"):
        ts.sql("CREATE TABLE t1 (other INT)")


def test_create_hypertable_validates_declared_columns(ts):
    ts.sql("CREATE TABLE t2 (ts TIMESTAMP, v DOUBLE)")
    with pytest.raises(ValueError, match="not in declared columns"):
        ts.create_hypertable("t2", "nope")
    ts.sql("CREATE TABLE t3 (label TEXT, v DOUBLE)")
    with pytest.raises(ValueError, match="invalid type"):
        ts.create_hypertable("t3", "label")


def test_integer_time_dimension_declared(ts):
    ts.sql("CREATE TABLE counters (tick BIGINT, v DOUBLE)")
    ht = ts.create_hypertable("counters", "tick", chunk_interval=100)
    ts.sql("INSERT INTO counters VALUES (5, 1.0), (150, 2.0)")
    assert ht.row["time_type"] == "int"
    assert len(ht.chunks()) == 2
    assert ts.sql(
        "SELECT sum(v) AS s FROM counters WHERE tick >= 100"
    ).collect()[0]["s"] == 2.0


def test_drop_table_restrict_and_cascade(ts, spark):
    ts.sql("CREATE TABLE m (ts TIMESTAMP, v DOUBLE)")
    ht = ts.create_hypertable("m", "ts", chunk_interval="1 day")
    ts.sql("INSERT INTO m VALUES (TIMESTAMP '2024-01-01', 1.0)")
    cagg = ts.create_cagg("m_daily", "m", bucket_width="1 day",
                          aggs={"n": "count(1)"})
    with pytest.raises(ValueError, match="depend on it"):
        ht.drop()
    ts.sql("DROP TABLE m CASCADE")
    assert ts.catalog.hypertable.find_one(name="m") is None
    assert ts.catalog.continuous_agg.find_one(name="m_daily") is None
    assert ts.catalog.chunk.find(hypertable_id=ht.id) == []
    import os
    assert not os.path.isdir(ht.data_dir)
    # name is reusable
    ts.sql("CREATE TABLE m (ts TIMESTAMP, v DOUBLE)")
    ts.create_hypertable("m", "ts", chunk_interval="1 day")
    ts.sql("INSERT INTO m VALUES (TIMESTAMP '2024-02-01', 9.0)")
    assert ts.sql("SELECT count(*) n FROM m").collect()[0]["n"] == 1


def test_drop_table_cleans_policies(ts, spark):
    ts.sql("CREATE TABLE p (ts TIMESTAMP, v DOUBLE)")
    ts.create_hypertable("p", "ts", chunk_interval="1 day")
    ts.sql("INSERT INTO p VALUES (TIMESTAMP '2024-01-01', 1.0)")
    ts.jobs.add_retention_policy("p", drop_after="30 days")
    ts.sql("DROP TABLE p")
    assert not [
        j for j in ts.catalog.bgw_job.read()
        if (j.get("config") or {}).get("hypertable") == "p"
    ]


def test_drop_if_exists_and_mv(ts, spark):
    ts.sql("DROP TABLE IF EXISTS ghost")  # no error
    with pytest.raises(ValueError, match="no table"):
        ts.sql("DROP TABLE ghost")
    ts.sql("CREATE TABLE d (ts TIMESTAMP, v DOUBLE)")
    ts.create_hypertable("d", "ts", chunk_interval="1 day")
    ts.sql("INSERT INTO d VALUES (TIMESTAMP '2024-01-01', 1.0)")
    ts.create_cagg("d_daily", "d", bucket_width="1 day", aggs={"n": "count(1)"})
    ts.sql("DROP MATERIALIZED VIEW d_daily")
    assert ts.catalog.continuous_agg.find_one(name="d_daily") is None
    ts.sql("DROP TABLE d")  # now unblocked


def test_create_index_maps_to_skip_stats(ts, spark):
    """CREATE INDEX on a hypertable = the chunk-skipping sparse index;
    indexing the time dimension is a no-op (range pruning covers it)."""
    ts.sql("CREATE TABLE ix (ts TIMESTAMP, device INT, v DOUBLE)")
    ht = ts.create_hypertable("ix", "ts", chunk_interval="1 day")
    ts.sql(
        "INSERT INTO ix VALUES (TIMESTAMP '2024-01-01', 1, 1.0), "
        "(TIMESTAMP '2024-01-02', 2, 2.0)"
    )
    ts.sql("CREATE INDEX ix_dev ON ix (device)")
    assert ht.row.get("skip_columns") is None  # stale local row
    ht._refresh()
    assert ht.row["skip_columns"] == ["device"]
    assert ts.catalog.chunk_column_stats.find(hypertable_id=ht.id)
    # time index: accepted, no stats added
    ts.sql("CREATE UNIQUE INDEX ON ix (ts DESC)")
    ht._refresh()
    assert ht.row["skip_columns"] == ["device"]


def test_create_table_with_hypertable_one_statement(ts):
    """The modern one-statement form (src/with_clause/
    create_table_with_clause.c:16): CREATE TABLE ... WITH
    (tsdb.hypertable, tsdb.partition_column, tsdb.chunk_interval,
    tsdb.segmentby, tsdb.orderby)."""
    ts.sql(
        "CREATE TABLE readings (ts TIMESTAMPTZ NOT NULL, device INT, "
        "value DOUBLE PRECISION) WITH (tsdb.hypertable, "
        "tsdb.partition_column='ts', tsdb.chunk_interval='7 days', "
        "tsdb.segmentby='device', tsdb.orderby='ts desc')"
    )
    ht = ts.get_hypertable("readings")
    assert ht.time_column == "ts"
    ts.sql("INSERT INTO readings VALUES (TIMESTAMP '2024-01-01', 1, 2.5)")
    ts.sql("INSERT INTO readings VALUES (TIMESTAMP '2024-01-09', 2, 3.5)")
    assert len(ht.chunks()) == 2
    # segmentby/orderby landed in compression settings (columnstore is
    # on by default in the WITH form, default_val = true)
    cs = ts.catalog.compression_settings.find_one(hypertable_id=ht.id)
    assert cs["segmentby"] == ["device"]
    assert cs["orderby"] == [("ts", "desc")] or cs["orderby"] == [["ts", "desc"]]
    rows = ts.sql("SELECT device, value FROM readings ORDER BY ts").collect()
    assert [(r["device"], r["value"]) for r in rows] == [(1, 2.5), (2, 3.5)]


def test_create_table_with_columnstore_false(ts):
    ts.sql(
        "CREATE TABLE nocs (ts TIMESTAMP NOT NULL, v INT) WITH "
        "(tsdb.hypertable, tsdb.partition_column='ts', "
        "tsdb.columnstore=false)"
    )
    ht = ts.get_hypertable("nocs")
    assert ts.catalog.compression_settings.find_one(hypertable_id=ht.id) is None


def test_create_table_with_synonyms_and_timescaledb_prefix(ts):
    ts.sql(
        "CREATE TABLE syn (ts TIMESTAMP NOT NULL, dev INT, v DOUBLE) WITH "
        "(timescaledb.hypertable, timescaledb.partitioning_column='ts', "
        "timescaledb.compress_segmentby='dev')"
    )
    ht = ts.get_hypertable("syn")
    cs = ts.catalog.compression_settings.find_one(hypertable_id=ht.id)
    assert cs["segmentby"] == ["dev"]


def test_create_table_with_errors(ts):
    import pytest as _pt

    with _pt.raises(ValueError, match="partition_column"):
        ts.sql(
            "CREATE TABLE e1 (ts TIMESTAMP, v INT) WITH (tsdb.hypertable)"
        )
    with _pt.raises(ValueError, match="unrecognized"):
        ts.sql(
            "CREATE TABLE e2 (ts TIMESTAMP, v INT) WITH "
            "(tsdb.hypertable, tsdb.partition_column='ts', tsdb.bogus=1)"
        )
    with _pt.raises(ValueError, match="tsdb"):
        ts.sql(
            "CREATE TABLE e3 (ts TIMESTAMP, v INT) WITH (fillfactor=70)"
        )
    with _pt.raises(ValueError, match="requires tsdb.hypertable"):
        ts.sql(
            "CREATE TABLE e4 (ts TIMESTAMP, v INT) WITH "
            "(tsdb.partition_column='ts')"
        )
    with _pt.raises(ValueError, match="not a column"):
        ts.sql(
            "CREATE TABLE e5 (ts TIMESTAMP, v INT) WITH "
            "(tsdb.hypertable, tsdb.partition_column='nope')"
        )


def _mk_events(spark, n=4, dup=False):
    rows = [("2024-01-0%dT00:00:00" % (i + 1), i, float(i)) for i in range(n)]
    if dup:
        rows.append(rows[-1])
    df = spark.createDataFrame(rows, "ts string, device int, v double")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def test_declared_pk_warns_once_on_plain_insert(ts, spark):
    """Constraint honesty (reference enforces arbiters via PG unique
    indexes, test/sql/upsert.sql; parquet cannot): plain insert warns
    once and points at upsert/strict mode."""
    import warnings as w

    ts.sql(
        "CREATE TABLE pkt (ts TIMESTAMPTZ NOT NULL, device INT, "
        "v DOUBLE PRECISION, PRIMARY KEY (ts, device))"
    )
    ts.sql("SELECT create_hypertable('pkt', 'ts')")
    ht = ts.get_hypertable("pkt")
    assert ht.row["unique_keys"] == [["ts", "device"]]
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        ht.insert(_mk_events(spark))
        ht.insert(_mk_events(spark))  # second insert: no second warning
    msgs = [str(r.message) for r in rec if "constraint" in str(r.message)]
    assert len(msgs) == 1 and "upsert" in msgs[0]


def test_strict_constraints_rejects_duplicates(ts, spark):
    ts.sql(
        "CREATE TABLE strictt (ts TIMESTAMPTZ NOT NULL, device INT, "
        "v DOUBLE PRECISION, PRIMARY KEY (ts, device))"
    )
    ts.sql("SELECT create_hypertable('strictt', 'ts')")
    ht = ts.get_hypertable("strictt")
    # within-batch duplicate
    with pytest.raises(ValueError, match="unique constraint"):
        ht.insert(_mk_events(spark, dup=True), strict_constraints=True)
    # clean batch passes
    ht.insert(_mk_events(spark), strict_constraints=True)
    # batch-vs-table conflict
    with pytest.raises(ValueError, match="already exists"):
        ht.insert(_mk_events(spark, n=2), strict_constraints=True)
    # session-wide default
    ts.strict_constraints = True
    try:
        with pytest.raises(ValueError, match="already exists"):
            ht.insert(_mk_events(spark, n=1))
    finally:
        ts.strict_constraints = False
    # upsert remains the sanctioned arbiter path for the same keys
    ht.upsert(_mk_events(spark), keys=["ts", "device"])
    assert ht.read().count() == 4


def test_pk_without_partition_column_rejected(ts):
    """src/indexing.c ts_indexing_verify_columns: unique indexes on a
    hypertable must include the partition column."""
    ts.sql(
        "CREATE TABLE badpk (ts TIMESTAMPTZ NOT NULL, id INT PRIMARY KEY)"
    )
    with pytest.raises(ValueError, match="without the column"):
        ts.sql("SELECT create_hypertable('badpk', 'ts')")


def test_with_form_carries_pk(ts, spark):
    ts.sql(
        "CREATE TABLE wpk (ts TIMESTAMPTZ NOT NULL, device INT, v DOUBLE, "
        "UNIQUE (ts, device)) WITH (tsdb.hypertable, "
        "tsdb.partition_column='ts', tsdb.columnstore=false)"
    )
    ht = ts.get_hypertable("wpk")
    assert ht.row["unique_keys"] == [["ts", "device"]]


def test_with_form_atomic_on_failure(ts):
    """Review fix: a failed WITH-form statement leaves no orphaned
    declared table — the corrected retry succeeds."""
    with pytest.raises(ValueError, match="not a column"):
        ts.sql(
            "CREATE TABLE atomic1 (ts TIMESTAMP NOT NULL, v INT) WITH "
            "(tsdb.hypertable, tsdb.partition_column='typo')"
        )
    # failed unique-key validation inside create_hypertable rolls back too
    with pytest.raises(ValueError, match="without the column"):
        ts.sql(
            "CREATE TABLE atomic1 (ts TIMESTAMP NOT NULL, v INT PRIMARY KEY) "
            "WITH (tsdb.hypertable, tsdb.partition_column='ts')"
        )
    # bad segmentby after hypertable creation rolls the hypertable back
    with pytest.raises(ValueError, match="not in schema"):
        ts.sql(
            "CREATE TABLE atomic1 (ts TIMESTAMP NOT NULL, v INT) WITH "
            "(tsdb.hypertable, tsdb.partition_column='ts', "
            "tsdb.segmentby='nope')"
        )
    ts.sql(
        "CREATE TABLE atomic1 (ts TIMESTAMP NOT NULL, v INT) WITH "
        "(tsdb.hypertable, tsdb.partition_column='ts')"
    )
    assert ts.get_hypertable("atomic1").time_column == "ts"


def test_with_form_arrow_spelling_and_mixed_case_pk(ts):
    ts.sql(
        'CREATE TABLE "MixedPk" (Ts TIMESTAMPTZ NOT NULL, Dev INT, '
        "v DOUBLE, PRIMARY KEY (Ts, Dev)) WITH (tsdb.hypertable, "
        "tsdb.partition_column => 'Ts')".replace('"MixedPk"', "mixedpk")
    )
    ht = ts.get_hypertable("mixedpk")
    assert ht.row["unique_keys"] == [["Ts", "Dev"]]
    assert ht.time_column == "Ts"


def test_strict_constraints_null_keys_distinct(ts, spark):
    """PG default NULLS DISTINCT: NULL keys never conflict."""
    ts.sql(
        "CREATE TABLE nullspk (ts TIMESTAMPTZ NOT NULL, device INT, "
        "v DOUBLE PRECISION, UNIQUE (ts, device))"
    )
    ts.sql("SELECT create_hypertable('nullspk', 'ts')")
    ht = ts.get_hypertable("nullspk")
    df = spark.createDataFrame(
        [("2024-01-01T00:00:00", None, 1.0), ("2024-01-01T00:00:00", None, 2.0)],
        "ts string, device int, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ht.insert(df, strict_constraints=True)  # both NULL-keyed rows accepted
    assert ht.read().count() == 2


def test_pk_null_rejected_unique_null_allowed(ts, spark):
    """PK implies NOT NULL (strict mode rejects NULL key values);
    plain UNIQUE keeps PG NULLS DISTINCT."""
    ts.sql(
        "CREATE TABLE pknull (ts TIMESTAMPTZ NOT NULL, device INT, "
        "v DOUBLE PRECISION, PRIMARY KEY (ts, device))"
    )
    ts.sql("SELECT create_hypertable('pknull', 'ts')")
    ht = ts.get_hypertable("pknull")
    df = spark.createDataFrame(
        [("2024-01-01T00:00:00", None, 1.0)], "ts string, device int, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="not-null"):
        ht.insert(df, strict_constraints=True)


def test_with_option_value_containing_arrow(ts):
    """'=>' inside a quoted option VALUE survives; only the separator is
    normalized."""
    ts.sql(
        "CREATE TABLE arrv (ts TIMESTAMP NOT NULL, v INT) WITH "
        "(tsdb.hypertable, tsdb.partition_column='ts', "
        "tsdb.associated_table_prefix='pre=>fix')"
    )
    assert ts.get_hypertable("arrv").time_column == "ts"


def test_strict_insert_does_not_evict_caller_cache(ts, spark):
    ts.sql(
        "CREATE TABLE cchk (ts TIMESTAMPTZ NOT NULL, device INT, "
        "v DOUBLE PRECISION, UNIQUE (ts, device))"
    )
    ts.sql("SELECT create_hypertable('cchk', 'ts')")
    ht = ts.get_hypertable("cchk")
    df = _mk_events(spark).persist()
    try:
        df.count()
        ht.insert(df, strict_constraints=True)
        assert df.storageLevel.useMemory  # caller's pin intact
    finally:
        df.unpersist()
