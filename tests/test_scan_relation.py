"""The hypertable scan relation (``scan.py``): one long-lived relation per
hypertable, chunk/space exclusion as partition predicates.

- freshness: every write path is visible to the next ``ts.sql`` and
  ``Hypertable.read``, also when a second session on the same root
  writes between two statements;
- a ``detach_chunk`` orphan dir is never read;
- the space predicate selects exactly the ``_space`` dirs the router
  wrote, per key type and across ``set_number_partitions``;
- planning a space-keyed statement starts no Spark job;
- SQL forms (aliases, qualifiers, self-join, user WITH, INSERT..SELECT,
  EXPLAIN) answer like plain Spark over the same rows.
"""

from __future__ import annotations

import datetime
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from timescaledb_spark import chunkops, compression
from timescaledb_spark.plans.inspect import selected_partition_files
from timescaledb_spark.session import TSSession

T0 = datetime.datetime(2024, 1, 1)
SCHEMA = "ts timestamp, dev string, v double"


def _rows(days, devs=("a", "b", "c", "d"), per_day=4, v0=0.0):
    out = []
    for d in days:
        for h in range(per_day):
            for i, dev in enumerate(devs):
                out.append(
                    (T0 + datetime.timedelta(days=d, hours=h * 5), dev, v0 + d * 100 + h * 10 + i)
                )
    return out


def _mk(spark, tmp_path, name="m", rows=None):
    ts = TSSession(spark, str(tmp_path / "root"))
    ht = ts.create_hypertable(
        name, "ts", chunk_interval="1 day", space_column="dev", num_partitions=3
    )
    ht.insert(spark.createDataFrame(rows or _rows(range(3)), SCHEMA))
    return ts, ht


def _state(ts, ht):
    """(count, sum v) through ts.sql and through Hypertable.read."""
    r = ts.sql("SELECT count(*) AS n, sum(v) AS s FROM m").first()
    d = ts.get_hypertable(ht.name).read().agg(F.count("*"), F.sum("v")).first()
    return (r["n"], r["s"]), (d[0], d[1])


def _expect(ts, ht, n, s):
    via_sql, via_read = _state(ts, ht)
    assert via_sql == (n, pytest.approx(s)) and via_read == (n, pytest.approx(s))


def _sum(rows):
    return sum(r[2] for r in rows)


# --------------------------------------------------------------- freshness


def test_fresh_after_insert_into_existing_and_new_chunk(spark, tmp_path):
    rows = _rows(range(3))
    ts, ht = _mk(spark, tmp_path, rows=rows)
    _expect(ts, ht, len(rows), _sum(rows))
    more = [(T0 + datetime.timedelta(hours=1), "a", 1000.0)]
    ht.insert(spark.createDataFrame(more, SCHEMA))  # existing chunk
    rows += more
    _expect(ts, ht, len(rows), _sum(rows))
    new = _rows([5], v0=7.0)
    ht.insert(spark.createDataFrame(new, SCHEMA))  # creates a chunk
    rows += new
    _expect(ts, ht, len(rows), _sum(rows))


def test_fresh_after_compress_and_decompress(spark, tmp_path):
    rows = _rows(range(3))
    ts, ht = _mk(spark, tmp_path, rows=rows)
    _expect(ts, ht, len(rows), _sum(rows))
    compression.enable_columnstore(ht, segmentby=["dev"])
    compression.compress_chunks(ht)
    _expect(ts, ht, len(rows), _sum(rows))
    compression.decompress_chunk(ht, ht.chunks()[0])
    _expect(ts, ht, len(rows), _sum(rows))


def test_fresh_after_delete_merge_drop(spark, tmp_path):
    rows = _rows(range(3))
    ts, ht = _mk(spark, tmp_path, rows=rows)
    _expect(ts, ht, len(rows), _sum(rows))
    ht.delete_where("v < 10")
    rows = [r for r in rows if r[2] >= 10]
    _expect(ts, ht, len(rows), _sum(rows))
    src = [(T0 + datetime.timedelta(days=1, hours=3), "z", 5.5)]
    ht.merge_into(spark.createDataFrame(src, SCHEMA), keys=["ts", "dev"])
    rows += src
    _expect(ts, ht, len(rows), _sum(rows))
    ht.drop_chunks(older_than="2024-01-02")
    rows = [r for r in rows if r[0] >= T0 + datetime.timedelta(days=1)]
    _expect(ts, ht, len(rows), _sum(rows))
    ht.delete_where("true")  # chunk dirs left without data files
    assert ts.sql("SELECT count(*) AS n FROM m").first()["n"] == 0
    assert ht.read().count() == 0


def test_fresh_after_add_column_with_default(spark, tmp_path):
    rows = _rows(range(2))
    ts, ht = _mk(spark, tmp_path, rows=rows)
    _expect(ts, ht, len(rows), _sum(rows))
    ht.add_column("w", "int", default=7)
    got = ts.sql("SELECT sum(w) AS s FROM m").first()["s"]
    assert got == 7 * len(rows)
    assert ts.get_hypertable("m").read().agg(F.sum("w")).first()[0] == 7 * len(rows)


def test_fresh_after_write_by_second_session(spark, tmp_path):
    rows = _rows(range(2))
    ts, ht = _mk(spark, tmp_path, rows=rows)
    _expect(ts, ht, len(rows), _sum(rows))
    other = TSSession(spark, str(tmp_path / "root"))
    more = _rows([1, 4], v0=3.0)
    other.get_hypertable("m").insert(spark.createDataFrame(more, SCHEMA))
    rows += more
    _expect(ts, ht, len(rows), _sum(rows))
    # the handle the first session already held reads the new state too
    assert ht.read().count() == len(rows)


# -------------------------------------------------------------- orphan dirs


def test_detached_chunk_dir_is_never_read(spark, tmp_path):
    rows = _rows(range(3))
    ts, ht = _mk(spark, tmp_path, rows=rows)
    _expect(ts, ht, len(rows), _sum(rows))
    c = ht.chunks()[0]
    chunkops.detach_chunk(ht, c)
    assert os.path.isdir(os.path.join(ht.data_dir, f"_chunk={c['range_start']}"))
    rows = [r for r in rows if r[0] >= T0 + datetime.timedelta(days=1)]
    _expect(ts, ht, len(rows), _sum(rows))
    # also when the statement carries no time bound at all
    assert ts.sql("SELECT min(ts) AS t FROM m").first()["t"] >= T0 + datetime.timedelta(days=1)


# --------------------------------------------------------- space predicate


def _selected_space_dirs(df) -> set:
    """``_chunk=../_space=..`` dirs the plan's scans select."""
    return {
        re.search(r"(_chunk=[^/]+/_space=[^/]+)", f).group(1)
        for f in selected_partition_files(df)
    }


def _written_space_dirs(ht, col, key) -> set:
    """The ``_space`` dirs whose files hold rows with ``col == key``."""
    out = set()
    for chunk in sorted(os.listdir(ht.data_dir)):
        if not chunk.startswith("_chunk="):
            continue
        for sp in sorted(os.listdir(os.path.join(ht.data_dir, chunk))):
            d = os.path.join(ht.data_dir, chunk, sp)
            vals = set()
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    vals |= set(pq.read_table(os.path.join(d, f), columns=[col])[col].to_pylist())
            if key in vals:
                out.add(f"{chunk}/{sp}")
    return out


@pytest.mark.parametrize(
    "ddl,keys",
    [
        ("int", [1, 2, 3, 4, 5]),
        ("bigint", [10, 20, 30_000_000_000, 40]),
        ("string", ["a", "b", "it's", "d\\x"]),
        ("date", [datetime.date(2024, 2, d) for d in (1, 2, 3, 4)]),
    ],
)
def test_space_predicate_selects_router_dirs(spark, tmp_path, ddl, keys):
    ts = TSSession(spark, str(tmp_path / "root"))
    ht = ts.create_hypertable(
        "s", "ts", chunk_interval="1 day", space_column="k", num_partitions=3
    )
    rows = [
        (T0 + datetime.timedelta(days=d, hours=h), k, float(h))
        for d in range(2)
        for h in range(3)
        for k in keys
    ]
    ht.insert(spark.createDataFrame(rows, f"ts timestamp, k {ddl}, v double"))
    ht.set_number_partitions(5)  # new chunks only
    more = [(T0 + datetime.timedelta(days=3), k, 1.0) for k in keys]
    ht.insert(spark.createDataFrame(more, f"ts timestamp, k {ddl}, v double"))
    for k in keys:
        df = ht.read(space_key=k)
        assert _selected_space_dirs(df) == _written_space_dirs(ht, "k", k)
        assert df.count() == sum(1 for r in rows + more if r[1] == k)


def test_space_predicate_in_sql(spark, tmp_path):
    ts, ht = _mk(spark, tmp_path)
    df = ts.sql("SELECT count(*) AS n FROM m WHERE dev IN ('a', 'c')")
    assert _selected_space_dirs(df) == (
        _written_space_dirs(ht, "dev", "a") | _written_space_dirs(ht, "dev", "c")
    )
    assert df.first()["n"] == 2 * 3 * 4


# ------------------------------------------------------- no plan-time job


def test_space_keyed_statement_plans_without_a_job(spark, tmp_path):
    ts, _ = _mk(spark, tmp_path)
    tracker = spark.sparkContext.statusTracker()
    q = (
        "SELECT dev, max(v) AS m FROM m WHERE dev IN ('a', 'b') "
        "AND ts >= '2024-01-02' AND ts < '2024-01-03' GROUP BY dev"
    )
    for _ in range(2):  # cold relation, then warm
        before = set(tracker.getJobIdsForGroup(None))
        df = ts.sql(q)
        assert set(tracker.getJobIdsForGroup(None)) == before
        assert sorted(r["dev"] for r in df.collect()) == ["a", "b"]


# ------------------------------------------------------------- SQL forms


@pytest.fixture
def forms(spark, tmp_path):
    rows = _rows(range(4))
    ts, ht = _mk(spark, tmp_path, rows=rows)
    spark.createDataFrame(rows, SCHEMA).createOrReplaceTempView("scan_forms_raw")
    yield ts, ht
    spark.catalog.dropTempView("scan_forms_raw")


FORMS = [
    "SELECT count(*) AS n FROM m c WHERE c.ts >= '2024-01-02' AND c.dev = 'b'",
    "SELECT m.dev, sum(m.v) AS s FROM m WHERE m.ts < '2024-01-03' GROUP BY m.dev",
    "SELECT count(*) AS n FROM m AS a JOIN m b ON a.ts = b.ts AND a.dev = b.dev "
    "WHERE a.ts < '2024-01-02'",
    "WITH hot AS (SELECT * FROM m WHERE v > 150) SELECT dev, count(*) AS n "
    "FROM hot GROUP BY dev",
    "WITH m AS (SELECT * FROM m WHERE dev = 'a') SELECT count(*) AS n, sum(v) AS s FROM m",
    "WITH x AS (SELECT dev FROM m WHERE ts < '2024-01-02'), m AS (SELECT * FROM m "
    "WHERE dev IN (SELECT dev FROM x)) SELECT count(*) AS n FROM m",
]


@pytest.mark.parametrize("q", FORMS)
def test_sql_forms_match_spark(forms, spark, q):
    ts, _ = forms
    want = sorted(spark.sql(re.sub(r"\bm\b", "scan_forms_raw", q)).collect())
    assert sorted(ts.sql(q).collect()) == want


def test_insert_select_and_explain(forms):
    ts, ht = forms
    n0 = ts.sql("SELECT count(*) AS n FROM m").first()["n"]
    ts.sql(
        "INSERT INTO m SELECT ts + INTERVAL 10 DAYS AS ts, dev, v FROM m "
        "WHERE ts < '2024-01-02'"
    ).collect()
    assert ts.sql("SELECT count(*) AS n FROM m").first()["n"] == n0 + 16
    lines = [
        r["plan_line"]
        for r in ts.sql(
            "EXPLAIN SELECT count(*) FROM m WHERE ts >= '2024-01-02' AND ts < '2024-01-03'"
        ).collect()
    ]
    hdr = [l for l in lines if l.startswith("Hypertable m:")]
    assert hdr == [f"Hypertable m: chunks total={len(ht.chunks())} scanned=1 excluded=4"]


def test_superseded_relation_view_is_dropped(spark, tmp_path):
    ts, ht = _mk(spark, tmp_path)
    ts.sql("SELECT count(*) FROM m").collect()
    ht.insert(spark.createDataFrame(_rows([7]), SCHEMA))
    ts.sql("SELECT count(*) FROM m").collect()
    mine = [
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith(f"_ts_scan_{ts.scans._sid}_")
    ]
    assert len(mine) == 1


def test_concurrent_reads_and_rebuilds(spark, tmp_path):
    """Readers on many threads while a writer keeps invalidating the
    relation: every statement plans against a live view (a rebuild never
    drops a view between a statement's binding and its analysis) and
    sees a state some insert left behind."""
    import sys
    import threading

    rows = _rows(range(2))
    ts, ht = _mk(spark, tmp_path, rows=rows)
    n0, batches = len(rows), 3
    errors, seen = [], []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                seen.append(ts.sql("SELECT count(*) AS n FROM m").first()["n"])
        except Exception as e:  # reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        for b in range(batches):
            ht.insert(spark.createDataFrame(_rows([3 + b]), SCHEMA))
        stop.set()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors
    per = len(_rows([0]))
    assert seen and set(seen) <= {n0 + b * per for b in range(batches + 1)}
    assert ts.sql("SELECT count(*) AS n FROM m").first()["n"] == n0 + batches * per
