"""approximate_row_count from catalog stats (sql/size_utils.sql:311 —
the reference answers from pg statistics, not a storage walk). The
chunk catalog row carries ``n_rows``: recorded by compress_chunk,
ANALYZE, and the self-healing fallback; invalidated by DML into the
chunk. The count must stay CORRECT through every transition."""

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession

T0_US = 1704067200000000
DAY_US = 24 * 3600 * 1_000_000


@pytest.fixture()
def ts(spark, tmp_path):
    return TSSession(spark, str(tmp_path / "ts"))


def _batch(spark, n=48, t0=T0_US):
    return spark.range(n).select(
        F.timestamp_micros(
            (F.lit(t0) + F.col("id") * 3600 * 1_000_000).cast("long")
        ).alias("ts"),
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("value"),
    )


def test_selfheal_then_catalog_only(ts, spark):
    ht = ts.create_hypertable("t_cnt", "ts", chunk_interval="1 day")
    ht.insert(_batch(spark))
    # fresh chunks have no recorded counts — first call footer-walks and
    # writes the counts back
    assert all(c.get("n_rows") is None for c in ht.chunks())
    assert ht.approximate_row_count() == 48
    assert all(c.get("n_rows") is not None for c in ht.chunks())
    assert sum(int(c["n_rows"]) for c in ht.chunks()) == 48
    # second call answers purely from the catalog
    assert ht.approximate_row_count() == 48


def test_insert_invalidates_then_stays_correct(ts, spark):
    ht = ts.create_hypertable("t_cnt2", "ts", chunk_interval="1 day")
    ht.insert(_batch(spark, n=24))
    assert ht.approximate_row_count() == 24
    # append into the SAME chunk: its count must go stale, not lie
    ht.insert(_batch(spark, n=24))
    assert all(c.get("n_rows") is None for c in ht.chunks())
    assert ht.approximate_row_count() == 48


def test_analyze_records_counts(ts, spark):
    ht = ts.create_hypertable("t_cnt3", "ts", chunk_interval="1 day")
    ht.insert(_batch(spark))
    ht.analyze()
    assert sum(int(c["n_rows"]) for c in ht.chunks()) == 48
    assert ht.approximate_row_count() == 48


def test_compress_records_count_and_dml_clears(ts, spark):
    from timescaledb_spark.compression import compress_chunk, enable_columnstore

    ht = ts.create_hypertable("t_cnt4", "ts", chunk_interval="1 day")
    ht.insert(_batch(spark, n=24))
    enable_columnstore(ht, segmentby=["k"], orderby=[("ts", "asc")])
    c = ht.chunks()[0]
    compress_chunk(ht, c)
    c = ht.chunks()[0]
    assert int(c["n_rows"]) == 24
    assert ht.approximate_row_count() == 24
    # a rewrite (delete) drops the recorded count; total stays correct
    ht.delete_where("k = 3")
    assert ht.chunks()[0].get("n_rows") is None
    assert ht.approximate_row_count() == 23


def test_distributed_footer_count_matches_driver_count(ts, spark, monkeypatch):
    """Beyond FOOTER_DRIVER_FILES the footer counts run as a Spark job;
    per chunk they must equal the driver-side footer reads."""
    from timescaledb_spark import hypertable

    driver = ts.create_hypertable("t_drv", "ts", chunk_interval="1 day")
    dist = ts.create_hypertable("t_dist", "ts", chunk_interval="1 day")
    for ht in (driver, dist):
        ht.insert(_batch(spark, n=60))
    assert driver.approximate_row_count() == 60
    monkeypatch.setattr(hypertable, "FOOTER_DRIVER_FILES", 0)
    assert dist.approximate_row_count() == 60

    def counts(ht):
        return {c["range_start"]: c["n_rows"] for c in ht.chunks()}

    assert len(counts(dist)) == 3 and counts(dist) == counts(driver)
