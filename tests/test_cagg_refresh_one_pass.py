"""One-pass cagg refresh: every dirty range materialized by one aggregate
statement, each touched mat chunk rewritten once as its rows outside the
ranges plus the new rows (``Hypertable.replace_ranges``), and
``delete_range`` as the same rewrite with no new rows."""

import os
import tempfile
from datetime import datetime, timedelta, timezone

import pytest

from timescaledb_spark import compression
from timescaledb_spark.session import TSSession

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
HOUR_US = 3_600_000_000


def _us(dt: datetime) -> int:
    return int(dt.timestamp() * 1_000_000)


def _rows(spark, times, v=1.0):
    return spark.createDataFrame(
        [(t.replace(tzinfo=None), h, v + i % 7) for i, t in enumerate(times) for h in ("a", "b")],
        "time timestamp, host string, v double",
    )


def _spec(**kw):
    return dict(
        bucket_width="1 hour",
        aggs={"n": "count(*)", "mx": "max(v)"},
        group_by=["host"],
        sketches={"sk": {"value": "v"}},
        mat_chunk_interval="1 day",
        materialized_only=True,
        **kw,
    )


@pytest.fixture(scope="module")
def env(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_refresh_one_pass_"))
    ht = ts.create_hypertable("m", "time", chunk_interval="1 day")
    ht.insert(_rows(spark, [T0 + timedelta(minutes=30 * i) for i in range(3 * 48)]))
    cagg = ts.create_cagg("mh", ht, **_spec())
    full = ts.create_cagg("mh_full", ht, **_spec())
    cagg.refresh()
    child = ts.create_cagg(
        "md", "_mat_mh", bucket_width="1 day", aggs={}, group_by=["host"],
        sketches={"sk_d": {"rollup_of": "sk"}}, materialized_only=True,
    )
    child.refresh()
    return ts, ht, cagg, full, child


def _state(cagg):
    return sorted(repr(r) for r in cagg.read(realtime=False).collect())


def _late(spark, ht, *times):
    """One insert per time: one invalidation entry each."""
    for t in times:
        ht.insert(_rows(spark, [t], v=50.0))


def _hour(t: datetime) -> tuple:
    a = _us(t) - _us(t) % HOUR_US
    return a, a + HOUR_US


def _converged(cagg, full):
    full.refresh(force=True)
    return _state(cagg) == _state(full)


def test_ranges_over_two_mat_chunks_and_above_every_row(env, spark):
    ts, ht, cagg, full, child = env
    mat = cagg._mat()
    before = {c["range_start"] for c in mat.chunks()}
    # two adjacent dirty hours across the day-0/day-1 mat chunk edge, one
    # inside day 2, and new rows above every mat row (a new mat chunk)
    _late(spark, ht, T0 + timedelta(hours=23, minutes=10), T0 + timedelta(days=1, minutes=10))
    _late(spark, ht, T0 + timedelta(days=2, hours=12, minutes=10))
    ht.insert(_rows(spark, [T0 + timedelta(days=4, hours=5)]))
    done = cagg.refresh()
    edge, mid = (_hour(T0 + timedelta(hours=23))[0], _hour(T0 + timedelta(days=1))[1]), _hour(
        T0 + timedelta(days=2, hours=12)
    )
    assert done[:2] == [edge, mid]
    assert len(done) == 3 and done[2][0] >= _us(T0 + timedelta(days=3))
    assert _converged(cagg, full)
    after = {c["range_start"] for c in mat.chunks()}
    assert before < after  # the range above every row made a chunk
    # every chunk the ranges touched holds one data file
    for start in [edge[0], edge[1] - 1, mid[0], done[2][1] - 1]:
        day = start - (start - _us(T0)) % (24 * HOUR_US)
        files = [f for f in os.listdir(f"{mat.data_dir}/_chunk={day}") if f.endswith(".parquet")]
        assert len(files) == 1, (day, files)
    # the rollup_of child sees each refreshed range below its threshold
    # invalidated (the one above is its log's open-ended leftover): its
    # incremental refresh equals its own full recompute
    cat = ts.catalog
    logged = [
        (e["lowest_modified_value"], e["greatest_modified_value"])
        for e in cat.hypertable_invalidation_log.find(hypertable_id=mat.id)
    ]
    for a, b in done[:2]:
        assert any(lo <= a and b - 1 <= hi for lo, hi in logged), ((a, b), logged)
    child.refresh()
    got = _state(child)
    child.refresh(force=True)
    assert got == _state(child)


@pytest.mark.parametrize("fail_at", [1, 2], ids=["after_staging", "between_swaps"])
def test_fault_puts_ranges_back(env, spark, monkeypatch, fail_at):
    ts, ht, cagg, full, _ = env
    late = [T0 + timedelta(hours=3, minutes=20), T0 + timedelta(days=2, hours=3, minutes=20)]
    _late(spark, ht, *late)
    calls = {"n": 0}
    swap = compression._swap_dir

    def faulty(path, tmp):
        calls["n"] += 1
        if calls["n"] == fail_at:
            raise RuntimeError("injected swap fault")
        return swap(path, tmp)

    monkeypatch.setattr(compression, "_swap_dir", faulty)
    with pytest.raises(RuntimeError, match="injected"):
        cagg.refresh()
    monkeypatch.undo()
    log = [
        (e["lowest_modified_value"], e["greatest_modified_value"])
        for e in ts.catalog.materialization_invalidation_log.find(cagg_id=cagg.id)
    ]
    for a, b in map(_hour, late):
        assert any(lo <= a and b - 1 <= hi for lo, hi in log), ((a, b), log)
    assert cagg.read(realtime=False).count() > 0  # still readable
    assert cagg.refresh()
    assert _converged(cagg, full)


def test_delete_range_drops_covered_chunk(env, spark):
    ts, *_ = env
    ht = ts.create_hypertable("dr", "time", chunk_interval="1 day")
    ht.insert(_rows(spark, [T0 + timedelta(hours=6 * i) for i in range(12)]))
    day = 24 * HOUR_US
    d0, d1, d2 = (_us(T0) + k * day for k in range(3))
    kept = sorted(os.listdir(f"{ht.data_dir}/_chunk={d2}"))
    assert ht.delete_range(d1, d2) == 1
    assert not os.path.exists(f"{ht.data_dir}/_chunk={d1}")
    assert [c["range_start"] for c in ht.chunks()] == [d0, d2]
    assert sorted(os.listdir(f"{ht.data_dir}/_chunk={d2}")) == kept  # untouched
    # a partial overlap keeps the chunk's rows outside the range
    assert ht.delete_range(d0 + 6 * HOUR_US, d0 + 12 * HOUR_US) == 1
    assert ht.read().count() == 2 * (12 - 4 - 1)


def test_added_column_default_reads_filled(env, spark):
    """Rows written before an ADD COLUMN read its default through the one
    block over the scan: on the realtime raw side, in the refresh, and
    in a partial chunk's rewrite."""
    ts, *_ = env
    ht = ts.create_hypertable("fl", "time", chunk_interval="1 day")
    ht.insert(_rows(spark, [T0 + timedelta(hours=6 * i) for i in range(8)]))
    ht.add_column("w", "double", default=2.0)
    c = ts.create_cagg(
        "flh", ht, bucket_width="1 day", aggs={"n": "count(*)", "sw": "sum(w)"},
        group_by=["host"],
    )
    want = sorted((str(r["bucket"]), r["host"], r["n"], r["sw"]) for r in c.read().collect())
    assert [x[2:] for x in want] == [(4, 8.0)] * 4
    c.refresh()
    got = [(str(r["bucket"]), r["host"], r["n"], r["sw"]) for r in c.read(realtime=False).collect()]
    assert sorted(got) == want
    ht.delete_range(_us(T0), _us(T0) + 6 * HOUR_US)
    assert {r["w"] for r in ht.read().collect()} == {2.0}
