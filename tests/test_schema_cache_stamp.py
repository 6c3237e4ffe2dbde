"""The inferred-schema caches of ``sources.testdata`` and
``streaming.replay`` re-infer when a file is rewritten at the same path
with another schema."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from timescaledb_spark.sources.testdata import _file_schema
from timescaledb_spark.streaming import replay
from timescaledb_spark.streaming.replay import _read_replay_dir


def _write(path, table):
    pq.write_table(table, path)
    # a rewrite within one mtime tick must still differ in its stamp
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_testdata_schema_follows_rewrite(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"a": [1, 2]}))
    assert [f.name for f in _file_schema(spark, path).fields] == ["a"]
    _write(path, pa.table({"a": [1], "b": ["x"], "c": [2.5]}))
    assert [f.name for f in _file_schema(spark, path).fields] == ["a", "b", "c"]


def test_replay_schema_follows_rewrite(spark, tmp_path):
    d = tmp_path / "replay"
    d.mkdir()
    part = str(d / "part-000.parquet")
    ts = pa.array([1_704_067_200_000_000], pa.timestamp("us", tz="UTC"))
    _write(part, pa.table({"ts": ts, "x": [1]}))
    assert _read_replay_dir(spark, str(d), "src").columns == ["ts", "x"]
    _write(part, pa.table({"ts": ts, "x": [1], "y": ["z"]}))
    assert _read_replay_dir(spark, str(d), "src").columns == ["ts", "x", "y"]


def test_replay_restaged_dir_reads_new_schema(spark, tmp_path, monkeypatch):
    """A staged replay dir that is removed and staged again at the same
    path, from a source whose schema changed, streams the new schema."""
    src = tmp_path / "src"
    src.mkdir()
    stage = str(tmp_path / "stage")

    def same_path(prefix=""):
        os.makedirs(stage)
        return stage

    monkeypatch.setattr(replay.tempfile, "mkdtemp", same_path)
    monkeypatch.setattr(replay, "_REPLAY_DIRS", {})
    ts = pa.array([1_704_067_200_000_000], pa.timestamp("us"))
    pq.write_table(
        pa.table({"ts": ts, "event_type": ["a"], "x": [1]}),
        str(src / "ev.parquet"),
    )
    got = replay.heartbeat_stream(spark, str(src), "ev").columns
    assert got == ["ts", "event_type", "x"]
    shutil.rmtree(stage)
    pq.write_table(
        pa.table({"ts": ts, "event_type": ["a"], "x": [1], "y": ["z"]}),
        str(src / "ev.parquet"),
    )
    got = replay.heartbeat_stream(spark, str(src), "ev").columns
    assert got == ["ts", "event_type", "x", "y"]
