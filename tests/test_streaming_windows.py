"""Streaming windowed aggregates (watermark) and the stateful session
operator, driven with file-source micro-batches."""

import os

import pytest
from pyspark.sql import functions as F, types as T

from timescaledb_spark.streaming import gap_sessions, windowed_agg

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("device", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)
T0_US = 1704067200000000


def _rows(spark, offsets_min, device=0):
    return spark.createDataFrame(
        [
            (o, device)
            for o in offsets_min
        ],
        "off long, device int",
    ).select(
        F.timestamp_micros((F.lit(T0_US) + F.col("off") * 60_000_000).cast("long")).alias("ts"),
        "device",
        F.col("off").cast("double").alias("value"),
    )


def test_windowed_agg_stream(spark, tmp_path):
    indir = str(tmp_path / "in")
    os.makedirs(indir)
    _rows(spark, list(range(0, 120, 10))).coalesce(1).write.mode("append").parquet(indir)
    stream = spark.readStream.schema(SCHEMA).parquet(indir)
    out = windowed_agg(
        stream, "ts", {"n": "count(1)", "sum_v": "sum(value)"},
        window="1 hour", watermark="30 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    # with availableNow + append mode, only windows sealed by the final
    # watermark emit: the 00:00 window (watermark reaches 01:20)
    rows = {r["win_start"].isoformat(): r for r in spark.sql("SELECT * FROM winagg").collect()}
    assert "2024-01-01T00:00:00" in rows
    assert rows["2024-01-01T00:00:00"]["n"] == 6


def test_gap_sessions_stream(spark, tmp_path):
    indir = str(tmp_path / "in")
    os.makedirs(indir)
    # burst at t0..t0+20m, silence > 30m, burst at t0+60m..t0+70m
    _rows(spark, [0, 10, 20, 60, 65, 70], device=1).coalesce(1).write.mode(
        "append"
    ).parquet(indir)
    stream = spark.readStream.schema(SCHEMA).parquet(indir)
    out = gap_sessions(stream, key_col="device")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        # event-time session timeouts: availableNow ends by itself
        assert q.awaitTermination(120), "availableNow query did not terminate"
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sessions ORDER BY session_start").collect()
    # first session closed by the >30m gap inside the batch
    assert len(rows) == 1
    assert rows[0]["key"] == "1"
    assert rows[0]["n_events"] == 3
    assert rows[0]["session_start"].isoformat() == "2024-01-01T00:00:00"
    assert rows[0]["session_end"].isoformat() == "2024-01-01T00:20:00"


def test_session_fn_late_event_forms_own_session():
    """Review fix: a cross-batch late event earlier than the carried
    session (beyond the gap) forms its own session; within the gap of
    the session START it extends the session backwards."""
    import pandas as pd

    from timescaledb_spark.streaming.windows import _session_fn

    class FakeState:
        hasTimedOut = False

        def __init__(self, v=None):
            self._v = v

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ms):
            pass

    h = 3_600_000_000  # 1h in us
    base = 1_700_000_000_000_000
    carried = (base + 2 * h, base + 2 * h + 1_800_000_000, 5)  # 02:00-02:30

    def run(ts_us, state):
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime(pd.Series(ts_us, dtype="int64") * 1000)}
        )
        return list(_session_fn(("k",), iter([pdf]), state)), state

    # far-earlier late event -> closed as its own singleton session
    st = FakeState(carried)
    out, st = run([base], st)
    assert len(out) == 1 and out[0]["n_events"].tolist() == [1]
    assert st.get == carried  # carried session unchanged, still open
    # late event within gap of session START extends it backwards
    st2 = FakeState(carried)
    out2, st2 = run([carried[0] - 600_000_000], st2)  # 10 min before start
    assert out2 == []
    assert st2.get == (carried[0] - 600_000_000, carried[1], 6)


def test_stream_dedup_cross_batch(spark, tmp_path):
    """Duplicate keys arriving in LATER micro-batches are suppressed
    while their state is inside the watermark horizon; distinct keys
    all emit exactly once (maxFilesPerTrigger=1 forces the two files
    into separate micro-batches)."""
    from timescaledb_spark.streaming.dedup import stream_dedup

    indir = str(tmp_path / "in")
    os.makedirs(indir)
    b1 = _rows(spark, [0, 10], device=0).union(_rows(spark, [5], device=1))
    b1.coalesce(1).write.parquet(str(tmp_path / "b1"))
    b2 = _rows(spark, [20], device=0).union(
        _rows(spark, [25], device=1)
    ).union(_rows(spark, [30], device=2))
    b2.coalesce(1).write.parquet(str(tmp_path / "b2"))
    import glob, shutil
    for i, src in enumerate(("b1", "b2")):
        (f,) = glob.glob(str(tmp_path / src / "part-*.parquet"))
        dst = os.path.join(indir, f"part-{i}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    ded = stream_dedup(stream, ["device"], delay="7 days").select("device")
    q = (
        ded.writeStream.format("memory")
        .queryName("sdedup1")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None
    got = sorted(r["device"] for r in spark.sql("SELECT * FROM sdedup1").collect())
    assert got == [0, 1, 2]
