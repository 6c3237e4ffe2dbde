"""LTTB downsampling: Spark result must equal a straightforward
single-threaded numpy reference implementation of Steinarsson's
algorithm, per series."""

import numpy as np
import pandas as pd
import pytest

from timescaledb_spark.functions.downsample import _lttb_numpy, lttb


def _reference(x, y, n_out):
    """Independent straight-from-the-paper implementation."""
    n = len(x)
    if n_out >= n or n_out < 3:
        return list(range(n))
    kept = [0]
    bounds = np.linspace(1, n - 1, n_out - 1).astype(int)
    a = 0
    for i in range(n_out - 2):
        lo, hi = bounds[i], bounds[i + 1]
        if i + 2 < len(bounds):
            nlo, nhi = bounds[i + 1], bounds[i + 2]
            avg_x = x[nlo:nhi].mean() if nhi > nlo else x[n - 1]
            avg_y = y[nlo:nhi].mean() if nhi > nlo else y[n - 1]
        else:
            avg_x, avg_y = x[n - 1], y[n - 1]
        best, best_area = lo, -1.0
        for j in range(lo, hi):
            area = abs(
                (x[a] - avg_x) * (y[j] - y[a]) - (x[a] - x[j]) * (avg_y - y[a])
            )
            if area > best_area:
                best, best_area = j, area
        kept.append(best)
        a = best
    kept.append(n - 1)
    return kept


def test_numpy_matches_reference():
    rng = np.random.default_rng(3)
    x = np.sort(rng.choice(100_000, 5_000, replace=False)).astype("float64")
    y = np.cumsum(rng.normal(size=5_000))
    got = _lttb_numpy(x, y, 200)
    assert list(got) == _reference(x, y, 200)


def test_spark_per_series_matches_numpy(spark):
    rng = np.random.default_rng(4)
    frames = []
    for dev in range(4):
        n = 2_000 + dev * 137
        frames.append(
            pd.DataFrame(
                {
                    "device": dev,
                    "ts": np.sort(rng.choice(1_000_000, n, replace=False)),
                    "value": np.cumsum(rng.normal(size=n)),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True).sample(frac=1.0, random_state=0)
    df = spark.createDataFrame(pdf)
    out = lttb(df, "ts", "value", n_out=150, by=["device"]).toPandas()
    assert set(out["device"]) == {0, 1, 2, 3}
    for dev, g in pdf.groupby("device"):
        g = g.sort_values("ts").reset_index(drop=True)
        idx = _lttb_numpy(
            g["ts"].to_numpy("float64"), g["value"].to_numpy("float64"), 150
        )
        exp = g.iloc[np.sort(idx)][["ts", "value"]].reset_index(drop=True)
        got = (
            out[out["device"] == dev][["ts", "value"]]
            .sort_values("ts")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, exp)
        assert len(got) == 150
        # endpoints always kept
        assert got["ts"].iloc[0] == g["ts"].iloc[0]
        assert got["ts"].iloc[-1] == g["ts"].iloc[-1]


def test_small_series_passthrough(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "ts long, value double"
    )
    assert lttb(df, "ts", "value", n_out=50).count() == 10


def test_timestamp_column(spark):
    df = spark.range(500).selectExpr(
        "timestamp_micros(1704067200000000 + id * 60000000) AS ts",
        "cast(sin(id / 10.0) as double) AS value",
    )
    out = lttb(df, "ts", "value", n_out=20)
    assert out.count() == 20
    assert dict(out.dtypes)["ts"] == "timestamp"


def test_lttb_carry_across_arrow_batches(spark):
    """The mapInPandas scan walks contiguous groups with a carry across
    Arrow batch boundaries; force tiny batches so every series straddles
    several batches and the carry path (not just the in-batch walk)
    produces the rows."""
    rng = np.random.default_rng(7)
    frames = []
    for dev in range(6):
        n = 150 + dev * 31
        frames.append(
            pd.DataFrame(
                {
                    "device": dev,
                    "ts": np.sort(rng.choice(100_000, n, replace=False)),
                    "value": np.cumsum(rng.normal(size=n)),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "40")  # every series spans >3 batches
        tiny = lttb(df, "ts", "value", n_out=24, by=["device"]).collect()
    finally:
        spark.conf.set(key, old or "10000")
    big = lttb(df, "ts", "value", n_out=24, by=["device"]).collect()
    assert sorted(map(tuple, tiny)) == sorted(map(tuple, big))
    assert len(tiny) == 6 * 24


def test_lttb_null_keys_form_one_series(spark):
    """Review fix: NaN != NaN splitting made every null-key row its own
    group; null keys must downsample as ONE series."""
    import pandas as pd

    from pyspark.sql import functions as F

    from timescaledb_spark.functions.downsample import lttb

    n = 200
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            "sensor": [None] * n,
            "v": [float((i * 37) % 101) for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = lttb(df, time_col="ts", value_col="v", n_out=20, by=["sensor"])
    assert out.count() == 20
