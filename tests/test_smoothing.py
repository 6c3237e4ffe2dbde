"""ASAP smoothing (functions/smoothing.py): numpy-reference exactness
and the algorithm's own contracts (roughness minimized among
kurtosis-preserving candidate windows)."""

import numpy as np
import pandas as pd
import pytest

from timescaledb_spark.functions.smoothing import asap_smooth


def _ref_asap(ts_us, vals, resolution, candidates):
    """Driver-side reference of the exact algorithm (trailing buckets,
    trailing moving average, 6dp-rounded metric selection)."""
    ts_us = np.asarray(ts_us, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    tmin, tmax = ts_us.min(), ts_us.max()
    step = (tmax - tmin) // resolution + 1
    k = (ts_us - tmin) // step
    order = np.argsort(k, kind="stable")
    pdf = pd.DataFrame({"k": k, "v": vals}).groupby("k")["v"].mean()
    ks, vs = pdf.index.to_numpy(), pdf.to_numpy()
    best = None
    for w in sorted(set(candidates) | {1}):
        s = np.convolve(vs, np.ones(w) / w, mode="valid")  # trailing, full windows
        d = np.diff(s)
        rough = round(float(np.std(d, ddof=1)), 6) if len(d) > 1 else None
        m2 = ((s - s.mean()) ** 2).mean()
        m4 = ((s - s.mean()) ** 4).mean()
        kurt = round(float(m4 / m2**2 - 3.0), 6)
        if w == 1:
            kurt0 = kurt
        if w == 1 or kurt >= kurt0:
            cand = (rough, w, s, ks[w - 1 :])
            if best is None or (cand[0], cand[1]) < (best[0], best[1]):
                best = cand
    rough, w, s, kk = best
    return w, tmin + kk * step, np.round(s, 6)


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(42)
    rows = []
    for uid in range(4):
        n = 80 + uid * 7
        ts = np.sort(rng.integers(0, 10**9, n)) * 1000  # µs
        base = np.sin(np.arange(n) / (3.0 + uid)) * 10
        noise = rng.normal(0, 1.5, n)
        spike = np.zeros(n)
        spike[n // 2] = 40  # anomaly kurtosis should protect
        for t, v in zip(ts, base + noise + spike):
            rows.append((uid, int(t), float(v)))
    pdf = pd.DataFrame(rows, columns=["uid", "t_us", "v"])
    df = spark.createDataFrame(pdf).selectExpr(
        "uid", "timestamp_micros(t_us) AS ts", "v AS value"
    )
    return df, pdf


def test_matches_reference(spark, series_df):
    df, pdf = series_df
    out = (
        asap_smooth(df, "ts", "value", resolution=24, by=["uid"])
        .toPandas()
        .sort_values(["uid", "bucket_ts"])
    )
    for uid, grp in pdf.groupby("uid"):
        w, bts, s = _ref_asap(
            grp["t_us"].to_numpy(), grp["v"].to_numpy(), 24, (1, 2, 3, 4, 6, 8, 12)
        )
        got = out[out.uid == uid]
        assert set(got.w) == {w}
        assert len(got) == len(s)
        np.testing.assert_allclose(
            np.sort(got.smoothed.to_numpy()), np.sort(s), atol=2e-6
        )
        got_us = got.bucket_ts.astype("int64").to_numpy() // 1000  # ns -> µs
        np.testing.assert_array_equal(np.sort(got_us), np.sort(bts))


def test_smoother_than_any_rougher_eligible(spark, series_df):
    """The chosen window's roughness is minimal among kurtosis-eligible
    candidates — recomputed independently from the output."""
    df, pdf = series_df
    out = asap_smooth(df, "ts", "value", resolution=24, by=["uid"]).toPandas()
    for uid, grp in pdf.groupby("uid"):
        w_chosen = out[out.uid == uid].w.iloc[0]
        # reference loop: no eligible candidate may beat the chosen one
        wref, _, _ = _ref_asap(
            grp["t_us"].to_numpy(), grp["v"].to_numpy(), 24, (1, 2, 3, 4, 6, 8, 12)
        )
        assert w_chosen == wref


def test_global_series_no_by(spark):
    pdf = pd.DataFrame(
        {"t_us": np.arange(100, dtype=np.int64) * 60_000_000,
         "v": np.sin(np.arange(100) / 4.0)}
    )
    df = spark.createDataFrame(pdf).selectExpr(
        "timestamp_micros(t_us) AS ts", "v AS value"
    )
    out = asap_smooth(df, "ts", "value", resolution=24, by=[]).toPandas()
    assert len(out) > 0
    assert out.w.nunique() == 1
    # smoothing a smooth sine: a wide window should win over w=1
    assert out.w.iloc[0] > 1


def test_candidate_validation(spark):
    df = spark.range(1).selectExpr("timestamp_micros(id) AS ts", "id*1.0 AS value")
    with pytest.raises(ValueError):
        asap_smooth(df, resolution=24, candidates=(0, 2))
    with pytest.raises(ValueError):
        asap_smooth(df, resolution=24, candidates=(13,))  # > resolution/2


def test_degenerate_candidate_cannot_win(spark):
    """A candidate window equal to the populated-bucket count yields one
    smoothed point (NULL/NaN roughness, NaN kurtosis) — it must lose the
    selection, in both engines (review finding r9)."""
    # 4 populated buckets (resolution=24 but only 4 distinct times),
    # candidates include w=4 == bucket count
    pdf = pd.DataFrame(
        {
            "t_us": np.array([0, 1, 2, 3], dtype=np.int64) * 3_600_000_000,
            "v": [1.0, 9.0, 2.0, 8.0],
        }
    )
    df = spark.createDataFrame(pdf).selectExpr(
        "timestamp_micros(t_us) AS ts", "v AS value"
    )
    out = asap_smooth(
        df, "ts", "value", resolution=24, by=[], candidates=(1, 2, 3, 4)
    ).toPandas()
    assert len(out) > 0
    assert out.w.iloc[0] < 4  # the single-point candidate lost
