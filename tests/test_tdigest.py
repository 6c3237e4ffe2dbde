"""t-digest percentile family (round 13; toolkit ``tdigest(size,
value)`` / ``rollup`` / ``approx_percentile`` — Dunning & Ertl,
arXiv:1902.04023): Spark-native k1-binned centroids, lossless
(exact type-7) below the compression threshold, rank-error bounded
above it, order-independent merges, cagg partials with hierarchical
children and SQL routes."""

import bisect
import datetime
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession
from timescaledb_spark.sources import load_table


def _t7(sorted_vals, q):
    n = len(sorted_vals)
    pos = q * (n - 1)
    i = int(pos)
    lo = sorted_vals[i]
    hi = sorted_vals[min(i + 1, n - 1)]
    return lo + (hi - lo) * (pos - i)


class TestTDigestRaw:
    @pytest.fixture(scope="class")
    def data(self, spark):
        vals = list(np.random.RandomState(13).lognormal(0.0, 1.5, 20_000))
        df = spark.createDataFrame(
            [(i % 3, float(v)) for i, v in enumerate(vals)],
            "g int, v double",
        )
        per_g = {g: sorted(vals[g::3]) for g in range(3)}
        return df, per_g

    def test_lossless_exact_type7(self, spark, data):
        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_quantiles,
        )

        df, per_g = data
        st = tdigest(df, "v", by=["g"], delta=10_000)
        out = tdigest_quantiles(st, [0.01, 0.5, 0.99], by=["g"]).collect()
        for r in out:
            sub = per_g[r["g"]]
            assert r["n"] == len(sub)
            assert r["min_val"] == sub[0] and r["max_val"] == sub[-1]
            for q, col in ((0.01, "p1"), (0.5, "p50"), (0.99, "p99")):
                assert r[col] == pytest.approx(_t7(sub, q), abs=1e-12)

    def test_compressed_rank_error_bound(self, spark, data):
        """k1 binning: mid-range bins span ≤ ~π/δ in q, tail bins far
        less — every extracted quantile's true rank lands within
        π/(2δ) ≈ 0.016 at δ=100, and within 0.003 at the tails."""
        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_quantiles,
        )

        df, per_g = data
        st = tdigest(df, "v", by=["g"], delta=100)
        for r in st.collect():
            assert len(r["tdigest"]["means"]) <= 100
        out = tdigest_quantiles(
            st, [0.5, 0.9, 0.99, 0.999], by=["g"]
        ).collect()
        for r in out:
            sub = per_g[r["g"]]
            n = len(sub)
            for q, col, tol in (
                (0.5, "p50", 0.016),
                (0.9, "p90", 0.016),
                (0.99, "p99", 0.003),
                (0.999, "p99_9", 0.003),
            ):
                rank = bisect.bisect_left(sub, r[col]) / n
                assert abs(rank - q) <= tol, (r["g"], col, rank)

    def test_merge_order_independent_and_bounded(self, spark, data):
        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_quantiles,
            tdigest_rollup,
        )

        df, per_g = data
        parts = df.withColumn("h", (F.col("v") * 7).cast("int") % 5)
        st = tdigest(parts, "v", by=["g", "h"], delta=100)
        merged = tdigest_rollup(
            st.drop("h"), by=["g"], state_col="tdigest", delta=100
        )
        for r in merged.collect():
            assert len(r["tdigest"]["means"]) <= 100
            assert r["tdigest"]["n"] == len(per_g[r["g"]])
        out = tdigest_quantiles(merged, [0.5, 0.99], by=["g"]).collect()
        for r in out:
            sub = per_g[r["g"]]
            # mean stays EXACT through compression + merge: centroid
            # weighted sums recover the true sum
            assert r["mean"] == pytest.approx(
                sum(sub) / len(sub), rel=1e-9
            )
            for q, col, tol in ((0.5, "p50", 0.03), (0.99, "p99", 0.006)):
                rank = bisect.bisect_left(sub, r[col]) / len(sub)
                assert abs(rank - q) <= tol

    def test_rank_lossless_exact_and_edges(self, spark, data):
        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_rank,
        )

        df, per_g = data
        st = tdigest(df, "v", by=["g"], delta=30_000)  # lossless
        for v in (0.5, 1.0, 5.0):
            out = {
                r["g"]: r["rank"]
                for r in tdigest_rank(st, v, by=["g"]).collect()
            }
            for g, sub in per_g.items():
                exact = bisect.bisect_right(sub, v) / len(sub)
                assert out[g] == pytest.approx(exact, abs=1e-6)
        lo = {r["g"]: r["rank"]
              for r in tdigest_rank(st, -1.0, by=["g"]).collect()}
        hi = {r["g"]: r["rank"]
              for r in tdigest_rank(st, 1e9, by=["g"]).collect()}
        assert set(lo.values()) == {0.0} and set(hi.values()) == {1.0}

    def test_rank_compressed_bounded_and_monotone(self, spark, data):
        """Compressed CDF: midpoint interpolation keeps the rank within
        ~π/(2δ) of the true fraction, and is monotone in the probe."""
        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_rank,
        )

        df, per_g = data
        st = tdigest(df, "v", by=["g"], delta=100)
        probes = [0.1, 0.3, 1.0, 2.0, 5.0, 12.0, 40.0]
        prev: dict = {}
        for v in probes:
            out = {
                r["g"]: r["rank"]
                for r in tdigest_rank(st, v, by=["g"]).collect()
            }
            for g, sub in per_g.items():
                true = bisect.bisect_right(sub, v) / len(sub)
                assert abs(out[g] - true) <= 0.02, (g, v, out[g], true)
                if g in prev:
                    assert out[g] >= prev[g] - 1e-12
            prev = out

    def test_rank_null_state(self, spark):
        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_rank,
        )

        df = spark.createDataFrame(
            [(0, 1.0), (1, None)], "g int, v double"
        )
        st = tdigest(df, "v", by=["g"], delta=10)
        out = {r["g"]: r["rank"]
               for r in tdigest_rank(st, 5.0, by=["g"]).collect()}
        assert out[0] == 1.0 and out[1] is None

    def test_null_semantics(self, spark):
        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_quantiles,
        )

        df = spark.createDataFrame(
            [(0, 1.0), (0, None), (0, 3.0), (1, None)],
            "g int, v double",
        )
        st = tdigest(df, "v", by=["g"], delta=100)
        rows = {r["g"]: r["tdigest"] for r in st.collect()}
        assert rows[0]["n"] == 2 and rows[1] is None
        q = {r["g"]: r for r in tdigest_quantiles(st, [0.5], by=["g"]).collect()}
        assert q[0]["p50"] == 2.0 and q[1]["p50"] is None


def _ts(d, h=0):
    return datetime.datetime(2024, 1, d, h)


class TestTDigestCagg:
    @pytest.fixture(scope="class")
    def env(self, spark, sf_dir):
        ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_td_"))
        ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
        ev = load_table(spark, sf_dir, "events")
        ht.insert(ev)
        cagg = ts.create_cagg(
            "tdv", ht, bucket_width="1 hour", aggs={},
            group_by=["event_type"],
            tdigest_aggs={"td": {"value": "value", "delta": 8192}},
        )
        cagg.refresh()
        return ts, ht, cagg, ev

    def test_serve_exact_while_lossless(self, env):
        from timescaledb_spark.functions.time import time_bucket

        ts, _, cagg, ev = env
        got = {
            (r["bucket"], r["event_type"]): (r["n"], r["p50"])
            for r in cagg.tdigest_quantiles_at_grain(
                [0.5], grain="1 day"
            ).collect()
        }
        raw = {}
        for r in ev.select("ts", "event_type", "value").collect():
            k = (r["ts"].replace(hour=0, minute=0, second=0,
                                 microsecond=0), r["event_type"])
            raw.setdefault(k, []).append(r["value"])
        assert len(got) == len(raw) > 50
        for k, vs in raw.items():
            vs.sort()
            n, p50 = got[k]
            assert n == len(vs)
            assert p50 == pytest.approx(_t7(vs, 0.5), abs=1e-12)

    def test_free_regrouping(self, env):
        """Commutative merge: subset group_by regroups freely (the
        sketch-family contract, unlike counters/heartbeats)."""
        _, _, cagg, ev = env
        got = {
            r["n"]
            for r in cagg.tdigest_quantiles_at_grain(
                [0.5], grain="all", group_by=[]
            ).collect()
        }
        assert got == {ev.count()}

    def test_hierarchical_child_inherits_delta(self, env):
        ts, _, cagg, _ = env
        child = ts.create_cagg(
            "tdch", "_mat_tdv", bucket_width="1 day", aggs={},
            group_by=["event_type"],
            tdigest_aggs={"td_d": {"rollup_of": "td"}},
        )
        child.refresh()
        assert child.row["tdigest_aggs"]["td_d"]["delta"] == 8192
        want = {
            (r["bucket"], r["event_type"]): r["p50"]
            for r in cagg.tdigest_quantiles_at_grain(
                [0.5], grain="1 day", realtime=False
            ).collect()
        }
        got = {
            (r["bucket"], r["event_type"]): r["p50"]
            for r in child.tdigest_quantiles_at_grain(
                [0.5], realtime=False
            ).collect()
        }
        assert got == want

    def test_rank_serve_matches_raw(self, env):
        _, _, cagg, ev = env
        got = {
            (r["bucket"], r["event_type"]): r["rank"]
            for r in cagg.tdigest_rank_at_grain(
                50.0, grain="1 day"
            ).collect()
        }
        raw: dict = {}
        for r in ev.select("ts", "event_type", "value").collect():
            k = (r["ts"].replace(hour=0, minute=0, second=0,
                                 microsecond=0), r["event_type"])
            raw.setdefault(k, []).append(r["value"])
        assert len(got) == len(raw)
        for k, vs in raw.items():
            frac = sum(1 for v in vs if v <= 50.0) / len(vs)
            assert got[k] == pytest.approx(frac, abs=1e-6), k

    def test_child_cannot_widen_delta(self, env):
        ts, _, _, _ = env
        with pytest.raises(ValueError, match="exceed"):
            ts.create_cagg(
                "tdbad", "_mat_tdv", bucket_width="1 day", aggs={},
                group_by=["event_type"],
                tdigest_aggs={"td_d": {"rollup_of": "td", "delta": 99999}},
            )

    def test_sql_routes(self, spark):
        ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_tdsql_"))
        ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
        ht.insert(spark.createDataFrame(
            [(_ts(1, h), "g", float(h)) for h in range(10)],
            "ts timestamp, dev string, v double",
        ))
        ts.sql(
            "CREATE MATERIALIZED VIEW sv WITH (timescaledb.continuous) "
            "AS SELECT time_bucket('1 hour', ts) AS bucket, dev, "
            "tdigest(256, v) AS td FROM m GROUP BY 1, 2"
        )
        # scalar and percentile accessors share one statement
        mix = ts.sql(
            "SELECT time_bucket('1 day', bucket) AS day, dev, "
            "approx_percentile(0.5, rollup(td)) AS p50, "
            "num_vals(rollup(td)) AS n2 "
            "FROM sv GROUP BY 1, 2"
        ).collect()
        assert len(mix) == 1 and mix[0]["n2"] == 10
        assert mix[0]["p50"] == pytest.approx(4.5)
        r = ts.sql(
            "SELECT time_bucket('1 day', bucket) AS day, dev, "
            "approx_percentile(0.5, rollup(td)) AS p50 "
            "FROM sv GROUP BY 1, 2"
        ).collect()
        assert len(r) == 1 and r[0]["p50"] == pytest.approx(4.5)
        s = ts.sql(
            "SELECT time_bucket('1 day', bucket) AS day, dev, "
            "num_vals(rollup(td)) AS n, min_val(rollup(td)) AS lo, "
            "max_val(rollup(td)) AS hi, mean(rollup(td)) AS m "
            "FROM sv GROUP BY 1, 2"
        ).collect()
        assert s[0]["n"] == 10 and s[0]["lo"] == 0.0 and s[0]["hi"] == 9.0
        assert s[0]["m"] == pytest.approx(4.5)
        # inverse accessor: exact fraction <= v in the lossless regime
        rk = ts.sql(
            "SELECT dev, approx_percentile_rank(5.0, rollup(td)) "
            "AS r FROM sv GROUP BY 1"
        ).collect()
        assert rk[0]["r"] == pytest.approx(0.6)  # 0..5 of 0..9
        # multi-quantile array accessor, both literal spellings
        pa = ts.sql(
            "SELECT dev, approx_percentile_array(array[0.5, 0.9], "
            "rollup(td)) AS ps FROM sv GROUP BY 1"
        ).collect()
        assert pa[0]["ps"] == pytest.approx([4.5, 8.1])
        pa2 = ts.sql(
            "SELECT dev, approx_percentile_array(array(0.9, 0.5), "
            "rollup(td)) AS ps FROM sv GROUP BY 1"
        ).collect()
        assert pa2[0]["ps"] == pytest.approx([8.1, 4.5])  # argument order
        # non-literal array argument is refused loudly, not misparsed
        with pytest.raises(Exception):
            ts.sql(
                "SELECT dev, approx_percentile_array(v, rollup(td)) "
                "AS ps FROM sv GROUP BY 1"
            ).collect()
        # GROUP BY refusal: select keys must match GROUP BY
        with pytest.raises(Exception):
            ts.sql(
                "SELECT time_bucket('1 day', bucket) AS day, dev, "
                "approx_percentile(0.5, rollup(td)) AS p50 "
                "FROM sv GROUP BY 1"
            ).collect()

    def test_mv_parse_validation(self, spark):
        ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_tdval_"))
        ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
        ht.insert(spark.createDataFrame(
            [(_ts(1), "g", 1.0)], "ts timestamp, dev string, v double"
        ))
        with pytest.raises(ValueError, match="integer literal"):
            ts.sql(
                "CREATE MATERIALIZED VIEW bad WITH "
                "(timescaledb.continuous) AS SELECT "
                "time_bucket('1 hour', ts) AS bucket, "
                "tdigest(0.5, v) AS td FROM m GROUP BY 1"
            )


class TestMergeNullAndBounds:
    """Round-14 single-shuffle merge regression: NULL states survive the
    rollup via the dummy-entry explode (the totals branch + left join
    are gone), and state min/max — now carried on the exploded rows —
    still merge exactly."""

    def test_rollup_all_null_and_mixed_groups(self, spark):
        from pyspark.sql import functions as F

        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_rollup,
        )

        df = spark.createDataFrame(
            [
                # g=0: two parts, one all-NULL -> merged state real
                (0, 0, 1.0), (0, 0, 5.0), (0, 1, None),
                # g=1: every part NULL -> merged state NULL, row kept
                (1, 0, None), (1, 1, None),
            ],
            "g int, part int, v double",
        )
        st = tdigest(df, "v", by=["g", "part"], delta=50)
        merged = {
            r["g"]: r["out"]
            for r in tdigest_rollup(
                st.drop("part"), by=["g"], state_col="tdigest",
                delta=50, out="out",
            ).collect()
        }
        assert set(merged) == {0, 1}
        assert merged[1] is None
        assert merged[0]["n"] == 2
        assert merged[0]["min"] == 1.0 and merged[0]["max"] == 5.0

    def test_rollup_minmax_exact_through_compression(self, spark):
        from timescaledb_spark.functions.tdigest import (
            tdigest,
            tdigest_rollup,
        )

        rows = [(i % 7, float((i * 37) % 1000)) for i in range(3000)]
        df = spark.createDataFrame(rows, "part int, v double")
        st = tdigest(df, "v", by=["part"], delta=20)  # compressed
        m = tdigest_rollup(
            st.select("tdigest"), by=[], state_col="tdigest",
            delta=20, out="out",
        ).collect()[0]["out"]
        vals = [v for _, v in rows]
        assert m["n"] == len(vals)
        assert m["min"] == min(vals) and m["max"] == max(vals)
        assert len(m["means"]) <= 20
