"""Continuous-aggregate reads planned as ONE ``spark.sql`` call.

Every cagg read — ``read``, each ``*_at_grain`` accessor and a cagg
bound into a ``ts.sql`` statement — is SQL text over the hypertable scan
relations: the mat side below the watermark, the raw-side partial view
above it. These tests pin what that path must keep:

- every family answers the same at grains None / "1 day" / "all" from a
  half-refreshed cagg (realtime union), after a full refresh, and from
  the materialization alone — for a ``rollup_of`` child and a
  month-width cagg too;
- ``ts.sql`` binds a cagg under every statement form, building only the
  value columns the statement names;
- planning starts no Spark job, and EXPLAIN keeps its realtime header;
- ``start``/``end`` bounds given as int µs, str and datetime agree;
- ``ts.sql`` of the toolkit idiom ``acc(rollup(col))`` — every form of
  the rollup route — is one ``spark.sql`` call with no DataFrame step
  and answers like the public accessors; an accessor's own error
  reaches the caller, and ``GROUP BY ROLLUP`` is not the route's.
"""

import datetime
import re
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.cagg_families import BY_KEY
from timescaledb_spark.session import TSSession
from timescaledb_spark.sources import load_table

FAMS = dict(
    sketches={"sk": {"value": "av"}},
    counters={"ctr": {"value": "nv"}},
    gauges={"gg": {"value": "nv"}},
    stats_aggs={"st": {"value": "nv"}, "st2": {"value": "qv", "y": "nv"}},
    time_weights={"tw": {"value": "nv"}},
    candlesticks={"cd": {"price": "nv", "volume": "av + 1"}},
    state_aggs={"sa": {"state": "st8"}},
    freq_aggs={"fq": {"value": "st8", "capacity": 2}},
    maxn_aggs={"mx": {"value": "nv", "n": 3}},
    heartbeat_aggs={"hb": {"liveness": "2 hours"}},
    tdigest_aggs={"td": {"value": "nv", "delta": 50}},
)
GRAINS = (None, "1 day", "all")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _serves(cagg, cols, realtime):
    """Every family column of ``cagg`` through its own accessor, at
    every grain."""
    out = {}
    for key, col in cols:
        fam = BY_KEY[key].for_spec(cagg.row[key][col])
        for grain in GRAINS:
            if fam.percentile:
                df = getattr(cagg, fam.percentile[0])(
                    [0.5, 0.9], col, grain=grain, realtime=realtime
                )
            else:
                meth = fam.serve or fam.srf[1]
                df = getattr(cagg, meth)(col, grain=grain, realtime=realtime)
            out[(col, grain)] = _rows(df)
    return out


def _halfway(ht):
    chunks = ht.chunks()
    lo = min(c["range_start"] for c in chunks)
    hi = max(c["range_end"] for c in chunks)
    return lo, lo + (hi - lo) // 2


@pytest.fixture(scope="module")
def env(spark, sf_dir):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_onecall_"))
    ht = ts.create_hypertable("events", "ts", chunk_interval="5 days")
    qv = F.floor(F.col("value")).cast("double")
    nv = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(qv)
    ht.insert(
        load_table(spark, sf_dir, "events")
        .withColumn("qv", qv)
        .withColumn("av", F.abs(qv))
        .withColumn("nv", nv)
        .withColumn(
            "st8",
            F.when(nv % 3 == 0, "a").when(nv % 3 == 1, "b").when(nv.isNotNull(), "c"),
        )
    )
    par = ts.create_cagg(
        "par",
        ht,
        bucket_width="1 hour",
        aggs={"n": "count(*)", "mxv": "max(value)"},
        group_by=["event_type"],
        **FAMS,
    )
    return ts, ht, par


def _family_cols(fams, suffix=""):
    return [(k, c + suffix) for k, specs in fams.items() for c in specs]


def test_every_family_realtime_equals_refreshed_equals_materialized(env):
    ts, ht, par = env
    lo, mid = _halfway(ht)
    par.refresh(start=lo, end=mid)
    cols = _family_cols(FAMS)
    half = _serves(par, cols, realtime=True)
    par.refresh()
    full = _serves(par, cols, realtime=True)
    mat = _serves(par, cols, realtime=False)
    assert half == full == mat
    assert all(half[(c, "all")] for _k, c in cols)


def test_rollup_child_and_month_cagg(env):
    ts, ht, par = env
    par.refresh()
    kid = ts.create_cagg(
        "kid",
        "_mat_par",
        bucket_width="1 day",
        aggs={},
        group_by=["event_type"],
        **{k: {f"{c}_d": {"rollup_of": c} for c in v} for k, v in FAMS.items()},
    )
    mon = ts.create_cagg(
        "mon",
        ht,
        bucket_width="1 month",
        aggs={"n": "count(*)"},
        group_by=["event_type"],
        stats_aggs={"st": {"value": "nv"}},
        sketches={"sk": {"value": "av"}},
        counters={"ctr": {"value": "nv"}},
    )
    kid_cols = _family_cols(FAMS, "_d")
    mon_cols = [("stats_aggs", "st"), ("sketches", "sk"), ("counters", "ctr")]
    for cagg, cols, src in ((kid, kid_cols, ts.get_hypertable("_mat_par")), (mon, mon_cols, ht)):
        lo, mid = _halfway(src)
        cagg.refresh(start=lo, end=mid)
        half = _serves(cagg, cols, realtime=True)
        cagg.refresh()
        assert half == _serves(cagg, cols, realtime=True)
        assert half == _serves(cagg, cols, realtime=False)


@pytest.fixture(scope="module")
def sqlenv(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_onecall_sql_"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="1 day")
    ht.insert(
        spark.createDataFrame(
            [
                (datetime.datetime(2024, 1, 1 + d, h), f"h{h % 3}", float(h * 7 % 11 + d))
                for d in range(4)
                for h in range(24)
            ],
            "ts timestamp, host string, v double",
        )
    )
    ts.create_table(
        "hosts",
        spark.createDataFrame([("h0", "eu"), ("h1", "us"), ("h2", "eu")], "host string, region string"),
    )
    c = ts.create_cagg(
        "c",
        ht,
        bucket_width="1 hour",
        aggs={"mx": "max(v)", "n": "count(*)", "s": "sum(v)"},
        group_by=["host"],
        sketches={"sk": {"value": "v"}},
        window_fns={"rk": "rank() OVER (PARTITION BY bucket ORDER BY s DESC)"},
        enable_window_functions=True,
    )
    lo, mid = _halfway(ht)
    c.refresh(start=lo, end=mid)
    return ts, ht, c


def test_sql_binding_forms(sqlenv):
    ts, ht, c = sqlenv
    view = c.read()
    assert view.columns == ["bucket", "host", "mx", "n", "s", "sk", "rk"]
    full = view.collect()
    assert len(full) == 96
    assert _rows(ts.sql("SELECT * FROM c").drop("sk")) == _rows(c.read().drop("sk"))
    want = {(r["bucket"], r["host"]): r["mx"] for r in full}
    got = ts.sql("SELECT x.bucket, x.host, x.mx FROM c x").collect()
    assert {(r[0], r[1]): r[2] for r in got} == want
    got = ts.sql("SELECT c.bucket, c.host, c.mx FROM c WHERE c.n > 0").collect()
    assert {(r[0], r[1]): r[2] for r in got} == want
    # joined with its own hypertable
    got = ts.sql(
        "SELECT c.bucket, c.host, c.n, count(*) AS raw_n FROM c JOIN m "
        "ON time_bucket('1 hour', m.ts) = c.bucket AND m.host = c.host "
        "GROUP BY 1, 2, 3"
    ).collect()
    assert len(got) == 96 and all(r["n"] == r["raw_n"] for r in got)
    # referenced twice
    got = ts.sql(
        "SELECT a.bucket, a.host, a.mx, b.n FROM c a JOIN c b "
        "ON a.bucket = b.bucket AND a.host = b.host"
    ).collect()
    assert {(r[0], r[1]): r[2] for r in got} == want
    # a window column needs its sibling aggregate s
    got = ts.sql("SELECT bucket, host, rk FROM c").collect()
    assert {(r[0], r[1]): r[2] for r in got} == {
        (r["bucket"], r["host"]): r["rk"] for r in full
    }
    # a plain table joined in the statement
    got = ts.sql(
        "SELECT h.region, sum(c.n) AS n FROM c JOIN hosts h ON c.host = h.host "
        "GROUP BY h.region"
    ).collect()
    assert {r[0]: r[1] for r in got} == {"eu": 64, "us": 32}


def test_sql_binding_all_column_forms(sqlenv):
    """Forms that ask for every column without naming one bind the
    cagg with all its value columns."""
    ts, _ht, c = sqlenv
    view = c.read().drop("sk")
    want = _rows(view)
    assert _rows(ts.sql("SELECT /* hint-free */ * FROM c").drop("sk")) == want
    assert _rows(ts.sql("SELECT -- every column\n * FROM c").drop("sk")) == want
    assert _rows(ts.sql("TABLE c").drop("sk")) == want
    hosts = ts.read_table("hosts")
    joined = ts.sql("SELECT /*+ BROADCAST(h) */ * FROM c JOIN hosts h ON c.host = h.host")
    assert _rows(joined.drop("sk")) == _rows(view.join(hosts, view.host == hosts.host))
    got = ts.sql("SELECT struct(*) AS r FROM c")
    assert got.schema["r"].dataType.names == c.read().columns
    assert _rows(got.select("r.*").drop("sk")) == want
    # a NATURAL join's keys are the shared columns, value columns too
    ts.create_table("hn", ts.spark.createDataFrame([("h0", 1), ("h1", 2)], "host string, n long"))
    got = ts.sql("SELECT bucket, host FROM c NATURAL JOIN hn").collect()
    assert len(got) == 32 and {r[1] for r in got} == {"h0"}


def test_sql_binding_builds_only_named_columns(sqlenv):
    ts, _ht, _c = sqlenv

    def optimized(q):
        return ts.sql(q)._jdf.queryExecution().optimizedPlan().toString()

    # the sketch family's realtime build is not planned
    assert "map_from_entries" not in optimized("SELECT bucket, host, mx FROM c")
    # count(*) and a * in a comment or string ask for no column
    assert "map_from_entries" not in optimized(
        "SELECT bucket, host, count(*) AS k, '*' AS t FROM c -- not c.*\n"
        "GROUP BY bucket, host"
    )
    assert "map_from_entries" not in optimized(
        "SELECT bucket, host /* c.* */, mx FROM c WHERE host <> '*'"
    )
    assert "map_from_entries" in optimized("SELECT * FROM c")
    assert "map_from_entries" in optimized("SELECT /*+ BROADCAST(h) */ * FROM c JOIN hosts h USING (host)")
    assert "map_from_entries" in optimized("TABLE c")
    # the column sets themselves: a * in a comment or string names
    # nothing; a hinted *, struct(*), TABLE and a NATURAL join read all
    from timescaledb_spark.sqltree import Statement

    cols = _c._value_cols()
    assert Statement(
        ts, "SELECT bucket /* c.* */, mx FROM c WHERE host <> '*' -- *"
    ).columns(cols) == ["mx"]
    for q in (
        "SELECT /*+ BROADCAST(h) */ * FROM c JOIN hosts h USING (host)",
        "SELECT struct(*) AS r FROM c",
        "TABLE c",
        "SELECT bucket, region FROM c NATURAL JOIN hosts",
    ):
        assert Statement(ts, q).columns(cols) == cols, q


def test_join_where_spec_and_udaf(sqlenv):
    ts, ht, _c = sqlenv
    import pandas as pd

    ts.register_aggregate("spread", lambda v: float(v.max() - v.min()), "double")
    j = ts.create_cagg(
        "cj",
        ht,
        bucket_width="1 day",
        # a pandas UDAF cannot share an aggregate with built-in ones:
        # the row count comes from the stats partial's n
        aggs={"sp": "spread(v)"},
        group_by=["region"],
        stats_aggs={"st": {"value": "v"}},
        join={"table": "hosts", "on": "host"},
        where="v > 2",
    )
    raw = ht.read().toPandas().merge(
        pd.DataFrame({"host": ["h0", "h1", "h2"], "region": ["eu", "us", "eu"]})
    )
    raw = raw[raw.v > 2]
    raw["day"] = raw.ts.dt.floor("D")
    want = {
        (d.to_pydatetime(), g): (len(x), float(x.v.max() - x.v.min()))
        for (d, g), x in raw.groupby(["day", "region"])
    }

    def check():
        got = ts.sql("SELECT bucket, region, st.n, sp FROM cj").collect()
        assert {(r[0], r[1]): (r[2], r[3]) for r in got} == want

    check()  # never refreshed: the raw side alone
    lo, mid = _halfway(ht)
    j.refresh(start=lo, end=mid)
    check()
    j.set_materialized_only(True)
    got = {
        (r[0], r[1]): r[2]
        for r in ts.sql("SELECT bucket, region, st.n FROM cj").collect()
    }
    assert got and set(got) < set(want)  # the mat side only
    assert all(want[k][0] == n for k, n in got.items())


def test_never_refreshed_materialized_only_raises(sqlenv):
    ts, ht, _c = sqlenv
    cm = ts.create_cagg(
        "cm", ht, bucket_width="1 hour", aggs={"n": "count(*)"}, materialized_only=True
    )
    with pytest.raises(Exception, match="never refreshed"):
        ts.sql("SELECT * FROM cm").collect()
    cm.refresh()
    assert ts.sql("SELECT sum(n) AS n FROM cm").collect()[0]["n"] == 96


def test_no_spark_job_while_planning(spark, sqlenv):
    ts, _ht, c = sqlenv
    tracker = spark.sparkContext.statusTracker()
    for plan in (
        lambda: ts.sql(
            "SELECT time_bucket('1 day', bucket) AS day, host, max(mx) AS mx "
            "FROM c GROUP BY day, host"
        ),
        lambda: c.quantiles([0.95], grain="1 day", realtime=True),
        lambda: c.read(realtime=True),
    ):
        j0 = max(tracker.getJobIdsForGroup(None), default=-1)
        df = plan()
        assert [j for j in tracker.getJobIdsForGroup(None) if j > j0] == []
        assert df.collect()


def test_explain_realtime_header(sqlenv):
    ts, _ht, c = sqlenv
    lines = [r[0] for r in ts.sql("EXPLAIN SELECT * FROM c").collect()]
    head = [l for l in lines if l.startswith("Cagg c ")]
    assert len(head) == 1, lines[:5]
    m = re.match(
        r"Cagg c \(realtime union, watermark (\S+ \S+)\): mat\[_mat_c\] bucket "
        r"< watermark — chunks total=(\d+) scanned=(\d+) excluded=\d+; "
        r"raw\[m\] time >= watermark — chunks total=4 scanned=(\d+) excluded=\d+",
        head[0],
    )
    assert m, head[0]
    assert m.group(1) == "2024-01-03 00:00:00+00"
    assert int(m.group(3)) >= 1 and int(m.group(4)) == 2


def test_bounds_int_str_datetime_agree(sqlenv):
    ts, _ht, c = sqlenv
    start = datetime.datetime(2024, 1, 2, 5, 30, tzinfo=datetime.timezone.utc)
    end = datetime.datetime(2024, 1, 4, tzinfo=datetime.timezone.utc)
    us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
    forms = [
        (us(start), us(end)),
        ("2024-01-02 05:30:00", "2024-01-04"),
        (start, end),
    ]
    for serve in (
        lambda a, b: c.quantiles([0.5], grain="1 day", start=a, end=b),
        lambda a, b: c.quantiles([0.5], start=a, end=b),
    ):
        got = [_rows(serve(a, b)) for a, b in forms]
        assert got[0] == got[1] == got[2] and got[0]
    rows = _rows(c.quantiles([0.5], start=us(start), end=us(end)))
    # bucket-aligned [start, end): whole buckets from 06:00 on
    assert min(r[0] for r in rows) == datetime.datetime(2024, 1, 2, 6)
    assert max(r[0] for r in rows) == datetime.datetime(2024, 1, 3, 23)


def test_integer_time_cagg(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_onecall_int_"))
    ht = ts.create_hypertable("ints", "t", chunk_interval=1000)
    ht.insert(
        spark.range(0, 3000).selectExpr(
            "id AS t", "CAST(id % 3 AS STRING) AS g", "CAST(id % 17 AS DOUBLE) AS v"
        )
    )
    c = ts.create_cagg(
        "ic",
        ht,
        bucket_width=100,
        aggs={"n": "count(*)"},
        group_by=["g"],
        stats_aggs={"st": {"value": "v"}},
    )
    c.refresh(start=0, end=1500)
    got = {(r["bucket"], r["g"]): r["n"] for r in c.read().collect()}
    assert len(got) == 90 and set(got.values()) == {33, 34}
    # bucket-aligned [500, 2500) over both sides of the watermark (1500)
    st = _rows(c.stats_at_grain(grain=1000, start=500, end=2500))
    assert [r[0] for r in st] == [0] * 3 + [1000] * 3 + [2000] * 3
    assert sum(r[2] for r in st) == 2000


def _by(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _rank_join(par):
    """quantiles and rank served apart, joined per event_type."""
    by = dict(grain="all", group_by=["event_type"])
    med = dict(_by(par.quantiles([0.5], "sk", **by), "event_type", "p50"))
    rk = par.rank(50, "sk", **by)
    return sorted((et, med[et], r) for et, r in _by(rk, "event_type", "rank"))


def _duration_and_total(par):
    """duration_in('a') with the aggregate's TOTAL sample count."""
    rows = par.state_durations_at_grain("sa", grain="all").collect()
    total = {}
    for r in rows:
        total[r["event_type"]] = total.get(r["event_type"], 0) + r["n"]
    return sorted(
        (r["event_type"], r["duration_us"], total[r["event_type"]])
        for r in rows
        if r["state"] == "a"
    )


DAY = "SELECT time_bucket('1 day', bucket) AS day, event_type, {} FROM par GROUP BY 1, 2"
ET = "SELECT event_type, {} FROM par GROUP BY event_type"
#: every form of the rollup route: (statement, the public accessors' rows)
ROUTE_FORMS = {
    "percentile": (
        DAY.format("approx_percentile(0.9, rollup(sk)) AS p90"),
        lambda p: _by(p.quantiles([0.9], "sk", grain="1 day"), "bucket", "event_type", "p90"),
    ),
    "percentile_rank": (
        ET.format(
            "approx_percentile(0.5, rollup(sk)) AS med, "
            "approx_percentile_rank(50, rollup(sk)) AS r"
        ),
        _rank_join,
    ),
    "rank_all": (
        "SELECT approx_percentile_rank(20, rollup(sk)) AS r FROM par",
        lambda p: _by(p.rank(20, "sk", grain="all", group_by=[]), "rank"),
    ),
    "percentile_array": (
        DAY.format("approx_percentile_array(array[0.5, 0.9], rollup(td)) AS ps"),
        lambda p: sorted(
            (r["bucket"], r["event_type"], [r["p50"], r["p90"]])
            for r in p.tdigest_quantiles_at_grain([0.5, 0.9], "td", grain="1 day").collect()
        ),
    ),
    "tdigest_mix": (
        ET.format("approx_percentile(0.5, rollup(td)) AS p, num_vals(rollup(td)) AS n"),
        lambda p: _by(
            p.tdigest_quantiles_at_grain([0.5], "td", grain="all", group_by=["event_type"]),
            "event_type", "p50", "n",
        ),
    ),
    "counter": (
        DAY.format("delta(rollup(ctr)) AS d, num_resets(rollup(ctr)) AS r"),
        lambda p: _by(
            p.counter_at_grain("ctr", grain="1 day"), "bucket", "event_type", "delta", "num_resets"
        ),
    ),
    "interpolated_delta": (
        DAY.format("interpolated_delta(rollup(ctr)) AS d, interpolated_rate(rollup(ctr)) AS r"),
        lambda p: _by(
            p.interpolated_delta_at_grain("ctr", grain="1 day"),
            "bucket", "event_type", "delta", "rate",
        ),
    ),
    "duration_num_vals": (
        ET.format("duration_in('a', rollup(sa)) AS d, num_vals(rollup(sa)) AS n"),
        _duration_and_total,
    ),
    "topn": (
        ET.format("topn(rollup(fq), 2) AS v"),
        lambda p: _by(
            p.topn_at_grain("fq", n=2, grain="all", group_by=["event_type"]),
            "event_type", "value", "freq_lb",
        ),
    ),
    "into_values": (
        DAY.format("into_values(rollup(mx)) AS v"),
        lambda p: _by(p.max_n_at_grain("mx", grain="1 day"), "bucket", "event_type", "value"),
    ),
}


def _count_calls(monkeypatch, obj, name):
    """This thread's calls of ``obj.name``, recorded from now on."""
    calls, orig, me = [], getattr(obj, name), threading.get_ident()

    def counted(*a, **kw):
        if threading.get_ident() == me:
            calls.append(a)
        return orig(*a, **kw)

    monkeypatch.setattr(obj, name, counted)
    return calls


@pytest.mark.parametrize("form", list(ROUTE_FORMS))
def test_rollup_route_one_call(spark, env, monkeypatch, form):
    """Each form of ``acc(rollup(col))`` is planned with ONE
    ``spark.sql`` call and a handful of py4j round trips (no DataFrame
    step) and starts no Spark job, and it answers like the public
    accessors."""
    ts, _ht, par = env
    sql, want = ROUTE_FORMS[form]
    ts.sql(sql)  # builds the scan relations a first statement needs
    tracker = spark.sparkContext.statusTracker()
    j0 = max(tracker.getJobIdsForGroup(None), default=-1)
    calls = _count_calls(monkeypatch, ts.spark, "sql")
    trips = _count_calls(monkeypatch, spark.sparkContext._gateway._gateway_client, "send_command")
    df = ts.sql(sql)
    monkeypatch.undo()
    assert len(calls) == 1 and len(trips) <= 10, (len(calls), len(trips))
    assert [j for j in tracker.getJobIdsForGroup(None) if j > j0] == []
    got = sorted(tuple(r) for r in df.collect())
    assert got and got == want(par)


def test_rollup_route_raises_the_accessors_error(env):
    ts, _ht, _par = env
    # an ordered family served without the cagg's group column
    with pytest.raises(ValueError, match="every group column"):
        ts.sql("SELECT duration_in('a', rollup(sa)), num_vals(rollup(sa)) FROM par")


def test_group_by_rollup_takes_the_normal_path(sqlenv):
    from timescaledb_spark.sqlapi import _try_rollup_accessors

    ts, _ht, _c = sqlenv
    q = "SELECT host, sum(n) AS n FROM c GROUP BY ROLLUP(host)"
    assert _try_rollup_accessors(ts, q) is None
    got = ts.sql(q).collect()
    assert {r["host"]: r["n"] for r in got} == {"h0": 32, "h1": 32, "h2": 32, None: 96}
