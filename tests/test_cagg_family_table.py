"""The partial-state family table (``timescaledb_spark.cagg_families``),
checked once per entry: adding a family to ``FAMILIES`` (plus one SQL
constructor call in ``_SQL_CALL`` below) covers it here.

For every family, including the 2-D stats variant:

- a hierarchical ``rollup_of`` child served at its own grain equals the
  parent served at the child's grain — rollup and at-grain serving run
  the same family merge, so they must agree;
- the SQL ``rollup(col)`` CMV route stores the same catalog spec as the
  Python ``rollup_of`` route.

Plus the CMV parser's failure modes and the catalog-row / keyword-set
compatibility of ``create_cagg``."""

import inspect
import math
import tempfile

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.cagg_families import FAMILIES, STATS
from timescaledb_spark.caggs import ContinuousAggregate
from timescaledb_spark.session import TSSession
from timescaledb_spark.sources import load_table

#: one toolkit constructor call per family key, over the fixture's
#: columns (qv: integer-valued double, av = |qv|, nv: qv with NULLs,
#: st8: a NULL-able state label)
_SQL_CALL = {
    "sketches": "percentile_agg(av)",
    "counters": "counter_agg(ts, nv)",
    "gauges": "gauge_agg(ts, nv)",
    "stats_aggs": "stats_agg(nv)",
    "time_weights": "time_weight('LOCF', ts, nv)",
    "candlesticks": "candlestick_agg(ts, nv, av + 1)",
    "state_aggs": "state_agg(ts, st8)",
    "freq_aggs": "topn_agg(2, st8)",
    "maxn_aggs": "max_n_by(nv, event_id, 2)",
    "heartbeat_aggs": "heartbeat_agg(ts, '2 hours')",
    "tdigest_aggs": "tdigest(50, nv)",
}
#: spec variants served by a different accessor family
_VARIANT_CALL = {"stats_aggs": "stats_agg(qv, nv)"}

_CASES = [(f.key, f"c_{f.key}") for f in FAMILIES] + [
    (k, f"v_{k}") for k in _VARIANT_CALL
]


def _cols():
    return [
        (key, col, _VARIANT_CALL[key] if col.startswith("v_") else _SQL_CALL[key])
        for key, col in _CASES
    ]


@pytest.fixture(scope="module")
def env(spark, sf_dir):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_famtab_"))
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    qv = F.floor(F.col("value")).cast("double")
    nv = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(qv)
    ht.insert(
        load_table(spark, sf_dir, "events")
        .withColumn("qv", qv)
        .withColumn("av", F.abs(qv))
        .withColumn("nv", nv)
        .withColumn(
            "st8",
            F.when(nv % 3 == 0, "a").when(nv % 3 == 1, "b").when(
                nv.isNotNull(), "c"
            ),
        )
    )
    items = ", ".join(f"{call} AS {col}" for _k, col, call in _cols())
    ts.sql(
        "CREATE MATERIALIZED VIEW par WITH (timescaledb.continuous) AS "
        f"SELECT time_bucket('1 hour', ts) AS bucket, event_type, {items} "
        "FROM events GROUP BY 1, 2"
    )
    kid_py = ts.create_cagg(
        "kid_py",
        "_mat_par",
        bucket_width="1 day",
        aggs={},
        group_by=["event_type"],
        **{
            key: {
                f"{col}_d": {"rollup_of": col}
                for k, col, _c in _cols()
                if k == key
            }
            for key in {k for k, _c in _CASES}
        },
    )
    kid_py.refresh()
    rollups = ", ".join(f"rollup({col}) AS {col}_d" for _k, col, _c in _cols())
    ts.sql(
        "CREATE MATERIALIZED VIEW kid_sql WITH (timescaledb.continuous) AS "
        f"SELECT time_bucket('1 day', bucket) AS bucket, event_type, "
        f"{rollups} FROM par GROUP BY 1, 2 WITH NO DATA"
    )
    return ts


def _serve(cagg, key, col, grain):
    """Serve ``col`` through the family's own accessor entry."""
    from timescaledb_spark.cagg_families import BY_KEY

    fam = BY_KEY[key].for_spec(cagg.row[key][col])
    if fam.percentile:
        return getattr(cagg, fam.percentile[0])(
            [0.25, 0.5, 0.9], col, grain=grain, realtime=False
        )
    meth = fam.serve or fam.srf[1]
    return getattr(cagg, meth)(col, grain=grain, realtime=False)


def _rows(df):
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        out.append(
            tuple(
                sorted(
                    (k, round(v, 9) if isinstance(v, float) else v)
                    for k, v in d.items()
                    if not (isinstance(v, float) and math.isnan(v))
                )
            )
        )
    return sorted(out, key=repr)


def test_every_family_has_a_case():
    assert set(_SQL_CALL) == {f.key for f in FAMILIES}


@pytest.mark.parametrize("key,col", _CASES, ids=[c for _k, c in _CASES])
def test_rollup_child_equals_parent_at_child_grain(env, key, col):
    ts = env
    parent, kid = ts.get_cagg("par"), ts.get_cagg("kid_py")
    want = _rows(_serve(parent, key, col, "1 day"))
    got = _rows(_serve(kid, key, f"{col}_d", None))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("key,col", _CASES, ids=[c for _k, c in _CASES])
def test_sql_rollup_route_stores_python_spec(env, key, col):
    ts = env
    py = ts.get_cagg("kid_py").row[key][f"{col}_d"]
    sql = ts.get_cagg("kid_sql").row[key][f"{col}_d"]
    assert sql == py
    assert py["rollup_of"] == col


def test_variant_is_the_2d_stats_family(env):
    row = env.get_cagg("par").row
    assert STATS.for_spec(row["stats_aggs"]["v_stats_aggs"]).serve == (
        "stats2d_at_grain"
    )


def test_sql_rollup_of_non_partial_column_names_it(env):
    ts = env
    ts.sql(
        "CREATE MATERIALIZED VIEW plain_mx WITH (timescaledb.continuous) AS "
        "SELECT time_bucket('1 hour', ts) AS bucket, event_type, "
        "max(qv) AS mx FROM events GROUP BY 1, 2"
    )
    with pytest.raises(ValueError, match=r"'mx'.*'plain_mx'"):
        ts.sql(
            "CREATE MATERIALIZED VIEW plain_d WITH (timescaledb.continuous) "
            "AS SELECT time_bucket('1 day', bucket) AS bucket, event_type, "
            "rollup(mx) AS mx_d FROM plain_mx GROUP BY 1, 2"
        )
    assert ts.catalog.continuous_agg.find_one(name="plain_d") is None


def test_create_with_data_is_atomic(env):
    """A failing initial refresh drops the half-created cagg, so a retry
    fails exactly like the first attempt."""
    ts = env
    q = (
        "CREATE MATERIALIZED VIEW neg_sk WITH (timescaledb.continuous) AS "
        "SELECT time_bucket('1 hour', ts) AS bucket, "
        "percentile_agg(qv - 1000000) AS sk FROM events GROUP BY 1"
    )
    errors = []
    for _ in range(2):
        with pytest.raises(Exception) as ei:
            ts.sql(q).collect()
        errors.append(ei.value)
        assert ts.catalog.continuous_agg.find_one(name="neg_sk") is None
        assert ts.catalog.hypertable.find_one(name="_mat_neg_sk") is None
    assert "negative values" in str(errors[0])
    assert type(errors[0]) is type(errors[1])
    assert "already exists" not in str(errors[1])


#: the create_cagg keywords before the family table (every family was
#: a named parameter); the accepted set must not change
_CREATE_KEYWORDS = {
    "name", "hypertable", "bucket_width", "aggs", "group_by",
    "time_column", "bucket_alias", "materialized_only", "where", "join",
    "window_fns", "enable_window_functions", "sketches", "counters",
    "gauges", "stats_aggs", "time_weights", "candlesticks", "state_aggs",
    "freq_aggs", "maxn_aggs", "heartbeat_aggs", "tdigest_aggs",
    "mat_chunk_interval",
}


def test_create_keyword_set_unchanged(env):
    params = inspect.signature(ContinuousAggregate.create).parameters
    named = {
        p for p, v in params.items()
        if p not in ("ts",) and v.kind is not inspect.Parameter.VAR_KEYWORD
    }
    assert named | {f.key for f in FAMILIES} == _CREATE_KEYWORDS
    with pytest.raises(TypeError, match="unexpected keyword"):
        ContinuousAggregate.create(
            env, "bad_kw", "events", "1 hour", {}, counter={}
        )


#: a create call with every family and its rollup_of child, and the
#: catalog rows the engine stored for them before the family table —
#: existing caggs must load unchanged, so the format must not move
_FAMS = dict(
    sketches={"sk": {"value": "av", "alpha": 0.02}},
    counters={"cnt": {"value": "nv", "tiebreak": ["event_id"]}},
    gauges={"g": {"value": "nv", "tiebreak": ["event_id"]}},
    stats_aggs={"st": {"value": "nv"}, "st2": {"value": "nv", "y": "qv"}},
    time_weights={
        "tw": {"value": "nv", "tiebreak": ["event_id"]},
        "twl": {"value": "nv", "method": "linear", "tiebreak": ["event_id"]},
    },
    candlesticks={
        "ohlc": {"price": "nv", "volume": "av", "tiebreak": ["event_id"]}
    },
    state_aggs={"sa": {"state": "st8", "tiebreak": ["event_id"]}},
    freq_aggs={"fq": {"value": "st8", "capacity": 2}},
    maxn_aggs={
        "mx": {"value": "nv", "n": 3},
        "mnb": {"value": "nv", "by": "event_id", "n": 2, "desc": False},
    },
    heartbeat_aggs={"hb": {"liveness": "2 hours"}},
    tdigest_aggs={"td": {"value": "nv", "delta": 50}},
)
_ROW_HP = {'aggs': {'c': 'count(*)', 'h': 'hll_sketch_agg(event_type)'}, 'bucket_alias': 'bucket', 'bucket_origin_us': 946857600000000, 'bucket_width_months': 0, 'bucket_width_us': 3600000000, 'candlesticks': {'ohlc': {'price': 'nv', 'tiebreak': ['event_id'], 'volume': 'av'}}, 'counters': {'cnt': {'tiebreak': ['event_id'], 'value': 'nv'}}, 'freq_aggs': {'fq': {'capacity': 2, 'value': 'st8'}}, 'gauges': {'g': {'tiebreak': ['event_id'], 'value': 'nv'}}, 'group_by': ['event_type'], 'heartbeat_aggs': {'hb': {'liveness': '2 hours', 'liveness_us': 7200000000}}, 'hypertable_name': 'events', 'join': None, 'mat_table': '_mat_hp', 'materialized_only': False, 'maxn_aggs': {'mnb': {'by': 'event_id', 'desc': False, 'n': 2, 'value': 'nv'}, 'mx': {'n': 3, 'value': 'nv'}}, 'name': 'hp', 'sketches': {'sk': {'alpha': 0.02, 'value': 'av'}}, 'state_aggs': {'sa': {'state': 'st8', 'tiebreak': ['event_id']}}, 'stats_aggs': {'st': {'value': 'nv'}, 'st2': {'value': 'nv', 'y': 'qv'}}, 'tdigest_aggs': {'td': {'delta': 50, 'value': 'nv'}}, 'time_column': 'ts', 'time_is_timestamp': True, 'time_is_uuid': False, 'time_weights': {'tw': {'tiebreak': ['event_id'], 'value': 'nv'}, 'twl': {'method': 'linear', 'tiebreak': ['event_id'], 'value': 'nv'}}, 'where': None, 'window_fns': None}  # noqa: E501
_ROW_DP = {'aggs': {}, 'bucket_alias': 'bucket', 'bucket_origin_us': 946857600000000, 'bucket_width_months': 0, 'bucket_width_us': 86400000000, 'candlesticks': {'ohlc_d': {'rollup_of': 'ohlc'}}, 'counters': {'cnt_d': {'rollup_of': 'cnt'}}, 'freq_aggs': {'fq_d': {'capacity': 2, 'rollup_of': 'fq'}}, 'gauges': {'g_d': {'rollup_of': 'g'}}, 'group_by': ['event_type'], 'heartbeat_aggs': {'hb_d': {'liveness': '2 hours', 'liveness_us': 7200000000, 'rollup_of': 'hb'}}, 'hypertable_name': '_mat_hp', 'join': None, 'mat_table': '_mat_dp', 'materialized_only': False, 'maxn_aggs': {'mnb_d': {'by': 'event_id', 'desc': False, 'n': 2, 'rollup_of': 'mnb'}, 'mx_d': {'desc': True, 'n': 3, 'rollup_of': 'mx'}}, 'name': 'dp', 'sketches': {'sk_d': {'alpha': 0.02, 'rollup_of': 'sk'}}, 'state_aggs': {'sa_d': {'rollup_of': 'sa'}}, 'stats_aggs': {'st2_d': {'rollup_of': 'st2', 'y': 'qv'}, 'st_d': {'rollup_of': 'st'}}, 'tdigest_aggs': {'td_d': {'delta': 50, 'rollup_of': 'td'}}, 'time_column': 'bucket', 'time_is_timestamp': True, 'time_is_uuid': False, 'time_weights': {'tw_d': {'method': 'locf', 'rollup_of': 'tw'}, 'twl_d': {'method': 'linear', 'rollup_of': 'twl'}}, 'where': None, 'window_fns': None}  # noqa: E501


def test_catalog_rows_unchanged(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_famrow_"))
    ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ts.create_cagg(
        "hp", "events", bucket_width="1 hour",
        aggs={"c": "count(*)", "h": "hll_sketch_agg(event_type)"},
        group_by=["event_type"], **_FAMS,
    )
    ts.create_cagg(
        "dp", "_mat_hp", bucket_width="1 day", aggs={},
        group_by=["event_type"],
        **{
            k: {f"{c}_d": {"rollup_of": c} for c in v}
            for k, v in _FAMS.items()
        },
    )
    for name, want in (("hp", _ROW_HP), ("dp", _ROW_DP)):
        row = dict(ts.catalog.continuous_agg.find_one(name=name))
        for k in ("id", "created_at", "hypertable_id"):
            row.pop(k)
        assert row == want
