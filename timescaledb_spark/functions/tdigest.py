"""t-digest quantile sketches — the toolkit's SECOND percentile algebra
(``tdigest(size, value)`` + ``rollup`` + ``approx_percentile``;
timescaledb-toolkit tdigest, the latency-percentile workhorse the
Timescale docs steer users to next to ``percentile_agg``/uddsketch).
Published algorithm: Dunning & Ertl, "Computing Extremely Accurate
Quantiles Using t-Digests" (arXiv:1902.04023) — rank-ERROR bounded
(tight at the tails), vs DDSketch's relative-VALUE-error bound
(:mod:`.ddsketch`).

State (mergeable): ``struct(n: long, min: double, max: double,
means: array<double>, weights: array<long>)`` — at most ``delta``
centroids sorted by mean.

Spark-first construction — no UDFs anywhere:

- **build**: one rank window per group orders the values; each value's
  quantile midpoint ``q = (rank − ½)/n`` is binned by the k1 scale
  function ``k(q) = δ·(asin(2q−1)/π + ½)`` (arXiv:1902.04023 §2.2 —
  uniform in asin, so tail clusters are tiny and tail quantiles
  precise); one map-combined groupBy folds each bin to a weighted
  centroid, and a second groupBy collects ≤ ``delta`` centroids per
  group — the same bounded-collect discipline as the Misra–Gries
  frequency partials.
- **lossless regime**: while a group holds ≤ ``delta`` values every
  centroid is a SINGLETON (rank-indexed, no binning) — the digest is
  exact, and quantile extraction then returns type-7
  (SQL ``percentile_cont``) interpolation bit-for-bit, which is what
  makes the oracle gate hash-checkable.
- **merge** (``rollup``): concatenate centroid lists, re-sort by mean,
  re-bin by cumulative-weight midpoint quantiles, fold — an
  order-independent (commutative, deterministic) re-clustering, so
  cagg states regroup freely at any coarser grain. min/max/n merge
  exactly.
- **extract**: pure array expressions over the stored state — prefix
  sums via ``aggregate``, bracket search via ``filter(sequence(...))``,
  linear interpolation between centroid midpoints (the standard
  t-digest quantile rule), clamped to the first/last centroid mean.

Rank-error: a k1 bin spans at most ``sin(π/δ) ≈ π/δ`` in q around the
middle and far less at the tails, so an extracted quantile's rank error
is ≤ ~π/(2δ) mid-range (tested in ``tests/test_tdigest.py``).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..scan import over_frame

#: default compression (max centroids), the toolkit example size
DEFAULT_DELTA = 200


def _qname(q: float) -> str:
    """0.5 -> p50, 0.95 -> p95, 0.999 -> p99_9 (ddsketch convention)."""
    return "p" + f"{q * 100:g}".replace(".", "_")


def _check_delta(delta: int) -> int:
    delta = int(delta)
    if delta < 2:
        raise ValueError("tdigest delta (compression) must be >= 2")
    return delta


#: float literal of math.pi as Spark SQL double (bit-identical to the
#: Column-form F.lit(math.pi) the builders used before the SQL-string
#: rewrite)
_PI = repr(math.pi)


def _part_clause(keys: Sequence[str]) -> str:
    if not keys:
        return ""
    return "PARTITION BY " + ", ".join(f"`{k}`" for k in keys) + " "


def _cluster_sql(rk: str, n: str, delta: int) -> str:
    """k1 scale-function bin for a value at rank ``rk`` of ``n``:
    singleton (rank) while the group fits ``delta``, else
    ``floor(δ·(asin(2q−1)/π + ½))`` of the rank midpoint quantile."""
    q = f"((CAST({rk} AS DOUBLE) - 0.5D) / CAST({n} AS DOUBLE))"
    binned = (
        f"least(floor({float(delta)!r}D * "
        f"(asin(2.0D * {q} - 1.0D) / {_PI}D + 0.5D)), {delta - 1})"
    )
    return (
        f"CASE WHEN {n} <= {delta} THEN CAST({rk} AS BIGINT) "
        f"ELSE CAST({binned} AS BIGINT) END"
    )


def _state_struct_sql(tn: str, tmn: str, tmx: str, ents: str) -> str:
    return (
        f"CASE WHEN {tn} > 0 THEN named_struct("
        f"'n', {tn}, 'min', {tmn}, 'max', {tmx}, "
        f"'means', transform({ents}, c -> c.mean), "
        f"'weights', transform({ents}, c -> CAST(c.weight AS BIGINT))"
        f") END"
    )


def _list(*parts) -> str:
    """Comma-joined non-empty SQL list items."""
    return ", ".join(p for p in parts if p)


def _group(kq: Sequence[str], *more: str) -> str:
    items = [*kq, *more]
    return f" GROUP BY {', '.join(items)}" if items else ""


def build_states_sql(c, src: str, keys: Sequence[str], value: str, delta: int, out: str) -> str:
    """Per-``keys`` t-digest states from the raw rows of relation
    ``src``, as CTEs appended to ``c`` (:class:`..scan.Ctes`); returns
    the name of the ``(keys…, out)`` relation. ``value`` is a SQL
    expression. Strict NULL semantics: NULL values are skipped; a group
    whose values are all NULL still gets a row, with a NULL state."""
    delta = _check_delta(delta)
    kq = [f"`{k}`" for k in keys]
    ks = _list(*kq)
    base = c.add(f"SELECT {_list(ks, f'CAST(({value}) AS DOUBLE) AS _v')} FROM {src}")
    # non-null count as a FULL frame of the same ordered spec (not a
    # separate partition-only window): both window functions share one
    # sort and one WindowExec (round 14 — same trick as merge_states_sql)
    wo = f"{_part_clause(keys)}ORDER BY _v ASC NULLS LAST"
    d = c.add(
        f"SELECT {_list(ks, '_v')}, count(_v) OVER ({wo} ROWS BETWEEN "
        f"UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS _n, "
        f"row_number() OVER ({wo}) AS _rk FROM {base}"
    )
    cl = (
        "CASE WHEN _v IS NULL THEN CAST(NULL AS BIGINT) ELSE "
        + _cluster_sql("_rk", "_n", delta)
        + " END"
    )
    per = c.add(
        f"SELECT {_list(ks, f'{cl} AS _cl')}, count(_v) AS _w, avg(_v) AS _m, "
        f"min(_v) AS _mn, max(_v) AS _mx FROM {d}{_group(kq, cl)}"
    )
    flat = c.add(
        f"SELECT {_list(ks, 'sum(CASE WHEN _cl IS NOT NULL THEN _w END) AS _tn')}, "
        f"min(_mn) AS _tmn, max(_mx) AS _tmx, "
        f"array_sort(collect_list(CASE WHEN _cl IS NOT NULL THEN "
        f"named_struct('mean', _m, 'weight', _w) END)) AS _te FROM {per}{_group(kq)}"
    )
    state = _state_struct_sql("_tn", "_tmn", "_tmx", "_te")
    return c.add(f"SELECT {_list(ks, f'{state} AS `{out}`')} FROM {flat}")


def merge_states_sql(c, src: str, keys: Sequence[str], state_col: str, delta: int, out: str) -> str:
    """Merge one state per ``keys`` group from the many input states in
    column ``state_col`` of relation ``src`` — ``rollup(tdigest)`` — as
    CTEs appended to ``c``; returns the ``(keys…, out)`` relation. NULL
    input states are kept by contract (the group survives with a NULL
    state when ALL inputs are NULL). Order-independent: global re-sort
    by centroid mean, re-bin by cumulative-weight midpoint, fold; the
    collect is ≤ ``delta`` entries per group (bins bound it when total
    weight > delta, total centroid count ≤ total weight ≤ delta bounds
    it otherwise)."""
    delta = _check_delta(delta)
    kq = [f"`{k}`" for k in keys]
    ks = _list(*kq)
    st = f"`{state_col}`"
    # ONE pipeline, ONE shuffle (round 14). Shape-preserving rewrites:
    # - NULL states explode to one dummy (NULL, NULL) entry, so every
    #   input group keeps a row without a totals branch + left join
    #   (all-NULL group ⇔ _tn stays NULL);
    # - group n / min / max ride the exploded rows (each state's
    #   scalars repeat on its centroids; n == Σweights for any valid
    #   digest) and fold in the same two aggregations as the bins;
    # - cumulative weight and total weight are two FRAMES of one
    #   window spec → a single sort, one WindowExec;
    # - the singleton-regime rank IS cumb+1 (total weight ≤ delta ⇒
    #   every input centroid is a parent singleton of weight 1).
    ents = (
        f"CASE WHEN {st} IS NOT NULL THEN "
        f"zip_with({st}.means, {st}.weights, "
        f"(m, w) -> named_struct('_m', m, '_w', w)) "
        f"ELSE array(named_struct('_m', CAST(NULL AS DOUBLE), "
        f"'_w', CAST(NULL AS BIGINT))) END"
    )
    ex = c.add(
        f"SELECT {_list(ks, f'{st}.min AS _smn')}, {st}.max AS _smx, "
        f"explode({ents}) AS _c FROM {src}"
    )
    wo = f"{_part_clause(keys)}ORDER BY _m ASC NULLS LAST, _w ASC"
    rows = c.add(
        f"SELECT {_list(ks, '_smn')}, _smx, _c._m AS _m, _c._w AS _w FROM {ex}"
    )
    rows = c.add(
        f"SELECT {_list(ks, '_smn')}, _smx, _m, _w, "
        f"coalesce(sum(_w) OVER ({wo} ROWS BETWEEN UNBOUNDED PRECEDING "
        f"AND 1 PRECEDING), CAST(0 AS BIGINT)) AS _cumb, "
        f"sum(_w) OVER ({wo} ROWS BETWEEN UNBOUNDED PRECEDING "
        f"AND UNBOUNDED FOLLOWING) AS _N FROM {rows}"
    )
    qmid = (
        "((CAST(_cumb AS DOUBLE) + CAST(_w AS DOUBLE) / 2.0D) "
        "/ CAST(_N AS DOUBLE))"
    )
    binned = (
        f"least(floor({float(delta)!r}D * "
        f"(asin(2.0D * {qmid} - 1.0D) / {_PI}D + 0.5D)), {delta - 1})"
    )
    cl = (
        f"CASE WHEN _m IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN _N <= {delta} THEN _cumb + 1 "
        f"ELSE CAST({binned} AS BIGINT) END"
    )
    per = c.add(
        f"SELECT {_list(ks, f'{cl} AS _cl')}, sum(_w) AS _w2, "
        f"sum(_m * CAST(_w AS DOUBLE)) / CAST(sum(_w) AS DOUBLE) AS _m2, "
        f"min(_smn) AS _bmn, max(_smx) AS _bmx FROM {rows}{_group(kq, cl)}"
    )
    cents = c.add(
        f"SELECT {_list(ks, 'sum(CASE WHEN _cl IS NOT NULL THEN _w2 END) AS _tn')}, "
        f"min(_bmn) AS _tmn, max(_bmx) AS _tmx, "
        f"array_sort(collect_list(CASE WHEN _cl IS NOT NULL THEN "
        f"named_struct('mean', _m2, 'weight', _w2) END)) AS _te "
        f"FROM {per}{_group(kq)}"
    )
    state = _state_struct_sql("_tn", "_tmn", "_tmx", "_te")
    typed = (
        f"CASE WHEN _tn IS NOT NULL THEN CAST({state} AS "
        f"STRUCT<n: BIGINT, min: DOUBLE, max: DOUBLE, "
        f"means: ARRAY<DOUBLE>, weights: ARRAY<BIGINT>>) END AS `{out}`"
    )
    return c.add(f"SELECT {_list(ks, typed)} FROM {cents}")


def _quantile_sql(state: str, q: float) -> str:
    """SQL string of :func:`quantile_expr` (one py4j parse at bind)."""
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    st = state
    qs = repr(float(q))
    # ---- lossless path: type-7 over the singleton means
    pos = f"({qs} * ({st}.n - 1))"
    lo_i = f"(CAST(floor({pos}) AS INT) + 1)"
    exact = (
        f"(element_at({st}.means, {lo_i}) + "
        f"(element_at({st}.means, least({lo_i} + 1, CAST({st}.n AS INT)))"
        f" - element_at({st}.means, {lo_i}))"
        f" * ({pos} - floor({pos})))"
    )
    # ---- compressed path: midpoint interpolation
    cum = (
        f"aggregate({st}.weights, array(CAST(0 AS DOUBLE)), "
        f"(acc, w) -> array_append(acc, element_at(acc, -1) + "
        f"CAST(w AS DOUBLE)))"
    )
    mid = (
        f"(element_at(_tdc, i) + "
        f"CAST(element_at({st}.weights, i) AS DOUBLE) / 2.0D)"
    )
    t = f"({qs} * CAST({st}.n AS DOUBLE))"
    idx = (
        f"size(filter(sequence(1, size({st}.means)), i -> {mid} <= {t}))"
    )
    lo_m = f"element_at({st}.means, _tdi)"
    hi_m = f"element_at({st}.means, _tdi + 1)"
    mlo = (
        f"(element_at(_tdc, _tdi) + "
        f"CAST(element_at({st}.weights, _tdi) AS DOUBLE) / 2.0D)"
    )
    mhi = (
        f"(element_at(_tdc, _tdi + 1) + "
        f"CAST(element_at({st}.weights, _tdi + 1) AS DOUBLE) / 2.0D)"
    )
    general = (
        # bind cum array and bracket index once via nested lambdas
        f"(SELECT 1)"  # placeholder, replaced below
    )
    # spell the general path with two lambda bindings (transform over a
    # 1-element array is the expression-level `let`)
    general = (
        f"element_at(transform(array({cum}), _tdc -> "
        f"element_at(transform(array({idx}), _tdi -> "
        f"CASE WHEN _tdi <= 0 THEN element_at({st}.means, 1) "
        f"WHEN _tdi >= size({st}.means) THEN "
        f"element_at({st}.means, size({st}.means)) "
        f"ELSE {lo_m} + ({hi_m} - {lo_m}) * ({t} - {mlo}) / ({mhi} - {mlo}) "
        f"END), 1)), 1)"
    )
    return (
        f"CASE WHEN {st} IS NULL THEN NULL "
        f"WHEN {st}.n = 1 THEN element_at({st}.means, 1) "
        f"WHEN {st}.n = size({st}.means) THEN {exact} "
        f"ELSE {general} END"
    )


def quantile_expr(state: str, q: float) -> Column:
    """Quantile of a stored t-digest state (SQL column reference
    ``state``): exact type-7 (``percentile_cont``) interpolation while
    the digest is lossless (every centroid a singleton — real t-digest
    implementations are likewise exact below the compression
    threshold), the standard centroid-midpoint interpolation rule
    otherwise, clamped to the first/last centroid mean."""
    return F.expr(_quantile_sql(state, q))


def _rank_sql(state: str, value: float) -> str:
    """SQL string of :func:`rank_expr`: ``approx_percentile_rank(value,
    tdigest)`` — the inverse (CDF)
    accessor: fraction of ingested values ≤ ``value``, answered from
    the stored state (same convention as :func:`.ddsketch.ddsketch_rank`).

    Exact while the digest is lossless (every centroid a singleton):
    ``count(means ≤ v) / n`` — which is what makes the oracle gate
    hash-checkable against a DuckDB ``count(*) FILTER (v <= x)``
    replay. Compressed digests use the standard t-digest CDF rule
    (Dunning & Ertl arXiv:1902.04023 §2.1): linear interpolation of
    cumulative weight between adjacent centroid MIDPOINTS, with the
    half-centroid tails interpolated against the exact stored
    min/max. Clamped to [0, 1]; NULL state → NULL."""
    st = state
    v = repr(float(value))
    nmeans = f"size({st}.means)"
    # ---- lossless path: exact count of singletons <= v
    exact = (
        f"(CAST(size(filter({st}.means, m -> m <= {v})) AS DOUBLE)"
        f" / CAST({st}.n AS DOUBLE))"
    )
    # ---- compressed path: midpoint interpolation of cumulative weight
    cum = (
        f"aggregate({st}.weights, array(CAST(0 AS DOUBLE)), "
        f"(acc, w) -> array_append(acc, element_at(acc, -1) + "
        f"CAST(w AS DOUBLE)))"
    )
    idx = f"size(filter({st}.means, m -> m <= {v}))"
    nn = f"CAST({st}.n AS DOUBLE)"
    mid = (
        "(element_at(_tdc, _tdi) + "
        f"CAST(element_at({st}.weights, _tdi) AS DOUBLE) / 2.0D)"
    )
    mid1 = (
        "(element_at(_tdc, _tdi + 1) + "
        f"CAST(element_at({st}.weights, _tdi + 1) AS DOUBLE) / 2.0D)"
    )
    lo_m = f"element_at({st}.means, _tdi)"
    hi_m = f"element_at({st}.means, _tdi + 1)"
    # below the first centroid mean: ramp 0 -> w1/2 over [min, mean1]
    head = (
        f"(CAST(element_at({st}.weights, 1) AS DOUBLE) / 2.0D"
        f" * ({v} - {st}.min)"
        f" / nullif(element_at({st}.means, 1) - {st}.min, 0.0D))"
    )
    # above the last centroid mean: ramp n - wk/2 -> n over [meank, max]
    tail = (
        f"({nn} - CAST(element_at({st}.weights, _tdi) AS DOUBLE) / 2.0D"
        f" + CAST(element_at({st}.weights, _tdi) AS DOUBLE) / 2.0D"
        f" * ({v} - {lo_m}) / nullif({st}.max - {lo_m}, 0.0D))"
    )
    general = (
        f"element_at(transform(array({cum}), _tdc -> "
        f"element_at(transform(array({idx}), _tdi -> "
        f"CASE WHEN _tdi <= 0 THEN coalesce({head}, 0.0D) "
        f"WHEN _tdi >= {nmeans} THEN coalesce({tail}, {nn}) "
        f"ELSE {mid} + ({mid1} - {mid}) * ({v} - {lo_m}) "
        f"/ nullif({hi_m} - {lo_m}, 0.0D) "
        f"END), 1)), 1) / {nn}"
    )
    return (
        f"CASE WHEN {st} IS NULL THEN NULL "
        f"WHEN {v} < {st}.min THEN 0.0D "
        f"WHEN {v} >= {st}.max THEN 1.0D "
        f"WHEN {st}.n = {nmeans} THEN {exact} "
        f"ELSE least(1.0D, greatest(0.0D, coalesce({general}, 0.0D))) "
        f"END"
    )


def rank_expr(state: str, value: float) -> Column:
    """Column form of :func:`_rank_sql`."""
    return F.expr(_rank_sql(state, value))


def tdigest(
    df: DataFrame,
    value_col: str = "value",
    by: Sequence[str] = (),
    delta: int = DEFAULT_DELTA,
    out: str = "tdigest",
) -> DataFrame:
    """``tdigest(delta, value)`` — one mergeable digest state per
    ``by`` group (toolkit two-step aggregate form)."""
    return over_frame(
        df, lambda c, src: build_states_sql(c, src, list(by), f"`{value_col}`", delta, out)
    )


def tdigest_rollup(
    df: DataFrame,
    by: Sequence[str] = (),
    state_col: str = "tdigest",
    delta: int = DEFAULT_DELTA,
    out: Optional[str] = None,
) -> DataFrame:
    """``rollup(tdigest)`` — merge many states to one per ``by``."""
    return over_frame(
        df,
        lambda c, src: merge_states_sql(
            c, src, list(by), state_col, delta, out or state_col
        ),
    )


def _mean_sql(state: str) -> str:
    return (
        f"CASE WHEN {state} IS NULL THEN NULL ELSE "
        f"aggregate(zip_with({state}.means, {state}.weights, "
        f"(m, w) -> m * CAST(w AS DOUBLE)), CAST(0 AS DOUBLE), "
        f"(a, x) -> a + x) / CAST({state}.n AS DOUBLE) END"
    )


def mean_expr(state: str) -> Column:
    """``mean(tdigest)`` — EXACT regardless of compression: each
    centroid's mean is the average of the values it absorbed, so
    ``Σ mean_i·w_i`` recovers the true sum (toolkit tdigest ``mean``
    accessor)."""
    return F.expr(_mean_sql(state))


def quantile_cols(state_col: str, qs: Sequence[float]) -> list[str]:
    """Select items extracting ``approx_percentile`` columns (plus exact
    ``n`` / ``min_val`` / ``max_val`` / ``mean``) from the states in
    column ``state_col``."""
    st = f"`{state_col}`"
    return [
        f"{st}.n AS n",
        f"{st}.min AS min_val",
        f"{st}.max AS max_val",
        _mean_sql(state_col) + " AS mean",
        *[_quantile_sql(state_col, q) + f" AS {_qname(q)}" for q in qs],
    ]


def rank_col(state_col: str, value: float, out: str = "rank") -> str:
    """Select item of ``approx_percentile_rank(value, state_col)``,
    rounded to 6 decimals (the :func:`.ddsketch.ddsketch_rank`
    convention so both percentile algebras serve identically-shaped
    rank frames)."""
    return f"round({_rank_sql(state_col, value)}, 6) AS `{out}`"


def tdigest_quantiles(
    df: DataFrame,
    qs: Sequence[float],
    by: Sequence[str] = (),
    state_col: str = "tdigest",
) -> DataFrame:
    """Extract ``approx_percentile`` columns (plus exact ``n`` /
    ``min_val`` / ``max_val`` / ``mean``) from stored states — one
    output row per input state row."""
    return df.selectExpr(*[f"`{k}`" for k in by], *quantile_cols(state_col, qs))


def tdigest_rank(
    df: DataFrame,
    value: float,
    by: Sequence[str] = (),
    state_col: str = "tdigest",
    out: str = "rank",
) -> DataFrame:
    """``approx_percentile_rank(value, tdigest)`` over stored states —
    one output row per input state row, rounded to 6 decimals (the
    :func:`.ddsketch.ddsketch_rank` convention so both percentile
    algebras serve identically-shaped rank frames)."""
    return df.selectExpr(*[f"`{k}`" for k in by], rank_col(state_col, value, out))
