"""Statistical and financial aggregate families from the toolkit
surface: ``stats_agg`` (1D moments, 2D linear regression),
``candlestick_agg`` (OHLC/VWAP), ``percentile_agg`` and ``topn``
(timescaledb-toolkit extension: ``stats_agg``, ``candlestick_agg``,
``percentile_agg``/``approx_percentile``, ``topn``/``freq_agg``).

Everything is a composition of built-in JVM aggregates — one shuffle on
the grouping keys, whole-stage codegen, no Python anywhere. The
toolkit's sketch-based implementations (UddSketch, SpaceSavings) exist
because PostgreSQL aggregates single-node; on Spark the same scale
problem is solved by distributed partial aggregation, so the exact
forms below ARE the scale path, with ``percentile_approx`` offered for
the truly-huge-group case.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

from .time import time_bucket, to_unix_microseconds


def stats_agg_1d(
    df: DataFrame,
    value_col: str = "value",
    by: Sequence[str] = (),
) -> DataFrame:
    """``stats_agg(value)`` 1D rollup -> average / stddev / variance /
    skewness / kurtosis / sum / num_vals (toolkit stats_agg one-variable
    form). Sample stddev/variance like the toolkit's default.
    """
    v = F.col(value_col)
    return df.groupBy(*by).agg(
        F.count(v).alias("num_vals"),
        F.sum(v).alias("sum_v"),
        F.avg(v).alias("average"),
        F.stddev_samp(v).alias("stddev"),
        F.var_samp(v).alias("variance"),
        F.skewness(v).alias("skewness"),
        F.kurtosis(v).alias("kurtosis"),
    )


def stats_agg_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """``stats_agg(y, x)`` 2D form -> slope / intercept / corr /
    covariance / determination_coefficient (toolkit two-variable
    stats_agg; the same regr_* family PostgreSQL exposes natively)."""
    x, y = F.col(x_col), F.col(y_col)
    return df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("intercept"),
        F.corr(y, x).alias("corr"),
        F.covar_samp(y, x).alias("covariance"),
        F.regr_r2(y, x).alias("determination_coefficient"),
    )


def candlestick_agg(
    df: DataFrame,
    ts_col: str = "ts",
    price_col: str = "value",
    volume_col: Union[str, Column, None] = None,
    bucket_width: str = "1 hour",
    by: Sequence[str] = (),
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """``candlestick_agg(ts, price, volume)`` -> open / high / low /
    close / volume / vwap per time bucket (toolkit financial-analysis
    family). ``open``/``close`` are bookends on (time, tiebreak) —
    ``min_by``/``max_by``, the same execution shape as first/last."""
    p = F.col(price_col)
    vol = (
        F.lit(1.0)
        if volume_col is None
        else (F.col(volume_col) if isinstance(volume_col, str) else volume_col)
    )
    # bookend key: lexicographic struct over (time, tiebreak...) — the
    # same pattern as gauge_agg. (An arithmetic us*1000+pmod(tb,1000)
    # key collided across rows, overflowed into the next microsecond
    # with multiple tiebreak columns, and broke for string tiebreaks.)
    key = F.struct(
        to_unix_microseconds(ts_col), *[F.col(c) for c in tiebreak]
    )
    return df.groupBy(
        *by, time_bucket(bucket_width, ts_col).alias("bucket")
    ).agg(
        F.min_by(p, key).alias("open"),
        F.max(p).alias("high"),
        F.min(p).alias("low"),
        F.max_by(p, key).alias("close"),
        F.sum(vol).alias("volume"),
        (F.sum(p * vol) / F.nullif(F.sum(vol), F.lit(0))).alias("vwap"),
        F.count(F.lit(1)).alias("n"),
    )


def percentile_agg(
    df: DataFrame,
    value_col: str = "value",
    percentiles: Sequence[float] = (0.5,),
    by: Sequence[str] = (),
    exact: bool = True,
) -> DataFrame:
    """``percentile_agg(value) -> approx_percentile(p)`` (toolkit
    UddSketch percentile family). ``exact=True`` computes the true
    continuous percentile (distributed sort-based aggregate — fine up
    to very large groups); ``exact=False`` switches to
    ``percentile_approx`` (t-digest-style sketch, the 100 TB path —
    same shape as the toolkit's UddSketch rollup)."""
    v = F.col(value_col)
    cols = []
    names = set()
    for p in percentiles:
        # digits-of-p naming so distinct percentiles can't collide
        # (int(p*100) mapped 0.99 and 0.999 both to 'p99'):
        # 0.5 -> p50, 0.99 -> p99, 0.999 -> p999, 0.025 -> p025
        frac = f"{p:.10f}".split(".")[1].rstrip("0") or "0"
        name = "p100" if p >= 1 else f"p{frac.ljust(2, '0')}"
        if name in names:
            raise ValueError(f"duplicate percentile {p!r}")
        names.add(name)
        agg = (
            F.percentile(v, F.lit(float(p)))
            if exact
            else F.percentile_approx(v, F.lit(float(p)), F.lit(10_000))
        )
        cols.append(agg.alias(name))
    return df.groupBy(*by).agg(*cols, F.count(v).alias("num_vals"))


def topn(
    df: DataFrame,
    col: str,
    n: int = 10,
    by: Sequence[str] = (),
) -> DataFrame:
    """``topn(freq_agg(value), n)`` (toolkit SpaceSavings frequency
    family): the ``n`` most frequent values per group with their counts.
    Exact two-phase count (map-side partials merge) + per-group rank —
    the sketch is unnecessary when aggregation distributes."""
    from pyspark.sql import Window

    counts = df.groupBy(*by, col).agg(F.count(F.lit(1)).alias("freq"))
    order = [F.col("freq").desc(), F.col(col).asc()]
    if not by:
        # global top-n is TakeOrderedAndProject (per-partition heaps),
        # not an all-rows-to-one-partition window
        return counts.orderBy(*order).limit(n)
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(*order)
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .drop("rank")
    )


def freq_sketch_topn(
    df: DataFrame,
    col: str,
    n: int = 10,
    capacity: int = 256,
    by: Sequence[str] = (),
    repartition_groups: bool = False,
) -> DataFrame:
    """Approximate heavy hitters via per-partition Misra–Gries sketches
    (the toolkit ``freq_agg``/``topn_agg`` SpaceSaving family, and the
    scale path behind :func:`topn`): each partition keeps at most
    ``capacity`` counters per group, so the shuffle moves
    ``partitions × capacity`` rows regardless of key cardinality —
    :func:`topn`'s exact groupBy moves one row per distinct key, which
    at billions of URLs/shingles dominates the job. Partial sketches
    merge by summing lower bounds (the Misra–Gries union: summed counts
    undercount any value by at most ``N / capacity`` in total, Agarwal
    et al., "Mergeable Summaries", PODS'12).

    Returns the top ``n`` values per group by merged lower-bound count:
    ``(by…, col, freq_lb)``. Any value with true frequency >
    ``N / capacity`` is guaranteed to surface; counts are lower bounds
    (``freq_lb ≤ true ≤ freq_lb + N/capacity``). Use :func:`topn` when
    key cardinality is shuffle-friendly — this when it is not.

    Python runs per *distinct value per batch*, not per row: batch
    counts come from pandas ``value_counts`` (C speed) and only the
    unique values touch the Misra–Gries dict.

    **Per-task memory bound**: the sketch state is one dict per group
    seen in the task's partition, so a task holds up to
    ``groups_in_partition × capacity`` counters. With the default
    random input partitioning, EVERY group can appear in EVERY
    partition — a high-cardinality ``by`` (say millions of users) makes
    each task's state ``|groups| × capacity``, which is unbounded in
    the input. Pass ``repartition_groups=True`` to hash-partition on
    ``by`` first: each group then lands in exactly one task and the
    state is ``|groups| / shuffle_partitions × capacity`` counters per
    task — the extra exchange is the price of the bound. (The ungrouped
    path needs neither: its state is a single ``capacity``-dict.) For
    high-cardinality ``by`` with shuffle-friendly VALUE cardinality,
    exact :func:`topn` is usually the better tool anyway.
    """
    from pyspark.sql import Window

    by = list(by)
    if repartition_groups and by:
        df = df.repartition(*[F.col(c) for c in by])
    fields = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in by + [col]
    )
    out_schema = f"{fields}, freq_lb long"

    def sketch(batches):
        import pandas as pd

        state: dict = {}  # group key tuple -> {value: count}
        for pdf in batches:
            grouped = (
                pdf.groupby(by, dropna=False, sort=False)
                if by
                else [((), pdf)]
            )
            for key, g in grouped:
                if by and not isinstance(key, tuple):
                    key = (key,)
                mg = state.setdefault(key, {})
                for v, c in g[col].value_counts(dropna=False).items():
                    mg[v] = mg.get(v, 0) + int(c)
                if len(mg) > capacity:
                    # batched Misra-Gries trim: subtract the
                    # (capacity+1)-th largest count from everything and
                    # drop the non-positive remainder — one O(u log u)
                    # cut per batch instead of a rebuild per new value
                    cut = sorted(mg.values(), reverse=True)[capacity]
                    state[key] = {
                        k: x - cut for k, x in mg.items() if x > cut
                    }
        rows = []
        for key, mg in state.items():
            for v, c in mg.items():
                rows.append((*key, v, c))
        yield pd.DataFrame(rows, columns=[*by, col, "freq_lb"])

    partials = df.select(*by, col).mapInPandas(sketch, out_schema)
    merged = partials.groupBy(*by, col).agg(F.sum("freq_lb").alias("freq_lb"))
    order = [F.col("freq_lb").desc(), F.col(col).asc()]
    if not by:
        # global top-n: TakeOrderedAndProject (per-partition heaps), not
        # an all-to-one window
        return merged.orderBy(*order).limit(n)
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(*order)
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .drop("rank")
    )


def max_n(
    df: DataFrame,
    col: str,
    n: int = 5,
    by: Sequence[str] = (),
    desc: bool = True,
) -> DataFrame:
    """Toolkit ``max_n(value, n)`` / ``min_n``: the ``n`` LARGEST (or
    smallest) values per group, one row per kept value (the toolkit's
    ``into_values`` form). Distinct from :func:`topn`, which ranks by
    frequency; this ranks by the value itself.

    Scale shape mirrors :func:`topn`: global = TakeOrderedAndProject
    (per-partition heaps, never an all-rows window); grouped = one
    shuffle into a ranked window, output bounded by ``groups × n``.
    Ties keep every tying row up to rank ``n`` deterministically via
    row_number (value ordering only, stable across engines when the
    caller's value column has no exact duplicates — add a tiebreak
    column to ``by`` otherwise).
    """
    from pyspark.sql import Window

    src = df.select(*by, col)
    order = [F.col(col).desc() if desc else F.col(col).asc()]
    if not by:
        return src.orderBy(*order).limit(n)
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(*order)
    return (
        src.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .drop("rank")
    )


def min_n(
    df: DataFrame, col: str, n: int = 5, by: Sequence[str] = ()
) -> DataFrame:
    """Toolkit ``min_n``: see :func:`max_n`."""
    return max_n(df, col, n, by, desc=False)


def max_n_by(
    df: DataFrame,
    col: str,
    payload: Sequence[str],
    n: int = 5,
    by: Sequence[str] = (),
    desc: bool = True,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Toolkit ``max_n_by(value, data, n)`` / ``min_n_by``: the ``n``
    largest values per group WITH their accompanying payload columns
    (``into_values(...)`` with DATA). ``tiebreak`` columns make the
    selection deterministic when values collide — the same composite-
    key requirement the bookend aggregates document. Tiebreak columns
    ride along in the output when not already part of the payload.
    """
    from pyspark.sql import Window

    cols = list(by) + [col]
    for c in list(payload) + list(tiebreak):
        if c not in cols:
            cols.append(c)
    src = df.select(*cols)
    order = [F.col(col).desc() if desc else F.col(col).asc()] + [
        F.col(c).asc() for c in tiebreak
    ]
    if not by:
        return src.orderBy(*order).limit(n)
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(*order)
    return (
        src.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .drop("rank")
    )


def min_n_by(
    df: DataFrame,
    col: str,
    payload: Sequence[str],
    n: int = 5,
    by: Sequence[str] = (),
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Toolkit ``min_n_by``: see :func:`max_n_by`."""
    return max_n_by(df, col, payload, n, by, desc=False, tiebreak=tiebreak)
