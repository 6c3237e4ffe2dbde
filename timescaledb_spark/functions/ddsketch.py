"""DDSketch-style mergeable quantile sketches — the rollup-able
percentile algebra (toolkit ``uddsketch``/``percentile_agg`` +
``rollup``, tsl: timescaledb-toolkit uddsketch; published algorithm:
Masson, Rim & Lee, "DDSketch: A Fast and Fully-Mergeable Quantile
Sketch with Relative-Error Guarantees", VLDB 2019).

Why this exists next to the exact ``percentile_agg``: an exact
percentile is a FINISHED number — two finished p95s cannot be combined.
The sketch is a mergeable STATE: log-bucketed counts add across any
regroup, so a cagg can store per-hour sketch partials and serve p95 at
any coarser grain (day/month/whole-table) without rescanning raw data —
the same rollup contract as the HLL gate (`q_hll_rollup`), for
quantiles.

Guarantee: bucket ``i = ceil(ln(v)/ln(gamma))`` with
``gamma = (1+alpha)/(1-alpha)`` gives every estimate a RELATIVE error
≤ ``alpha`` (VLDB'19 §2.1). Bucket cardinality is logarithmic in the
value range (~2,000 buckets span 9 orders of magnitude at alpha=0.01),
so the sketch shuffle is ``groups × ~2k`` rows no matter how many
values were observed — the same bounded-shuffle shape as HLL and
Misra–Gries.

Everything is built-in JVM expressions (one map-combined groupBy to
build, window cumsum + conditional min to query); the DuckDB oracle
replays bucket index, rank, and estimate literal-for-literal, with
estimates rounded to 6 decimals so cross-engine exp/ln ulp noise cannot
flip the hash compare (the BM25 convention).

Scope: non-negative values (DDSketch's positive store + a zero bucket);
negative inputs raise at query build, mirroring the reference's
uddsketch error on mixed-sign stores.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..scan import over_frame

#: default relative-error target (1%)
DEFAULT_ALPHA = 0.01

#: sentinel bucket for v == 0 (DDSketch's separate zero count); sorts
#: below every real bucket so cumulative ranks stay correct
ZERO_BUCKET = -(2**31)


def _qname(q: float) -> str:
    """0.5 -> p50, 0.95 -> p95, 0.999 -> p99_9."""
    return "p" + f"{q * 100:g}".replace(".", "_")


def _gamma(alpha: float) -> float:
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    return (1.0 + alpha) / (1.0 - alpha)


def ddsketch(
    df: DataFrame,
    value_col: str = "value",
    by: Sequence[str] = (),
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """Build per-group sketches: ``(by…, bucket, cnt)``.

    One map-combined groupBy — partial aggregation collapses each
    partition to its distinct buckets before the exchange, so the
    shuffle is ``partitions × buckets-per-group`` regardless of row
    count. Negative values raise (positive store + zero bucket only).
    """
    g = _gamma(alpha)
    v = F.col(value_col).cast("double")
    bucket = (
        F.when(v < 0, F.raise_error(F.lit(
            "ddsketch: negative values are not supported "
            "(positive store + zero bucket, like uddsketch)"
        )).cast("int"))
        .when(v == 0, F.lit(ZERO_BUCKET))
        .otherwise(F.ceil(F.log(v) / F.lit(math.log(g))).cast("int"))
    )
    return (
        df.select(*by, bucket.alias("bucket"))
        .groupBy(*by, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ddsketch_rollup(
    sketch: DataFrame, by: Sequence[str] = ()
) -> DataFrame:
    """Merge sketches to a coarser grouping: bucket counts ADD — the
    whole point of a mergeable summary (union of sketches == sketch of
    the union, exactly; no accuracy loss on merge, VLDB'19 §2.3)."""
    return sketch.groupBy(*by, "bucket").agg(F.sum("cnt").alias("cnt"))


def _est_sql(b: str, g: float) -> str:
    """Bucket-midpoint estimate ``2·gamma^b/(gamma+1)`` (0 for the zero
    bucket), rounded to 6 decimals."""
    return (
        f"CASE WHEN {b} = {ZERO_BUCKET} THEN 0.0D ELSE round(2.0D * "
        f"POWER({g!r}D, CAST({b} AS DOUBLE)) / {g + 1.0!r}D, 6) END"
    )


def _keys(by: Sequence[str]) -> tuple[str, str, str]:
    """``(select prefix, PARTITION BY clause, GROUP BY clause)`` of the
    sketch's group keys."""
    ks = ", ".join(f"`{k}`" for k in by)
    if not by:
        return "", "", ""
    return f"{ks}, ", f"PARTITION BY {ks} ", f" GROUP BY {ks}"


def quantiles_sql(
    c,
    src: str,
    by: Sequence[str],
    qs: Sequence[float],
    alpha: float = DEFAULT_ALPHA,
    bucket: str = "bucket",
    cnt: str = "cnt",
    ranks: Sequence[tuple] = (),
) -> str:
    """Quantile estimates ``(by…, n, p<q>…)`` from the sketch rows
    ``(by…, bucket, cnt)`` of relation ``src``, as CTEs appended to
    ``c`` (:class:`..scan.Ctes`); returns the result relation's name.
    ``src`` may hold several rows per bucket (a merge's unsummed bag):
    the RANGE frame counts every row of the buckets up to the current
    one. Each ``(value, out)`` of ``ranks`` adds its
    ``approx_percentile_rank`` column from the same aggregate: the
    cumulative count at the last bucket ≤ the probe's over the total
    (:func:`ddsketch_rank`); ``qs=None`` leaves out ``n`` and the
    quantiles.

    Rank ``r_q = max(1, ceil(q·n))``; the answering bucket is the first
    (in bucket order) whose cumulative count reaches ``r_q``; the
    estimate is the bucket midpoint ``2·gamma^i/(gamma+1)`` (0 for the
    zero bucket), rounded to 6 decimals. One window cumsum over the
    (tiny) sketch + one conditional-min aggregation — never touches raw
    data."""
    g = _gamma(alpha)
    for q in qs or ():
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile {q} must be in (0, 1]")
    keys, part, group = _keys(by)
    wo = f"{part}ORDER BY `{bucket}`"
    # group total as a FULL frame of the same ordered spec — one sort,
    # one WindowExec (round 14)
    cum = c.add(
        f"SELECT {keys}`{bucket}` AS _b, "
        f"sum(`{cnt}`) OVER ({wo} RANGE BETWEEN UNBOUNDED PRECEDING AND "
        f"CURRENT ROW) AS _cum, "
        f"sum(`{cnt}`) OVER ({wo} ROWS BETWEEN UNBOUNDED PRECEDING AND "
        f"UNBOUNDED FOLLOWING) AS _n FROM {src}"
    )
    cols = [] if qs is None else ["max(_n) AS n"]
    for q in qs or ():
        rank = f"greatest(1, CAST(ceil({float(q)!r}D * _n) AS BIGINT))"
        b_q = f"min(CASE WHEN _cum >= {rank} THEN _b END)"
        cols.append(f"{_est_sql(b_q, g)} AS {_qname(q)}")
    for value, out in ranks:
        b = _rank_bucket(float(value), g)
        frac = f"coalesce(max(CASE WHEN _b <= {b} THEN _cum END), 0) / max(_n)"
        cols.append(f"round(CAST({frac} AS DOUBLE), 6) AS `{out}`")
    return c.add(f"SELECT {keys}{', '.join(cols)} FROM {cum}{group}")


def ddsketch_quantiles(
    sketch: DataFrame,
    qs: Sequence[float],
    by: Sequence[str] = (),
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """Estimate quantiles from a sketch ``(by…, bucket, cnt)``:
    ``(by…, n, p<q>…)`` (see :func:`quantiles_sql`)."""
    return over_frame(
        sketch, lambda c, src: quantiles_sql(c, src, list(by), qs, alpha)
    )


def ddsketch_quantiles_sql(
    table: str,
    value_expr: str = "value",
    by: Sequence[str] = (),
    qs: Sequence[float] = (0.5, 0.95),
    alpha: float = DEFAULT_ALPHA,
) -> str:
    """DuckDB oracle replaying sketch-build + quantile extraction
    literal-for-literal (same gamma, same ceil'd bucket index, same
    rank rule, same midpoint formula, same 6-decimal round)."""
    g = _gamma(alpha)
    bys = ", ".join(by)
    by_pfx = f"{bys}, " if by else ""
    part = f"PARTITION BY {bys}" if by else ""
    bucket = (
        f"CASE WHEN CAST({value_expr} AS DOUBLE) = 0 THEN {ZERO_BUCKET} "
        f"ELSE CAST(ceil(ln(CAST({value_expr} AS DOUBLE)) / "
        f"ln({g!r})) AS INT) END"
    )
    q_cols = []
    for q in qs:
        name = _qname(q)
        rank = f"greatest(1, CAST(ceil({q!r} * n) AS BIGINT))"
        b_q = f"min(CASE WHEN cum >= {rank} THEN bucket END)"
        est = (
            f"CASE WHEN {b_q} = {ZERO_BUCKET} THEN 0.0 "
            f"ELSE round(2.0 * pow({g!r}, CAST({b_q} AS DOUBLE)) / "
            f"{g + 1.0!r}, 6) END"
        )
        q_cols.append(f"{est} AS {name}")
    return f"""
    WITH sk AS (
      SELECT {by_pfx}{bucket} AS bucket, count(*) AS cnt
      FROM {table} GROUP BY {by_pfx.rstrip(", ") + ", " if by else ""}bucket
    ), cu AS (
      SELECT *,
             sum(cnt) OVER ({part} ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER ({part}) AS n
      FROM sk
    )
    SELECT {by_pfx}max(n) AS n, {", ".join(q_cols)}
    FROM cu{f" GROUP BY {bys}" if by else ""}
    """


def _rank_bucket(value: float, g: float) -> int:
    """Bucket index of a probe value — the same ceil'd log mapping the
    sketch builder uses, computed driver-side for the literal probe."""
    if value < 0:
        raise ValueError("ddsketch rank probe must be non-negative")
    if value == 0:
        return ZERO_BUCKET
    return int(math.ceil(math.log(value) / math.log(g)))


def ddsketch_rank(
    sketch: DataFrame,
    value: float,
    by: Sequence[str] = (),
    alpha: float = DEFAULT_ALPHA,
    out: str = "rank",
) -> DataFrame:
    """``approx_percentile_rank`` (toolkit inverse accessor): the
    fraction of ingested values ≤ ``value``, answered from the sketch —
    counts of buckets at or below the probe's bucket over the total,
    rounded to 6 decimals, from the quantile extraction's cumulative
    counts (:func:`quantiles_sql`); never touches raw data, exact given
    the bucket mapping so a DuckDB oracle replay matches bit-for-bit."""
    return over_frame(
        sketch, lambda c, src: quantiles_sql(c, src, list(by), None, alpha, ranks=[(value, out)])
    )
