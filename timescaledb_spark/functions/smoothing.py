"""ASAP smoothing (toolkit ``asap_smooth``): automatic moving-average
window selection for dashboard-grade series rendering.

Reference: the timescaledb-toolkit ``asap_smooth(ts, value, resolution)``
hyperfunction, implementing ASAP (Rong & Bailis, VLDB 2017: "ASAP:
Prioritizing Attention via Time Series Smoothing"). The algorithm:
downsample the series to ~``resolution`` points, then pick the moving-
average window that minimizes roughness (stddev of the first
differences) subject to preserving the series' kurtosis (so real
anomalies aren't smoothed away), and return the smoothed points.

Spark-first shape — the WHOLE search is a declarative plan, no UDFs:

1. one raw scan → integer-µs bucketing to ≤``resolution`` points per
   series (map-combined groupBy avg);
2. candidate windows explode over the *downsampled* points (bounded:
   groups × resolution × |candidates| rows — candidates are a fixed
   literal list, so this never touches raw data again);
3. trailing moving averages via an rn-range self-join (a window frame
   with a per-row width isn't expressible as a Spark window frame —
   frame bounds must be plan constants — so the frame is an equi+range
   join on the tiny downsampled frame instead);
4. per-(series, window) roughness + kurtosis aggregates, eligibility
   (kurtosis preserved vs the w=1 original), rank, keep the winner.

At 100 TB the only full-data pass is step 1's scan+groupBy; everything
after operates on ``groups × resolution`` rows. A series' search state
never leaves the cluster and no step is driver-side.

Cross-engine exactness (the DuckDB oracle replicates the full search):
all bucket math is exact int64 µs (`DIV` == `//` for non-negative);
values quantize to 10^-round_to units at the scan so BOTH averaging
stages are exact integer sums with one final float division — the
smoothed doubles are bit-identical across engines (order-dependent
float sums previously straddled the output rounding's half boundary on
w=8 windows); Spark ``kurtosis`` == DuckDB ``kurtosis_pop``
(population excess — ulp-identical, verified); float metrics are
rounded to 6 decimals in BOTH engines before any comparison/ordering
so residual ulp noise can't flip the argmin.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

DEFAULT_CANDIDATES = (1, 2, 3, 4, 6, 8, 12)


def asap_smooth(
    df: DataFrame,
    time_col: str = "ts",
    value_col: str = "value",
    resolution: int = 24,
    by: Sequence[str] = (),
    candidates: Sequence[int] = DEFAULT_CANDIDATES,
    round_to: int = 6,
) -> DataFrame:
    """Smooth each series (grouped by ``by``) ASAP-style: bucket to
    ``resolution`` trailing points, search ``candidates`` for the
    roughness-minimizing kurtosis-preserving moving-average window, and
    return the smoothed series. Output: ``by`` + ``w`` (chosen window,
    constant per series) + ``bucket_ts`` + ``smoothed``.

    Candidates should stay ≤ resolution/2 so every (series, window)
    keeps enough full-window points for a sample stddev of differences.
    """
    by = list(by)
    cands = sorted({int(w) for w in candidates})
    if not cands or cands[0] < 1:
        raise ValueError("candidates must be positive ints")
    if max(cands) > resolution // 2:
        raise ValueError("max candidate window must be <= resolution/2")
    if 1 not in cands:
        # w=1 is the 'original' both for the kurtosis baseline and as
        # the guaranteed-eligible fallback
        cands = [1] + cands

    # values quantize to 10^-round_to units (int64) at the scan: every
    # later mean is then an exact integer sum with ONE final float
    # division, so both engines produce bit-identical doubles — float
    # sum order can otherwise straddle the round-half boundary of the
    # output rounding (observed: w=8 windows landing on x.xxxxxx5).
    # floor(x*scale + 0.5) instead of round(): no engine tie-rule
    # exposure, deterministic for negatives too.
    scale = 10 ** int(round_to)
    src = df.select(
        *by,
        F.unix_micros(F.col(time_col)).alias("_t"),
        F.floor(
            F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
        ).alias("_vu"),
    )
    # per-series span via a map-combined aggregate joined back — NOT a
    # window over the raw rows, which would shuffle the full dataset
    # (and funnel an ungrouped series through one task). The span frame
    # is one row per series; AQE broadcasts it when small, and with no
    # `by` it is a single row broadcast explicitly.
    ext = src.groupBy(*by).agg(
        F.min("_t").alias("_tmin"), F.max("_t").alias("_tmax")
    )
    src = src.join(ext, on=by) if by else src.crossJoin(F.broadcast(ext))
    src = src.withColumn(
        "_step", F.expr(f"((_tmax - _tmin) DIV {int(resolution)}) + 1")
    ).withColumn("_k", F.expr("(_t - _tmin) DIV _step"))
    # bucket mean re-quantized to the same integer grid: exact int sum,
    # one division, floor(+0.5) — identical in both engines
    pts = src.groupBy(*by, "_k").agg(
        F.floor(
            F.sum("_vu").cast("double") / F.count("_vu") + F.lit(0.5)
        ).alias("_v"),
        F.min("_tmin").alias("_tmin"),
        F.min("_step").alias("_step"),
    )
    rnw = (Window.partitionBy(*by) if by else Window.partitionBy(F.lit(0))).orderBy(
        "_k"
    )
    pts = pts.withColumn("_rn", F.row_number().over(rnw))
    # pts is referenced by FOUR downstream branches (join left/right,
    # metrics, output); without a lineage cut each branch re-runs the
    # raw scan + bucketing (measured: 4 parquet scans). The frame is
    # tiny — ≤ groups × resolution rows — so materialize it once.
    pts = pts.localCheckpoint(eager=True)

    # candidate windows over the downsampled points only
    cand_arr = F.array(*[F.lit(w) for w in cands])
    left = pts.select(
        *by, "_k", "_rn", "_tmin", "_step", F.explode(cand_arr).alias("_w")
    )
    right = pts.select(
        *[F.col(c).alias(f"_r_{c}") for c in by],
        F.col("_rn").alias("_rn2"),
        F.col("_v").alias("_v2"),
    )
    on = [left[c] == right[f"_r_{c}"] for c in by] + [
        right["_rn2"].between(left["_rn"] - left["_w"] + F.lit(1), left["_rn"])
    ]
    joined = left.join(right, on)
    # moving average from the exact integer window sum — the single
    # (sum / count) / scale division chain is bit-identical cross-engine
    sm = joined.groupBy(*by, "_w", "_k", "_rn", "_tmin", "_step").agg(
        (
            F.sum("_v2").cast("double")
            / F.count("_v2")
            / F.lit(float(scale))
        ).alias("_s")
    )
    # only complete windows participate in metrics and output
    full = sm.filter(F.col("_rn") >= F.col("_w"))

    dw = (
        Window.partitionBy(*by, "_w") if by else Window.partitionBy("_w")
    ).orderBy("_rn")
    full = full.withColumn("_d", F.col("_s") - F.lag("_s").over(dw))
    metrics = full.groupBy(*by, "_w").agg(
        F.round(F.stddev_samp("_d"), round_to).alias("_rough"),
        F.round(F.kurtosis("_s"), round_to).alias("_kurt"),
    )
    k0w = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(0))
    metrics = metrics.withColumn(
        "_kurt0", F.max(F.when(F.col("_w") == 1, F.col("_kurt"))).over(k0w)
    )
    # degenerate candidates (window == populated-bucket count ⇒ a single
    # smoothed point: NULL/NaN roughness, NaN kurtosis) must lose, not
    # win by NULL-sorting-first / NaN >= NaN; both engines apply the
    # same explicit guards so the selection can't diverge
    eligible = metrics.filter(
        (F.col("_w") == 1)
        | (
            F.col("_rough").isNotNull()
            & ~F.isnan("_rough")
            & F.col("_kurt").isNotNull()
            & ~F.isnan("_kurt")
            & (F.col("_kurt") >= F.col("_kurt0"))
        )
    )
    pick = eligible.withColumn(
        "_pick",
        F.row_number().over(
            (Window.partitionBy(*by) if by else Window.partitionBy(F.lit(0))).orderBy(
                F.col("_rough").asc_nulls_last(), "_w"
            )
        ),
    ).filter(F.col("_pick") == 1)
    chosen = pick.select(
        *[F.col(c).alias(f"_c_{c}") for c in by], F.col("_w").alias("_cw")
    )

    out_on = [full[c] == chosen[f"_c_{c}"] for c in by] + [
        full["_w"] == chosen["_cw"]
    ]
    # output rounding as floor(x*scale+0.5)/scale, NOT engine round():
    # Spark's round() decimal-rounds the double's shortest string repr
    # (BigDecimal.valueOf) while DuckDB rounds the binary value — they
    # disagree when the shortest repr sits exactly on the half boundary
    # (observed on exact int-sum/2 and /8 window means)
    out = full.join(chosen, out_on).select(
        *[full[c] for c in by],
        full["_w"].alias("w"),
        F.timestamp_micros(
            full["_tmin"] + full["_k"] * full["_step"]
        ).alias("bucket_ts"),
        (
            F.floor(full["_s"] * F.lit(float(scale)) + F.lit(0.5))
            / F.lit(float(scale))
        ).alias("smoothed"),
    )
    return out


def asap_smooth_sql(
    table: str = "events",
    time_col: str = "ts",
    value_col: str = "value",
    id_cols: str = "user_id",
    resolution: int = 24,
    candidates: Sequence[int] = DEFAULT_CANDIDATES,
    round_to: int = 6,
) -> str:
    """DuckDB oracle replicating the FULL ASAP search (bucketing,
    candidate moving averages, roughness/kurtosis selection) with the
    same integer-µs math, rounded metrics, and tie-breaks.

    ``id_cols`` supports a single series column (the gate shape); the
    DataFrame side (`asap_smooth`) accepts arbitrary ``by`` tuples.
    """
    cands = sorted({int(w) for w in candidates})
    if 1 not in cands:
        cands = [1] + cands
    g = id_cols
    scale = 10 ** int(round_to)
    cand_list = ", ".join(f"({w})" for w in cands)
    return f"""
WITH src AS (
  SELECT {g}, epoch_us({time_col}) AS t,
         CAST(floor(CAST({value_col} AS DOUBLE) * {scale} + 0.5) AS BIGINT) AS vu
  FROM {table}
),
ext AS (
  SELECT {g}, t, vu,
         min(t) OVER (PARTITION BY {g}) AS tmin,
         max(t) OVER (PARTITION BY {g}) AS tmax
  FROM src
),
stepped AS (
  SELECT {g}, t, vu, tmin,
         ((tmax - tmin) // {resolution}) + 1 AS step
  FROM ext
),
pts0 AS (
  SELECT {g}, (t - tmin) // step AS k,
         CAST(floor(CAST(sum(vu) AS DOUBLE) / count(vu) + 0.5) AS BIGINT) AS v,
         min(tmin) AS tmin, min(step) AS step
  FROM stepped GROUP BY {g}, (t - tmin) // step
),
pts AS (
  SELECT *, row_number() OVER (PARTITION BY {g} ORDER BY k) AS rn
  FROM pts0
),
cand(w) AS (VALUES {cand_list}),
sm AS (
  SELECT p.{g}, c.w, p.k, p.rn, p.tmin, p.step,
         CAST(sum(p2.v) AS DOUBLE) / count(p2.v) / {scale} AS s
  FROM pts p CROSS JOIN cand c
  JOIN pts p2 ON p2.{g} = p.{g}
             AND p2.rn BETWEEN p.rn - c.w + 1 AND p.rn
  GROUP BY p.{g}, c.w, p.k, p.rn, p.tmin, p.step
),
fullw AS (
  SELECT *, s - lag(s) OVER (PARTITION BY {g}, w ORDER BY rn) AS d
  FROM sm WHERE rn >= w
),
metrics AS (
  SELECT {g}, w,
         round(stddev_samp(d), {round_to}) AS rough,
         round(kurtosis_pop(s), {round_to}) AS kurt
  FROM fullw GROUP BY {g}, w
),
withbase AS (
  SELECT *, max(CASE WHEN w = 1 THEN kurt END) OVER (PARTITION BY {g}) AS kurt0
  FROM metrics
),
pick AS (
  SELECT {g}, w AS cw FROM (
    SELECT {g}, w,
           row_number() OVER (
             PARTITION BY {g} ORDER BY rough ASC NULLS LAST, w) AS prn
    FROM withbase
    WHERE w = 1 OR (rough IS NOT NULL AND NOT isnan(rough)
                    AND kurt IS NOT NULL AND NOT isnan(kurt)
                    AND kurt >= kurt0)
  ) WHERE prn = 1
)
SELECT f.{g}, f.w,
       make_timestamp(f.tmin + f.k * f.step) AS bucket_ts,
       floor(f.s * {scale} + 0.5) / {scale} AS smoothed
FROM fullw f JOIN pick ON pick.{g} = f.{g} AND pick.cw = f.w
"""
