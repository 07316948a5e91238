"""Trend / seasonality / residual decomposition (SURVEY §2 G4-G7, §3 entry 3).

The reference's interpretable decomposition contract
(diffusion_ts_model.py:550-554, visualisation.py:113-117):
    output = trend + seasonality + residual
with trend ≈ polynomial in t (TrendSynthesisLayer, :200-239, basis
c = arange(seq_len)/seq_len at :219-221) and seasonality = top-k Fourier
modes (FourierSynthesisLayer, :242-289). The learned projections are HOW the
model approximates this; the engine computes the closed-form analogs:

- trend: per-series least-squares polynomial fit. Inside `decompose` it is
  a projection onto the cached polynomial basis; as coefficients,
  `trend_poly(df, degree)` is *moment aggregation* (sums of c^i and c^i·x —
  a partial-aggregated groupBy, the cheapest distributed form) solved in
  closed form by Cramer's rule (`cramer_exprs`), the same SQL text the
  DuckDB oracle runs.
- seasonality: FFT top-k of the detrended signal (`topk_seasonality`).
- residual: remainder (G7).

`decompose` runs trend+seasonality+residual in ONE mapInPandas pass after a
single shuffle on the series key. Its per-batch kernel, `trend_seasonality`,
is also the x̂₀ step of the fused samplers in diffusion.py.
"""
from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .spectral import stack_by_length

DEFAULT_DEGREE = 3  # poly_degree, config.json:22
DEFAULT_TOP_K = 4  # top_k_freq, config.json:21


def _poly_design(n: int, degree: int) -> np.ndarray:
    # basis c = arange(seq_len)/seq_len — diffusion_ts_model.py:219-221
    c = np.arange(n) / n
    return np.vander(c, degree + 1, increasing=True)


@functools.lru_cache(maxsize=None)
def _trend_basis(n: int, degree: int) -> tuple[np.ndarray, np.ndarray]:
    """(Aᵀ, pinv(A)ᵀ) of the length-n design, cached per worker process and
    shared by every caller, so both are made read-only."""
    A = _poly_design(n, degree)
    basis = A.T, np.linalg.pinv(A).T
    for b in basis:
        b.setflags(write=False)
    return basis


def topk_seasonality(R: np.ndarray, top_k: int) -> np.ndarray:
    """Seasonality of every row of an (m, n) batch: the top_k
    largest-|amplitude| rfft bins (per-row argpartition; torch.topk in
    FourierSynthesisLayer, diffusion_ts_model.py:277-286), inverted with
    irfft. Bins of exactly equal magnitude tie in argpartition's order."""
    n = R.shape[1]
    spec = np.fft.rfft(R, axis=1)
    mag = np.abs(spec)
    kk = min(top_k, spec.shape[1])
    idx = np.argpartition(-mag, kk - 1, axis=1)[:, :kk]
    mask = np.zeros_like(mag)
    np.put_along_axis(mask, idx, 1.0, axis=1)
    return np.fft.irfft(spec * mask, n=n, axis=1)


def trend_seasonality(X: np.ndarray, degree: int, top_k: int) -> tuple[np.ndarray, np.ndarray]:
    """(trend, seasonality) of every row of a stacked (m, n) batch — the
    x̂₀ = trend + seasonality estimate that `decompose` emits and the fused
    samplers run at every reverse step.

    trend: the least-squares polynomial fit, applied as the factored
    rank-(degree+1) projection (X·pinv(A)ᵀ)·Aᵀ — 2·m·n·(degree+1) flops
    instead of the m·n² of the dense n×n A·pinv(A).
    seasonality: `topk_seasonality` of the detrended rows.
    """
    At, Ainv_t = _trend_basis(X.shape[1], degree)
    trend = (X @ Ainv_t) @ At
    return trend, topk_seasonality(X - trend, top_k)


def decompose(
    df: DataFrame,
    degree: int = DEFAULT_DEGREE,
    top_k: int = DEFAULT_TOP_K,
    value_col: str = "value",
    key: str | list[str] = "series_id",
) -> DataFrame:
    """Full decomposition, batch-vectorized.

    → (*key, t, value, trend, seasonality, residual) with
    value = trend + seasonality + residual exactly. `key` may be a composite
    (e.g. ["series_id", "channel"] for the reference's dim>1 contract,
    utils/data_generators.py:40,51) — each (series, channel) decomposes
    independently.

    Physical plan: ONE shuffle (groupBy collect_list to wide form), then a
    narrow mapInPandas that processes a whole Arrow batch of series at once —
    equal-length series are stacked into an (n_series, seq_len) matrix and
    handed to `trend_seasonality`, so the polynomial fit is two small matmuls
    and the FFT a single np.fft.rfft(axis=1) — no per-series pandas call.
    """
    from collections.abc import Iterator

    keys = [key] if isinstance(key, str) else list(key)
    key_schema = ", ".join(f"{k} bigint" for k in keys)
    schema = f"{key_schema}, t bigint, {value_col} double, trend double, seasonality double, residual double"
    wide = df.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("t", F.col(value_col).alias("v")))).alias("pts")
    ).select(*keys, F.col("pts.t").alias("ts"), F.col("pts.v").alias("vs"))
    # field extraction happens JVM-side: Arrow hands the UDF plain
    # list<double> columns, so stacking below is pure numpy (no dict walks)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for sub, (X, T) in stack_by_length(pdf, "vs", "ts"):
                n = X.shape[1]
                trend, seas = trend_seasonality(X, degree, top_k)
                yield pd.DataFrame(
                    {
                        **{k: np.repeat(sub[k].to_numpy(), n) for k in keys},
                        "t": T.reshape(-1),
                        value_col: X.reshape(-1),
                        "trend": trend.reshape(-1),
                        "seasonality": seas.reshape(-1),
                        "residual": (X - trend - seas).reshape(-1),
                    }
                )

    return wide.mapInPandas(fn, schema)


def extract_seasonality(
    df: DataFrame, top_k: int = DEFAULT_TOP_K, value_col: str = "value", key: str = "series_id"
) -> DataFrame:
    """G4 flagship composite: rfft → top-k amplitude mask → irfft, one pass."""
    schema = f"{key} bigint, t bigint, seasonality double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        seas = topk_seasonality(pdf[value_col].to_numpy()[None, :], top_k)[0]
        return pd.DataFrame({key: pdf[key].iloc[0], "t": pdf["t"].to_numpy(), "seasonality": seas})

    return df.select(key, "t", value_col).groupBy(key).applyInPandas(fn, schema)


def det_expr(m: list[list[str]]) -> str:
    """Determinant of a square matrix of SQL symbols as shared SQL text:
    written out up to 3×3, a cofactor expansion along the first row above."""
    n = len(m)
    if n == 1:
        return f"({m[0][0]})"
    if n == 2:
        (a, b), (c, d) = m
        return f"({a}*{d} - {b}*{c})"
    if n == 3:
        (a, b, c), (d, e, f), (g, h, i) = m
        return f"({a}*({e}*{i} - {f}*{h}) - {b}*({d}*{i} - {f}*{g}) + {c}*({d}*{h} - {e}*{g}))"
    terms = (
        f"{'+-'[j % 2]} {m[0][j]}*{det_expr([r[:j] + r[j + 1:] for r in m[1:]])}"
        for j in range(n)
    )
    return "(" + " ".join(terms) + ")"


def cramer_exprs(A: list[list[str]], rhs: list[str]) -> dict[str, str]:
    """Solve A·w = rhs in closed form (Cramer's rule) over symbolic n×n
    entries — returns {'c0'..'c{n-1}': ...} as SQL text usable identically
    in Spark and DuckDB (bit-equal given bit-equal inputs)."""
    D = det_expr(A)
    return {
        f"c{i}": f"({det_expr([row[:i] + [r] + row[i + 1:] for row, r in zip(A, rhs)])} / {D})"
        for i in range(len(A))
    }


def poly_moments_sql(degree: int, value_col: str = "value") -> list[str]:
    """Select-list of the normal-equation moments of a degree-`degree` fit
    over the basis column `cc`: m_k = Σcc^k (k ≤ 2·degree) and
    b_k = Σcc^k·value (k ≤ degree) — the one text trend_poly aggregates and
    the DuckDB oracles run."""
    ms = [f"sum({'*'.join(['cc'] * i)}) AS m{i}" for i in range(1, 2 * degree + 1)]
    bs = [f"sum({'*'.join(['cc'] * i + [value_col])}) AS b{i}" for i in range(degree + 1)]
    return ["CAST(count(*) AS DOUBLE) AS m0", *ms, *bs]


def poly_coef_exprs(degree: int) -> dict[str, str]:
    """Degree-`degree` least squares in CLOSED FORM: Cramer's rule on the
    normal equations A[i][j] = m_{i+j}, rhs b_i over the poly_moments_sql
    aliases → {'c0'..'c{degree}'} as shared SQL text."""
    d = range(degree + 1)
    return cramer_exprs([[f"m{i + j}" for j in d] for i in d], [f"b{i}" for i in d])


# per-point cubic evaluation — SHARED text (identical parse tree both engines)
CUBIC_EVAL = "(c0 + c1*cc + c2*(cc*cc) + c3*(cc*cc*cc))"


def trend_poly(
    df: DataFrame, degree: int, value_col: str = "value", key: str = "series_id"
) -> DataFrame:
    """Polynomial trend coefficients per series → (key, c0..c_degree) in
    the basis c = t/n of _poly_design, pure Catalyst (no UDF): one
    partial-agg shuffle for the moments (poly_moments_sql), then the
    closed-form Cramer expressions (poly_coef_exprs) — the identical text
    runs in the DuckDB oracles."""
    # per-series length via window count over the one hash(key) exchange —
    # the groupBy + join-back form re-evaluated df per branch (recompute
    # census); _n is an exact integer, so values are unchanged
    j = df.withColumn("_n", F.count("*").over(Window.partitionBy(key))).withColumn(
        "cc", F.col("t").cast("double") / F.col("_n")
    )
    g = j.groupBy(key).agg(*map(F.expr, poly_moments_sql(degree, value_col)))
    return g.select(key, *[F.expr(v).alias(c) for c, v in poly_coef_exprs(degree).items()])


def trend_theilsen(
    df: DataFrame, value_col: str = "value", key: str = "series_id"
) -> DataFrame:
    """Theil–Sen robust slope per series: the MEDIAN of all pairwise slopes
    (y_j − y_i)/(j − i), i < j — breakdown point 29% vs 0% for OLS (one
    outlier can move the OLS line arbitrarily; Theil–Sen shrugs it off).

    Pairs are generated per series by a self-equi-join on the series key
    with i < j — O(T²) rows per series, bounded by the fixed seq_len (64²/2
    ≈ 2k pairs), embarrassingly parallel across series; the median is the
    exact type-1 rank over each series' own pair set (window partitioned by
    series — parallelism = series count). Intercept = median(y) − slope ·
    median(t) (the Siegel form), same rank machinery."""
    # four branches read df (both pair sides + the y/t medians): pin it,
    # or each branch re-runs the upstream lineage (recompute census: x8)
    df = df.localCheckpoint(eager=False)
    a = df.select(key, F.col("t").alias("ti"), F.col(value_col).alias("yi"))
    b = df.select(key, F.col("t").alias("tj"), F.col(value_col).alias("yj"))
    pairs = a.join(b, key).filter(F.col("ti") < F.col("tj")).select(
        key, ((F.col("yj") - F.col("yi")) / (F.col("tj") - F.col("ti"))).alias("slope")
    )

    def _median(d: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(col)
        cw = Window.partitionBy(key)
        return (
            d.withColumn("_r", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(cw))
            .filter(F.col("_r") == F.floor((F.col("_n") + 1) / 2))
            .select(key, F.col(col).alias(out))
        )

    med_slope = _median(pairs, "slope", "ts_slope")
    med_y = _median(df.select(key, F.col(value_col).alias("y")), "y", "med_y")
    med_t = _median(df.select(key, F.col("t").cast("double").alias("tt")), "tt", "med_t")
    return (
        med_slope.join(med_y, key)
        .join(med_t, key)
        .select(
            key,
            "ts_slope",
            (F.col("med_y") - F.col("ts_slope") * F.col("med_t")).alias("ts_intercept"),
        )
    )


def theilsen_sql(inner: str) -> str:
    """Oracle twin — same pair join, same type-1 (lower) median rank with
    explicit floor (DuckDB's float→int CAST rounds; Spark's truncates)."""
    return f"""
WITH src AS ({inner}),
pairs AS (
  SELECT a.series_id, (b.value - a.value) / (b.t - a.t) AS slope
  FROM src a JOIN src b ON a.series_id = b.series_id AND a.t < b.t),
ms AS (
  SELECT series_id, slope AS ts_slope FROM (
    SELECT series_id, slope,
           row_number() OVER (PARTITION BY series_id ORDER BY slope) AS r,
           count(*) OVER (PARTITION BY series_id) AS n
    FROM pairs) WHERE r = CAST(floor((n + 1) / 2) AS BIGINT)),
my AS (
  SELECT series_id, value AS med_y FROM (
    SELECT series_id, value,
           row_number() OVER (PARTITION BY series_id ORDER BY value) AS r,
           count(*) OVER (PARTITION BY series_id) AS n
    FROM src) WHERE r = CAST(floor((n + 1) / 2) AS BIGINT)),
mt AS (
  SELECT series_id, tt AS med_t FROM (
    SELECT series_id, CAST(t AS DOUBLE) AS tt,
           row_number() OVER (PARTITION BY series_id ORDER BY tt) AS r,
           count(*) OVER (PARTITION BY series_id) AS n
    FROM src) WHERE r = CAST(floor((n + 1) / 2) AS BIGINT))
SELECT ms.series_id, ts_slope, med_y - ts_slope * med_t AS ts_intercept
FROM ms JOIN my ON ms.series_id = my.series_id
JOIN mt ON ms.series_id = mt.series_id
"""
