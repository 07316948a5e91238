"""Queries for spectral + decomposition operators (SURVEY §2 G1-G7, D5).

The FFT family is fully DuckDB-oracle-checked via brute-force O(n²) DFT
SQL (trivially cheap at registry test sizes) — spectrum, top-k, top-k
seasonality reconstruction, the full decompose chain (cubic Cramer trend +
DFT seasonality + residual) and both Fourier losses all hash-match the
pandas-UDF FFT path. Property tests (Parseval, round-trip, k=all identity,
exact-poly recovery) remain in tests/test_decompose.py.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import decompose, generators, metrics, oracle, spectral
from . import expr as E
from .queries import _REGISTRY, Query, round6, roundn

N_D, LEN_D = 12, 64


def _q_trend_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, N_D, LEN_D, "linear_sum")
    # the degree-1 fit under the column names of the t-basis oracle formula
    coeffs = decompose.trend_poly(df, 1)
    out = coeffs.select("series_id", F.col("c0").alias("intercept"), F.col("c1").alias("slope"))
    return round6(out, "intercept", "slope")


def _trend_linear_sql() -> str:
    gen = oracle.generate_sql(N_D, LEN_D, "linear_sum", rounded=False)
    return (
        f"WITH s AS ({gen}), g AS ("
        "SELECT series_id, count(*) AS n, sum(CAST(t AS DOUBLE)) AS st, "
        "sum(CAST(t AS DOUBLE) * t) AS stt, sum(value) AS sx, "
        "sum(CAST(t AS DOUBLE) * value) AS stx FROM s GROUP BY series_id) "
        "SELECT series_id, "
        f"{E.round6('((sx - (n * stx - st * sx) / (n * stt - st * st) * st) / n)')} AS intercept, "
        f"{E.round6('((n * stx - st * sx) / (n * stt - st * st) * n)')} AS slope "
        "FROM g"
    )


# the cubic fit's moment and coefficient select-lists, as every cubic
# oracle (trend_poly3, the decompose chain, the sampling loop) runs them
_CUBIC_MOMENTS = ", ".join(decompose.poly_moments_sql(3))
_CUBIC_COEFS = ", ".join(f"{v} AS {c}" for c, v in decompose.poly_coef_exprs(3).items())


def _q_trend_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # closed-form degree-3 fit (Cramer, no UDF) evaluated per point — the
    # identical expression text runs in the DuckDB oracle, turning the last
    # G5 entry from rows-only to hash-checked. Agreement of the closed
    # form with a numpy least-squares fit is unit-tested.
    # pin: the coefficient fit and the per-point evaluation both read df
    df = generators.generate(spark, N_D, LEN_D, "linear_sum").localCheckpoint(eager=False)
    coeffs = decompose.trend_poly(df, 3)
    out = (
        df.withColumn("cc", F.col("t").cast("double") / F.lit(float(LEN_D)))
        .join(coeffs, "series_id")
        .withColumn("trend", F.expr(decompose.CUBIC_EVAL))
        .select("series_id", "t", "trend")
    )
    return round6(out, "trend")


def _trend_poly3_sql() -> str:
    gen = oracle.generate_sql(N_D, LEN_D, "linear_sum", rounded=False)
    cc = f"CAST(t AS DOUBLE)/{LEN_D}"
    return (
        f"WITH s AS (SELECT series_id, t, value, {cc} AS cc FROM ({gen})), "
        f"g AS (SELECT series_id, {_CUBIC_MOMENTS} FROM s GROUP BY series_id), "
        f"co AS (SELECT series_id, {_CUBIC_COEFS} FROM g) "
        f"SELECT s.series_id, s.t, {E.round6(decompose.CUBIC_EVAL)} AS trend "
        "FROM s JOIN co ON s.series_id = co.series_id"
    )


def _q_fft_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, 8, LEN_D, "mixed", noise=False, normalize=False)
    return round6(spectral.rfft(df), "re", "im", "magnitude")


# Brute-force O(n²) DFT as the DuckDB oracle: at the registry's test sizes
# (8 series × 64 points × 33 bins ≈ 17k terms) the quadratic definition is
# trivially cheap, and it hash-checks the pandas-UDF FFT path end-to-end —
# the FFT family no longer has to settle for rows-only.
_FFT_BINS = LEN_D // 2 + 1
_FFT_W = f"{2 * 3.141592653589793 / LEN_D:.17e}"


def _dft_spec_ctes() -> str:
    gen = oracle.generate_sql(8, LEN_D, "mixed", noise=False, normalize=False, rounded=False)
    return f"""
src AS ({gen}),
k AS (SELECT unnest(range(0, {_FFT_BINS})) AS freq_idx),
spec AS (
  SELECT series_id, freq_idx,
         sum(value * cos({_FFT_W} * freq_idx * t)) AS re,
         sum(-value * sin({_FFT_W} * freq_idx * t)) AS im
  FROM src CROSS JOIN k GROUP BY series_id, freq_idx)"""


def _fft_spectrum_sql() -> str:
    return f"""
WITH {_dft_spec_ctes()}
SELECT series_id, freq_idx, {E.round6('re')} AS re, {E.round6('im')} AS im,
       {E.round6('sqrt(re*re + im*im)')} AS magnitude
FROM spec
"""


def _q_fft_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # D5: ranking window + filter = top-k (torch.topk, diffusion_ts_model.py:279)
    from .queries import canon_types

    df = generators.generate(spark, 8, LEN_D, "mixed", noise=False, normalize=False)
    spec = spectral.rfft(df)
    w = Window.partitionBy("series_id").orderBy(F.desc("magnitude"), F.asc("freq_idx"))
    out = (
        spec.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4)
        .select("series_id", "freq_idx", "magnitude", "rank")
    )
    return canon_types(round6(out, "magnitude"))


def _fft_topk_sql() -> str:
    return f"""
WITH {_dft_spec_ctes()},
ranked AS (
  SELECT series_id, freq_idx, sqrt(re*re + im*im) AS magnitude,
         row_number() OVER (PARTITION BY series_id
                            ORDER BY sqrt(re*re + im*im) DESC, freq_idx) AS rank
  FROM spec)
SELECT series_id, freq_idx, {E.round6('magnitude')} AS magnitude, rank
FROM ranked WHERE rank <= 4
"""


def _seasonality_sql() -> str:
    # inverse DFT of the top-4 bins: x_t = (1/n)·Σ_sel w_k·(re·cos − im·sin),
    # w = 1 for DC/Nyquist, 2 for interior bins (real-signal half spectrum)
    return f"""
WITH {_dft_spec_ctes()},
sel AS (
  SELECT series_id, freq_idx, re, im,
         CASE WHEN freq_idx = 0 OR freq_idx = {LEN_D // 2} THEN 1.0e0 ELSE 2.0e0 END AS wgt,
         row_number() OVER (PARTITION BY series_id
                            ORDER BY sqrt(re*re + im*im) DESC, freq_idx) AS rk
  FROM spec)
SELECT g.series_id, g.t,
       {E.round6(f'sum(s.wgt * (s.re * cos({_FFT_W} * s.freq_idx * g.t) - s.im * sin({_FFT_W} * s.freq_idx * g.t))) / {LEN_D}')} AS seasonality
FROM src g JOIN sel s ON g.series_id = s.series_id AND s.rk <= 4
GROUP BY g.series_id, g.t
"""


def _q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, 8, LEN_D, "mixed", noise=False, normalize=False)
    return round6(decompose.extract_seasonality(df, 4), "seasonality")


def _q_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, N_D, LEN_D, "linear_sum")
    out = decompose.decompose(df)
    return round6(out, "value", "trend", "seasonality", "residual")


def _decompose_chain_sql(gen: str, keys: str, seq_len: int = LEN_D, rounded: bool = True) -> str:
    # full decomposition oracle: cubic Cramer trend (same closed form as
    # trend_poly3 — the UDF's pinv solves the same normal equations) +
    # brute-DFT top-4 seasonality of the detrended + exact residual;
    # `keys` is the comma-joined decomposition key ("series_id" or
    # "series_id, channel" for the dim>1 contract)
    w = f"{2 * 3.141592653589793 / seq_len:.17e}"
    nbins = seq_len // 2 + 1
    kl = [x.strip() for x in keys.split(",")]
    sk = ", ".join(kl)
    def on(a, b):
        return " AND ".join(f"{a}.{c} = {b}.{c}" for c in kl)
    sel_k = lambda a: ", ".join(f"{a}.{c}" for c in kl)  # noqa: E731
    rv = E.round6 if rounded else (lambda x: f"({x})")
    return f"""
WITH s AS (SELECT {sk}, t, value, CAST(t AS DOUBLE)/{seq_len} AS cc FROM ({gen})),
g AS (SELECT {sk}, {_CUBIC_MOMENTS} FROM s GROUP BY {sk}),
co AS (SELECT {sk}, {_CUBIC_COEFS} FROM g),
tr AS (
  SELECT {sel_k('s')}, s.t, s.value, {decompose.CUBIC_EVAL} AS trend,
         s.value - {decompose.CUBIC_EVAL} AS det
  FROM s JOIN co ON {on('s', 'co')}),
k AS (SELECT unnest(range(0, {nbins})) AS freq_idx),
spec AS (
  SELECT {sk}, freq_idx,
         sum(det * cos({w} * freq_idx * t)) AS re,
         sum(-det * sin({w} * freq_idx * t)) AS im
  FROM tr CROSS JOIN k GROUP BY {sk}, freq_idx),
sel AS (
  SELECT {sk}, freq_idx, re, im,
         CASE WHEN freq_idx = 0 OR freq_idx = {seq_len // 2} THEN 1.0e0 ELSE 2.0e0 END AS wgt,
         row_number() OVER (PARTITION BY {sk}
                            ORDER BY sqrt(re*re + im*im) DESC, freq_idx) AS rk
  FROM spec),
seas AS (
  SELECT {sel_k('tr')}, tr.t,
         sum(s.wgt * (s.re * cos({w} * s.freq_idx * tr.t)
                      - s.im * sin({w} * s.freq_idx * tr.t))) / {seq_len} AS seasonality
  FROM tr JOIN sel s ON {on('tr', 's')} AND s.rk <= 4
  GROUP BY {sel_k('tr')}, tr.t)
SELECT {sel_k('tr')}, tr.t, {rv('tr.value')} AS value, {rv('tr.trend')} AS trend,
       {rv('seas.seasonality')} AS seasonality,
       {rv('tr.value - tr.trend - seas.seasonality')} AS residual
FROM tr JOIN seas ON {on('tr', 'seas')} AND tr.t = seas.t
"""



def _decompose_full_sql() -> str:
    gen = oracle.generate_sql(N_D, LEN_D, "linear_sum", rounded=False)
    return _decompose_chain_sql(gen, "series_id")


def _decompose_multichannel_sql() -> str:
    from .normalize import znorm_sql

    ck = generators.multichannel_key()
    value = E.noisy_signal_expr("mixed", LEN_D, sid=ck)
    inner = (
        f"SELECT series_id, channel, t, {value} AS value FROM "
        "(SELECT range AS series_id FROM range(6)) "
        "CROSS JOIN (SELECT range AS channel FROM range(3)) "
        f"CROSS JOIN (SELECT range AS t FROM range({LEN_D}))"
    )
    normed = znorm_sql(inner, key="series_id, channel")
    return _decompose_chain_sql(normed, "series_id, channel")


def _q_decompose_multichannel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dim>1 contract (utils/data_generators.py:40,51): each (series, channel)
    # decomposes independently on the composite key; oracle = the same
    # Cramer+DFT chain keyed on (series_id, channel). Per-channel additivity
    # + channel-independence invariants also in tests/test_decompose.py.
    df = generators.generate_multichannel(spark, 6, LEN_D, 3, "mixed")
    out = decompose.decompose(df, key=["series_id", "channel"])
    return round6(out, "value", "trend", "seasonality", "residual")


def _loss_ctes() -> str:
    """Shared CTE chain for the Fourier-loss oracles: pred/target signals on
    the same grid, brute-DFT magnitude spectra of both, time + freq MSEs."""
    w = f"{2 * 3.141592653589793 / LEN_D:.17e}"
    nbins = LEN_D // 2 + 1
    return f"""
src AS (
  SELECT series_id, t, {E.noisy_signal_expr("mixed", LEN_D)} AS pred,
         {E.signal_expr("mixed", LEN_D)} AS target
  FROM {oracle.grid_sql(8, LEN_D)}),
k AS (SELECT unnest(range(0, {nbins})) AS freq_idx),
spec AS (
  SELECT series_id, freq_idx,
         sqrt(pow(sum(pred * cos({w} * freq_idx * t)), 2)
              + pow(sum(-pred * sin({w} * freq_idx * t)), 2)) AS m_pred,
         sqrt(pow(sum(target * cos({w} * freq_idx * t)), 2)
              + pow(sum(-target * sin({w} * freq_idx * t)), 2)) AS m_target
  FROM src CROSS JOIN k GROUP BY series_id, freq_idx),
tl AS (SELECT avg(pow(pred - target, 2)) AS time_loss FROM src),
fl AS (SELECT avg(pow(m_pred - m_target, 2)) AS freq_loss FROM spec)"""


def _loss_fourier_sql() -> str:
    return f"""
WITH {_loss_ctes()}
SELECT {E.round6('time_loss')} AS time_loss, {E.round6('freq_loss')} AS freq_loss,
       {E.round6('time_loss + freq_loss')} AS fourier_loss
FROM tl CROSS JOIN fl
"""


def _loss_combined_sql() -> str:
    return f"""
WITH {_loss_ctes()}
SELECT {E.round6('time_loss')} AS time_loss, {E.round6('freq_loss')} AS freq_loss,
       {E.round6('time_loss + freq_loss')} AS fourier_loss,
       {E.round6('time_loss + 5.0e-1 * (time_loss + freq_loss)')} AS combined_loss
FROM tl CROSS JOIN fl
"""


def _q_loss_fourier(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        generators.base_grid(spark, 8, LEN_D)
        .withColumn("pred", F.expr(E.noisy_signal_expr("mixed", LEN_D)))
        .withColumn("target", F.expr(E.signal_expr("mixed", LEN_D)))
    )
    return round6(
        metrics.fourier_loss(df, "pred", "target", LEN_D), "time_loss", "freq_loss", "fourier_loss"
    )


def _q_loss_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        generators.base_grid(spark, 8, LEN_D)
        .withColumn("pred", F.expr(E.noisy_signal_expr("mixed", LEN_D)))
        .withColumn("target", F.expr(E.signal_expr("mixed", LEN_D)))
    )
    out = metrics.combined_loss(df, "pred", "target", LEN_D)
    return round6(out, "time_loss", "freq_loss", "fourier_loss", "combined_loss")


def _sample_loop_sql(
    n_series: int,
    seq_len: int,
    timesteps: int,
    kind: str = "cosine",
    mode: str = "plain",
    history_len: int = 16,
    guidance: float = 1.0,
) -> str:
    """The ENTIRE reverse-diffusion sampling loop unrolled as SQL: T chained
    decompose-denoiser + DDPM-posterior stages (each stage = the same
    Cramer-trend + brute-DFT-seasonality chain as decompose_full, then the
    posterior mean/noise step with schedule constants as scalar subqueries).
    ~8 CTEs per step — mechanical to generate, and it hash-checks the fused
    samplers (sample_fused, sample_forecast, sample_conditional_label)
    end-to-end against pure SQL."""
    from . import diffusion
    from .schedules import duckdb_from_clause, schedule_sql

    w = f"{2 * 3.141592653589793 / seq_len:.17e}"
    nbins, nyq = seq_len // 2 + 1, seq_len // 2
    known = E.signal_expr("mixed", seq_len)
    if mode == "label":
        fams = ("sine", "cosine", "mixed", "exponential_decay")
        label_of = lambda sid: (  # noqa: E731
            f"CAST(floor({E.u01(sid, E.SALT_LABEL)} * {len(fams)}) AS BIGINT)"
        )
        label = label_of("series_id")
        def cond_of(sid, t):
            return "CASE " + " ".join(
                f"WHEN ({label_of(sid)}) = {i} THEN ({E.signal_expr(f, seq_len, sid=sid, t=t)})"
                for i, f in enumerate(fams)
            ) + " ELSE 0.0e0 END"
        g = E.NUM(guidance)
        x0_eff = lambda u: (  # noqa: E731
            f"(({u}) + {g} * (({cond_of('tr.series_id', 'tr.t')}) - ({u})))"
        )
    else:
        x0_eff = lambda u: f"({u})"  # noqa: E731
    ctes = [
        f"sch AS ({schedule_sql(timesteps, kind, duckdb_from_clause(timesteps))})",
        f"k AS (SELECT unnest(range(0, {nbins})) AS freq_idx)",
        f"st{timesteps} AS (SELECT series_id, t, {E.normal(E.pt_key(), diffusion.SALT_INIT)} AS x "
        f"FROM {oracle.grid_sql(n_series, seq_len)})",
    ]
    cur = f"st{timesteps}"
    for t in reversed(range(timesteps)):
        p = f"d{t}_"
        ctes += [
            f"{p}s AS MATERIALIZED (SELECT series_id, t, x AS value, CAST(t AS DOUBLE)/{seq_len} AS cc FROM {cur})",
            f"{p}g AS (SELECT series_id, {_CUBIC_MOMENTS} FROM {p}s GROUP BY series_id)",
            f"{p}co AS (SELECT series_id, {_CUBIC_COEFS} FROM {p}g)",
            f"{p}tr AS MATERIALIZED (SELECT s.series_id, s.t, s.value, {decompose.CUBIC_EVAL} AS trend, "
            f"s.value - {decompose.CUBIC_EVAL} AS det "
            f"FROM {p}s s JOIN {p}co co ON s.series_id = co.series_id)",
            f"{p}spec AS MATERIALIZED (SELECT series_id, freq_idx, "
            f"sum(det * cos({w} * freq_idx * t)) AS re, "
            f"sum(-det * sin({w} * freq_idx * t)) AS im "
            f"FROM {p}tr CROSS JOIN k GROUP BY series_id, freq_idx)",
            f"{p}sel AS (SELECT series_id, freq_idx, re, im, "
            f"CASE WHEN freq_idx = 0 OR freq_idx = {nyq} THEN 1.0e0 ELSE 2.0e0 END AS wgt, "
            f"row_number() OVER (PARTITION BY series_id "
            f"ORDER BY sqrt(re*re + im*im) DESC, freq_idx) AS rk FROM {p}spec)",
            f"{p}seas AS (SELECT tr.series_id, tr.t, "
            f"sum(s.wgt * (s.re * cos({w} * s.freq_idx * tr.t) "
            f"- s.im * sin({w} * s.freq_idx * tr.t))) / {seq_len} AS seasonality "
            f"FROM {p}tr tr JOIN {p}sel s ON tr.series_id = s.series_id AND s.rk <= 4 "
            f"GROUP BY tr.series_id, tr.t)",
            f"{p}x0 AS MATERIALIZED (SELECT tr.series_id, tr.t, tr.value AS x, "
            f"{x0_eff('tr.trend + seas.seasonality')} AS x0_pred "
            f"FROM {p}tr tr JOIN {p}seas seas ON tr.series_id = seas.series_id AND tr.t = seas.t)",
        ]
        if t == 0:
            final_x = "x0_pred"
            if mode == "forecast":
                final_x = f"CASE WHEN t < {history_len} THEN ({known}) ELSE x0_pred END"
            ctes.append(
                f"st_final AS MATERIALIZED (SELECT series_id, t, {final_x} AS x FROM {p}x0)"
            )
            cur = "st_final"
        else:
            sub = lambda expr: f"(SELECT {expr} FROM sch WHERE t_step = {t})"  # noqa: E731
            mean = (
                f"({sub('sqrt(alpha)*(1.0e0 - alpha_cumprod_prev)')} * x "
                f"+ {sub('sqrt(alpha_cumprod_prev)*(1.0e0 - alpha)')} * x0_pred) "
                f"/ {sub('1.0e0 - alpha_cumprod')}"
            )
            noise = E.normal(E.pt_key(), diffusion.step_salt(diffusion.SALT_PNOISE, t))
            nxt = f"{mean} + {sub('sqrt(posterior_variance)')} * {noise}"
            if mode == "forecast":
                prev = lambda expr: f"(SELECT {expr} FROM sch WHERE t_step = {t - 1})"  # noqa: E731
                qn = E.normal(E.pt_key(), diffusion.step_salt(diffusion.SALT_QNOISE, t))
                nxt = (
                    f"CASE WHEN t < {history_len} THEN "
                    f"({prev('sqrt_ac')} * ({known}) + {prev('sqrt_1m_ac')} * {qn}) "
                    f"ELSE {nxt} END"
                )
            ctes.append(
                f"st{t} AS MATERIALIZED (SELECT series_id, t, {nxt} AS x FROM {p}x0)"
            )
            cur = f"st{t}"
    if mode == "forecast":
        final = f"SELECT series_id, t, t < {history_len} AS observed, {E.round6('x')} AS x FROM {cur}"
    elif mode == "label":
        final = f"SELECT series_id, {label} AS label, t, {E.round6('x')} AS x FROM {cur}"
    else:
        final = f"SELECT series_id, t, {E.round6('x')} AS x FROM {cur}"
    return "WITH " + ",\n".join(ctes) + "\n" + final


def _q_sample_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    # I1: reverse-diffusion sampling, decomposition denoiser, T=20; the
    # whole T-step loop runs in one mapInPandas pass
    from . import diffusion

    out = diffusion.sample_fused(spark, 8, 64, timesteps=20)
    return round6(out.select("series_id", "t", "x"), "x")


def _q_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shannon entropy of the normalized power spectrum — the standard
    # "how periodic vs noise-like is this series" feature (low = one
    # dominant tone, high = flat/noisy spectrum). Reuses the rfft kernel;
    # DC is excluded (it carries the mean, not structure).
    from .queries import roundn

    df = generators.generate(spark, 8, LEN_D, "mixed", noise=False, normalize=False)
    spec = spectral.rfft(df).filter(F.col("freq_idx") > 0)
    pw = spec.select(
        "series_id", (F.col("magnitude") * F.col("magnitude")).alias("p")
    )
    tot = pw.groupBy("series_id").agg(F.sum("p").alias("tot"))
    out = (
        pw.join(F.broadcast(tot), "series_id")
        .withColumn("pn", F.col("p") / F.col("tot"))
        .groupBy("series_id")
        .agg(
            (-F.sum(F.when(F.col("pn") > 0, F.col("pn") * F.log("pn")).otherwise(0.0)))
            .alias("entropy"),
            F.count("*").alias("n_bins"),
        )
        .withColumn("entropy_norm", F.col("entropy") / F.log(F.col("n_bins").cast("double")))
    )
    return roundn(out.select("series_id", "n_bins", "entropy", "entropy_norm"), 6,
                  "entropy", "entropy_norm")


def _spectral_entropy_sql() -> str:
    return f"""
WITH {_dft_spec_ctes()},
pw AS (SELECT series_id, (re*re + im*im) AS p FROM spec WHERE freq_idx > 0),
tot AS (SELECT series_id, sum(p) AS tot FROM pw GROUP BY series_id),
agg AS (
  SELECT pw.series_id,
         -sum(CASE WHEN pw.p / t.tot > 0
                   THEN (pw.p / t.tot) * ln(pw.p / t.tot) ELSE 0.0e0 END) AS entropy,
         count(*) AS n_bins
  FROM pw JOIN tot t ON t.series_id = pw.series_id
  GROUP BY pw.series_id)
SELECT series_id, n_bins, {E.round6('entropy')} AS entropy,
       {E.round6('entropy / ln(CAST(n_bins AS DOUBLE))')} AS entropy_norm
FROM agg
"""


_REGISTRY.update(
    {
        "trend_linear": Query("trend_linear", _q_trend_linear, _trend_linear_sql(), ("decompose",)),
        "ts_spectral_entropy": Query(
            "ts_spectral_entropy", _q_spectral_entropy, _spectral_entropy_sql(), ("spectral",)
        ),
        "trend_poly3": Query("trend_poly3", _q_trend_poly, _trend_poly3_sql(), ("decompose",)),
        "fft_spectrum": Query("fft_spectrum", _q_fft_spectrum, _fft_spectrum_sql(), ("spectral",)),
        "fft_topk": Query("fft_topk", _q_fft_topk, _fft_topk_sql(), ("spectral",)),
        "seasonality_topk": Query(
            "seasonality_topk", _q_seasonality, _seasonality_sql(), ("decompose",)
        ),
        "decompose_full": Query(
            "decompose_full", _q_decompose, _decompose_full_sql(), ("decompose",)
        ),
        "decompose_multichannel": Query(
            "decompose_multichannel",
            _q_decompose_multichannel,
            _decompose_multichannel_sql(),
            ("decompose",)
        ),
        "loss_fourier": Query("loss_fourier", _q_loss_fourier, _loss_fourier_sql(), ("loss",)),
        "loss_combined": Query(
            "loss_combined", _q_loss_combined, _loss_combined_sql(), ("loss",)
        ),
        "sample_fused": Query(
            "sample_fused", _q_sample_fused, _sample_loop_sql(8, 64, 20), ("diffusion",)
        ),
    }
)


def _q_trend_quadratic(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, N_D, LEN_D, "linear_sum")
    return round6(decompose.trend_poly(df, 2), "c0", "c1", "c2")


def _trend_quadratic_sql() -> str:
    gen = oracle.generate_sql(N_D, LEN_D, "linear_sum", rounded=False)
    e = decompose.poly_coef_exprs(2)
    return (
        f"WITH s AS ({gen}), g AS ("
        "SELECT series_id, CAST(count(*) AS DOUBLE) AS m0, "
        f"sum(CAST(t AS DOUBLE)/{LEN_D}) AS m1, "
        f"sum(pow(CAST(t AS DOUBLE)/{LEN_D}, 2)) AS m2, "
        f"sum(pow(CAST(t AS DOUBLE)/{LEN_D}, 3)) AS m3, "
        f"sum(pow(CAST(t AS DOUBLE)/{LEN_D}, 4)) AS m4, "
        "sum(value) AS b0, "
        f"sum(CAST(t AS DOUBLE)/{LEN_D} * value) AS b1, "
        f"sum(pow(CAST(t AS DOUBLE)/{LEN_D}, 2) * value) AS b2 "
        "FROM s GROUP BY series_id) "
        f"SELECT series_id, {E.round6(e['c0'])} AS c0, "
        f"{E.round6(e['c1'])} AS c1, {E.round6(e['c2'])} AS c2 FROM g"
    )


_REGISTRY["trend_quadratic"] = Query(
    "trend_quadratic", _q_trend_quadratic, _trend_quadratic_sql(), ("decompose",)
)


# --- decomposition-strength diagnostics (Hyndman & Athanasopoulos) ---------
def _q_ts_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trend strength F_T = max(0, 1 − var(R)/var(T+R)) and seasonal
    # strength F_S = max(0, 1 − var(R)/var(S+R)) from the engine's own
    # decomposition — the triage stat that says WHICH model family a
    # series deserves (flat vs trended vs seasonal) before fitting any.
    # One decomposition pass + one per-series aggregation.
    df = generators.generate(spark, N_D, LEN_D, "mixed")
    dec = decompose.decompose(df)
    agg = dec.groupBy("series_id").agg(
        F.var_samp(F.col("trend") + F.col("residual")).alias("v_tr"),
        F.var_samp(F.col("seasonality") + F.col("residual")).alias("v_sr"),
        F.var_samp("residual").alias("v_r"),
    )
    out = agg.select(
        "series_id",
        F.greatest(F.lit(0.0), 1.0 - F.col("v_r") / F.col("v_tr")).alias("trend_strength"),
        F.greatest(F.lit(0.0), 1.0 - F.col("v_r") / F.col("v_sr")).alias("seasonal_strength"),
    )
    return roundn(out.orderBy("series_id"), 4, "trend_strength", "seasonal_strength")


def _ts_strength_sql() -> str:
    gen = oracle.generate_sql(N_D, LEN_D, "mixed", rounded=False)
    chain = _decompose_chain_sql(gen, "series_id", rounded=False)
    return """
WITH d AS ({chain}),
a AS (
  SELECT series_id, var_samp(trend + residual) AS v_tr,
         var_samp(seasonality + residual) AS v_sr,
         var_samp(residual) AS v_r
  FROM d GROUP BY series_id)
SELECT series_id,
       (round((greatest(0.0e0, 1.0e0 - v_r / v_tr)) + 1.0e-9,4)+0.0e0) AS trend_strength,
       (round((greatest(0.0e0, 1.0e0 - v_r / v_sr)) + 1.0e-9,4)+0.0e0) AS seasonal_strength
FROM a ORDER BY series_id
""".format(chain=chain)


_REGISTRY.update(
    {
        "ts_strength": Query(
            "ts_strength", _q_ts_strength, _ts_strength_sql(), ("decompose",)
        ),
    }
)
