"""Forward / reverse Gaussian diffusion algebra over long-format series.

Re-expresses models/diffusion_ts_model.py:610-636 (q_sample, x0 inversion),
:695-734 (DDPM posterior step), :736-772 (sampling loop) as DataFrame ops.

Scale design:
- The schedule lookup (`extract`, diffusion_ts_model.py:70-74) is an
  equi-join of the (arbitrarily large) series table against the ≤1000-row
  schedule table → ALWAYS a broadcast hash join, no shuffle of the big side
  (we hint F.broadcast explicitly; verified BroadcastHashJoin in .explain).
- Noise is a pure function of (series_id, t, salt) so the sampling loop is
  reproducible regardless of partitioning/retries.
- The reverse loop (I1) has T data-dependent steps, but each series
  evolves independently, so the whole loop runs inside one mapInPandas
  pass (`sample_fused` and its conditional siblings): one Spark job, not
  one per step. The DuckDB oracle unrolls the same loop in SQL.
"""
from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import expr as E
from .decompose import DEFAULT_DEGREE, DEFAULT_TOP_K, trend_seasonality
from .schedules import schedule_table

SALT_TSTEP = 31
# Per-step noise roles live in widely-separated bases, stepped by a stride
# larger than normal()'s internal u2 offset (+7919, tsgen/expr.py), so no
# (role, step) pair — including the hidden u2 stream — ever reuses an LCG
# stream. With small additive bases, QNOISE+t collided with PNOISE+(t-12)
# for every t and PNOISE+14 equaled INIT.
SALT_STRIDE = 1 << 14  # > 7919, so u2 shadows never land on another step
SALT_QNOISE = 1 << 24
SALT_PNOISE = 1 << 25
SALT_INIT = 1 << 26


def step_salt(base: int, t: int) -> int:
    """Salt for noise role `base` at loop step `t` (collision-free)."""
    return base + t * SALT_STRIDE


def draw_t_step(timesteps: int, sid: str = "series_id") -> str:
    """Per-series uniform timestep ~ randint(0, T) (train_diffusion_ts.py:50)."""
    return f"CAST(floor({E.u01(sid, SALT_TSTEP)} * {timesteps}) AS BIGINT)"


def q_sample(
    df: DataFrame,
    schedule: DataFrame,
    timesteps: int,
    noise_salt: int = SALT_QNOISE,
    channel: str | None = None,
) -> DataFrame:
    """Forward diffusion x_t = √ᾱ_t·x₀ + √(1−ᾱ_t)·ε (diffusion_ts_model.py:610-628).

    Adds columns: t_step (per-series draw), noise, x_t.

    For multivariate series pass `channel`: the timestep draw stays
    per-SAMPLE (one t for the whole (seq_len, dim) tensor, matching the
    reference's per-batch-element randint) while the noise key folds the
    channel in, so each channel gets an independent ε realization instead
    of dim copies of the same one.
    """
    if channel is None:
        noise_key = E.pt_key()
    else:
        from .generators import multichannel_key

        noise_key = E.pt_key(multichannel_key("series_id", channel))
    df = df.withColumn("t_step", F.expr(draw_t_step(timesteps))).withColumn(
        "noise", F.expr(E.normal(noise_key, noise_salt))
    )
    sched = F.broadcast(schedule.select("t_step", "sqrt_ac", "sqrt_1m_ac"))
    return (
        df.join(sched, "t_step")
        .withColumn("x_t", F.col("sqrt_ac") * F.col("value") + F.col("sqrt_1m_ac") * F.col("noise"))
        .drop("sqrt_ac", "sqrt_1m_ac")
    )


def predict_start_from_noise(df: DataFrame, schedule: DataFrame) -> DataFrame:
    """x₀ = (x_t − √(1−ᾱ_t)·ε)/√ᾱ_t (diffusion_ts_model.py:630-636).

    Expects columns x_t, noise, t_step; adds x0_pred.
    """
    sched = F.broadcast(schedule.select("t_step", "sqrt_ac", "sqrt_1m_ac"))
    return (
        df.join(sched, "t_step")
        .withColumn("x0_pred", (F.col("x_t") - F.col("sqrt_1m_ac") * F.col("noise")) / F.col("sqrt_ac"))
        .drop("sqrt_ac", "sqrt_1m_ac")
    )


def p_sample_step(
    df: DataFrame,
    schedule: DataFrame,
    t: int,
    x_col: str = "x",
    x0_col: str = "x0_pred",
    out_col: str = "x",
    noise_salt: int = SALT_PNOISE,
) -> DataFrame:
    """One DDPM posterior step (diffusion_ts_model.py:695-734).

    t > 0:  mean = [√α_t(1−ᾱ_{t−1})·x + √ᾱ_{t−1}(1−α_t)·x̂₀]/(1−ᾱ_t);
            x_{t−1} = mean + √posterior_variance·ε
    t = 0:  x̂₀.
    Note: the reference's x̂₀ clamp is commented out (:717-718) — matched.
    """
    row = schedule.filter(F.col("t_step") == t).collect()[0]
    alpha_t, ac_t, ac_prev, post_var = (
        row.alpha,
        row.alpha_cumprod,
        row.alpha_cumprod_prev,
        row.posterior_variance,
    )
    if t == 0:
        return df.withColumn(out_col, F.col(x0_col))
    mean = (
        F.lit(alpha_t**0.5) * F.lit(1.0 - ac_prev) * F.col(x_col)
        + F.lit(ac_prev**0.5) * F.lit(1.0 - alpha_t) * F.col(x0_col)
    ) / F.lit(1.0 - ac_t)
    noise = F.expr(E.normal(E.pt_key(), step_salt(noise_salt, t)))
    return df.withColumn(out_col, mean + F.lit(post_var**0.5) * noise)


def _np_lcg3(key, salt: int):
    """Exact numpy replica of expr.lcg3. Keys are non-negative and every
    intermediate stays below 2^63 (all products < 2^62), and M31 = 2^31, so
    masking with M31 - 1 gives SQL's `% M31` bit for bit without an int64
    division."""
    low = E.M31 - 1
    h = (key * E.LCG_A + (E.LCG_C + salt)) & low
    h = (h * h + E.LCG_A) & low
    h = (h * E.LCG_A + E.LCG_C) & low
    h = (h * h + E.LCG_C) & low
    return h


def _np_u01(key, salt: int):
    return _np_lcg3(key, salt) / E.M31


def _np_normal(key, salt: int):
    u1 = _np_u01(key, salt)
    u2 = _np_u01(key, salt + 7919)
    return np.sqrt(-2.0 * np.log(1.0 - u1)) * np.cos(E.TWO_PI * u2)


def _np_signal(family: str, sids, seq_len: int, lambda_decay: float = 0.5):
    """numpy replica of expr.signal_expr(family, seq_len) (libm-identical
    up to 1 ulp). sids: int64 array of series ids → (len(sids), seq_len)."""

    def u(salt, lo, hi):
        return (lo + (hi - lo) * _np_u01(sids, salt))[:, None]

    tv = (np.arange(seq_len) * (4.0 * E.PI / (seq_len - 1)))[None, :]
    f1, p1 = u(E.SALT_FREQ1, 2.0, 4.0), u(E.SALT_PHASE1, 0.0, E.TWO_PI)
    if family == "sine":
        return np.sin(f1 * tv + p1)
    if family == "cosine":
        return np.cos(f1 * tv + p1)
    if family == "mixed":
        f2, p2 = u(E.SALT_FREQ2, 2.0, 4.0), u(E.SALT_PHASE2, 0.0, E.TWO_PI)
        a1, a2 = u(E.SALT_AMP1, 0.3, 0.7), u(E.SALT_AMP2, 0.3, 0.7)
        return a1 * np.sin(f1 * tv + p1) + a2 * np.cos(f2 * tv + p2)
    if family == "exponential_decay":
        decay = np.exp(-lambda_decay * tv / (4.0 * E.PI))
        return decay * np.sin(f1 * tv + p1)
    raise ValueError(f"unknown family: {family}")


def _np_pt_keys(sids, seq_len: int):
    """(t, noise key) grid of a batch of series — numpy twin of E.pt_key."""
    ts = np.arange(seq_len, dtype=np.int64)
    return ts, (sids[:, None] * 131071 + ts[None, :]) % E.M31


def _np_posterior_step(X, x0, row: dict, keys, t: int):
    """numpy twin of p_sample_step at t > 0 (same LCG noise stream)."""
    mean = (
        row["alpha"] ** 0.5 * (1.0 - row["alpha_cumprod_prev"]) * X
        + row["alpha_cumprod_prev"] ** 0.5 * (1.0 - row["alpha"]) * x0
    ) / (1.0 - row["alpha_cumprod"])
    return mean + row["posterior_variance"] ** 0.5 * _np_normal(keys, step_salt(SALT_PNOISE, t))


# (timesteps, kind) → {t_step: schedule row}. The rows are a pure function of
# the key and the schedules module constants, so an entry is never stale;
# collecting them once saves the 2 Spark jobs each sampler build used to run.
_SCHEDULE_ROWS: dict[tuple[int, str], dict[int, dict]] = {}


def _schedule_rows(spark: SparkSession, timesteps: int, kind: str) -> dict[int, dict]:
    key = (timesteps, kind)
    if key not in _SCHEDULE_ROWS:
        rows = schedule_table(spark, timesteps, kind).collect()
        _SCHEDULE_ROWS[key] = {r.t_step: r.asDict() for r in rows}
    return _SCHEDULE_ROWS[key]


def _fused_map(
    spark: SparkSession,
    n_series: int,
    timesteps: int,
    kind: str,
    schema: str,
    batch: Callable[[dict, np.ndarray], pd.DataFrame],
) -> DataFrame:
    """Range(n_series) → one mapInPandas running `batch(sched, series_ids)`
    once per Arrow batch; `sched` maps t_step to its schedule row."""
    sched = _schedule_rows(spark, timesteps, kind)

    def fn(batches):
        for pdf in batches:
            if len(pdf):
                yield batch(sched, pdf["series_id"].to_numpy())

    return spark.range(n_series).withColumnRenamed("id", "series_id").mapInPandas(fn, schema)


def sample_fused(
    spark: SparkSession,
    n_series: int,
    seq_len: int,
    timesteps: int = 50,
    kind: str = "cosine",
    degree: int = DEFAULT_DEGREE,
    top_k: int = DEFAULT_TOP_K,
    return_intermediates: bool = False,
    n_intermediates: int = 5,
) -> DataFrame | tuple[DataFrame, list[tuple[int, DataFrame]]]:
    """Reverse-diffusion sampling loop (diffusion_ts_model.py:736-772) with
    the WHOLE T-step loop fused into one mapInPandas pass.

    Starts from x ~ N(0,1) on the (series, t) grid and runs T posterior
    steps; x̂₀ at each step is decompose's own `trend_seasonality` kernel
    (the engine's deterministic stand-in for the learned model). Each series
    evolves independently (the denoiser and the posterior step are
    per-series; noise is a pure function of (series_id, t, step)), so the
    loop needs NO cross-series communication and runs as exactly ONE narrow
    pass: Range → mapInPandas. At T=500 (config.json:16) this is the
    difference between 500 scheduled jobs and one. The DuckDB oracle
    (queries_decompose._sample_loop_sql) unrolls the same loop in SQL.

    With `return_intermediates` (the reference sample()'s flag, consumed by
    viz.visualize_diffusion_process, utils/visualisation.py:62-95) also
    returns [(step_number, snapshot_df), ...] captured every
    max(1, T//n_intermediates)-th step — the SURVEY §2 F3 stride filter.
    The same pass emits each snapshot as (step, series_id, t, x) rows; the
    result is localCheckpoint-pinned once and split by step, so no snapshot
    re-runs the loop.
    """
    stride = max(1, timesteps // n_intermediates)

    def frame(sids, ts, X, **lead):
        return pd.DataFrame(
            {**lead, "series_id": np.repeat(sids, seq_len), "t": np.tile(ts, len(sids)), "x": X.reshape(-1)}
        )

    def batch(sched, sids):
        ts, keys = _np_pt_keys(sids, seq_len)
        X = _np_normal(keys, SALT_INIT)
        snaps = []
        for t in reversed(range(timesteps)):
            trend, seas = trend_seasonality(X, degree, top_k)
            x0 = trend + seas
            X = _np_posterior_step(X, x0, sched[t], keys, t) if t > 0 else x0
            step = timesteps - t
            if return_intermediates and (step % stride == 0 or t == 0):
                snaps.append(frame(sids, ts, X, step=step))
        return pd.concat(snaps) if return_intermediates else frame(sids, ts, X)

    schema = "series_id bigint, t bigint, x double"
    if not return_intermediates:
        return _fused_map(spark, n_series, timesteps, kind, schema, batch)
    out = _fused_map(spark, n_series, timesteps, kind, "step bigint, " + schema, batch)
    out = out.localCheckpoint(eager=True)

    def at(step: int) -> DataFrame:
        return out.filter(F.col("step") == step).drop("step")

    return at(timesteps), [(s, at(s)) for s in range(stride, timesteps + 1, stride)]


def sample_conditional_fused(
    spark: SparkSession,
    n_series: int,
    seq_len: int,
    timesteps: int = 10,
    history_len: int = 16,
    kind: str = "cosine",
    degree: int = DEFAULT_DEGREE,
    top_k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """Forecast-conditional sampling (mask path, diffusion_ts_model.py:482,
    493-500; README.md:247-279): observed positions (t < history_len) are
    re-imposed after every posterior step at their q_sample(t)-noised level,
    so generation is conditioned on the known history — the replace-based
    imputation sampler. The whole loop runs in one mapInPandas pass (same
    independence argument as sample_fused); the `sample_forecast` query
    checks it against the unrolled-loop DuckDB oracle."""

    def batch(sched, sids):
        ts, keys = _np_pt_keys(sids, seq_len)
        observed = ts[None, :] < history_len
        known = _np_signal("mixed", sids, seq_len)
        X = _np_normal(keys, SALT_INIT)
        for t in reversed(range(timesteps)):
            trend, seas = trend_seasonality(X, degree, top_k)
            x0 = trend + seas
            if t > 0:
                X = _np_posterior_step(X, x0, sched[t], keys, t)
                prev = sched[t - 1]
                noised_known = prev["sqrt_ac"] * known + prev["sqrt_1m_ac"] * _np_normal(
                    keys, step_salt(SALT_QNOISE, t)
                )
                X = np.where(observed, noised_known, X)
            else:
                X = np.where(observed, known, x0)
        m = len(sids)
        return pd.DataFrame(
            {
                "series_id": np.repeat(sids, seq_len),
                "t": np.tile(ts, m),
                "observed": np.tile(observed[0], m),
                "x": X.reshape(-1),
            }
        )

    schema = "series_id bigint, t bigint, observed boolean, x double"
    return _fused_map(spark, n_series, timesteps, kind, schema, batch)


def sample_conditional_label(
    spark: SparkSession,
    n_series: int,
    seq_len: int,
    timesteps: int = 10,
    kind: str = "cosine",
    families: tuple[str, ...] = ("sine", "cosine", "mixed", "exponential_decay"),
    guidance: float = 1.0,
    degree: int = DEFAULT_DEGREE,
    top_k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """Label-conditional reverse diffusion with classifier-free-guidance-style
    blending — the deterministic analog of the reference's class-conditioned
    sampling (ClassEmbedding diffusion_ts_model.py:152-198; y/force_uncond
    conditioning :512-521; conditional smoke test :872-915).

    Each series draws the SAME label as create_labeled_dataset (A2,
    SALT_LABEL), and at every step the x̂₀ estimate is the CFG blend

        x̂₀ = uncond + w·(cond − uncond)

    where `uncond` is the unconditional decomposition denoiser output,
    `cond` is the labeled family's clean signal (what the class-conditioned
    model predicts in the w→∞ limit), and w=`guidance` (0 → unconditional,
    1 → fully conditioned, >1 extrapolates as in CFG). Fused: the whole
    T-step loop runs in one mapInPandas pass (same per-series independence
    argument as sample_fused).

    → (series_id, label, t, x); with guidance=1 the t=0 replace makes the
    final x exactly the labeled family signal (property-tested).
    """
    n_fam = len(families)

    def batch(sched, sids):
        m = len(sids)
        ts, keys = _np_pt_keys(sids, seq_len)
        labels = np.floor(_np_u01(sids, E.SALT_LABEL) * n_fam).astype(np.int64)
        # per-label family dispatch: evaluate each family's signal for the
        # batch, select rows by label (n_fam small → negligible overhead)
        cond = np.zeros((m, seq_len))
        for li, fam in enumerate(families):
            sel = labels == li
            if sel.any():
                cond[sel] = _np_signal(fam, sids[sel], seq_len)
        X = _np_normal(keys, SALT_INIT)
        for t in reversed(range(timesteps)):
            trend, seas = trend_seasonality(X, degree, top_k)
            uncond = trend + seas
            x0 = uncond + guidance * (cond - uncond)
            X = _np_posterior_step(X, x0, sched[t], keys, t) if t > 0 else x0
        return pd.DataFrame(
            {
                "series_id": np.repeat(sids, seq_len),
                "label": np.repeat(labels, seq_len),
                "t": np.tile(ts, m),
                "x": X.reshape(-1),
            }
        )

    schema = "series_id bigint, label bigint, t bigint, x double"
    return _fused_map(spark, n_series, timesteps, kind, schema, batch)
