"""Self-oracle tests for the closed-form linear-denoiser training step."""
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tsgen import diffusion, generators, train
from tsgen.schedules import schedule_table


def test_exact_linear_target_recovered(spark):
    # y constructed EXACTLY linear in the features -> the solve recovers the
    # coefficients and train_mse ~ 0 (least squares is exact at the optimum)
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame(
        {
            "x_t": rng.randn(500),
            "sqrt_1m_ac": rng.rand(500) + 0.1,
        }
    )
    w_true = (0.7, -1.3, 0.25, 2.0)
    pdf["noise"] = (
        w_true[0]
        + w_true[1] * pdf.x_t
        + w_true[2] * pdf.sqrt_1m_ac
        + w_true[3] * pdf.x_t * pdf.sqrt_1m_ac
    )
    # at two partition counts, so a summation-order dependence shows
    for n_parts in (1, 8):
        df = spark.createDataFrame(pdf).repartition(n_parts)
        out = train.fit_linear_denoiser(df).collect()[0]
        for i, w in enumerate(w_true):
            assert abs(out[f"w{i}"] - w) < 1e-8
        assert out.train_mse < 1e-15
        assert out.n == 500


def test_fit_matches_numpy_lstsq(spark):
    # on the real q_sample pipeline, the Cramer solve agrees with numpy's
    # QR-based lstsq and the fit beats the zero predictor (the reference's
    # 'loss went down' check, test_training.py:157-159)
    df = generators.generate(spark, 16, 64, "mixed")
    sched = schedule_table(spark, 50, "cosine")
    noisy = diffusion.q_sample(df, sched, 50).join(
        F.broadcast(sched.select("t_step", "sqrt_1m_ac")), "t_step"
    )
    out = train.fit_linear_denoiser(noisy).collect()[0]

    pdf = noisy.select("x_t", "sqrt_1m_ac", "noise").toPandas()
    X = np.column_stack(
        [
            np.ones(len(pdf)),
            pdf.x_t,
            pdf.sqrt_1m_ac,
            pdf.x_t * pdf.sqrt_1m_ac,
        ]
    )
    w_np, *_ = np.linalg.lstsq(X, pdf.noise.to_numpy(), rcond=None)
    for i in range(4):
        assert abs(out[f"w{i}"] - w_np[i]) < 1e-6
    mse_np = float(np.mean((pdf.noise.to_numpy() - X @ w_np) ** 2))
    assert abs(out.train_mse - mse_np) < 1e-9
    assert out.train_mse < out.baseline_mse


def test_fourier_fit_matches_numpy_lstsq(spark):
    # Fourier time-embedding basis: same Cramer solve, numpy parity, and the
    # sinusoidal conditioning still beats the zero predictor
    df = generators.generate(spark, 16, 64, "mixed")
    sched = schedule_table(spark, 50, "cosine")
    noisy = diffusion.q_sample(df, sched, 50)
    base = noisy.selectExpr("x_t AS x", "t_step", "noise AS y")
    out = train.fit_feature_denoiser(base, train.fourier_feats(50)).collect()[0]

    pdf = noisy.select("x_t", "t_step", "noise").toPandas()
    w = 2.0 * np.pi / 50
    X = np.column_stack(
        [
            np.ones(len(pdf)),
            pdf.x_t,
            pdf.x_t * np.sin(w * pdf.t_step),
            pdf.x_t * np.cos(w * pdf.t_step),
        ]
    )
    w_np, *_ = np.linalg.lstsq(X, pdf.noise.to_numpy(), rcond=None)
    for i in range(4):
        assert abs(out[f"w{i}"] - w_np[i]) < 1e-6
    mse_np = float(np.mean((pdf.noise.to_numpy() - X @ w_np) ** 2))
    assert abs(out.train_mse - mse_np) < 1e-9
    assert out.train_mse < out.baseline_mse
