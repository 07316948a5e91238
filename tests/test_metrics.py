"""Loss reductions: numpy parity, partition invariance and plan shape."""
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tsgen import diffusion, generators, metrics
from tsgen.queries import round6
from tsgen.schedules import schedule_table

LOSS_COLS = ("time_loss", "freq_loss", "fourier_loss", "combined_loss")


def _noisy(spark, n=12, seq_len=64, timesteps=50):
    df = generators.generate(spark, n, seq_len, "linear_sum", lambda_decay=1.0)
    return diffusion.q_sample(df, schedule_table(spark, timesteps, "cosine"), timesteps)


def numpy_losses(pdf: pd.DataFrame, pred: str, target: str, keys: list[str]) -> dict:
    """The reference objective over per-series t-sorted arrays, one rfft per
    series: mse + 0.5·(mse + mse(|rfft(pred)|, |rfft(target)|))."""
    d2, f2 = [], []
    for _, g in pdf.sort_values("t").groupby(keys):
        p, y = g[pred].to_numpy(), g[target].to_numpy()
        d2.append((p - y) ** 2)
        f2.append((np.abs(np.fft.rfft(p)) - np.abs(np.fft.rfft(y))) ** 2)
    time_loss = float(np.concatenate(d2).mean())
    freq_loss = float(np.concatenate(f2).mean())
    fourier = time_loss + freq_loss
    return dict(
        time_loss=time_loss, freq_loss=freq_loss, fourier_loss=fourier,
        combined_loss=time_loss + 0.5 * fourier,
    )


def test_combined_loss_matches_numpy(spark):
    noisy = _noisy(spark)
    got = metrics.combined_loss(noisy, "x_t", "value", 64).collect()[0].asDict()
    want = numpy_losses(noisy.toPandas(), "x_t", "value", ["series_id"])
    for c in LOSS_COLS:
        assert abs(got[c] - want[c]) <= 1e-12 * abs(want[c]), c


def test_loss_mixed_lengths_matches_numpy(spark):
    # series of different lengths in one Arrow batch: each length is stacked
    # and transformed on its own
    a = generators.generate(spark, 3, 48, "mixed")
    b = generators.generate(spark, 3, 20, "mixed").withColumn("series_id", F.col("series_id") + 10)
    df = a.unionByName(b).withColumn("pred", F.col("value") * 1.1 + F.sin(F.col("t")))
    got = metrics.fourier_loss(df.coalesce(1), "pred", "value", 48).collect()[0].asDict()
    want = numpy_losses(df.toPandas(), "pred", "value", ["series_id"])
    for c in ("time_loss", "freq_loss", "fourier_loss"):
        assert abs(got[c] - want[c]) <= 1e-12 * abs(want[c]), c


def test_loss_of_empty_input_is_null(spark):
    out = metrics.combined_loss(_noisy(spark).limit(0), "x_t", "value", 64).collect()
    assert len(out) == 1 and all(out[0][c] is None for c in LOSS_COLS)


def test_loss_partition_invariant(spark):
    noisy = _noisy(spark)

    def losses(n_parts):
        out = metrics.combined_loss(noisy.repartition(n_parts), "x_t", "value", 64)
        return round6(out, *LOSS_COLS).collect()[0].asDict()

    assert losses(1) == losses(8)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_combined_loss_plan_is_one_pass(spark):
    noisy = _noisy(spark)
    plan = _plan(metrics.combined_loss(noisy, "x_t", "value", 64))
    base = _plan(metrics.mse(noisy, "x_t", "value"))
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 1
    assert "FlatMapGroupsInPandas" not in plan
    # the input's own joins (z-normalize, schedule lookup) are all there is
    join = r"\w*Join\b"
    assert sorted(re.findall(join, plan)) == sorted(re.findall(join, base))
    assert len(re.findall(r"Range \(", plan)) == len(re.findall(r"Range \(", base))
