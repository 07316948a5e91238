"""Config-driven runner: accepts the reference's config.json schema verbatim."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from tsgen import generators, runner

REFERENCE_CONFIG = {
    # the exact keys of /root/reference/config.json
    "function_type": "linear_sum",
    "n_train": 10000, "n_val": 1000, "seq_len": 512, "dim": 1,
    "batch_size": 128, "epochs": 120, "learning_rate": 0.0005,
    "d_model": 256, "nhead": 4, "num_encoder_layers": 3,
    "num_decoder_layers": 3, "dim_feedforward": 512, "patch_size": 4,
    "timesteps": 500, "beta_schedule": "cosine", "loss_type": "combined",
    "save_dir": "experiments", "lambda_decay": 1.0, "top_k": 4,
    "poly_degree": 3,
}


def test_reference_config_runs(spark):
    res = runner.run_config(spark, REFERENCE_CONFIG, scale=0.004)
    assert res.train.count() == 40 * 512
    assert res.val.count() == 4 * 512
    assert res.schedule.count() == 500
    loss = res.losses.collect()[0].loss
    assert np.isfinite(loss) and loss > 0
    dec = res.decomposition
    err = dec.agg(
        F.max(F.abs(F.col("value") - F.col("trend") - F.col("seasonality") - F.col("residual")))
    ).collect()[0][0]
    assert err < 1e-10


def test_unknown_key_rejected(spark):
    with pytest.raises(ValueError, match="unknown config keys"):
        runner.run_config(spark, {"function_type": "sine", "bogus": 1})


def test_multichannel_independent_channels(spark):
    df = generators.generate_multichannel(spark, 4, 32, 3, "sine", noise=False, normalize=False)
    pdf = df.toPandas()
    assert len(pdf) == 4 * 3 * 32
    # channels of the same series differ (independent params)
    s0 = pdf[pdf.series_id == 0]
    c0 = s0[s0.channel == 0].sort_values("t").value.to_numpy()
    c1 = s0[s0.channel == 1].sort_values("t").value.to_numpy()
    assert not np.allclose(c0, c1)


def test_wide_long_roundtrip(spark):
    df = generators.generate(spark, 6, 24, "mixed")
    wide = generators.to_wide(df)
    assert wide.count() == 6
    back = generators.to_long(wide)
    a = df.toPandas().sort_values(["series_id", "t"]).reset_index(drop=True)
    b = back.toPandas().sort_values(["series_id", "t"]).reset_index(drop=True)
    assert np.allclose(a.value.to_numpy(), b.value.to_numpy())


def test_runner_dim3_decomposes_per_channel(spark):
    cfg = dict(REFERENCE_CONFIG, dim=3, seq_len=64, loss_type="mse")
    res = runner.run_config(spark, cfg, scale=0.001)
    dec = res.decomposition
    assert "channel" in dec.columns
    # each (series, channel) decomposes independently and additively
    err = dec.agg(
        F.max(F.abs(F.col("value") - F.col("trend") - F.col("seasonality") - F.col("residual")))
    ).collect()[0][0]
    assert err < 1e-10
    # every (series, channel) pair present with the full grid — channels were
    # NOT interleaved into one duplicate-t series
    counts = dec.groupBy("series_id", "channel").count().toPandas()
    assert set(counts["count"]) == {64}
    assert counts.shape[0] == counts[["series_id", "channel"]].drop_duplicates().shape[0]
    # per-channel noise in q_sample: channels of one series get DIFFERENT
    # noise realizations at the same t
    noisy = res.losses  # losses built from q_sample already; re-derive directly
    from tsgen import diffusion

    q = diffusion.q_sample(res.val, res.schedule, 500, channel="channel")
    pdf = (
        q.filter((F.col("series_id") == 0) & (F.col("t") < 8))
        .select("channel", "t", "noise")
        .toPandas()
        .pivot(index="t", columns="channel", values="noise")
    )
    assert (pdf[0] != pdf[1]).any() and (pdf[1] != pdf[2]).any()


def test_runner_dim3_combined_loss_per_channel(spark):
    # the spectral term transforms each (series, channel) on its own: one
    # rfft per channel, not one over the interleaved channels of a series
    from test_metrics import numpy_losses

    from tsgen import diffusion

    cfg = dict(REFERENCE_CONFIG, dim=3, seq_len=64, loss_type="combined")
    res = runner.run_config(spark, cfg, scale=0.004)
    got = res.losses.collect()[0].loss
    pdf = diffusion.q_sample(res.val, res.schedule, 500, channel="channel").toPandas()
    assert pdf["series_id"].nunique() == 4 and pdf["channel"].nunique() == 3
    want = numpy_losses(pdf, "x_t", "value", ["series_id", "channel"])["combined_loss"]
    assert abs(got - want) <= 1e-12 * want
