"""Config-driven pipeline runner — accepts the REFERENCE's own config.json
schema (/root/reference/config.json:1-23) so a user of the reference can
point their existing config at this engine unchanged.

Maps each key to its engine analog (SURVEY §3 entry point 1):
  function_type/n_train/n_val/seq_len/dim/lambda_decay → generators
  timesteps/beta_schedule                              → schedule table
  loss_type                                            → metrics
  top_k/poly_degree                                    → decomposition
  patch_size                                           → patch grouping key
  d_model/nhead/…/learning_rate/epochs                 → learned-model HOW,
      out of deterministic scope (SURVEY §7) — accepted and ignored.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import decompose, diffusion, generators, metrics
from .schedules import schedule_table

KNOWN_KEYS = {
    "function_type", "n_train", "n_val", "seq_len", "dim", "batch_size",
    "epochs", "learning_rate", "d_model", "nhead", "num_encoder_layers",
    "num_decoder_layers", "dim_feedforward", "patch_size", "timesteps",
    "beta_schedule", "loss_type", "save_dir", "lambda_decay", "top_k",
    "poly_degree",
}


@dataclass
class RunResult:
    train: DataFrame
    val: DataFrame
    schedule: DataFrame
    decomposition: DataFrame
    losses: DataFrame


def run_config(spark: SparkSession, config: dict, scale: float = 1.0) -> RunResult:
    """Execute the deterministic slice of a reference training run.

    scale < 1 shrinks n_train/n_val for smoke runs without touching the
    config semantics.
    """
    unknown = set(config) - KNOWN_KEYS
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    fam = config.get("function_type", "sine")
    seq_len = int(config.get("seq_len", 512))
    n_train = max(1, int(config.get("n_train", 10000) * scale))
    n_val = max(1, int(config.get("n_val", 1000) * scale))
    lam = float(config.get("lambda_decay", 0.5))
    timesteps = int(config.get("timesteps", 500))
    kind = config.get("beta_schedule", "cosine")
    top_k = int(config.get("top_k", 4))
    degree = int(config.get("poly_degree", 3))
    dim = int(config.get("dim", 1))
    if dim != 1:
        train = generators.generate_multichannel(spark, n_train, seq_len, dim, fam, lam)
        val = generators.generate_multichannel(spark, n_val, seq_len, dim, fam, lam)
    else:
        train = generators.generate(spark, n_train, seq_len, fam, lambda_decay=lam)
        val = generators.generate(spark, n_val, seq_len, fam, lambda_decay=lam)

    sched = schedule_table(spark, timesteps, kind)

    # decomposition of a validation slice (entry point 3 contract); dim>1
    # decomposes each (series, channel) independently — the reference's
    # (batch, seq_len, input_dim) contract, diffusion_ts_model.py:472-487
    series_keys = ["series_id", "channel"] if dim != 1 else ["series_id"]
    dec = decompose.decompose(
        val.filter(F.col("series_id") < 32).select(*series_keys, "t", "value"),
        degree=degree,
        top_k=top_k,
        key=series_keys,
    )

    # training-loss surface (q_sample → loss between x_t and clean signal);
    # dim>1: one t_step per sample, independent noise per channel, and the
    # spectral term transforms each (series, channel) on its own
    noisy = diffusion.q_sample(
        val, sched, timesteps, channel="channel" if dim != 1 else None
    )
    loss_type = config.get("loss_type", "mse")
    if loss_type == "mse":
        losses = metrics.mse(noisy, "x_t", "value", out="loss")
    elif loss_type == "fourier":
        losses = metrics.fourier_loss(noisy, "x_t", "value", seq_len, key=series_keys).select(
            F.col("fourier_loss").alias("loss")
        )
    else:  # combined
        losses = metrics.combined_loss(noisy, "x_t", "value", seq_len, key=series_keys).select(
            F.col("combined_loss").alias("loss")
        )
    return RunResult(train, val, sched, dec, losses)
