"""Loss reductions (SURVEY §2 C3-C5).

- mse_loss: mean((pred-target)^2) over all elements (diffusion_ts_model.py:645)
- fourier_loss: mse(time) + mse(|rfft(pred)|, |rfft(target)|) (:638-652)
- combined: mse + 0.5*fourier (:681-684)

MSE is a single partial-aggregated F.avg — one shuffle of partial rows
regardless of input size. The Fourier loss is one pass over the data: one
groupBy collects each series into t-sorted (pred, target) arrays, one
mapInPandas stacks each Arrow batch into matrices and reduces both the time
and the magnitude-spectrum error to per-batch partial sums, and one scalar
agg turns those into the means. The input is evaluated once, with no join.
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .spectral import stack_by_length

_PARTIALS_SCHEMA = "sd2 double, n_time bigint, sf2 double, n_freq bigint"


def mse(df: DataFrame, pred: str, target: str, out: str = "mse") -> DataFrame:
    return df.agg(F.avg(F.pow(F.col(pred) - F.col(target), 2)).alias(out))


def _partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per Arrow batch of wide (ps, gs) rows: Σ(p−g)² over points and
    Σ(|P|−|G|)² over rfft bins, with their counts."""
    for pdf in batches:
        if not len(pdf):  # no row, so an empty input gives null, not 0/0
            continue
        sd2 = sf2 = 0.0
        n_time = n_freq = 0
        for _, (P, G) in stack_by_length(pdf, "ps", "gs"):
            d = P - G
            sd2 += float(np.sum(d * d))
            n_time += d.size
            fd = np.abs(np.fft.rfft(P, axis=1)) - np.abs(np.fft.rfft(G, axis=1))
            sf2 += float(np.sum(fd * fd))
            n_freq += fd.size
        yield pd.DataFrame({"sd2": [sd2], "n_time": [n_time], "sf2": [sf2], "n_freq": [n_freq]})


def fourier_loss(
    df: DataFrame, pred: str, target: str, seq_len: int, key: str | list[str] = "series_id"
) -> DataFrame:
    """Time-domain MSE + magnitude-spectrum MSE; returns 1 row
    (time_loss, freq_loss, fourier_loss).

    Each `key` group is one series ordered by `t`; pass a composite key
    (e.g. ["series_id", "channel"]) for multichannel input so each channel
    is transformed on its own. Series lengths are read from the data, so
    `seq_len` is not needed to compute the loss.
    """
    keys = [key] if isinstance(key, str) else list(key)
    pts = F.struct("t", F.col(pred).alias("p"), F.col(target).alias("g"))
    wide = df.groupBy(*keys).agg(F.array_sort(F.collect_list(pts)).alias("pts")).select(
        F.col("pts.p").alias("ps"), F.col("pts.g").alias("gs")
    )
    return (
        wide.mapInPandas(_partial_sums, _PARTIALS_SCHEMA)
        .agg(
            (F.sum("sd2") / F.sum("n_time")).alias("time_loss"),
            (F.sum("sf2") / F.sum("n_freq")).alias("freq_loss"),
        )
        .withColumn("fourier_loss", F.col("time_loss") + F.col("freq_loss"))
    )


def combined_loss(
    df: DataFrame, pred: str, target: str, seq_len: int, key: str | list[str] = "series_id"
) -> DataFrame:
    """loss = mse + 0.5·fourier (diffusion_ts_model.py:681-684)."""
    out = fourier_loss(df, pred, target, seq_len, key)
    return out.withColumn(
        "combined_loss", F.col("time_loss") + F.lit(0.5) * F.col("fourier_loss")
    )
