"""FFT kernels — the one operator family Catalyst can't express natively
(SURVEY §2 G1-G3). Arrow-batched grouped-map pandas UDFs (applyInPandas),
never row-at-a-time Python.

Scale notes:
- One hash shuffle on series_id brings each series to one task; groups are
  seq_len-sized (≤ a few thousand doubles) so memory per group is trivial and
  the work distributes evenly (series_id is dense → no skew).
- Values are sorted by t INSIDE the UDF — never rely on input order after a
  shuffle.
- Composites (top-k filter → inverse FFT, the time+Fourier loss) run in the
  SAME UDF pass where possible (decompose.decompose, metrics.fourier_loss)
  so the whole spectral pipeline costs exactly one shuffle. They use the
  wide form: a groupBy collects each series into t-sorted arrays, and a
  mapInPandas transforms a whole Arrow batch at once (stack_by_length).
- The grouped `rfft` stays beside the wide form because its output has a
  different shape: one row per frequency bin, which `fft_spectrum` returns
  as is, `fft_topk` ranks with a window and `ts_spectral_entropy`
  aggregates. No benchmark workload runs it.
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

RFFT_SCHEMA = "series_id bigint, freq_idx bigint, re double, im double, magnitude double"


def rfft(df: DataFrame, value_col: str = "value", key: str = "series_id", t_col: str = "t") -> DataFrame:
    """Real FFT per series (torch.fft.rfft, diffusion_ts_model.py:275,648).

    → (series_id, freq_idx, re, im, magnitude), seq_len//2+1 rows per series.
    """

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col)
        spec = np.fft.rfft(pdf[value_col].to_numpy())
        return pd.DataFrame(
            {
                "series_id": pdf[key].iloc[0],
                "freq_idx": np.arange(len(spec)),
                "re": spec.real,
                "im": spec.imag,
                "magnitude": np.abs(spec),
            }
        )

    return df.select(key, t_col, value_col).groupBy(key).applyInPandas(fn, RFFT_SCHEMA)


def stack_by_length(
    pdf: pd.DataFrame, *cols: str
) -> Iterator[tuple[pd.DataFrame, list[np.ndarray]]]:
    """Stack the list columns `cols` of one Arrow batch of wide rows (one
    series per row, as built by a groupBy collect_list) into matrices.

    Rows are split by series length; for each length n this yields the
    rows of that length and one (n_rows, n) matrix per column, so a whole
    batch of equal-length series is one vectorized numpy call (e.g.
    np.fft.rfft(axis=1)) instead of one pandas call per series.
    """
    lengths = pdf[cols[0]].map(len).to_numpy()
    for n in np.unique(lengths):
        sub = pdf[lengths == n]
        yield sub, [np.stack(sub[c].to_numpy()) for c in cols]

