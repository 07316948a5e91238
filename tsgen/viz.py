"""Driver-side PNG sinks (SURVEY §2 A6 — utils/visualisation.py:32-150).

Not correctness-checked (matplotlib output); each function tails a bounded
sample to the driver (never a full collect) and renders. Gated behind an
import-try: the engine works headless without matplotlib."""
from __future__ import annotations

from pyspark.sql import DataFrame

try:
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    HAVE_MPL = True
except Exception:  # pragma: no cover - matplotlib optional
    HAVE_MPL = False


def _require_mpl() -> None:
    if not HAVE_MPL:
        raise NotImplementedError("matplotlib not available in this environment")


def visualize_diffusion_process(
    intermediates: list[tuple[int, DataFrame]], path: str, n_samples: int = 5
) -> None:
    """Denoising-progress grid (visualisation.py:62-95): one row per sample
    series, one column per captured intermediate step — the reference's
    n_samples × 5 panel over `diffusion.sample_fused(...,
    return_intermediates=True)`.

    Only `n_samples` series of each bounded snapshot are pulled to the
    driver (n_samples × seq_len rows per panel column)."""
    _require_mpl()
    cols = len(intermediates)
    fig, axes = plt.subplots(
        n_samples, cols, figsize=(12, 2 * n_samples), squeeze=False
    )
    for j, (step, df) in enumerate(intermediates):
        pdf = (
            df.filter(df.series_id < n_samples)
            .toPandas()
            .sort_values(["series_id", "t"])
        )
        for i, (sid, g) in enumerate(pdf.groupby("series_id")):
            axes[i][j].plot(g.t, g.x)
            title = f"Step {step}" if i else f"Sample {i + 1} - Step {step}"
            axes[i][j].set_title(title)
            axes[i][j].grid(True, alpha=0.3)
    fig.tight_layout()
    fig.savefig(path, dpi=150, bbox_inches="tight")
    plt.close(fig)


def visualize_decomposition(dec: DataFrame, path: str, series_id: int = 0) -> None:
    """Trend/seasonality/residual panels (visualisation.py:97-150)."""
    _require_mpl()
    pdf = dec.filter(dec.series_id == series_id).toPandas().sort_values("t")
    fig, axes = plt.subplots(4, 1, figsize=(10, 10))
    for ax, col in zip(axes, ["value", "trend", "seasonality", "residual"]):
        ax.plot(pdf.t, pdf[col])
        ax.set_title(col)
    fig.tight_layout()
    fig.savefig(path)
    plt.close(fig)
