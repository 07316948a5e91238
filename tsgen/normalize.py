"""Per-series z-normalization (reference utils/data_generators.py:103-104).

torch Tensor.std() is sample std (ddof=1) → stddev_samp, and the reference
adds 1e-8 to the denominator.

Implementation choice (scale): a groupBy partial aggregation (map-side
combine → tiny per-series stats table) + equi-join back beats an unbounded
window, because the window needs a full sort of every row within each
partition while the join only hashes. When the stats side is small enough
Spark/AQE turns the join into a broadcast and the BIG side is never
shuffled at all — the whole generator+znorm pipeline then has exactly one
tiny shuffle (the 3-doubles-per-series aggregate). The oracle's
znorm_sql uses the window form, which has the same semantics.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

EPS = 1e-8


def znorm(
    df: DataFrame,
    value_col: str = "value",
    key: str | list[str] = "series_id",
    broadcast_stats: bool = True,
) -> DataFrame:
    """broadcast_stats=False for corpora whose per-key stats table is itself
    too large to broadcast (>~100M keys) — falls back to a shuffle hash join
    on the key, which is the same single shuffle a window form would cost."""
    keys = [key] if isinstance(key, str) else list(key)
    stats = df.groupBy(*keys).agg(
        F.avg(value_col).alias("_mu"), F.stddev_samp(value_col).alias("_sd")
    )
    if broadcast_stats:
        stats = F.broadcast(stats)
    return (
        df.join(stats, keys)
        .withColumn(value_col, (F.col(value_col) - F.col("_mu")) / (F.col("_sd") + F.lit(EPS)))
        .drop("_mu", "_sd")
    )


# SQL fragment for the DuckDB oracle (identical semantics)
def znorm_sql(inner: str, value_col: str = "value", key: str = "series_id") -> str:
    """Wrap a subquery `inner` (yielding at least key, t, value) with z-norm."""
    return (
        f"SELECT * REPLACE ((({value_col} - avg({value_col}) OVER w)"
        f" / (stddev_samp({value_col}) OVER w + {EPS:.17e})) AS {value_col})"
        f" FROM ({inner}) WINDOW w AS (PARTITION BY {key})"
    )
