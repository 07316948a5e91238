"""Per-series z-normalization (reference utils/data_generators.py:103-104).

torch Tensor.std() is sample std (ddof=1) → stddev_samp, and the reference
adds 1e-8 to the denominator.

Implementation choice: an unbounded window over the key, the same form as
the oracle's `znorm_sql`. Every generator input (`generate`,
`generate_labeled`, `generate_multichannel` and the built-in
`generate_custom_decay`) is `Range → Generate`: `spark.range` reports
`RangePartitioning(series_id)`, which survives the alias and the explodes,
so each series already sits whole in one partition. The window's required
distribution is then met as is — no `Exchange`, only a per-partition sort —
and the plan is `Range → Generate → Project → Sort → Window`. The generator
runs once. A groupBy stats table joined back would evaluate the whole
generator expression twice (stats side and main side) and run a separate
broadcast job, for bit-identical output.

Two normalized inputs are not range-clustered. `queries.flagship`'s hourly
events series gets one hash `Exchange` on the key, which the `decompose`
groupBy that follows reuses: the flagship plan has 16 exchanges (4 of them
broadcasts) against 23 (7) with a stats join. A user-callable
`generate_custom_decay` also gets one, because its `ArrowEvalPython` drops
the partitioning.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

EPS = 1e-8


def znorm(df: DataFrame, value_col: str = "value", key: str | list[str] = "series_id") -> DataFrame:
    w = Window.partitionBy(key)
    return df.withColumn(
        value_col,
        (F.col(value_col) - F.avg(value_col).over(w))
        / (F.stddev_samp(value_col).over(w) + F.lit(EPS)),
    )


# SQL fragment for the DuckDB oracle (identical semantics)
def znorm_sql(inner: str, value_col: str = "value", key: str = "series_id") -> str:
    """Wrap a subquery `inner` (yielding at least key, t, value) with z-norm."""
    return (
        f"SELECT * REPLACE ((({value_col} - avg({value_col}) OVER w)"
        f" / (stddev_samp({value_col}) OVER w + {EPS:.17e})) AS {value_col})"
        f" FROM ({inner}) WINDOW w AS (PARTITION BY {key})"
    )
