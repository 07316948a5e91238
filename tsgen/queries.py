"""Driver-contract query registry.

Each entry: name -> (spark_fn, oracle_sql_or_None). `__spark_entry__.py`
exposes these as `queries()` / `oracle_sql()`. Column names are aliased
identically on both sides; float outputs are rounded to 6 dp on both sides
(see tsgen/expr.py docstring for why).
"""
from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E, generators, oracle
from .io import read_table
from .normalize import znorm


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


class _Registry(dict):
    """A name -> Query map that refuses to overwrite a name: a second module
    registering the same name would otherwise silently replace the first."""

    def __setitem__(self, name: str, q: Query) -> None:
        if name in self:
            raise ValueError(f"query {name!r} is already registered")
        super().__setitem__(name, q)

    def update(self, *args, **kwargs) -> None:
        new = dict(*args, **kwargs)
        dup = sorted(new.keys() & self.keys())
        if dup:
            raise ValueError(f"queries already registered: {dup}")
        super().update(new)


_REGISTRY: dict[str, Query] = _Registry()


def register(name: str, oracle_sql: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn):
        _REGISTRY[name] = Query(name, fn, oracle_sql, tags)
        return fn

    return deco


def registry() -> dict[str, Query]:
    """Every query in registration order; the generator queries come first."""
    _ensure_populated()
    return dict(_REGISTRY)


def canon_types(df: DataFrame) -> DataFrame:
    """Normalize output types to the widths the DuckDB oracle produces:
    int8/16/32 → bigint, float32 → double. Spark's row_number()/size()/
    length() return int32 where DuckDB returns int64 — without this the
    driver's schema compare would flag every ranking/length column."""
    casts = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in ("tinyint", "smallint", "int"):
            casts.append(F.col(f.name).cast("bigint").alias(f.name))
        elif t == "float":
            casts.append(F.col(f.name).cast("double").alias(f.name))
        else:
            casts.append(F.col(f.name))
    return df.select(*casts)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        return lambda spark, sf_dir: canon_types(fn(spark, sf_dir))

    return {name: wrap(q.spark_fn) for name, q in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in registry().items() if q.oracle is not None}


def roundn(df: DataFrame, dp: int, *cols: str) -> DataFrame:
    """Round named double columns to `dp` decimals and normalize -0.0 (match
    oracle). Use dp=4 (or fewer) for averages of large sums — fp association
    order differs between Spark and DuckDB, so 6dp can flip the last digit."""
    for c in cols:
        # +1e-9 tie-nudge: see tsgen.expr.round6
        df = df.withColumn(c, F.round(F.col(c) + F.lit(1e-9), dp) + F.lit(0.0))
    return df


def round6(df: DataFrame, *cols: str) -> DataFrame:
    """Round named double columns to 6dp and normalize -0.0 (match oracle)."""
    return roundn(df, 6, *cols)


# ---------------------------------------------------------------------------
# 2.A/2.B generators — one oracle-checked query per family (SURVEY §2 A1-A3,
# B1-B9)
# ---------------------------------------------------------------------------
GEN_N, GEN_LEN = 24, 96


def _register_generators() -> None:
    for fam in E.FAMILIES:
        def fn(spark: SparkSession, sf_dir: str, _fam=fam) -> DataFrame:
            df = generators.generate(spark, GEN_N, GEN_LEN, _fam)
            return round6(df, "value")

        _REGISTRY[f"gen_{fam}"] = Query(
            f"gen_{fam}", fn, oracle.generate_sql(GEN_N, GEN_LEN, fam), ("generator",)
        )

    def labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
        return round6(generators.generate_labeled(spark, GEN_N, GEN_LEN), "value")

    _REGISTRY["gen_labeled"] = Query(
        "gen_labeled", labeled, oracle.generate_labeled_sql(GEN_N, GEN_LEN), ("generator",)
    )

    def stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = generators.generate(spark, GEN_N, GEN_LEN, "mixed", normalize=False)
        out = df.groupBy("series_id").agg(
            F.avg("value").alias("mean_val"),
            F.stddev_samp("value").alias("std_val"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
        return round6(out, "mean_val", "std_val", "min_val", "max_val")

    _REGISTRY["series_stats"] = Query(
        "series_stats", stats, oracle.series_stats_sql(GEN_N, GEN_LEN, "mixed"), ("agg",)
    )

    def sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = generators.sample_data(spark, 8, 64, "mixed")
        return round6(df, "signal", "noise", "value")

    _REGISTRY["sample_data_mixed"] = Query(
        "sample_data_mixed", sample, oracle.sample_data_sql(8, 64, "mixed"), ("generator",)
    )


# At import, not in _ensure_populated: any stage module imports this one
# first, so the generator queries lead the registry however the stages load.
_register_generators()

_POPULATED = False


def _ensure_populated() -> None:
    global _POPULATED
    if _POPULATED:
        return
    _POPULATED = True
    # later stages register themselves here
    from . import (  # noqa: F401
        queries_analytics,
        queries_causal,
        queries_decompose,
        queries_diffusion,
        queries_exactdup,
        queries_experiments,
        queries_forecast2,
        queries_misc,
        queries_ml2,
        queries_mlprep,
        queries_paths,
        queries_pipeline,
        queries_scale,
        queries_seasonal,
        queries_quality,
        queries_retail,
        queries_statemodels,
        queries_streaming,
        queries_tokenizer,
        queries_topics,
        queries_tpch,
        queries_training,
        queries_tsdb,
        queries_tsmining,
        queries_warehouse,
        queries_warehouse2,
    )


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship entry query — the engine's full pipeline over BOTH real and
    synthetic data:

    1. events.parquet → hourly per-event-type series (tumbling bucket agg)
    2. synthetic linear_sum series at the reference's default family
       (config.json:2) via the deterministic generator
    3. z-normalize → trend/seasonality/residual decomposition (poly fit +
       top-k FFT) → per-series variance split

    Returns one row per series: how much of its variance is trend vs
    seasonality vs residual.
    """
    from . import decompose

    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type")
        .agg(F.avg("value").alias("value"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    # Rank series ids on the distinct-key table (|event_types| rows), not the
    # full hourly table — an unpartitioned window over the data itself is a
    # single-reducer wall at scale.
    keys = hourly.select("event_type").distinct().withColumn(
        "series_id", F.dense_rank().over(Window.orderBy("event_type")).cast("bigint") - 1
    )
    ev_series = (
        hourly.withColumn("t", F.row_number().over(w).cast("bigint") - 1)
        .join(F.broadcast(keys), "event_type")
        .select("series_id", F.col("event_type").alias("series_key"), "t", "value")
    )
    syn = generators.generate(spark, 16, 128, "linear_sum", normalize=False).withColumn(
        "series_key", F.concat(F.lit("synthetic_"), F.col("series_id"))
    )

    def summarize(df: DataFrame, source: str) -> DataFrame:
        keys = df.select("series_id", "series_key").distinct()
        dec = decompose.decompose(znorm(df.select("series_id", "t", "value")))
        out = dec.groupBy("series_id").agg(
            F.count("*").alias("n_points"),
            F.var_samp("value").alias("total_var"),
            (F.var_samp("trend") / F.var_samp("value")).alias("trend_frac"),
            (F.var_samp("seasonality") / F.var_samp("value")).alias("seas_frac"),
            (F.var_samp("residual") / F.var_samp("value")).alias("resid_frac"),
        )
        return out.join(keys, "series_id").select(
            F.lit(source).alias("source"),
            "series_key",
            "n_points",
            "total_var",
            "trend_frac",
            "seas_frac",
            "resid_frac",
        )

    out = summarize(ev_series, "events").unionByName(summarize(syn, "synthetic"))
    return round6(
        out.orderBy("source", "series_key"),
        "total_var",
        "trend_frac",
        "seas_frac",
        "resid_frac",
    )
