"""Time-series-database operators (north-star extension: the rollups a
TSDB user runs daily — OHLC bars, time-weighted averages, clamped running
balances, calendar features — plus per-label embedding centroids).

All pure Catalyst (window + agg); every shuffle is keyed by the entity or
bucket key, so each query is one or two partial-agged exchanges at any
scale.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E
from .io import read_table
from .queries import _REGISTRY, Query, round6, roundn


# --- clamped running balance ----------------------------------------------
def running_balance(
    df: DataFrame, key: str, order: list[str], delta: str
) -> DataFrame:
    """Running balance floored at zero: bal_t = max(0, bal_{t−1} + δ_t).

    The recurrence looks sequential, but has a closed form in prefix sums:
        bal_t = S_t − min(0, min_{j≤t} S_j),   S_t = Σ_{i≤t} δ_i
    (proof: both sides satisfy the recurrence; the running minimum resets
    the accumulated deficit exactly when the clamp binds). So the "stateful
    loop" compiles to TWO stacked window functions over one partitioning —
    no iteration, no UDF, same single shuffle as a plain cumulative sum.
    This is the inventory/credit-balance pattern that usually gets written
    as a per-entity Python loop; at 100 TB the window form is the only one
    that survives."""
    w = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = F.sum(delta).over(w)
    return df.withColumn("_s", s).withColumn(
        "balance", F.col("_s") - F.least(F.lit(0.0), F.min("_s").over(w))
    ).drop("_s")


def _q_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    delta = F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
        -F.col("value")
    )
    out = running_balance(
        ev.withColumn("delta", delta), "user_id", ["ts", "event_id"], "delta"
    )
    return round6(
        out.select(
            "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s"),
            "delta", "balance",
        ),
        "delta", "balance",
    )


_BALANCE_SQL = """
WITH d AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'purchase' THEN value ELSE -value END AS delta
  FROM events WHERE event_type IN ('purchase', 'error')),
s AS (
  SELECT event_id, user_id, ts, delta,
         sum(delta) OVER w AS cum
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       (round((delta) + 1.0e-9,6)+0.0e0) AS delta,
       (round((cum - least(0.0e0, min(cum) OVER w2)) + 1.0e-9,6)+0.0e0) AS balance
FROM s
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# --- OHLC bars -------------------------------------------------------------
def ohlc_bars(df: DataFrame, bucket: str = "hour") -> DataFrame:
    """Open/high/low/close bars per (event_type, time bucket): first/last
    by timestamp via min_by/max_by (single partial-agged aggregation — the
    argmin travels with the partial state, no window needed)."""
    # min_by/max_by on the raw timestamp: event timestamps are µs-unique
    # per type in this dataset; with tied timestamps add a unique column to
    # the ordering struct (DuckDB's arg_min can't order by structs, so the
    # shared-oracle form keeps the single-column ordering).
    b = F.date_trunc(bucket, F.col("ts"))
    return df.groupBy(
        F.col("event_type"), F.unix_timestamp(b).alias("bucket_s")
    ).agg(
        F.expr("min_by(value, ts)").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.expr("max_by(value, ts)").alias("close"),
        F.count("*").alias("n_trades"),
        F.sum("value").alias("volume"),
    )


def _q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(
        ohlc_bars(read_table(spark, sf_dir, "events")),
        "open", "high", "low", "close", "volume",
    )


_OHLC_SQL = """
SELECT event_type,
       CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
       (round((arg_min(value, ts)) + 1.0e-9,6)+0.0e0) AS open,
       (round((max(value)) + 1.0e-9,6)+0.0e0) AS high,
       (round((min(value)) + 1.0e-9,6)+0.0e0) AS low,
       (round((arg_max(value, ts)) + 1.0e-9,6)+0.0e0) AS close,
       count(*) AS n_trades,
       (round((sum(value)) + 1.0e-9,6)+0.0e0) AS volume
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""


# --- time-weighted average -------------------------------------------------
def twap(df: DataFrame, key: str = "event_type") -> DataFrame:
    """Time-weighted average value per key: each observation holds until
    the next one (step interpolation), weight = holding duration. One
    window (lead) + one aggregation, both on the same key partitioning."""
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    dur = (
        F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
    ).cast("double")
    d = df.withColumn("_dur", dur).filter(F.col("_dur").isNotNull())
    return d.groupBy(key).agg(
        (F.sum(F.col("value") * F.col("_dur")) / F.sum("_dur")).alias("twap"),
        F.avg("value").alias("plain_avg"),
        F.count("*").alias("n_intervals"),
    )


def _q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundn(twap(read_table(spark, sf_dir, "events")), 4, "twap", "plain_avg")


_TWAP_SQL = """
WITH d AS (
  SELECT event_type, value,
         CAST(CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT)
              - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS dur
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
SELECT event_type,
       (round((sum(value * dur) / sum(dur)) + 1.0e-9,4)+0.0e0) AS twap,
       (round((avg(value)) + 1.0e-9,4)+0.0e0) AS plain_avg,
       count(*) AS n_intervals
FROM d WHERE dur IS NOT NULL
GROUP BY event_type
"""


# --- calendar / cyclic time features ----------------------------------------
def time_features(df: DataFrame) -> DataFrame:
    """Model-ready calendar features per event: day-of-week, hour,
    weekend flag, and the cyclic sin/cos encodings (hour on a 24-circle,
    dow on a 7-circle) every forecasting model wants. Pure projection —
    stays inside whole-stage codegen."""
    hour = F.hour("ts").cast("double")
    # Spark dayofweek: 1=Sunday..7=Saturday → 0-based with Monday=0
    dow = ((F.dayofweek("ts") + 5) % 7).cast("double")
    tau = 2.0 * E.PI
    return df.select(
        "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        dow.cast("bigint").alias("dow"),
        hour.cast("bigint").alias("hour"),
        (dow >= 5).alias("is_weekend"),
        F.sin(hour * F.lit(tau / 24.0)).alias("hour_sin"),
        F.cos(hour * F.lit(tau / 24.0)).alias("hour_cos"),
        F.sin(dow * F.lit(tau / 7.0)).alias("dow_sin"),
        F.cos(dow * F.lit(tau / 7.0)).alias("dow_cos"),
    )


def _q_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(
        time_features(read_table(spark, sf_dir, "events")),
        "hour_sin", "hour_cos", "dow_sin", "dow_cos",
    )


def _time_features_sql() -> str:
    h24, d7 = E.NUM(2.0 * E.PI / 24.0), E.NUM(2.0 * E.PI / 7.0)
    return f"""
WITH b AS (
  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(isodow(ts) - 1 AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hour
  FROM events)
SELECT event_id, ts_s, dow, hour, dow >= 5 AS is_weekend,
       {E.round6(f'sin(CAST(hour AS DOUBLE) * {h24})')} AS hour_sin,
       {E.round6(f'cos(CAST(hour AS DOUBLE) * {h24})')} AS hour_cos,
       {E.round6(f'sin(CAST(dow AS DOUBLE) * {d7})')} AS dow_sin,
       {E.round6(f'cos(CAST(dow AS DOUBLE) * {d7})')} AS dow_cos
FROM b
"""


# --- per-label embedding centroids ------------------------------------------
EMB_DIM = 64


def label_centroids(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Per-label, per-dimension centroid + spread of the embedding cloud —
    the fixed-assignment half of a k-means step (and the class-prototype
    table for nearest-centroid classification). posexplode → one partial-
    agged groupBy on (label, dim): the shuffle carries labels × dim rows
    regardless of corpus size."""
    ex = df.select("label", F.posexplode(vec).alias("dim_idx", "x"))
    return ex.groupBy("label", "dim_idx").agg(
        F.avg(F.col("x").cast("double")).alias("centroid"),
        F.stddev_samp(F.col("x").cast("double")).alias("sd"),
        F.count("*").alias("n"),
    )


def _q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return roundn(label_centroids(emb), 6, "centroid", "sd")


_CENTROIDS_SQL = f"""
WITH ex AS (
  SELECT label, i - 1 AS dim_idx, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i))
SELECT label, dim_idx,
       (round((avg(x)) + 1.0e-9,6)+0.0e0) AS centroid,
       (round((stddev_samp(x)) + 1.0e-9,6)+0.0e0) AS sd,
       count(*) AS n
FROM ex GROUP BY label, dim_idx
"""


_REGISTRY.update(
    {
        "ev_running_balance": Query(
            "ev_running_balance", _q_balance, _BALANCE_SQL, ("tsdb",)
        ),
        "ev_ohlc": Query("ev_ohlc", _q_ohlc, _OHLC_SQL, ("tsdb",)),
        "ev_twap": Query("ev_twap", _q_twap, _TWAP_SQL, ("tsdb",)),
        "ev_time_features": Query(
            "ev_time_features", _q_time_features, _time_features_sql(), ("tsdb",)
        ),
        "embed_centroids": Query(
            "embed_centroids", _q_centroids, _CENTROIDS_SQL, ("similarity",)
        ),
    }
)


# --- interval union (total covered time) -----------------------------------
HOLD_S = 300


def interval_union(df: DataFrame, key: str = "user_id", hold_s: int = HOLD_S) -> DataFrame:
    """Total covered time per entity when each event opens a [ts, ts+hold)
    activity interval: merge overlapping intervals with the gaps-and-islands
    pattern (island starts where start > running max of previous ends; sum
    island extents). Two stacked windows on one key partitioning — the
    interval-union that usually gets written as a sweep-line loop."""
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    start = F.unix_timestamp("ts")
    end = start + hold_s
    d = df.select(F.col(key), F.col("ts"), F.col("event_id"), start.alias("s"), end.alias("e"))
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn(
        "island", F.sum(
            F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-(1 << 62))), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    isl = d.groupBy(key, "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    return isl.groupBy(key).agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).alias("covered_s"),
    )


def _q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interval_union(read_table(spark, sf_dir, "events"))


_INTERVAL_UNION_SQL = f"""
WITH d AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + {HOLD_S} AS e, ts
  FROM events),
m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme,
         ts, event_id
  FROM d),
isl AS (
  SELECT user_id, s, e,
         CAST(sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
  FROM m),
g AS (SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
      FROM isl GROUP BY user_id, island)
SELECT user_id, count(*) AS n_islands,
       CAST(sum(i_end - i_start) AS BIGINT) AS covered_s
FROM g GROUP BY user_id
"""


_REGISTRY.update(
    {
        "ev_interval_union": Query(
            "ev_interval_union", _q_interval_union, _INTERVAL_UNION_SQL, ("tsdb",)
        ),
    }
)
