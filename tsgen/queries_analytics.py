"""Oracle-checked analytics queries over the driver testdata tables
(events / lineitem / orders / customer / nation) — SURVEY §2 C/D/E/F
extension rows. All timestamps are surfaced as epoch seconds (BIGINT) so the
two engines hash identically."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import analytics
from .io import read_table
from .queries import _REGISTRY, Query, round6, roundn


# --- rolling window -------------------------------------------------------
def _q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = analytics.rolling_stats(ev, "user_id", ["ts", "event_id"], "value", 10)
    return round6(
        out.select("event_id", "user_id", "value", "roll_avg", "roll_min", "roll_max"),
        "value", "roll_avg", "roll_min", "roll_max",
    )


_ROLLING_SQL = """
SELECT event_id, user_id, (round((value) + 1.0e-9,6)+0.0e0) AS value,
       (round((avg(value) OVER w) + 1.0e-9,6)+0.0e0) AS roll_avg,
       (round((min(value) OVER w) + 1.0e-9,6)+0.0e0) AS roll_min,
       (round((max(value) OVER w) + 1.0e-9,6)+0.0e0) AS roll_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
"""


# --- lag delta ------------------------------------------------------------
def _q_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = analytics.lag_delta(ev, "user_id", ["ts", "event_id"], "value")
    return round6(out.select("event_id", "user_id", "delta"), "delta")


_LAG_SQL = """
SELECT event_id, user_id,
       (round((value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) + 1.0e-9,6)+0.0e0) AS delta
FROM events
"""


# --- sessionization -------------------------------------------------------
GAP_MIN = 30


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    s = analytics.sessionize(ev, "user_id", "ts", GAP_MIN)
    out = s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("start_s"),
        F.unix_timestamp(F.max("ts")).alias("end_s"),
        F.sum("value").alias("sum_value"),
    )
    return round6(out, "sum_value")


_SESSION_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {GAP_MIN * 60} THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s, CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
       (round((sum(value)) + 1.0e-9,6)+0.0e0) AS sum_value
FROM sess GROUP BY user_id, session_id
"""


# --- tumbling window ------------------------------------------------------
def _q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = analytics.tumbling(ev, "ts", "hour", ["event_type"], "value")
    out = out.select(
        F.unix_timestamp("bucket").alias("bucket_s"),
        "event_type",
        "n_events",
        (F.round(F.col("sum_value") + F.lit(1e-9), 4) + F.lit(0.0)).alias("sum_value"),
        (F.round(F.col("avg_value") + F.lit(1e-9), 4) + F.lit(0.0)).alias("avg_value"),
    )
    return out


_TUMBLING_SQL = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s, event_type,
       count(*) AS n_events,
       (round((sum(value)) + 1.0e-9,4)+0.0e0) AS sum_value,
       (round((avg(value)) + 1.0e-9,4)+0.0e0) AS avg_value
FROM events GROUP BY 1, 2
"""


# --- as-of join -----------------------------------------------------------
def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = analytics.latest_by_key(
        ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value"),
        ["user_id", "ts"],
        [F.desc("value")],
    )
    out = analytics.asof_join(clicks, purchases, "user_id", "ts", "value", "last_purchase")
    out = out.select("event_id", "user_id", F.unix_timestamp("ts").alias("ts_s"), "last_purchase")
    return round6(out, "last_purchase")


_ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY value DESC) AS rn
    FROM events WHERE event_type = 'purchase') WHERE rn = 1
)
SELECT c.event_id, c.user_id, CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_s,
       (round((p.value) + 1.0e-9,6)+0.0e0) AS last_purchase
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# --- exact dedup (keep latest) -------------------------------------------
def _q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = analytics.latest_by_key(ev, ["user_id", "event_type"], [F.desc("ts"), F.desc("event_id")])
    out = out.select("user_id", "event_type", "event_id", F.unix_timestamp("ts").alias("ts_s"), "value")
    return round6(out, "value")


_DEDUP_SQL = """
SELECT user_id, event_type, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, (round((value) + 1.0e-9,6)+0.0e0) AS value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
"""


# --- TPC-H Q1-style pricing summary (bench headline) ----------------------
def _q_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    out = out.withColumn("sum_qty", F.round(F.col("sum_qty") + F.lit(1e-9), 2) + F.lit(0.0))
    for c in ("sum_base_price", "sum_disc_price", "sum_charge"):
        out = out.withColumn(c, F.round(F.col(c) + F.lit(1e-9), 2) + F.lit(0.0))
    for c in ("avg_qty", "avg_price", "avg_disc"):
        out = out.withColumn(c, F.round(F.col(c) + F.lit(1e-9), 4) + F.lit(0.0))
    return out


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       (round((sum(l_quantity)) + 1.0e-9,2)+0.0e0) AS sum_qty,
       (round((sum(l_extendedprice)) + 1.0e-9,2)+0.0e0) AS sum_base_price,
       (round((sum(l_extendedprice * (1 - l_discount))) + 1.0e-9,2)+0.0e0) AS sum_disc_price,
       (round((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) + 1.0e-9,2)+0.0e0) AS sum_charge,
       (round((avg(l_quantity)) + 1.0e-9,4)+0.0e0) AS avg_qty,
       (round((avg(l_extendedprice)) + 1.0e-9,4)+0.0e0) AS avg_price,
       (round((avg(l_discount)) + 1.0e-9,4)+0.0e0) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- rollup ---------------------------------------------------------------
def _q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    out = o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        (F.round(F.sum("o_totalprice") + F.lit(1e-9), 2) + F.lit(0.0)).alias("sum_total"),
    )
    return out


_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       (round((sum(o_totalprice)) + 1.0e-9,2)+0.0e0) AS sum_total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# --- top-k per group over a join chain ------------------------------------
def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    out = analytics.topk_per_group(rev, ["n_name"], [F.desc("revenue"), F.asc("c_custkey")], 3)
    return out.select(
        "n_name", "c_custkey", (F.round(F.col("revenue") + F.lit(1e-9), 2) + F.lit(0.0)).alias("revenue"), "rank"
    )


_TOPC_SQL = """
WITH rev AS (
  SELECT n_name, c_custkey,
         sum(l_extendedprice * (1 - l_discount)) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_custkey)
SELECT n_name, c_custkey, (round((revenue) + 1.0e-9,2)+0.0e0) AS revenue, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey) AS rank
  FROM rev) WHERE rank <= 3
"""


# --- distinct counts ------------------------------------------------------
def _q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count("*").alias("n_rows"),
    )


_DISTINCT_SQL = """
SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_rows
FROM lineitem
"""


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HLL sketches differ per engine → rows-only; accuracy asserted in tests
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


# --- TPC-H Q3-style: unshipped-order priority (3-way join + topk) ---------
def _q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") > F.lit("1998-01-01"))
        .join(o.filter(F.col("o_orderdate") < F.lit("1998-01-01")), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .withColumn("revenue", F.round(F.col("revenue") + F.lit(1e-9), 2) + F.lit(0.0))
        .withColumn("o_orderdate_s", F.unix_timestamp("o_orderdate"))
        .drop("o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )
    return out


_SHIPPING_SQL = """
SELECT l_orderkey, o_orderpriority,
       (round((sum(l_extendedprice * (1 - l_discount))) + 1.0e-9,2)+0.0e0) AS revenue,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 20
"""


# --- TPC-H Q5-style: revenue per nation through a 5-table join chain ------
def _q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    out = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .where(c.c_nationkey == s.s_nationkey)  # local supplier, as in Q5
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .withColumn("revenue", F.round(F.col("revenue") + F.lit(1e-9), 2) + F.lit(0.0))
    )
    return out


_NATION_REVENUE_SQL = """
SELECT n_name, (round((sum(l_extendedprice * (1 - l_discount))) + 1.0e-9,2)+0.0e0) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN customer ON o_custkey = c_custkey
     JOIN nation ON s_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
"""


_REGISTRY.update(
    {
        "shipping_priority": Query("shipping_priority", _q_shipping_priority, _SHIPPING_SQL, ("join",)),
        "nation_revenue": Query("nation_revenue", _q_nation_revenue, _NATION_REVENUE_SQL, ("join",)),
        "ev_rolling": Query("ev_rolling", _q_rolling, _ROLLING_SQL, ("window",)),
        "ev_lag_delta": Query("ev_lag_delta", _q_lag, _LAG_SQL, ("window",)),
        "ev_sessionize": Query("ev_sessionize", _q_sessionize, _SESSION_SQL, ("window",)),
        "ev_tumbling": Query("ev_tumbling", _q_tumbling, _TUMBLING_SQL, ("window",)),
        "ev_asof": Query("ev_asof", _q_asof, _ASOF_SQL, ("join",)),
        "ev_dedup_latest": Query("ev_dedup_latest", _q_dedup_latest, _DEDUP_SQL, ("dedup",)),
        "pricing_summary": Query("pricing_summary", _q_pricing, _PRICING_SQL, ("agg",)),
        "orders_rollup": Query("orders_rollup", _q_rollup, _ROLLUP_SQL, ("agg",)),
        "top_customers": Query("top_customers", _q_top_customers, _TOPC_SQL, ("join",)),
        "distinct_counts": Query("distinct_counts", _q_distinct, _DISTINCT_SQL, ("agg",)),
        "approx_distinct": Query("approx_distinct", _q_approx_distinct, None, ("agg",)),
    }
)


# --- pivot: per-user avg value by event type ------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.avg("value"))
    )
    for c in _EVENT_TYPES:
        out = out.withColumn(c, F.round(F.col(c) + F.lit(1e-9), 6) + F.lit(0.0))
    return out


_PIVOT_SQL = """
SELECT user_id,
       {cols}
FROM events GROUP BY user_id
""".format(
    cols=",\n       ".join(
        f"(round((avg(CASE WHEN event_type = '{t}' THEN value END)) + 1.0e-9,6)+0.0e0) AS {t}"
        for t in _EVENT_TYPES
    )
)


# --- JSON property extraction (semi-structured column) --------------------
def _q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    out = (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.avg("k").alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )
    # avg of a large integer sum: 6dp flips the last digit across engines
    # (CORRECTNESS_r01 hash fail) — 4dp is stable
    return roundn(out, 4, "avg_k")


_PROPS_JSON_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       (round((avg(CAST(json_extract(props, '$.k') AS BIGINT))) + 1.0e-9,4)+0.0e0) AS avg_k,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


# --- deterministic sampling (hash-based, engine-portable) -----------------
def _q_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # df.sample() randomness is engine-internal; a u01(event_id) predicate
    # gives a reproducible, cross-engine, pushdown-friendly 10% sample
    from . import expr as E

    ev = read_table(spark, sf_dir, "events")
    out = ev.filter(F.expr(f"{E.u01('event_id', 777)} < 1.0e-1")).select(
        "event_id", "user_id", "event_type", "value"
    )
    return round6(out, "value")


def _sample_events_sql() -> str:
    from . import expr as E

    return f"""
SELECT event_id, user_id, event_type, (round((value) + 1.0e-9,6)+0.0e0) AS value
FROM events WHERE {E.u01('event_id', 777)} < 1.0e-1
"""


_REGISTRY.update(
    {
        "ev_pivot": Query("ev_pivot", _q_pivot, _PIVOT_SQL, ("agg",)),
        "ev_props_json": Query("ev_props_json", _q_props_json, _PROPS_JSON_SQL, ("json",)),
        "ev_sample": Query("ev_sample", _q_sample_events, _sample_events_sql(), ("sample",)),
    }
)


# --- time-range window (rangeBetween) -------------------------------------
def _q_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").withColumn("ts_s", F.unix_timestamp("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-3600, 0)
    out = ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum("value").over(w).alias("sum_last_hour"),
    )
    return round6(out, "sum_last_hour")


_RANGE_WINDOW_SQL = """
SELECT event_id, user_id,
       count(*) OVER w AS n_last_hour,
       (round((sum(value) OVER w) + 1.0e-9,6)+0.0e0) AS sum_last_hour
FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


# --- ranking-function family ----------------------------------------------
def _q_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function family per event_type, SCALE-TRUE form (r9).

    The direct form — every rank function over
    Window.partitionBy(event_type) — funnels each ENTIRE stratum through
    one task (strata are low-cardinality). Because the ordering
    (value DESC, event_id ASC) is a tie-broken TOTAL order, the whole
    family collapses to arithmetic on (rn, n):
      rank = dense_rank = row_number (no peers under a total order —
      the same identity the oracle's rank()/dense_rank() resolve to),
      percent_rank = (rn-1)/(n-1), cume_dist = rn/n (each row is its own
      peer group), ntile(10) = the ntile_exact bucket formula on (rn, n),
      first_value(value) = the stratum max.
    So: (1) per-(input-partition, stratum) top-200 candidates on a slim
    projection — a superset of the global top-200, parallelism =
    |strata| x |partitions|; (2) final rank over the bounded candidate
    set (<= partitions x 200 rows per stratum); (3) broadcast-join the
    per-stratum (n, max value) 1-row-per-stratum aggregates and derive
    the family. Output is bit-identical to the direct window form."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    slim = ev.select("event_id", "event_type", "value").withColumn(
        "_pid", F.spark_partition_id()
    )
    w1 = Window.partitionBy("event_type", "_pid").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    cand = (
        slim.withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= 200)
        .drop("_rk1", "_pid")
    )
    w2 = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    top = cand.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= 200)
    totals = ev.groupBy("event_type").agg(
        F.count("*").alias("_n"), F.max("value").alias("top_value")
    )
    d = top.join(F.broadcast(totals), "event_type")
    q = F.floor(F.col("_n") / 10)
    rem = F.col("_n") % 10
    big = q + 1
    cutoff = rem * big
    decile = F.when(
        F.col("rn") <= cutoff, F.floor((F.col("rn") - 1) / big) + 1
    ).otherwise(rem + F.floor((F.col("rn") - cutoff - 1) / q) + 1)
    pct = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        (F.col("rn") - 1) / (F.col("_n") - 1)
    )
    out = d.select(
        "event_id",
        "event_type",
        "rn",
        F.col("rn").alias("rnk"),
        F.col("rn").alias("drnk"),
        decile.cast("int").alias("decile"),
        F.round(pct + F.lit(1e-9), 6).alias("pct_rank"),
        F.round(F.col("rn") / F.col("_n") + F.lit(1e-9), 6).alias("cume"),
        "top_value",
    )
    return round6(out, "top_value")


_RANK_FUNCS_SQL = """
SELECT event_id, event_type, rn, rnk, drnk, decile,
       (round((pct_rank) + 1.0e-9,6)+0.0e0) AS pct_rank, (round((cume) + 1.0e-9,6)+0.0e0) AS cume,
       (round((top_value) + 1.0e-9,6)+0.0e0) AS top_value
FROM (
  SELECT event_id, event_type,
         row_number() OVER w AS rn,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         ntile(10) OVER w AS decile,
         percent_rank() OVER w AS pct_rank,
         cume_dist() OVER w AS cume,
         first_value(value) OVER w AS top_value
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id))
WHERE rn <= 200
"""


_REGISTRY.update(
    {
        "ev_range_window": Query("ev_range_window", _q_range_window, _RANGE_WINDOW_SQL, ("window",)),
        "ev_rank_funcs": Query("ev_rank_funcs", _q_rank_funcs, _RANK_FUNCS_SQL, ("window",)),
    }
)


# --- correlation / covariance aggregates ----------------------------------
def _q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("covar_qty_price"),
        F.corr("l_discount", "l_tax").alias("corr_disc_tax"),
    )
    out = out.withColumn("covar_qty_price", F.round(F.col("covar_qty_price") + F.lit(1e-9), 2) + F.lit(0.0))
    return round6(out, "corr_qty_price", "corr_disc_tax")


_CORR_SQL = """
SELECT l_returnflag,
       (round((corr(l_quantity, l_extendedprice)) + 1.0e-9,6)+0.0e0) AS corr_qty_price,
       (round((covar_samp(l_quantity, l_extendedprice)) + 1.0e-9,2)+0.0e0) AS covar_qty_price,
       (round((corr(l_discount, l_tax)) + 1.0e-9,6)+0.0e0) AS corr_disc_tax
FROM lineitem GROUP BY l_returnflag
"""


# --- histogram via explicit binning (width_bucket absent in DuckDB 1.0) ---
HIST_LO, HIST_HI, HIST_BINS = 0.0, 200.0, 20


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    step = (HIST_HI - HIST_LO) / HIST_BINS
    bin_expr = F.least(
        F.greatest(F.floor((F.col("value") - HIST_LO) / step).cast("bigint"), F.lit(0)),
        F.lit(HIST_BINS - 1),
    )
    out = (
        ev.groupBy(bin_expr.alias("bin"))
        .agg(F.count("*").alias("n"), F.avg("value").alias("bin_avg"))
    )
    return round6(out, "bin_avg")


def _histogram_sql() -> str:
    step = (HIST_HI - HIST_LO) / HIST_BINS
    b = f"least(greatest(CAST(floor((value - {HIST_LO:.1e}) / {step!r}e0) AS BIGINT), 0), {HIST_BINS - 1})"
    return f"""
SELECT {b} AS bin, count(*) AS n, (round((avg(value)) + 1.0e-9,6)+0.0e0) AS bin_avg
FROM events GROUP BY {b}
"""


# --- Levenshtein near-dup over blocked doc prefixes -----------------------
def _q_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.substring("text", 1, 40).alias("prefix")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), "lang", "source", F.col("prefix").alias("pa"))
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("_lang"),
        F.col("source").alias("_source"),
        F.col("prefix").alias("pb"),
    )
    pairs = a.join(
        b,
        (a.lang == b._lang) & (a.source == b._source) & (a.doc_a < b.doc_b),
    ).select("doc_a", "doc_b", F.levenshtein("pa", "pb").alias("edit_dist"))
    return pairs.filter(F.col("edit_dist") <= 25)


_LEVENSHTEIN_SQL = """
WITH d AS (SELECT doc_id, lang, source, substring(text, 1, 40) AS prefix FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.prefix, b.prefix) AS edit_dist
FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 25
"""


_REGISTRY.update(
    {
        "li_correlation": Query("li_correlation", _q_corr, _CORR_SQL, ("agg",)),
        "ev_histogram": Query("ev_histogram", _q_histogram, _histogram_sql(), ("agg",)),
        "doc_levenshtein": Query("doc_levenshtein", _q_levenshtein, _LEVENSHTEIN_SQL, ("dedup",)),
    }
)


# --- z-score outliers ------------------------------------------------------
def _q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = analytics.zscore_outliers(ev, "event_type", "value", threshold=2.5)
    out = out.select("event_id", "event_type", "value", "zscore")
    return round6(out, "value", "zscore")


_OUTLIERS_SQL = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY event_type)
SELECT event_id, e.event_type, (round((value) + 1.0e-9,6)+0.0e0) AS value,
       (round(((value - mu) / sd) + 1.0e-9,6)+0.0e0) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs((value - mu) / sd) > 2.5
"""


# --- resample + linear interpolation (per-user 30-minute grid) ------------
def _q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    out = analytics.resample_interpolate(ev, "user_id", "ts", "value", 1800)
    return round6(out, "value_interp")


_RESAMPLE_SQL = """
WITH obs AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS grid_s,
         CAST(value AS DOUBLE) AS obs_v, FALSE AS is_grid
  FROM events WHERE user_id < 20),
span AS (
  SELECT user_id, min(grid_s) AS lo, max(grid_s) AS hi FROM obs GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(CAST(ceil(lo / 1800.0e0) AS BIGINT) * 1800, hi, 1800)) AS grid_s,
         CAST(NULL AS DOUBLE) AS obs_v, TRUE AS is_grid
  FROM span),
u AS (SELECT * FROM obs UNION ALL SELECT * FROM grid),
fwd AS (
  SELECT *,
         last_value(obs_v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN obs_v IS NOT NULL THEN grid_s END IGNORE NULLS) OVER wp AS pt
  FROM u
  WINDOW wp AS (PARTITION BY user_id ORDER BY grid_s, is_grid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
bwd AS (
  SELECT *,
         last_value(obs_v IGNORE NULLS) OVER wn AS nv,
         last_value(CASE WHEN obs_v IS NOT NULL THEN grid_s END IGNORE NULLS) OVER wn AS nt
  FROM fwd
  WINDOW wn AS (PARTITION BY user_id ORDER BY grid_s DESC, is_grid DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, grid_s,
       (round((CASE WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   WHEN nt = pt THEN pv
                   ELSE pv + (nv - pv) * (grid_s - pt) / (nt - pt) END) + 1.0e-9,6)+0.0e0) AS value_interp
FROM bwd WHERE is_grid
"""


_REGISTRY.update(
    {
        "ev_outliers": Query("ev_outliers", _q_outliers, _OUTLIERS_SQL, ("agg",)),
        "ev_resample": Query("ev_resample", _q_resample, _RESAMPLE_SQL, ("window",)),
    }
)


# --- GROUPING SETS with grouping_id ---------------------------------------
def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_prio,
               count(*) AS n_orders
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# --- stream-static broadcast join -----------------------------------------
def _q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched against a static dimension (customer) via
    broadcast — the canonical stream-static join pattern."""
    from . import streaming

    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    s = streaming.events_stream(spark, sf_dir)
    joined = (
        s.join(F.broadcast(c), "user_id")
        .groupBy("c_nationkey", "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    out = streaming.run_to_completion(joined)
    return out.withColumn("sum_value", F.round(F.col("sum_value") + F.lit(1e-9), 4) + F.lit(0.0))


_STREAM_STATIC_SQL = """
SELECT c_nationkey, event_type, count(*) AS n,
       (round(sum(value) + 1.0e-9,4)+0.0e0) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_nationkey, event_type
"""


_REGISTRY.update(
    {
        "orders_grouping_sets": Query(
            "orders_grouping_sets", _q_grouping_sets, _GROUPING_SETS_SQL, ("agg",)
        ),
        "stream_static_join": Query(
            "stream_static_join", _q_stream_static_join, _STREAM_STATIC_SQL, ("streaming",)
        ),
    }
)


def _q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = analytics.rolling_median(ev, "user_id", ["ts", "event_id"], "value", 15)
    return round6(
        out.select("event_id", "user_id", "value", "roll_median", "roll_p90"),
        "value", "roll_median", "roll_p90",
    )


_ROLLING_MEDIAN_SQL = """
SELECT event_id, user_id, (round((value) + 1.0e-9,6)+0.0e0) AS value,
       (round((l[CAST(floor((len(l) + 1) / 2) AS INT)]) + 1.0e-9,6)+0.0e0) AS roll_median,
       (round((l[CAST(ceil(len(l) * 0.9e0) AS INT)]) + 1.0e-9,6)+0.0e0) AS roll_p90
FROM (
  SELECT event_id, user_id, value,
         list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS l
  FROM events)
"""

_REGISTRY.update(
    {
        "ev_rolling_median": Query(
            "ev_rolling_median", _q_rolling_median, _ROLLING_MEDIAN_SQL, ("window",)
        ),
    }
)


# --- explicit skew-mitigation twins (salted join / two-phase agg) -----------
def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue via the EXPLICIT salted join (analytics.salted_join):
    lineitem salted by partition id, part replicated per salt — the
    escape hatch when a hot join key would pin one reducer and AQE has no
    stats to see it. The oracle is the plain join: salting must be
    result-invariant, which is exactly what this row certifies."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    pt = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = analytics.salted_join(li, pt, "p_partkey")
    out = j.groupBy("p_brand").agg(
        F.count("*").alias("n_items"), F.sum("rev").alias("revenue")
    )
    from .queries import roundn

    return roundn(out, 4, "revenue")


_SALTED_JOIN_SQL = """
SELECT p.p_brand, count(*) AS n_items,
       (round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1.0e-9, 4) + 0.0e0)
         AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


def _q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation over the 5-hot-key event_type column
    — phase 1 spreads each hot key over n_salts reducers, phase 2 merges
    the algebraic partials. Oracle = plain groupBy: the decomposition must
    be exact for sum/count/min/max."""
    ev = read_table(spark, sf_dir, "events")
    out = analytics.salted_agg(
        ev.select("event_type", "value"), ["event_type"], {"value": "sum"}
    )
    n = analytics.salted_agg(
        ev.select("event_type"), ["event_type"], {"n_events": "count"}
    )
    from .queries import roundn

    return roundn(out.join(n, "event_type"), 4, "value").withColumnRenamed(
        "value", "sum_value"
    )


_SALTED_AGG_SQL = """
SELECT event_type,
       (round(sum(value) + 1.0e-9, 4) + 0.0e0) AS sum_value,
       count(*) AS n_events
FROM events GROUP BY event_type
"""

_REGISTRY.update(
    {
        "li_salted_join": Query(
            "li_salted_join", _q_salted_join, _SALTED_JOIN_SQL, ("join", "skew")
        ),
        "ev_salted_agg": Query(
            "ev_salted_agg", _q_salted_agg, _SALTED_AGG_SQL, ("agg", "skew")
        ),
    }
)
