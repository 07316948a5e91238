"""Data-quality / warehouse-maintenance queries (north-star extension: the
dbt-test-style assertions a pipeline runs before publishing a dataset).

Scale notes: every check is an aggregate or anti-join that partial-aggs
map-side; the union of one-row results is driver-free. FK checks use
LEFT ANTI joins (never materialize matches); PK checks compare count vs
approx-free exact distinct on the key only (column-pruned scan).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import read_table
from .queries import _REGISTRY, Query, canon_types, round6, roundn


def _one(name: str, df: DataFrame) -> DataFrame:
    return df.select(
        F.lit(name).alias("check_name"), F.col("n_violations").cast("bigint")
    )


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity, key uniqueness, and null-rate assertions over
    the warehouse tables; one row per check."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    li = read_table(spark, sf_dir, "lineitem")
    ev = read_table(spark, sf_dir, "events")
    checks = [
        _one(
            "orders_custkey_fk",
            orders.join(
                cust, orders.o_custkey == cust.c_custkey, "left_anti"
            ).agg(F.count("*").alias("n_violations")),
        ),
        _one(
            "lineitem_orderkey_fk",
            li.join(
                orders, li.l_orderkey == orders.o_orderkey, "left_anti"
            ).agg(F.count("*").alias("n_violations")),
        ),
        _one(
            "orders_pk_unique",
            orders.agg(
                (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias(
                    "n_violations"
                )
            ),
        ),
        _one(
            "events_value_nonnull",
            ev.agg(
                F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias(
                    "n_violations"
                )
            ),
        ),
        _one(
            "lineitem_qty_positive",
            li.agg(
                F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias(
                    "n_violations"
                )
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.withColumn("passed", F.col("n_violations") == 0)


_DQ_SQL = """
SELECT 'orders_custkey_fk' AS check_name,
       CAST(count(*) AS BIGINT) AS n_violations, count(*) = 0 AS passed
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT), count(*) = 0
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'orders_pk_unique', CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
       count(o_orderkey) = count(DISTINCT o_orderkey)
FROM orders
UNION ALL
SELECT 'events_value_nonnull',
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'lineitem_qty_positive',
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) = 0
FROM lineitem
"""


def _q_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canon_types(dq_checks(spark, sf_dir))


# --- month-over-month revenue growth ---------------------------------------
def monthly_growth(orders: DataFrame) -> DataFrame:
    """Monthly revenue + MoM growth. The lag window runs over the ALREADY
    aggregated month table (≤ a few hundred rows for decades of data), so
    the unpartitioned ordering is safe at any input scale."""
    from pyspark.sql import Window

    monthly = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(F.sum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
    w = Window.orderBy("yr", "mo")
    prev = F.lag("revenue", 1).over(w)
    return monthly.withColumn("mom_growth", (F.col("revenue") - prev) / prev)


def _q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = monthly_growth(read_table(spark, sf_dir, "orders"))
    return canon_types(roundn(out, 4, "revenue", "mom_growth"))


_MONTHLY_GROWTH_SQL = """
WITH m AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo,
         sum(o_totalprice) AS revenue, count(*) AS n_orders
  FROM orders GROUP BY 1, 2)
SELECT yr, mo, (round((revenue) + 1.0e-9,4)+0.0e0) AS revenue, n_orders,
       (round(((revenue - lag(revenue, 1) OVER (ORDER BY yr, mo))
               / lag(revenue, 1) OVER (ORDER BY yr, mo)) + 1.0e-9,4)+0.0e0) AS mom_growth
FROM m
"""


# --- k-anonymity risk assessment ---------------------------------------------
KANON_K = 5


def k_anonymity(ev: DataFrame, k: int = KANON_K) -> DataFrame:
    """Privacy risk readout for a quasi-identifier tuple (event_type,
    day-of-week, hour): the k-anonymity level (smallest equivalence class)
    and the share of rows re-identifiable at k — the governance check a
    release pipeline runs before publishing event data. Two partial-agged
    aggregations over the tiny QI-class table."""
    cls = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(F.count("*").alias("csize"))
    return cls.agg(
        F.count("*").alias("n_classes"),
        F.min("csize").alias("k_anonymity"),
        F.sum("csize").alias("n_rows"),
        F.sum(F.when(F.col("csize") < k, F.col("csize")).otherwise(0)).alias(
            "n_at_risk"
        ),
        (
            F.sum(F.when(F.col("csize") < k, F.col("csize")).otherwise(0))
            / F.sum("csize")
        ).alias("risk_share"),
    )


def _q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(k_anonymity(read_table(spark, sf_dir, "events")), "risk_share")


_K_ANONYMITY_SQL = f"""
WITH cls AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
         count(*) AS csize
  FROM events GROUP BY 1, 2, 3)
SELECT count(*) AS n_classes,
       CAST(min(csize) AS BIGINT) AS k_anonymity,
       CAST(sum(csize) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN csize < {KANON_K} THEN csize ELSE 0 END) AS BIGINT) AS n_at_risk,
       (round((CAST(sum(CASE WHEN csize < {KANON_K} THEN csize ELSE 0 END) AS DOUBLE)
               / sum(csize)) + 1.0e-9,6)+0.0e0) AS risk_share
FROM cls
"""


_REGISTRY.update(
    {
        "dq_checks": Query("dq_checks", _q_dq, _DQ_SQL, ("quality",)),
        "ev_k_anonymity": Query(
            "ev_k_anonymity", _q_k_anonymity, _K_ANONYMITY_SQL, ("quality",)
        ),
        "orders_monthly_growth": Query(
            "orders_monthly_growth", _q_monthly_growth, _MONTHLY_GROWTH_SQL, ("agg",)
        ),
    }
)
