"""Classic decision-support queries over the TPC-H-shaped testdata tables
(SURVEY §2 C/E/F extensions — the analytic surface a warehouse user of the
engine runs daily). Shapes follow the public TPC-H specification (Q14, Q15,
Q17, Q18 analogues), adapted to the columns the testdata actually has.

Scale notes (100 TB):
- part / supplier are dimension sides: joined with broadcast() explicitly —
  lineitem (the fact side) is never shuffled for those joins.
- top_supplier avoids the global-window single-reducer trap: the max is a
  1-row aggregate joined back (same pattern as ev_cusum's argmax).
- small_qty_revenue's per-part average is a partial-agg'd groupBy on
  l_partkey, then joined fact-to-fact on the SAME key — at scale both sides
  hash-partition on l_partkey, and AQE handles residual skew.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import read_table
from .queries import _REGISTRY, Query, canon_types, roundn


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))
REV_SQL = "l_extendedprice * (1 - l_discount)"


# --- promo_revenue (Q14 shape): monthly promo revenue share ----------------
def _q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    out = (
        j.groupBy(
            F.year("l_shipdate").alias("yr"), F.month("l_shipdate").cast("bigint").alias("mo")
        )
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", _rev()).otherwise(0.0))
                / F.sum(_rev())
            ).alias("promo_share"),
            F.count("*").alias("n_items"),
        )
    )
    return canon_types(roundn(out, 4, "promo_share"))


_PROMO_SQL = f"""
SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, CAST(month(l_shipdate) AS BIGINT) AS mo,
       (round((100.0e0 * sum(CASE WHEN p_type = 'PROMO' THEN {REV_SQL} ELSE 0.0e0 END)
               / sum({REV_SQL})) + 1.0e-9,4)+0.0e0) AS promo_share,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
"""


# --- top_supplier (Q15 shape): max-revenue supplier(s) for a quarter -------
Q15_START, Q15_END = "1996-01-01", "1996-04-01"


def _q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_START)) & (F.col("l_shipdate") < F.lit(Q15_END))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_rev()).alias("_r"))
        # round BEFORE the max/filter so both engines agree on who wins
        .withColumn("total_rev", F.round(F.col("_r") + F.lit(1e-9), 2) + F.lit(0.0))
        .drop("_r")
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = (
        rev.join(F.broadcast(mx), rev.total_rev == mx._mx)
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select(F.col("s_suppkey").cast("bigint").alias("s_suppkey"), "s_name", "total_rev")
    )
    return out


_TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, (round((sum({REV_SQL})) + 1.0e-9,2)+0.0e0) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_START}' AND l_shipdate < TIMESTAMP '{Q15_END}'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""


# --- small_qty_revenue (Q17 shape): revenue locked in small-lot orders -----
def _q_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    brand_parts = (
        read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    )
    per_part = li.groupBy("l_partkey").agg((F.avg("l_quantity") * 0.5).alias("half_avg"))
    out = (
        li.join(F.broadcast(brand_parts), li.l_partkey == brand_parts.p_partkey)
        .join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (F.sum("l_extendedprice") / 7.0).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )
    return canon_types(roundn(out, 4, "avg_yearly"))


_SMALL_QTY_SQL = """
WITH pa AS (SELECT l_partkey, 0.5e0 * avg(l_quantity) AS half_avg FROM lineitem GROUP BY 1)
SELECT (round((sum(l.l_extendedprice) / 7.0e0) + 1.0e-9,4)+0.0e0) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#4'
JOIN pa ON l.l_partkey = pa.l_partkey
WHERE l.l_quantity < pa.half_avg
"""


# --- large_volume_orders (Q18 shape) ---------------------------------------
Q18_MIN_QTY = 170.0


def _q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.unix_timestamp("o_orderdate").alias("o_date_s"), "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_date_s", "o_totalprice", "sum_qty")
    )
    return canon_types(roundn(out, 4, "sum_qty", "o_totalprice"))


_LARGE_ORDERS_SQL = f"""
SELECT c_custkey, c_name, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date_s,
       (round((o_totalprice) + 1.0e-9,4)+0.0e0) AS o_totalprice,
       (round((sum_qty) + 1.0e-9,4)+0.0e0) AS sum_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
      GROUP BY 1 HAVING sum(l_quantity) > {Q18_MIN_QTY:.9e})
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- forecast_revenue_change (Q6 shape): pure scan-aggregate ---------------
# The canonical predicate-pushdown query: every filter reaches the parquet
# scan, output is one row — at 100 TB this is scan-bound and embarrassingly
# parallel (partial agg, no real shuffle).
def _q_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    out = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_delta"),
            F.count("*").alias("n_lines"),
        )
    )
    return canon_types(roundn(out, 4, "revenue_delta"))


_REVENUE_CHANGE_SQL = """
SELECT (round((sum(l_extendedprice * l_discount)) + 1.0e-9,4)+0.0e0) AS revenue_delta,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 5.0e-2 AND l_discount <= 7.0e-2 AND l_quantity < 24
"""


# --- late_order_priority (Q4 shape): EXISTS semi-join ----------------------
# Orders with at least one line shipped after the order date + 90 days,
# counted per priority. left-semi: the fact side never duplicates.
def _q_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 90)),
        "left_semi",
    )
    return canon_types(
        late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))
    )


_LATE_ORDERS_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


_REGISTRY.update(
    {
        "promo_revenue": Query("promo_revenue", _q_promo_revenue, _PROMO_SQL, ("agg",)),
        "top_supplier": Query("top_supplier", _q_top_supplier, _TOP_SUPPLIER_SQL, ("agg",)),
        "small_qty_revenue": Query("small_qty_revenue", _q_small_qty, _SMALL_QTY_SQL, ("agg",)),
        "large_volume_orders": Query(
            "large_volume_orders", _q_large_orders, _LARGE_ORDERS_SQL, ("agg",)
        ),
        "revenue_change": Query(
            "revenue_change", _q_revenue_change, _REVENUE_CHANGE_SQL, ("agg",)
        ),
        "late_order_priority": Query(
            "late_order_priority", _q_late_orders, _LATE_ORDERS_SQL, ("join",)
        ),
    }
)


# --- volume_shipping (Q7 shape): bilateral trade volume by year ------------
VS_N1, VS_N2 = "NATION_1", "NATION_2"


def _q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # fact⋈fact (lineitem⋈orders) shuffles on the natural key; customer joins
    # via shuffle (it scales with SF); supplier+nation broadcast (dims)
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .filter(
            ((F.col("supp_nation") == VS_N1) & (F.col("cust_nation") == VS_N2))
            | ((F.col("supp_nation") == VS_N2) & (F.col("cust_nation") == VS_N1))
        )
    )
    out = j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("yr")
    ).agg(F.sum(_rev()).alias("revenue"), F.count("*").alias("n_items"))
    return canon_types(roundn(out, 4, "revenue"))


_VOLUME_SHIPPING_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS yr,
       (round((sum({REV_SQL})) + 1.0e-9,4)+0.0e0) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = '{VS_N1}' AND cn.n_name = '{VS_N2}')
    OR (sn.n_name = '{VS_N2}' AND cn.n_name = '{VS_N1}'))
GROUP BY 1, 2, 3
"""


# --- profit_by_nation (Q9 shape, retailprice-proxy cost) -------------------
def _q_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    # profit proxy: revenue − 60% of retail price × quantity (no partsupp
    # table in the testdata; the plan shape — fact ⋈ two broadcast dims ⋈
    # agg — is the Q9 shape regardless of the cost formula)
    profit = _rev() - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        F.broadcast(sn), li.l_suppkey == sn.s_suppkey
    )
    out = j.groupBy("nation", F.year("l_shipdate").alias("yr")).agg(
        F.sum(profit).alias("profit"), F.count("*").alias("n_items")
    )
    return canon_types(roundn(out, 4, "profit"))


_PROFIT_SQL = f"""
SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS yr,
       (round((sum({REV_SQL} - 6.0e-1 * p_retailprice * l_quantity)) + 1.0e-9,4)+0.0e0) AS profit,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


# --- returned_customers (Q10 shape): top returned-revenue customers --------
def _q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    ).select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("revenue"), F.count("*").alias("n_items"))
    )
    out = (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_custkey"), F.col("c_name"), F.col("n_name").alias("nation"),
            "revenue", "n_items",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )
    return canon_types(roundn(out, 4, "revenue"))


_RETURNED_SQL = f"""
WITH rev AS (
  SELECT o_custkey, sum({REV_SQL}) AS revenue, count(*) AS n_items
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY o_custkey)
SELECT c_custkey, c_name, n_name AS nation,
       (round((revenue) + 1.0e-9,4)+0.0e0) AS revenue, n_items
FROM rev JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY rev.revenue DESC, c_custkey LIMIT 20
"""


# --- order_count_distribution (Q13 shape) ----------------------------------
def _q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    out = per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))
    return canon_types(out)


_CUSTDIST_SQL = """
WITH pc AS (
  SELECT c_custkey, count(o_custkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist FROM pc GROUP BY c_count
"""


# --- brand_size_revenue (Q19 shape): disjunctive pushdown ------------------
def _q_brand_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 30))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") < 15))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30))
    )
    out = j.filter(cond).agg(
        F.sum(_rev()).alias("revenue"), F.count("*").alias("n_items")
    )
    return canon_types(roundn(out, 4, "revenue"))


_BRAND_SIZE_SQL = f"""
SELECT (round((sum({REV_SQL})) + 1.0e-9,4)+0.0e0) AS revenue, count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 30)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity < 15)
   OR (p_brand = 'Brand#3' AND p_size <= 30)
"""


# --- idle_customers (Q22 shape): anti-join + scalar avg subquery -----------
IDLE_SINCE = "2000-01-01"


def _q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= IDLE_SINCE)
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    cand = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_avg_bal")
    )
    idle = cand.join(o, cand.c_custkey == o.o_custkey, "left_anti")
    out = idle.groupBy("c_nationkey").agg(
        F.count("*").alias("n_custs"), F.sum("c_acctbal").alias("total_bal")
    )
    return canon_types(roundn(out, 4, "total_bal"))


_IDLE_SQL = f"""
SELECT c_nationkey, count(*) AS n_custs,
       (round((sum(c_acctbal)) + 1.0e-9,4)+0.0e0) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '{IDLE_SINCE}')
GROUP BY c_nationkey
"""


_REGISTRY.update(
    {
        "volume_shipping": Query(
            "volume_shipping", _q_volume_shipping, _VOLUME_SHIPPING_SQL, ("tpch",)
        ),
        "profit_by_nation": Query(
            "profit_by_nation", _q_profit_by_nation, _PROFIT_SQL, ("tpch",)
        ),
        "returned_customers": Query(
            "returned_customers", _q_returned_customers, _RETURNED_SQL, ("tpch",)
        ),
        "order_count_distribution": Query(
            "order_count_distribution", _q_custdist, _CUSTDIST_SQL, ("tpch",)
        ),
        "brand_size_revenue": Query(
            "brand_size_revenue", _q_brand_size, _BRAND_SIZE_SQL, ("tpch",)
        ),
        "idle_customers": Query(
            "idle_customers", _q_idle_customers, _IDLE_SQL, ("tpch",)
        ),
    }
)


# ===========================================================================
# Remaining TPC-H shapes (Q2/Q8/Q11/Q12/Q16/Q20/Q21 analogues), adapted to
# the testdata columns (no partsupp table — lineitem's (l_partkey,l_suppkey)
# pairs stand in for the part-supplier relationship; no l_shipmode /
# l_receiptdate — l_returnflag and l_shipdate-vs-o_orderdate lateness are the
# stand-ins). With these, all 22 canonical TPC-H plan shapes are covered.
#
# Scale notes (100 TB):
# - Q2: the per-(part,supplier) agg partial-aggregates before its shuffle;
#   the min-unit-cost lookup is an agg-to-agg join on p_partkey (uniform).
# - Q8: one fact-side shuffle (lineitem⋈orders on orderkey); all dimension
#   joins broadcast. The market-share CASE runs map-side.
# - Q11: scalar total via broadcast 1-row aggregate (no driver collect).
# - Q21: per-order aggregates groupBy(l_orderkey) — same key as the
#   lineitem⋈orders semi-join, so AQE reuses the exchange partitioning.
# ===========================================================================

# --- min_cost_supplier (Q2 shape): min-unit-cost supplier per part ---------
Q2_REGION = "EUROPE"
Q2_TYPE = "ECONOMY"
Q2_MAX_SIZE = 10


def _q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    parts = (
        read_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == Q2_TYPE) & (F.col("p_size") <= Q2_MAX_SIZE))
        .select("p_partkey")
    )
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    sup = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    # unit cost per (part, supplier): avg sale unit price; rounded BEFORE the
    # min/equality so both engines agree on the winner (cf. top_supplier)
    cost = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("l_partkey", "l_suppkey", "s_name", "s_acctbal")
        .agg(F.avg(F.col("l_extendedprice") / F.col("l_quantity")).alias("_c"))
        .withColumn("unit_cost", F.round(F.col("_c") + F.lit(1e-9), 4) + F.lit(0.0))
        .drop("_c")
    )
    mn = cost.groupBy("l_partkey").agg(F.min("unit_cost").alias("_mn"))
    out = (
        cost.join(mn, "l_partkey")
        .filter(F.col("unit_cost") == F.col("_mn"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "s_acctbal",
            "unit_cost",
        )
    )
    return canon_types(roundn(out, 4, "s_acctbal"))


_MIN_COST_SQL = f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey, s_name, s_acctbal,
         (round((avg(l_extendedprice / l_quantity)) + 1.0e-9,4)+0.0e0) AS unit_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
       AND p_type = '{Q2_TYPE}' AND p_size <= {Q2_MAX_SIZE}
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = '{Q2_REGION}'
  GROUP BY 1, 2, 3, 4)
SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey, s_name,
       (round((s_acctbal) + 1.0e-9,4)+0.0e0) AS s_acctbal, unit_cost
FROM cost c
WHERE unit_cost = (SELECT min(unit_cost) FROM cost c2 WHERE c2.l_partkey = c.l_partkey)
"""


# --- market_share (Q8 shape): national revenue share in a region -----------
Q8_REGION = "AMERICA"
Q8_NATION = "NATION_1"


def _q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    cust_in_region = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey")
    )
    supp_nation = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_in_region, o.o_custkey == cust_in_region.c_custkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
    )
    out = j.groupBy(F.year("l_shipdate").alias("yr")).agg(
        (
            F.sum(F.when(F.col("supp_nation") == Q8_NATION, _rev()).otherwise(0.0))
            / F.sum(_rev())
        ).alias("mkt_share"),
        F.count("*").alias("n_items"),
    )
    return canon_types(roundn(out, 4, "mkt_share"))


_MARKET_SHARE_SQL = f"""
SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
       (round((sum(CASE WHEN sn.n_name = '{Q8_NATION}' THEN {REV_SQL} ELSE 0.0e0 END)
               / sum({REV_SQL})) + 1.0e-9,4)+0.0e0) AS mkt_share,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey AND r_name = '{Q8_REGION}'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# --- important_parts (Q11 shape): value-concentration with scalar subquery -
Q11_NATION = "NATION_3"
Q11_FRACTION = 1e-3


def _q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    sup = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    total = val.agg((F.sum("value") * F.lit(Q11_FRACTION)).alias("_thresh"))
    out = (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("_thresh"))
        .select(F.col("l_partkey").alias("p_partkey"), "value")
    )
    return canon_types(roundn(out, 2, "value"))


_IMPORTANT_PARTS_SQL = f"""
WITH val AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey AND n_name = '{Q11_NATION}'
  GROUP BY 1)
SELECT l_partkey AS p_partkey, (round((value) + 1.0e-9,2)+0.0e0) AS value
FROM val
WHERE value > (SELECT sum(value) * {Q11_FRACTION:.9e} FROM val)
"""


# --- late_shipment_priority (Q12 shape): lateness × priority counts --------
Q12_LATE_DAYS = 60


def _q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), Q12_LATE_DAYS)
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    out = late.groupBy("l_returnflag").agg(
        F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
    )
    return canon_types(out)


_LATE_PRIORITY_SQL = f"""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
GROUP BY 1
"""


# --- part_supplier_counts (Q16 shape): distinct suppliers per part class ---
def _q_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#3")
        .select("p_partkey", "p_brand", "p_size")
    )
    # "complaint" analog: suppliers in the red are excluded via anti-join
    bad_sup = (
        read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    pairs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad_sup), li.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .select("p_brand", "p_size", "l_suppkey")
        .distinct()
    )
    out = pairs.groupBy("p_brand", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )
    return canon_types(out)


_PART_SUPPLIER_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0e0)
GROUP BY 1, 2
"""


# --- excess_shippers (Q20 shape): nested-aggregate semi-join ---------------
Q20_NATION = "NATION_2"
Q20_PREFIX = "red"
Q20_MIN_QTY = 100.0


def _q_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    red_parts = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith(Q20_PREFIX))
        .select("p_partkey")
    )
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q20_NATION)
    sup = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", "s_name")
    )
    shipped = (
        li.join(F.broadcast(red_parts), li.l_partkey == red_parts.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q20_MIN_QTY)
    )
    out = (
        sup.join(shipped, sup.s_suppkey == shipped.l_suppkey)
        .select("s_suppkey", "s_name", "total_qty")
    )
    return canon_types(roundn(out, 4, "total_qty"))


_EXCESS_SHIPPERS_SQL = f"""
SELECT s_suppkey, s_name, (round((total_qty) + 1.0e-9,4)+0.0e0) AS total_qty
FROM supplier
JOIN nation ON s_nationkey = n_nationkey AND n_name = '{Q20_NATION}'
JOIN (SELECT l_suppkey, sum(l_quantity) AS total_qty
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_name LIKE '{Q20_PREFIX}%'
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1 HAVING sum(l_quantity) > {Q20_MIN_QTY:.9e}) sq
  ON s_suppkey = sq.l_suppkey
"""


# --- waiting_suppliers (Q21 shape): sole-blocker detection -----------------
def _q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_f = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o_f, F.col("l_orderkey") == o_f.o_orderkey, "left_semi")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("_mx"),
        F.countDistinct("l_suppkey").alias("_n_supp"),
    )
    at_max = (
        li.join(per_order, "l_orderkey")
        .filter(F.col("l_shipdate") == F.col("_mx"))
        .select("l_orderkey", "l_suppkey", "_n_supp")
        .distinct()
    )
    # the blocker must be the SOLE supplier at the order's last ship date,
    # in an order that involved at least one other supplier
    n_max = at_max.groupBy("l_orderkey").agg(F.count("*").alias("_n_max"))
    blockers = (
        at_max.join(n_max, "l_orderkey")
        .filter((F.col("_n_max") == 1) & (F.col("_n_supp") >= 2))
    )
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = (
        blockers.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )
    return canon_types(out)


_WAITING_SQL = """
WITH li AS (
  SELECT l_orderkey, l_suppkey, l_shipdate
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')),
per_order AS (
  SELECT l_orderkey, max(l_shipdate) AS mx, count(DISTINCT l_suppkey) AS n_supp
  FROM li GROUP BY 1),
at_max AS (
  SELECT DISTINCT li.l_orderkey, l_suppkey, n_supp
  FROM li JOIN per_order ON li.l_orderkey = per_order.l_orderkey
  WHERE l_shipdate = mx),
blockers AS (
  SELECT l_orderkey, min(l_suppkey) AS l_suppkey, min(n_supp) AS n_supp
  FROM at_max GROUP BY 1 HAVING count(*) = 1)
SELECT s_name, count(*) AS numwait
FROM blockers JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp >= 2
GROUP BY 1
ORDER BY numwait DESC, s_name LIMIT 20
"""


_REGISTRY.update(
    {
        "min_cost_supplier": Query(
            "min_cost_supplier", _q_min_cost_supplier, _MIN_COST_SQL, ("tpch",)
        ),
        "market_share": Query(
            "market_share", _q_market_share, _MARKET_SHARE_SQL, ("tpch",)
        ),
        "important_parts": Query(
            "important_parts", _q_important_parts, _IMPORTANT_PARTS_SQL, ("tpch",)
        ),
        "late_shipment_priority": Query(
            "late_shipment_priority", _q_late_shipment_priority, _LATE_PRIORITY_SQL, ("tpch",)
        ),
        "part_supplier_counts": Query(
            "part_supplier_counts", _q_part_supplier_counts, _PART_SUPPLIER_SQL, ("tpch",)
        ),
        "excess_shippers": Query(
            "excess_shippers", _q_excess_shippers, _EXCESS_SHIPPERS_SQL, ("tpch",)
        ),
        "waiting_suppliers": Query(
            "waiting_suppliers", _q_waiting_suppliers, _WAITING_SQL, ("tpch",)
        ),
    }
)
