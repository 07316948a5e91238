"""Warehouse-maintenance / dimensional-modeling operators (north-star
extension: the jobs a data-platform team runs around the analytics engine).

- ev_scd2: type-2 slowly-changing-dimension build from an event stream
  (change detection + interval assembly — the MERGE/SCD pattern).
- ev_ffill: forward-fill of sparse measurements (last_value IGNORE NULLS).
- table_profile: one-pass column profiler (the ANALYZE TABLE / data-catalog
  statistics job).
- key_skew_profile: join-key skew diagnostics — the first thing to run
  before debugging a slow shuffle at 100 TB.
- zorder_cluster: Morton (Z-order) interleaved sort key over two dimensions
  — the multi-dimensional clustering layout used for data-skipping file
  layouts; per-bucket locality stats prove both key dims stay range-bounded
  within a bucket.

Scale notes: scd2/ffill are single-shuffle window jobs partitioned by the
entity key; table_profile reduces the table in ONE pass to a single stats
row (stack() unpivots driver-side-free); key_skew_profile is a partial-agg
count + TakeOrderedAndProject (no global sort); zorder_cluster is a pure
projection + one partial-agged groupBy on a 64-value bucket key.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .io import read_table
from .queries import _REGISTRY, Query, canon_types, round6, roundn


# --- SCD2 intervals -------------------------------------------------------
def scd2_intervals(
    ev: DataFrame, key: str = "user_id", attr: str = "event_type"
) -> DataFrame:
    """Type-2 SCD: per entity, each change of `attr` closes the previous
    interval and opens a new one. Change detection (lag) and interval
    assembly (lead / row_number) share one hash-partitioning on `key`, so
    the whole build is a single shuffle regardless of table size."""
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    ch = (
        ev.select(key, attr, "ts", "event_id")
        .withColumn("_prev", F.lag(attr).over(w))
        .filter(F.col("_prev").isNull() | (F.col(attr) != F.col("_prev")))
    )
    w2 = Window.partitionBy(key).orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return ch.select(
        F.col(key),
        F.col(attr),
        F.unix_timestamp("ts").alias("valid_from_s"),
        F.unix_timestamp(nxt).alias("valid_to_s"),
        nxt.isNull().alias("is_current"),
        F.row_number().over(w2).alias("version"),
    )


def _q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_intervals(read_table(spark, sf_dir, "events"))


_SCD2_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
ch AS (SELECT user_id, event_type, ts, event_id FROM e
       WHERE prev IS NULL OR event_type <> prev)
SELECT user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
       CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_s,
       lead(ts) OVER w IS NULL AS is_current,
       CAST(row_number() OVER w AS BIGINT) AS version
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- forward fill ---------------------------------------------------------
def forward_fill(
    df: DataFrame, key: str, order: list[str], value: str
) -> DataFrame:
    """Carry the last non-null observation forward per entity (the gap-fill
    every sensor/metrics pipeline needs). One window shuffle on `key`."""
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(f"{value}_filled", F.last(value, ignorenulls=True).over(w))


def _q_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # deterministic sparsity: drop every 7th measurement, then fill it back
    masked = ev.withColumn(
        "_m", F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value"))
    )
    out = forward_fill(masked, "user_id", ["ts", "event_id"], "_m")
    return round6(
        out.select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("ts_s"),
            (F.col("event_id") % 7 == 0).alias("was_null"),
            F.coalesce("_m_filled", F.lit(0.0)).alias("v_filled"),
        ),
        "v_filled",
    )


_FFILL_SQL = """
SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       event_id % 7 = 0 AS was_null,
       (round((coalesce(
          last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          0.0e0)) + 1.0e-9,6)+0.0e0) AS v_filled
FROM events
"""


# --- one-pass column profiler ---------------------------------------------
_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate_s"]


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Column statistics (count / nulls / distinct / min / max / avg) for
    every column in ONE scan: a single agg produces one wide stats row,
    stack() unpivots it to a row per column without touching the driver.
    countDistinct is exact (the catalog-quality variant); swap for
    approx_count_distinct when profiling petabyte tables on a budget."""
    aggs = []
    for c in cols:
        d = F.col(c).cast("double")
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(d).alias(f"{c}__min"),
            F.max(d).alias(f"{c}__max"),
            F.avg(d).alias(f"{c}__avg"),
        ]
    row = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd, {c}__min, {c}__max, {c}__avg"
        for c in cols
    )
    return row.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS "
            "(col_name, n_vals, n_null, n_distinct, min_v, max_v, avg_v)"
        )
    )


def _q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate_s", F.unix_timestamp("o_orderdate")
    )
    out = table_profile(o, _PROFILE_COLS)
    # avg of large sums → 4dp (fp association differs across engines)
    return roundn(out, 4, "min_v", "max_v", "avg_v")


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_COLS:
        src = "CAST(floor(epoch(o_orderdate)) AS BIGINT)" if c == "o_orderdate_s" else c
        d = f"CAST({src} AS DOUBLE)"
        parts.append(
            f"""
SELECT '{c}' AS col_name, CAST(count({src}) AS BIGINT) AS n_vals,
       CAST(sum(CASE WHEN {src} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {src}) AS BIGINT) AS n_distinct,
       (round((min({d})) + 1.0e-9,4)+0.0e0) AS min_v,
       (round((max({d})) + 1.0e-9,4)+0.0e0) AS max_v,
       (round((avg({d})) + 1.0e-9,4)+0.0e0) AS avg_v
FROM orders"""
        )
    return "\nUNION ALL\n".join(parts)


# --- join-key skew diagnostics --------------------------------------------
def key_skew(df: DataFrame, key: str, top_n: int = 10) -> DataFrame:
    """Top-N heaviest join keys with their row share — the diagnostic run
    before choosing salting / broadcast strategies. Partial-agg count per
    key, then TakeOrderedAndProject (orderBy+limit compiles to a per-
    partition top-N merge, no global sort)."""
    cnt = df.groupBy(key).agg(F.count("*").alias("cnt"))
    tot = cnt.agg(F.sum("cnt").alias("_total"))
    top = cnt.orderBy(F.desc("cnt"), F.asc(key)).limit(top_n)
    return top.crossJoin(F.broadcast(tot)).select(
        key,
        "cnt",
        (F.col("cnt") / F.col("_total")).alias("share"),
    )


def _q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = key_skew(read_table(spark, sf_dir, "lineitem"), "l_partkey")
    return round6(out, "share")


_KEY_SKEW_SQL = """
WITH c AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
top AS (SELECT * FROM c ORDER BY cnt DESC, l_partkey LIMIT 10)
SELECT l_partkey, cnt,
       (round((CAST(cnt AS DOUBLE) / t.total) + 1.0e-9,6)+0.0e0) AS share
FROM top CROSS JOIN t
"""


# --- Z-order (Morton) clustering key ---------------------------------------
def _morton_expr(a: str, b: str, shl) -> str:
    """Interleave the low 16 bits of `a` and `b` into a 32-bit Morton code.

    Shared-text formula: the SAME arithmetic is rendered for Spark
    (shiftleft) and DuckDB (<<) via the `shl` formatter, so both engines
    compute bit-identical keys. Classic mask-spread: each & keeps every
    other bit group after doubling the spacing."""

    def spread(x: str) -> str:
        e = f"({x} & 65535)"
        e = f"(({e} | {shl(e, 8)}) & 16711935)"
        e = f"(({e} | {shl(e, 4)}) & 252645135)"
        e = f"(({e} | {shl(e, 2)}) & 858993459)"
        e = f"(({e} | {shl(e, 1)}) & 1431655765)"
        return e

    return f"({spread(a)} | {shl(spread(b), 1)})"


def zorder_key(df: DataFrame, a: str, b: str) -> DataFrame:
    """Add a Morton `zkey` column interleaving two dimensions — sorting /
    range-partitioning by zkey co-locates rows close in BOTH dims, the
    layout that makes min/max file statistics prune on either predicate.
    Pure projection: no shuffle, stays in whole-stage codegen."""
    shl = lambda e, n: f"shiftleft({e}, {n})"  # noqa: E731
    return df.withColumn("zkey", F.expr(_morton_expr(a, b, shl)))


def zorder_cluster_stats(df: DataFrame, a: str, b: str, shift: int = 16) -> DataFrame:
    """Bucket rows by their Morton key >> `shift` (= the file an
    optimize-zorder rewrite would place them in) and report per-bucket
    ranges of both dims: bounded ranges in BOTH columns per bucket is the
    locality property data skipping relies on."""
    z = zorder_key(df, a, b)
    bucket = F.shiftrightunsigned(F.col("zkey"), shift)
    return (
        z.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("zkey").alias("z_min"),
            F.max("zkey").alias("z_max"),
            F.min(a).alias("a_min"),
            F.max(a).alias("a_max"),
            F.min(b).alias("b_min"),
            F.max(b).alias("b_max"),
        )
    )


def _q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return zorder_cluster_stats(li, "l_partkey", "l_suppkey")


def _zorder_sql() -> str:
    shl = lambda e, n: f"({e} << {n})"  # noqa: E731
    z = _morton_expr("l_partkey", "l_suppkey", shl)
    return f"""
WITH zt AS (SELECT l_partkey, l_suppkey, {z} AS zkey FROM lineitem)
SELECT zkey // 65536 AS bucket, count(*) AS n_rows,
       min(zkey) AS z_min, max(zkey) AS z_max,
       min(l_partkey) AS a_min, max(l_partkey) AS a_max,
       min(l_suppkey) AS b_min, max(l_suppkey) AS b_max
FROM zt GROUP BY 1
"""


_REGISTRY.update(
    {
        "ev_scd2": Query("ev_scd2", _q_scd2, _SCD2_SQL, ("warehouse",)),
        "ev_ffill": Query("ev_ffill", _q_ffill, _FFILL_SQL, ("warehouse",)),
        "table_profile": Query(
            "table_profile", _q_table_profile, _profile_sql(), ("warehouse",)
        ),
        "key_skew_profile": Query(
            "key_skew_profile", _q_key_skew, _KEY_SKEW_SQL, ("warehouse",)
        ),
        "zorder_cluster": Query(
            "zorder_cluster", _q_zorder, _zorder_sql(), ("warehouse",)
        ),
    }
)


# --- table checksum (cross-environment reconciliation) ---------------------
def _canon_row_spark() -> "F.Column":
    return F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("bigint"),
        F.unix_timestamp("o_orderdate"),
        F.col("o_orderpriority"),
    )


def table_checksum(orders: DataFrame) -> DataFrame:
    """Order-independent content fingerprint per partition-ish group:
    bit_xor of a 60-bit md5 prefix of the canonical row string. XOR is the
    right combiner at scale — commutative/associative (partial-aggregates
    map-side), overflow-free, and any single changed row flips the result.
    The canonical string uses only exactly-representable atoms (ints,
    cents, epoch seconds, enums) so both engines render identical bytes.
    This is the "compare prod vs migrated copy without moving data" job."""
    h = F.conv(F.substring(F.md5(_canon_row_spark()), 1, 15), 16, 10).cast("bigint")
    return (
        orders.withColumn("_h", h)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
    )


def _q_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_checksum(read_table(spark, sf_dir, "orders"))


_CHECKSUM_SQL = """
WITH h AS (
  SELECT o_orderstatus,
         CAST('0x' || substring(md5(concat_ws('|',
              CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
              o_orderstatus,
              CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
              CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) AS VARCHAR),
              o_orderpriority)), 1, 15) AS BIGINT) AS h
  FROM orders)
SELECT o_orderstatus, count(*) AS n_rows, bit_xor(h) AS checksum
FROM h GROUP BY o_orderstatus
"""


# --- snapshot diff (reconciliation between two table versions) -------------
def snapshot_diff(old: DataFrame, new: DataFrame, key: str, cmp: str) -> DataFrame:
    """Full-outer-join reconciliation: rows added / removed / changed /
    unchanged between two snapshots, counted per status. One shuffle on the
    key for the join, one tiny agg."""
    o = old.select(F.col(key).alias("k"), F.col(cmp).alias("v_old"))
    n = new.select(F.col(key).alias("k"), F.col(cmp).alias("v_new"))
    j = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("v_old").isNull(), "added")
        .when(F.col("v_new").isNull(), "removed")
        .when(F.col("v_old") != F.col("v_new"), "changed")
        .otherwise("unchanged")
    )
    return j.groupBy(status.alias("status")).agg(F.count("*").alias("n_rows"))


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    # deterministic synthetic "yesterday vs today": keys ≡0 (mod 97) appear
    # only today (added); keys ≡0 (mod 89) changed price today
    old = orders.filter(F.col("o_orderkey") % 97 != 0)
    new = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 10.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, "o_orderkey", "o_totalprice")


_SNAPSHOT_DIFF_SQL = """
WITH old AS (SELECT o_orderkey AS k, o_totalprice AS v_old FROM orders
             WHERE o_orderkey % 97 <> 0),
new AS (SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0e1
                    ELSE o_totalprice END AS v_new
        FROM orders),
j AS (SELECT v_old, v_new FROM old FULL OUTER JOIN new USING (k))
SELECT CASE WHEN v_old IS NULL THEN 'added'
            WHEN v_new IS NULL THEN 'removed'
            WHEN v_old <> v_new THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*) AS n_rows
FROM j GROUP BY 1
"""


# --- rolling regression slope ----------------------------------------------
BETA_W = 20


def rolling_beta(ev: DataFrame, window_rows: int = BETA_W) -> DataFrame:
    """Rolling least-squares slope of value over the last `window_rows`
    events per user, with the event INDEX as the regressor (trend per
    event). Using the row index keeps every sum over small exact integers —
    the numerically-stable formulation; raw epoch-seconds regressors
    (x² ≈ 10¹⁸) would lose the cancellation n·Σx² − (Σx)² to float error.
    Both windows (row_number, frame sums) share one user_id partitioning —
    a single Exchange."""
    w0 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w0.rowsBetween(-(window_rows - 1), 0)
    df = ev.withColumn("x", (F.row_number().over(w0) - 1).cast("double"))
    n = F.count("*").over(wf).cast("double")
    sx = F.sum("x").over(wf)
    sy = F.sum("value").over(wf)
    sxy = F.sum(F.col("x") * F.col("value")).over(wf)
    sxx = F.sum(F.col("x") * F.col("x")).over(wf)
    den = n * sxx - sx * sx
    return df.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("value"),
        F.when(den > 0, (n * sxy - sx * sy) / den).alias("beta"),
    )


def _q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(rolling_beta(read_table(spark, sf_dir, "events")), "value", "beta")


_ROLLING_BETA_SQL = f"""
WITH d AS (
  SELECT event_id, user_id, ts, value,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS DOUBLE) AS x
  FROM events),
s AS (
  SELECT event_id, user_id, ts, value,
         CAST(count(*) OVER w AS DOUBLE) AS n,
         sum(x) OVER w AS sx, sum(value) OVER w AS sy,
         sum(x * value) OVER w AS sxy, sum(x * x) OVER w AS sxx
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {BETA_W - 1} PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       (round((value) + 1.0e-9,6)+0.0e0) AS value,
       CASE WHEN n * sxx - sx * sx > 0
            THEN (round(((n * sxy - sx * sy) / (n * sxx - sx * sx)) + 1.0e-9,6)+0.0e0)
            END AS beta
FROM s
"""


_REGISTRY.update(
    {
        "orders_checksum": Query(
            "orders_checksum", _q_checksum, _CHECKSUM_SQL, ("warehouse",)
        ),
        "snapshot_diff": Query(
            "snapshot_diff", _q_snapshot_diff, _SNAPSHOT_DIFF_SQL, ("warehouse",)
        ),
        "ev_rolling_beta": Query(
            "ev_rolling_beta", _q_rolling_beta, _ROLLING_BETA_SQL, ("tsdb",)
        ),
    }
)


# --- portable sketches ------------------------------------------------------
def _q_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sketches

    ev = read_table(spark, sf_dir, "events")
    parts = []
    for name, key in (("user_id", "user_id"), ("event_id", "event_id")):
        est = sketches.hll_distinct(ev, key)
        exact = ev.agg(F.countDistinct(key).alias("exact_n"))
        parts.append(
            est.crossJoin(exact).select(
                F.lit(name).alias("key_name"),
                F.col("est"),
                F.col("exact_n"),
                ((F.col("est") - F.col("exact_n")) / F.col("exact_n")).alias("rel_err"),
            )
        )
    out = parts[0].unionByName(parts[1])
    return roundn(out, 6, "est", "rel_err")


def _hll_sql() -> str:
    from . import sketches

    parts = []
    for name, key in (("user_id", "user_id"), ("event_id", "event_id")):
        regs = sketches.hll_registers_sql(key, "events", sketches._duck_hexparse)
        est = sketches.hll_estimate_sql(regs)
        parts.append(
            f"""
SELECT '{name}' AS key_name,
       (round((est) + 1.0e-9,6)+0.0e0) AS est,
       (SELECT count(DISTINCT {key}) FROM events) AS exact_n,
       (round(((est - (SELECT count(DISTINCT {key}) FROM events))
               / (SELECT count(DISTINCT {key}) FROM events)) + 1.0e-9,6)+0.0e0) AS rel_err
FROM ({est})"""
        )
    return "\nUNION ALL\n".join(parts)


def _q_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sketches

    docs = read_table(spark, sf_dir, "documents")
    return sketches.cms_estimate_tokens(docs)


def _cms_sql() -> str:
    from . import sketches

    return sketches.cms_tokens_sql()


_REGISTRY.update(
    {
        "hll_cardinality": Query(
            "hll_cardinality", _q_hll, _hll_sql(), ("sketch",)
        ),
        "cms_token_freq": Query(
            "cms_token_freq", _q_cms, _cms_sql(), ("sketch",)
        ),
    }
)


def _q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sketches

    ev = read_table(spark, sf_dir, "events")
    out = sketches.kmv_set_ops(ev, "user_id", "event_type", "purchase", "error")
    return roundn(out, 6, "est_a", "est_b", "est_union", "est_intersection")


def _kmv_set_ops_sql() -> str:
    from . import sketches

    inner = sketches.kmv_set_ops_sql("user_id", "events", "event_type", "purchase", "error")
    return f"""
SELECT (round((est_a) + 1.0e-9,6)+0.0e0) AS est_a,
       (round((est_b) + 1.0e-9,6)+0.0e0) AS est_b,
       (round((est_union) + 1.0e-9,6)+0.0e0) AS est_union,
       (round((est_intersection) + 1.0e-9,6)+0.0e0) AS est_intersection
FROM ({inner})
"""


def _q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sketches

    ev = read_table(spark, sf_dir, "events")
    out = sketches.hll_set_ops(ev, "user_id", "event_type", "purchase", "error")
    return roundn(out, 6, "est_a", "est_b", "est_union", "est_intersection")


def _hll_set_ops_sql() -> str:
    from . import sketches

    inner = sketches.hll_set_ops_sql("user_id", "events", "event_type", "purchase", "error")
    return f"""
SELECT (round((est_a) + 1.0e-9,6)+0.0e0) AS est_a,
       (round((est_b) + 1.0e-9,6)+0.0e0) AS est_b,
       (round((est_union) + 1.0e-9,6)+0.0e0) AS est_union,
       (round((est_intersection) + 1.0e-9,6)+0.0e0) AS est_intersection
FROM ({inner})
"""


_REGISTRY.update(
    {
        "hll_set_ops": Query(
            "hll_set_ops", _q_hll_set_ops, _hll_set_ops_sql(), ("sketch",)
        ),
        "kmv_set_ops": Query(
            "kmv_set_ops", _q_kmv_set_ops, _kmv_set_ops_sql(), ("sketch",)
        ),
    }
)


def _q_dd_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sketches

    ev = read_table(spark, sf_dir, "events")
    out = sketches.dd_quantiles(ev, "value")
    return roundn(out, 6, "est")


def _dd_quantiles_sql() -> str:
    from . import sketches

    inner = sketches.dd_quantiles_sql("value", "events")
    return f"""
SELECT q, (round((est) + 1.0e-9,6)+0.0e0) AS est, n
FROM ({inner}) ORDER BY q
"""


def _q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sketches

    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders")
    return sketches.bloom_prune(cust, orders, "c_custkey", "o_custkey")


def _bloom_prune_sql() -> str:
    from . import sketches

    return sketches.bloom_prune_sql(
        "customer", "c_custkey", "c_mktsegment = 'BUILDING'", "orders", "o_custkey"
    )


_REGISTRY.update(
    {
        "dd_quantiles": Query(
            "dd_quantiles", _q_dd_quantiles, _dd_quantiles_sql(), ("sketch",)
        ),
        "bloom_prune": Query(
            "bloom_prune", _q_bloom_prune, _bloom_prune_sql(), ("sketch",)
        ),
    }
)


def _q_dd_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sketches

    out = sketches.dd_quantiles_by(read_table(spark, sf_dir, "events"), "event_type", "value")
    return roundn(out, 6, "est")


def _dd_by_type_sql() -> str:
    from . import sketches

    inner = sketches.dd_quantiles_by_sql("event_type", "value", "events")
    return f"""
SELECT grp, q, (round((est) + 1.0e-9,6)+0.0e0) AS est FROM ({inner}) ORDER BY grp, q
"""


_REGISTRY.update(
    {
        "dd_quantiles_by_type": Query(
            "dd_quantiles_by_type", _q_dd_by_type, _dd_by_type_sql(), ("sketch",)
        ),
    }
)


def _q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate equi-depth binning WITHOUT a global sort: decile
    # boundaries come from the DDSketch (constant-size state), then every
    # event is assigned bucket = 1 + #boundaries below it via a broadcast
    # join against the 9-row boundary table — the scalable substitute for
    # ntile(10) OVER (ORDER BY value), whose global sort is a single
    # reducer at 100 TB. Both engines derive identical boundaries, so even
    # this approximate operator hash-checks.
    from . import sketches

    ev = read_table(spark, sf_dir, "events")
    qs = tuple(i / 10.0 for i in range(1, 10))
    pos = ev.filter(F.col("value") > 0)
    buckets = (
        pos.select(F.expr(sketches._dd_bucket("value")).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
    )
    bounds = sketches.dd_probe_buckets(buckets, qs).select(
        sketches.dd_estimate_col().alias("bound")
    )
    assigned = (
        pos.crossJoin(F.broadcast(bounds))
        .groupBy("event_id")
        .agg(
            (1 + F.sum((F.col("bound") < F.col("value")).cast("long"))).alias("decile")
        )
    )
    out = assigned.groupBy("decile").agg(F.count("*").alias("n_events"))
    return canon_types(out.orderBy("decile"))


def _value_deciles_sql() -> str:
    from . import sketches

    qs = tuple(i / 10.0 for i in range(1, 10))
    qrows = " UNION ALL ".join(f"SELECT {sketches.E.NUM(q)} AS q" for q in qs)
    g = sketches.E.NUM(sketches.DD_GAMMA)
    return f"""
WITH pos AS (SELECT event_id, value FROM events WHERE value > 0),
buckets AS (SELECT {sketches._dd_bucket('value')} AS b, count(*) AS cnt
            FROM pos GROUP BY 1),
cum AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum, sum(cnt) OVER () AS total
        FROM buckets),
qs AS ({qrows}),
probe AS (
  SELECT q, min(b) AS b FROM qs JOIN cum
    ON cum >= CAST(ceiling(q * total) AS BIGINT) GROUP BY q),
bounds AS (SELECT 2.0e0 * pow({g}, b) / ({g} + 1.0e0) AS bound FROM probe),
assigned AS (
  SELECT event_id,
         1 + CAST(sum(CASE WHEN bound < value THEN 1 ELSE 0 END) AS BIGINT) AS decile
  FROM pos CROSS JOIN bounds GROUP BY event_id)
SELECT decile, count(*) AS n_events FROM assigned GROUP BY decile ORDER BY decile
"""


_REGISTRY.update(
    {
        "ev_value_deciles": Query(
            "ev_value_deciles", _q_value_deciles, _value_deciles_sql(), ("sketch",)
        ),
    }
)


def _q_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental distinct counting: per-day HLL register tables, plus the
    # ALL-days estimate from MERGING the daily registers (max per bucket) —
    # the daily-batch pattern where yesterday's sketch is never recomputed
    from . import sketches

    ev = read_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    regs = sketches.hll_registers(ev, "user_id", "day")
    regs = regs.localCheckpoint(eager=False)
    daily = sketches._estimate_from_regs(regs, ["grp"])
    merged = (
        regs.groupBy("bucket").agg(F.max("rank").alias("rank"))
        .withColumn("grp", F.lit("__all__"))
    )
    total = sketches._estimate_from_regs(merged, ["grp"])
    out = daily.unionByName(total).select(F.col("grp").alias("day"), "est")
    return roundn(out.orderBy("day"), 6, "est")


def _hll_daily_sql() -> str:
    from . import sketches

    h = sketches._hash48("user_id", sketches._duck_hexparse)
    m = sketches.HLL_M
    vbits = sketches.HASH_BITS - sketches.HLL_P
    a = sketches.E.NUM(sketches.HLL_ALPHA)
    rank = sketches._rank_case(f"CAST((hh - (hh % {m})) / {m} AS BIGINT)", vbits)
    est = (
        f"CASE WHEN raw <= {sketches.E.NUM(2.5 * m)} AND zeros > 0 "
        f"THEN {m}.0e0 * ln({m}.0e0 / zeros) ELSE raw END"
    )
    agg = (
        f"{a} * {m}.0e0 * {m}.0e0 / (sum(pow(2.0e0, -rank)) + ({m} - count(*))) AS raw, "
        f"({m} - count(*)) + sum(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS zeros"
    )
    return f"""
WITH src AS (SELECT strftime(ts, '%Y-%m-%d') AS day, {h} AS hh FROM events),
regs AS (
  SELECT day, hh % {m} AS bucket, max({rank}) AS rank
  FROM src GROUP BY day, bucket),
daily AS (
  SELECT day, {est} AS est FROM (SELECT day, {agg} FROM regs GROUP BY day)),
mregs AS (SELECT bucket, max(rank) AS rank FROM regs GROUP BY bucket),
mtotal AS (SELECT '__all__' AS day, {est} AS est FROM (SELECT {agg} FROM mregs))
SELECT day, (round((est) + 1.0e-9,6)+0.0e0) AS est
FROM (SELECT * FROM daily UNION ALL SELECT * FROM mtotal) ORDER BY day
"""


def _q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distribution-drift monitor: split the embedding corpus into two
    # deterministic halves (hash split = "yesterday vs today"), compare
    # per-label centroids by cosine — the data-quality check run before
    # (re)training on a new batch. Two partial-agged passes + a 1-row-per-
    # label join; everything else is array arithmetic.
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    half = (F.col("vec_id") % 2).alias("half")
    e = emb.select("vec_id", F.col("label").cast("bigint").alias("label"), half, v.alias("v"))
    pos = e.select("label", "half", F.posexplode("v").alias("pos", "x"))
    cents = (
        pos.groupBy("label", "half", "pos")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label", "half")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
        .select("label", "half", F.col("pc.cx").alias("c"))
    )
    a = cents.filter(F.col("half") == 0).select("label", F.col("c").alias("ca"))
    b = cents.filter(F.col("half") == 1).select("label", F.col("c").alias("cb"))
    dot = F.expr("aggregate(zip_with(ca, cb, (x, y) -> x * y), 0.0e0, (acc, x) -> acc + x)")
    na = F.sqrt(F.expr("aggregate(transform(ca, x -> x * x), 0.0e0, (acc, x) -> acc + x)"))
    nb = F.sqrt(F.expr("aggregate(transform(cb, x -> x * x), 0.0e0, (acc, x) -> acc + x)"))
    out = a.join(b, "label").select(
        "label", (dot / (na * nb)).alias("centroid_cos")
    )
    return roundn(out.orderBy("label"), 4, "centroid_cos")


_EMBED_DRIFT_SQL = """
WITH e AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
pos AS (
  SELECT label, half, unnest(v) AS x,
         unnest(range(1, len(v) + 1)) AS pos
  FROM e),
cents AS (
  SELECT label, half, list(avg_x ORDER BY pos) AS c
  FROM (SELECT label, half, pos, avg(x) AS avg_x FROM pos GROUP BY label, half, pos)
  GROUP BY label, half)
SELECT a.label,
       (round((list_dot_product(a.c, b.c)
               / (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c)))) + 1.0e-9,4)+0.0e0) AS centroid_cos
FROM (SELECT label, c FROM cents WHERE half = 0) a
JOIN (SELECT label, c FROM cents WHERE half = 1) b USING (label)
ORDER BY a.label
"""


_REGISTRY.update(
    {
        "hll_daily_users": Query(
            "hll_daily_users", _q_hll_daily, _hll_daily_sql(), ("sketch",)
        ),
        "embed_drift": Query(
            "embed_drift", _q_embed_drift, _EMBED_DRIFT_SQL, ("similarity",)
        ),
    }
)


def _q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    # join-size estimation WITHOUT running the join (Alon-Matias-Szegedy /
    # Cormode-Muthukrishnan): |A ⋈ B on k| = Σ_k n_A(k)·n_B(k), estimated
    # by the inner product of the two sides' count-min rows (min over the
    # d rows is the classic upper-bound estimate). Each side reduces to
    # d·w counters; the estimate is a d·w-row join of two TINY tables —
    # the cardinality the optimizer wants before picking a join strategy,
    # at sketch cost. Exact value beside it; integers, hash-exact.
    from . import sketches

    ev = read_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    od = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))

    def counters(d: DataFrame) -> DataFrame:
        x = sketches._hash48("k", sketches._spark_hexparse)
        return (
            d.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("row"),
                                F.expr(sketches._cms_cell(i, x)).alias("cell"),
                            )
                            for i in range(sketches.CMS_D)
                        ]
                    )
                ).alias("rc")
            )
            .select("rc.row", "rc.cell")
            .groupBy("row", "cell")
            .agg(F.count("*").alias("cnt"))
        )
    ca, cb = counters(ev), counters(od)
    est = (
        ca.withColumnRenamed("cnt", "ca")
        .join(cb.withColumnRenamed("cnt", "cb"), ["row", "cell"])
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("row_est"))
        .agg(F.min("row_est").alias("est_join_size"))
    )
    exact = (
        ev.groupBy("k").agg(F.count("*").alias("na"))
        .join(od.groupBy("k").agg(F.count("*").alias("nb")), "k")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("exact_join_size"))
    )
    out = est.crossJoin(exact).select(
        "est_join_size",
        "exact_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).alias("overcount"),
    )
    return canon_types(out)


def _cms_join_size_sql() -> str:
    from . import sketches

    x = sketches._hash48("k", sketches._duck_hexparse)

    def cells(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {i} AS row, {sketches._cms_cell(i, x)} AS cell FROM {src}"
            for i in range(sketches.CMS_D)
        )
    return f"""
WITH a AS (SELECT user_id AS k FROM events),
b AS (SELECT o_custkey AS k FROM orders),
ca AS (SELECT row, cell, count(*) AS ca FROM ({cells('a')}) GROUP BY row, cell),
cb AS (SELECT row, cell, count(*) AS cb FROM ({cells('b')}) GROUP BY row, cell),
est AS (
  SELECT CAST(min(row_est) AS BIGINT) AS est_join_size FROM (
    SELECT row, sum(ca * cb) AS row_est FROM ca JOIN cb USING (row, cell)
    GROUP BY row)),
ex AS (
  SELECT CAST(sum(na * nb) AS BIGINT) AS exact_join_size FROM
    (SELECT k, count(*) AS na FROM a GROUP BY k) x
    JOIN (SELECT k, count(*) AS nb FROM b GROUP BY k) y USING (k))
SELECT est_join_size, exact_join_size,
       est_join_size - exact_join_size AS overcount
FROM est CROSS JOIN ex
"""


_REGISTRY.update(
    {
        "cms_join_size": Query(
            "cms_join_size", _q_cms_join_size, _cms_join_size_sql(), ("sketch",)
        ),
    }
)
