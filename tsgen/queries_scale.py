"""Scale-idiom operators: the distributed building blocks every 100 TB
pipeline eventually needs, each expressed WITHOUT the single-reducer trap
its naive SQL form implies.

- global_row_ids: dense 0-based global index in key order. The naive
  `row_number() OVER (ORDER BY key)` funnels the whole table through ONE
  task; the scalable form is range-partition → per-partition counts (tiny)
  → prefix-sum offsets (window over #partitions rows) → offset + local
  row_number. Both shuffles touch uniform partitions; no task ever sees
  more than its slice. (The DuckDB oracle IS the naive form — same answer.)
- stratified_sample: exact-k-per-stratum deterministic sample. Strata are
  LOW-cardinality (event types, languages), so a single per-stratum window
  would funnel whole strata through single tasks; the scalable form is a
  two-phase top-k over a slim (stratum, key, u) projection — per-(stratum,
  input-partition) rank, then a bounded per-stratum re-rank, then a
  broadcast join-back of the winning keys. Order is a portable hash
  u01(key), so the "random" sample is reproducible across engines,
  retries, and partitionings — the property `df.sample()` cannot give.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E
from .io import read_table
from .queries import _REGISTRY, Query, canon_types, round6


def global_row_ids(df: DataFrame, key: str, partitions: int | None = None) -> DataFrame:
    """Adds `rid`: the 0-based dense index of each row in global `key` order.

    Range-partitioning gives partition i keys strictly below partition i+1,
    so rid = (rows in partitions < i) + local rank. The per-partition count
    table has one row per partition — its prefix-sum window is bounded work
    no matter the table size. The second window (local rank) re-shuffles on
    the partition id, which is uniform by construction of the range split.
    Requires `key` to be unique (callers pass the table's primary key).
    """
    n = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    d = df.repartitionByRange(int(n), F.col(key)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # pin ONE materialization of the range exchange: its boundaries come from
    # sampling, so the counts job and the join branch must not re-derive them
    # independently (offsets would describe a different partitioning).
    # Cluster equivalent: persist() or a real checkpoint.
    d = d.localCheckpoint(eager=False)
    counts = d.groupBy("_pid").agg(F.count("*").alias("_n"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0)))
    local = F.row_number().over(Window.partitionBy("_pid").orderBy(key))
    return (
        d.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .withColumn("rid", (F.col("_off") + local - 1).cast("bigint"))
        .drop("_pid", "_off")
    )


def _ranged(df: DataFrame, order_cols, weight: str | None = None):
    """Shared two-phase total-order scaffold: range-partition on the sort
    expressions, pin the sampled boundaries, and return (pinned_df_with_pid,
    offsets) where `_off` is the count (or sum of `weight`) in all strictly
    earlier partitions. The offsets table has one row per partition, so its
    prefix-sum window is bounded work at any table size."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = df.repartitionByRange(n, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.localCheckpoint(eager=False)  # see global_row_ids: pin the sampled split
    agg = F.count("*") if weight is None else F.sum(weight)
    counts = d.groupBy("_pid").agg(agg.alias("_n"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0)))
    return d, offsets


def ntile_exact(df: DataFrame, k: int, order_cols, out: str) -> DataFrame:
    """`ntile(k) OVER (ORDER BY order_cols)` without the single-reducer
    global sort: global rank = partition offset + local row_number (the
    global_row_ids two-phase shape), then the SQL ntile bucket is pure
    arithmetic on (rank, n, k) — first n%k tiles get ceil(n/k) rows.
    Exactly matches ntile output for a total (tie-broken) ordering, so the
    DuckDB oracle can keep using plain ntile. VERDICT r03 items 3+4."""
    d, offsets = _ranged(df, order_cols)
    tot = offsets.agg(F.sum("_n").alias("_tot"))
    local = F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols))
    d = (
        d.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .crossJoin(F.broadcast(tot))
        .withColumn("_rk", (F.col("_off") + local).cast("bigint"))
    )
    q = F.floor(F.col("_tot") / k)
    rem = F.col("_tot") % k
    big = q + 1
    cutoff = rem * big
    tile = F.when(
        F.col("_rk") <= cutoff, F.floor((F.col("_rk") - 1) / big) + 1
    ).otherwise(rem + F.floor((F.col("_rk") - cutoff - 1) / q) + 1)
    return d.withColumn(out, tile.cast("int")).drop("_pid", "_off", "_tot", "_rk")


def cumsum_exact(df: DataFrame, val: str, order_cols, out: str) -> DataFrame:
    """`sum(val) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING)` as
    two-phase: per-partition running sum + broadcast prefix offsets over the
    partition-count table. Same shape as ntile_exact with a sum weight."""
    d, offsets = _ranged(df, order_cols, weight=val)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .withColumn(out, F.col("_off") + F.sum(val).over(w))
        .drop("_pid", "_off")
    )


def stratified_rank(df: DataFrame, stratum: str, order_cols, out: str = "rk") -> DataFrame:
    """`row_number() OVER (PARTITION BY stratum ORDER BY order_cols)` without
    single-task strata — the per-stratum generalization of global_row_ids.

    A plain Window.partitionBy(stratum) shuffles each ENTIRE stratum to one
    task; with low-cardinality strata (event types, languages) that is a
    handful of tasks sorting billions of rows each at 100 TB. Instead:
    range-partition the WHOLE table on the order columns (strata stay
    interleaved across uniform partitions), count rows per
    (partition, stratum) — a bounded |partitions| x |strata| table — then
    per-stratum prefix-sum those counts for offsets, and add each row's
    local (partition, stratum) rank. Requires `order_cols` to be a total
    order (tie-broken), same contract as ntile_exact; equal sort keys land
    in one range partition, so offset + local rank is exact."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = df.repartitionByRange(n, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.localCheckpoint(eager=False)  # pin the sampled range split (see global_row_ids)
    counts = d.groupBy("_pid", stratum).agg(F.count("*").alias("_n"))
    off_w = (
        Window.partitionBy(stratum).orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0)))
    local = F.row_number().over(Window.partitionBy("_pid", stratum).orderBy(*order_cols))
    return (
        d.join(F.broadcast(offsets.select("_pid", stratum, "_off")), ["_pid", stratum])
        .withColumn(out, (F.col("_off") + local).cast("bigint"))
        .drop("_pid", "_off")
    )


def stratified_percentiles(
    df: DataFrame, stratum: str, val: str, ps, names
) -> DataFrame:
    """Exact interpolated percentiles per stratum WITHOUT `percentile()`'s
    per-group buffer (the built-in exact percentile materializes EVERY
    group value inside one aggregation buffer — a single-task memory wall
    when strata are low-cardinality and corpus-sized).

    Each percentile p is two ORDER STATISTICS: with n non-null values and
    h = 1 + (n-1)·p (1-based), the result is
    v_lo + (h - floor(h)) · (v_hi - v_lo) where v_lo/v_hi are the values
    at ranks floor(h)/ceil(h) — the same formula percentile() /
    quantile_cont evaluate. Ranks come from the stratified_rank scaffold;
    ties are left unbroken on purpose (the k-th smallest VALUE is
    well-defined however equal values order among themselves).
    → one row per stratum: (stratum, *names)."""
    d = df.select(stratum, val).where(F.col(val).isNotNull())
    counts = d.groupBy(stratum).agg(F.count("*").alias("_n"))
    ranked = stratified_rank(d, stratum, [F.asc(val)], out="_rn")
    j = ranked.join(F.broadcast(counts), stratum)
    need = None
    aggs = []
    for p, name in zip(ps, names):
        h = F.lit(1.0) + (F.col("_n") - 1) * F.lit(float(p))
        rlo = F.floor(h).cast("bigint")
        rhi = F.ceil(h).cast("bigint")
        hit = (F.col("_rn") == rlo) | (F.col("_rn") == rhi)
        need = hit if need is None else (need | hit)
        vlo = F.max(F.when(F.col("_rn") == rlo, F.col(val)))
        vhi = F.max(F.when(F.col("_rn") == rhi, F.col(val)))
        frac = F.first(h - rlo.cast("double"))
        aggs.append((vlo + frac * (vhi - vlo)).alias(name))
    return j.where(need).groupBy(stratum).agg(*aggs)


def _q_stratified_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = stratified_rank(
        ev, "event_type", [F.desc("value"), F.asc("event_id")], out="rk"
    ).select("event_id", "event_type", "rk")
    return canon_types(out)


_STRATIFIED_RANK_SQL = """
SELECT event_id, event_type,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY value DESC, event_id ASC) AS rk
FROM events
"""


def _q_global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    return canon_types(global_row_ids(ev, "event_id").select("event_id", "user_id", "rid"))


_GLOBAL_ROW_IDS_SQL = """
SELECT event_id, user_id,
       row_number() OVER (ORDER BY event_id) - 1 AS rid
FROM events
"""


SAMPLE_K = 50
SAMPLE_SALT = 4243


def stratified_sample(
    df: DataFrame, stratum: str, key: str, k: int = SAMPLE_K, salt: int = SAMPLE_SALT
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by portable-hash
    order — deterministic equal-probability sampling without a global sort.
    `key` must be unique (it seeds the hash and breaks ranking ties).

    Scale shape (r9): a single Window.partitionBy(stratum) would funnel
    each ENTIRE stratum through one task (strata are low-cardinality:
    event types, languages, sources — billions of rows each at 100 TB).
    Instead: (1) rank a slim (stratum, key, u) projection per
    (stratum, input-partition) — parallelism = |strata| x |partitions|,
    shuffle carries ~24-byte rows; (2) re-rank the surviving
    |strata| x |partitions| x k candidates per stratum — bounded; (3)
    broadcast the <= |strata| x k winning keys back onto the full table.
    Per-partition top-k is a superset of the global top-k, so the output
    is EXACTLY the rows the single-window form selects, independent of
    partitioning (retry-safe)."""
    u = F.expr(E.u01(key, salt))
    slim = (
        df.select(stratum, key)
        .withColumn("_u", u)
        .withColumn("_pid", F.spark_partition_id())
    )
    w1 = Window.partitionBy(stratum, "_pid").orderBy(F.col("_u").asc(), F.col(key).asc())
    cand = slim.withColumn("_rk", F.row_number().over(w1)).filter(F.col("_rk") <= k)
    w2 = Window.partitionBy(stratum).orderBy(F.col("_u").asc(), F.col(key).asc())
    sel = (
        cand.withColumn("_rk2", F.row_number().over(w2))
        .filter(F.col("_rk2") <= k)
        .select(stratum, key)
    )
    return df.join(F.broadcast(sel), [stratum, key])


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = stratified_sample(ev, "event_type", "event_id").select(
        "event_id", "user_id", "event_type", "value"
    )
    return round6(out, "value")


_STRATIFIED_SAMPLE_SQL = f"""
SELECT event_id, user_id, event_type, (round((value) + 1.0e-9,6)+0.0e0) AS value
FROM (
  SELECT event_id, user_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY {E.u01("event_id", SAMPLE_SALT)} ASC, event_id ASC) AS rk
  FROM events)
WHERE rk <= {SAMPLE_K}
"""


_REGISTRY.update(
    {
        "global_row_ids": Query(
            "global_row_ids", _q_global_row_ids, _GLOBAL_ROW_IDS_SQL, ("scale",)
        ),
        "stratified_sample": Query(
            "stratified_sample", _q_stratified_sample, _STRATIFIED_SAMPLE_SQL, ("scale",)
        ),
        "stratified_rank": Query(
            "stratified_rank", _q_stratified_rank, _STRATIFIED_RANK_SQL, ("scale",)
        ),
    }
)


WS_K = 100
WS_SALT = 9176


def weighted_sample(
    df: DataFrame, key: str, weight: str, k: int = WS_K, salt: int = WS_SALT
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis 2006):
    each row draws u = u01(key) and ranks by u^(1/w) — the top-k ranks ARE
    a weighted sample without replacement. One TakeOrderedAndProject pass
    (per-partition local top-k, merge k rows), no global sort, and the
    portable hash makes the draw reproducible across engines/retries —
    the sampling primitive for quality-weighted corpus subsetting."""
    score = F.pow(F.expr(E.u01(key, salt)), 1.0 / F.col(weight))
    return (
        df.withColumn("_ws", score)
        .orderBy(F.desc("_ws"), F.asc(key))
        .limit(k)
        .drop("_ws")
    )


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quality-weighted doc sampling: weight = n_chars (longer docs likelier)
    docs = read_table(spark, sf_dir, "documents")
    out = weighted_sample(docs, "doc_id", "n_chars").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return canon_types(out)


_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, n_chars FROM (
  SELECT doc_id, lang, source, n_chars,
         pow({E.u01("doc_id", WS_SALT)}, 1.0e0 / n_chars) AS ws
  FROM documents)
ORDER BY ws DESC, doc_id ASC LIMIT {WS_K}
"""

_REGISTRY.update(
    {
        "weighted_sample": Query(
            "weighted_sample", _q_weighted_sample, _WEIGHTED_SAMPLE_SQL, ("scale",)
        ),
    }
)


# --- Poisson bootstrap ------------------------------------------------------
BOOT_B = 100
BOOT_SALT = 90121
# Poisson(1) inverse-CDF thresholds: P(X <= k) for k = 0..5; draws beyond
# 5 are clamped to 6 (P ~ 6e-4 — negligible, identical on both engines).
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _pois_w(u: str) -> str:
    """SQL CASE ladder mapping a uniform draw to a Poisson(1) weight."""
    branches = "".join(
        f"WHEN {u} < {E.NUM(c)} THEN {k} " for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches}ELSE 6 END)"


def bootstrap_mean(ev: DataFrame, b: int = BOOT_B) -> DataFrame:
    """Poisson bootstrap CI for the mean event value (Chamandy et al. 2012,
    the only bootstrap that runs in one pass over distributed data): each
    row gets an independent Poisson(1) weight per replica — no resampling
    shuffle, no per-replica pass — and replica b's statistic is the
    weighted mean. The 95% interval is the nearest-rank band over the B
    replica means; SE is their population stddev.

    Scale shape: the replica axis is a broadcast range crossJoin (rows
    expand B-fold MAP-SIDE, pre-shuffle, the documented bootstrap cost);
    ONE partial-agged groupBy reduces to B rows; ranking happens on the
    B-row table. Replica means are rounded to 6dp BEFORE ranking so
    engine fp-association drift cannot reorder the band edges. Weights
    come from the engine-portable LCG, so the oracle replays the exact
    resample."""
    spark = ev.sparkSession
    reps = F.broadcast(spark.range(b).select(F.col("id").alias("rep")))
    key = f"((event_id * 131 + rep) % {E.M31})"
    u = E.u01(key, BOOT_SALT)
    w = _pois_w(u)
    per_rep = (
        ev.select("event_id", "value")
        .crossJoin(reps)
        .withColumn("w", F.expr(w).cast("double"))
        .groupBy("rep")
        .agg(
            (F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("m_raw")
        )
        .withColumn("m", F.round(F.col("m_raw") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    ranked = per_rep.withColumn(
        "rk", F.row_number().over(Window.orderBy("m", "rep"))
    )
    lo_k, hi_k = 3, 98  # nearest-rank 2.5% / 97.5% for B = 100
    point = ev.agg(
        (F.round(F.avg("value") + F.lit(1e-9), 6) + F.lit(0.0)).alias("mean_value")
    )
    out = (
        ranked.agg(
            F.count("*").alias("n_reps"),
            (F.round(F.avg("m") + F.lit(1e-9), 6) + F.lit(0.0)).alias("boot_mean"),
            (
                F.round(
                    F.sqrt(F.avg(F.col("m") * F.col("m")) - F.avg("m") * F.avg("m"))
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("boot_se"),
            F.max(F.when(F.col("rk") == lo_k, F.col("m"))).alias("ci_lo"),
            F.max(F.when(F.col("rk") == hi_k, F.col("m"))).alias("ci_hi"),
        )
        .crossJoin(F.broadcast(point))
    )
    return out


def _q_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bootstrap_mean(read_table(spark, sf_dir, "events"))


def _bootstrap_sql(b: int = BOOT_B) -> str:
    key = f"((event_id * 131 + rep) % {E.M31})"
    u = E.u01(key, BOOT_SALT)
    w = _pois_w(u)
    return f"""
WITH per_rep AS (
  SELECT rep,
         (round(sum(w * value) / sum(w) + 1.0e-9, 6) + 0.0e0) AS m
  FROM (
    SELECT r.rep, e.value, CAST({w} AS DOUBLE) AS w
    FROM events e, range(0, {b}) r(rep))
  GROUP BY rep),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, rep) AS rk FROM per_rep),
point AS (
  SELECT (round(avg(value) + 1.0e-9, 6) + 0.0e0) AS mean_value FROM events)
SELECT count(*) AS n_reps,
       (round(avg(m) + 1.0e-9, 6) + 0.0e0) AS boot_mean,
       (round(sqrt(avg(m * m) - avg(m) * avg(m)) + 1.0e-9, 6) + 0.0e0) AS boot_se,
       max(CASE WHEN rk = 3 THEN m END) AS ci_lo,
       max(CASE WHEN rk = 98 THEN m END) AS ci_hi,
       any_value(mean_value) AS mean_value
FROM ranked CROSS JOIN point
"""


_REGISTRY.update(
    {
        "ev_bootstrap_ci": Query(
            "ev_bootstrap_ci", _q_bootstrap, _bootstrap_sql(), ("stats", "scale")
        ),
    }
)
