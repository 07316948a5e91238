"""Warehouse-maintenance operators, part 2 (extends queries_warehouse.py):

- ev_merge_upsert: the MERGE INTO / upsert pattern — a base profile table
  (per-user aggregate before a cutoff) merged with a delta batch (events
  after the cutoff): matched keys update (counts add, "last" fields take
  the delta side), unmatched delta keys insert, unmatched base keys keep.
  Emulated engine-agnostically as aggregate + FULL OUTER JOIN + coalesce —
  the exact plan a Delta/Iceberg MERGE lowers to when the ON clause is an
  equi-match. A pytest invariant asserts merged == direct full recompute.
- doc_pareto: 2-D Pareto frontier (skyline) over documents — the corpus
  curation question "which docs carry the most distinct vocabulary for the
  fewest tokens". Dominance: q covers >= vocab with <= tokens and is
  strictly better on one axis. Both axes are integers, so cross-engine
  comparison is exact.

Scale notes (100 TB):
- ev_merge_upsert: both sides reduce to one row per key behind a shared
  hash partitioning; the merge is an equi-join of two key-partitioned
  aggregates — one shuffle each, no window over raw data. At petabyte
  scale the delta side is typically tiny -> AQE turns the join broadcast.
- doc_pareto: the frontier is computed by the classic two-phase skyline:
  a per-partition sweep (mapInPandas, O(n log n) local) prunes to each
  partition's local frontier — dominance is transitive, so the global
  frontier is a subset of the union of local frontiers — then the final
  sweep runs on that provably-small candidate set coalesced to one task.
  No quadratic self-join anywhere; the oracle uses the same O(n log n)
  sweep expressed with window functions (max-y per x-group vs running
  strict-prefix max), NOT a NOT-EXISTS O(n^2) scan.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .io import read_table
from .queries import _REGISTRY, Query, round6, roundn

MERGE_CUTOFF = "2024-01-21 00:00:00"


# --- MERGE / upsert --------------------------------------------------------
def _profile(ev: DataFrame) -> DataFrame:
    """Per-user profile: counts + latest event fields. Window and groupBy
    share one user_id partitioning."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max(F.unix_timestamp("ts")).alias("last_ts_s"),
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("last_type"),
        )
    )


def merge_upsert(base: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE base WITH delta ON user_id: update matched (sum counts, delta
    wins the "last" fields), insert delta-only, keep base-only."""
    b = base.select(
        F.col("user_id"),
        F.col("n_events").alias("b_n"),
        F.col("sum_value").alias("b_sum"),
        F.col("last_ts_s").alias("b_ts"),
        F.col("last_type").alias("b_type"),
    )
    d = delta.select(
        F.col("user_id"),
        F.col("n_events").alias("d_n"),
        F.col("sum_value").alias("d_sum"),
        F.col("last_ts_s").alias("d_ts"),
        F.col("last_type").alias("d_type"),
    )
    m = b.join(d, "user_id", "full_outer")
    return m.select(
        "user_id",
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n_events"),
        (F.coalesce("b_sum", F.lit(0.0)) + F.coalesce("d_sum", F.lit(0.0))).alias(
            "sum_value"
        ),
        F.coalesce("d_ts", "b_ts").alias("last_ts_s"),
        F.coalesce("d_type", "b_type").alias("last_type"),
        F.when(F.col("b_n").isNotNull() & F.col("d_n").isNotNull(), F.lit("update"))
        .when(F.col("d_n").isNotNull(), F.lit("insert"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cut = F.lit(MERGE_CUTOFF).cast("timestamp")
    out = merge_upsert(_profile(ev.filter(F.col("ts") < cut)), _profile(ev.filter(F.col("ts") >= cut)))
    return round6(out, "sum_value")


_MERGE_SQL = f"""
WITH prof_b AS (
  SELECT user_id, count(*) AS n_events, sum(value) AS sum_value,
         max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_ts_s,
         max(CASE WHEN rn = 1 THEN event_type END) AS last_type
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{MERGE_CUTOFF}')
  GROUP BY user_id),
prof_d AS (
  SELECT user_id, count(*) AS n_events, sum(value) AS sum_value,
         max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_ts_s,
         max(CASE WHEN rn = 1 THEN event_type END) AS last_type
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '{MERGE_CUTOFF}')
  GROUP BY user_id)
SELECT coalesce(b.user_id, d.user_id) AS user_id,
       coalesce(b.n_events, 0) + coalesce(d.n_events, 0) AS n_events,
       (round(coalesce(b.sum_value, 0.0e0) + coalesce(d.sum_value, 0.0e0)
              + 1.0e-9, 6) + 0.0e0) AS sum_value,
       coalesce(d.last_ts_s, b.last_ts_s) AS last_ts_s,
       coalesce(d.last_type, b.last_type) AS last_type,
       CASE WHEN b.user_id IS NOT NULL AND d.user_id IS NOT NULL THEN 'update'
            WHEN d.user_id IS NOT NULL THEN 'insert'
            ELSE 'keep' END AS action
FROM prof_b b FULL OUTER JOIN prof_d d ON b.user_id = d.user_id
"""


# --- Pareto frontier (skyline) --------------------------------------------
_PARETO_SCHEMA = "doc_id long, vocab long, n_tokens long"


def _sweep(pdf: pd.DataFrame) -> pd.DataFrame:
    """O(n log n) 2-D skyline sweep: maximize `vocab`, minimize `n_tokens`.
    Survivors: within each n_tokens group, rows at the group-max vocab,
    provided that vocab strictly beats the best vocab among all strictly
    smaller n_tokens (a doc with fewer tokens and >= vocab dominates)."""
    if pdf.empty:
        return pdf
    gy = pdf.groupby("n_tokens")["vocab"].transform("max")
    best = (
        pdf.groupby("n_tokens")["vocab"]
        .max()
        .sort_index()
        .cummax()
        .shift(1, fill_value=-1)
    )
    keep = (pdf["vocab"] == gy) & (pdf["vocab"] > pdf["n_tokens"].map(best))
    return pdf[keep]


def doc_pareto(docs: DataFrame) -> DataFrame:
    """Docs on the vocabulary-vs-length Pareto frontier: no other doc has
    >= distinct tokens with <= total tokens (strict on one axis).
    Two-phase distributed skyline: local sweep per partition, then the
    final sweep over the small union of local frontiers."""
    toks = F.split(F.col("text"), " ")
    pts = docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).cast("long").alias("vocab"),
        F.size(toks).cast("long").alias("n_tokens"),
    )

    def local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _sweep(pdf)

    cand = pts.mapInPandas(local, _PARETO_SCHEMA)
    # global pass: candidates are a union of per-partition frontiers —
    # provably small — so one task finishes the job
    return cand.coalesce(1).mapInPandas(local, _PARETO_SCHEMA)


def _q_doc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_pareto(read_table(spark, sf_dir, "documents"))


_PARETO_SQL = """
WITH pts AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS vocab,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
g AS (SELECT n_tokens, max(vocab) AS gy FROM pts GROUP BY n_tokens),
s AS (
  SELECT n_tokens, gy,
         coalesce(max(gy) OVER (ORDER BY n_tokens ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS best
  FROM g)
SELECT p.doc_id, p.vocab, p.n_tokens
FROM pts p JOIN s ON p.n_tokens = s.n_tokens AND p.vocab = s.gy
WHERE s.gy > s.best
"""


# --- zone-map data skipping --------------------------------------------------
ZM_BUCKETS = 64
ZM_DATE_LO, ZM_DATE_HI = "1995-01-01", "1995-03-31"


def zone_map_skipping(li: DataFrame, n_buckets: int = ZM_BUCKETS) -> DataFrame:
    """Zone-map (file-statistics) data-skipping simulation: bucket the fact
    table into n_buckets pseudo-files by orderkey range, collect per-file
    min/max l_shipdate zone maps, and report how many files/rows a date
    predicate can skip WITHOUT reading them — the Parquet row-group /
    Delta-Iceberg file-pruning arithmetic. High skip ratios require
    clustering the write on the filter column (see zorder_cluster); orders
    are date-correlated with orderkey, so the ratio here is non-trivial.
    One partial-agged aggregation + a 64-row projection."""
    b = F.pmod(F.col("l_orderkey"), n_buckets).alias("bucket")
    zm = li.groupBy(b).agg(
        F.count("*").alias("n_rows"),
        F.min("l_shipdate").alias("min_sd"),
        F.max("l_shipdate").alias("max_sd"),
    )
    hit = (F.col("min_sd") <= F.lit(ZM_DATE_HI)) & (F.col("max_sd") >= F.lit(ZM_DATE_LO))
    agg = zm.agg(
        F.count("*").alias("n_files"),
        F.sum((~hit).cast("long")).alias("files_skipped"),
        F.sum("n_rows").alias("total_rows"),
        F.sum(F.when(~hit, F.col("n_rows")).otherwise(0)).alias("rows_skipped"),
    )
    return agg.select(
        "n_files",
        "files_skipped",
        "total_rows",
        "rows_skipped",
        (F.col("rows_skipped") / F.col("total_rows")).alias("skip_ratio"),
    )


def _q_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return round6(zone_map_skipping(li), "skip_ratio")


_ZONE_MAP_SQL = f"""
WITH zm AS (
  SELECT l_orderkey % {ZM_BUCKETS} AS bucket, count(*) AS n_rows,
         min(l_shipdate) AS min_sd, max(l_shipdate) AS max_sd
  FROM lineitem GROUP BY 1),
agg AS (
  SELECT count(*) AS n_files,
         CAST(sum(CASE WHEN NOT (min_sd <= TIMESTAMP '{ZM_DATE_HI}'
                                 AND max_sd >= TIMESTAMP '{ZM_DATE_LO}')
                       THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
         CAST(sum(n_rows) AS BIGINT) AS total_rows,
         CAST(sum(CASE WHEN NOT (min_sd <= TIMESTAMP '{ZM_DATE_HI}'
                                 AND max_sd >= TIMESTAMP '{ZM_DATE_LO}')
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped
  FROM zm)
SELECT n_files, files_skipped, total_rows, rows_skipped,
       (round((CAST(rows_skipped AS DOUBLE) / total_rows) + 1.0e-9,6)+0.0e0) AS skip_ratio
FROM agg
"""


# --- funnel conversion latency -----------------------------------------------
def funnel_latency(ev: DataFrame, start: str = "view", end: str = "purchase") -> DataFrame:
    """Time-to-convert distribution: for each user, latency from FIRST
    `start` event to the first `end` event after it; exact p50/p90 +
    conversion rate. Two conditional-min aggregations per user (one
    shuffle), percentiles over the small converted-users table."""
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == start, F.unix_micros("ts"))).alias("t0")
    )
    j = (
        ev.join(per_user, "user_id")
        .where(
            (F.col("event_type") == end)
            & F.col("t0").isNotNull()
            & (F.unix_micros("ts") >= F.col("t0"))
        )
        .groupBy("user_id")
        .agg(
            F.first(F.col("t0")).alias("t0"),
            F.min(F.unix_micros("ts")).alias("t1"),
        )
        .withColumn("latency_s", (F.col("t1") - F.col("t0")) / F.lit(1_000_000.0))
    )
    base = per_user.where(F.col("t0").isNotNull()).agg(
        F.count("*").alias("n_started")
    )
    # global exact percentiles as order statistics (r9): latency_s has one
    # row per CONVERTED USER — corpus-scale — so the built-in percentile()
    # would buffer all of them in a single aggregation task. A constant
    # stratum reuses the per-stratum order-statistic machinery.
    from .queries_scale import stratified_percentiles

    j = j.localCheckpoint(eager=False)  # read 3x below (count/mean, ranks, counts)
    pct = stratified_percentiles(
        j.withColumn("_g", F.lit(0)), "_g", "latency_s", [0.5, 0.9], ["p50_s", "p90_s"]
    ).drop("_g")
    stats = j.agg(
        F.count("*").alias("n_converted"),
        F.avg("latency_s").alias("mean_s"),
    )
    out = stats.crossJoin(F.broadcast(pct)).select(
        "n_converted", "p50_s", "p90_s", "mean_s"
    )
    return out.crossJoin(F.broadcast(base)).withColumn(
        "conversion_rate", F.col("n_converted") / F.col("n_started")
    )


def _q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(
        funnel_latency(read_table(spark, sf_dir, "events")),
        "p50_s", "p90_s", "mean_s", "conversion_rate",
    )


_FUNNEL_LATENCY_SQL = """
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t0
  FROM events GROUP BY user_id),
conv AS (
  SELECT e.user_id, any_value(pu.t0) AS t0, min(epoch_us(e.ts)) AS t1
  FROM events e JOIN pu ON pu.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND pu.t0 IS NOT NULL
        AND epoch_us(e.ts) >= pu.t0
  GROUP BY e.user_id),
lat AS (SELECT (t1 - t0) / 1000000.0e0 AS latency_s FROM conv),
base AS (SELECT count(*) AS n_started FROM pu WHERE t0 IS NOT NULL)
SELECT count(*) AS n_converted,
       (round((quantile_cont(latency_s, 0.5e0)) + 1.0e-9,6)+0.0e0) AS p50_s,
       (round((quantile_cont(latency_s, 0.9e0)) + 1.0e-9,6)+0.0e0) AS p90_s,
       (round((avg(latency_s)) + 1.0e-9,6)+0.0e0) AS mean_s,
       base.n_started,
       (round((CAST(count(*) AS DOUBLE) / base.n_started) + 1.0e-9,6)+0.0e0) AS conversion_rate
FROM lat CROSS JOIN base GROUP BY base.n_started
"""


# --- ABC (Pareto) inventory classification ---------------------------------
def abc_analysis(li: DataFrame, a_cut: float = 0.7, b_cut: float = 0.9) -> DataFrame:
    """ABC classification of parts by revenue contribution: rank parts by
    revenue, cumulative revenue share, class A (first 70%), B (to 90%),
    C (tail). The cumulative window runs over the part DIM *after* the
    fact-side aggregation (same documented cost class as rfm_segments'
    exact quartiles) — the lineitem scan itself partial-aggregates on
    l_partkey. → (abc_class, n_parts, revenue, rev_share)."""
    from .queries_scale import cumsum_exact

    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    # VERDICT r03 item 4: the naive form is a global revenue-ranked
    # cumulative window — single reducer over the whole part dim. Two-phase
    # instead: range-partition by (rev desc, partkey), per-partition running
    # sum + broadcast prefix offsets. Same values, no total sort.
    tot = rev.agg(F.sum("rev").alias("tot"))
    ranked = cumsum_exact(
        rev, "rev", [F.col("rev").desc(), F.col("l_partkey").asc()], "cum_rev"
    )
    # ADVICE r04: round cum_share (9dp, +nudge) BEFORE the cutoff compare —
    # cumsum_exact's offsets are sums of partition sums, so float-addition
    # order differs from the oracle's sequential running sum; a share landing
    # within an ulp of 0.7/0.9 could classify differently across engines.
    ranked = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share",
        F.round(F.col("cum_rev") / F.col("tot") + F.lit(1.0e-12), 9),
    )
    cls = (
        F.when(F.col("cum_share") <= a_cut, F.lit("A"))
        .when(F.col("cum_share") <= b_cut, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    out = ranked.withColumn("abc_class", cls).groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        # revenue in MILLIONS: class totals aggregate most of the fact
        # table, and absolute 4dp rounding on an O(1e10) sum is inside the
        # engines' summation-order noise at sf>=0.1 — scale the unit, not
        # the precision
        (F.sum("rev") / F.lit(1.0e6)).alias("revenue_m"),
        (F.sum("rev") / F.first("tot")).alias("rev_share"),
    )
    return out


def _q_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return roundn(abc_analysis(li), 4, "revenue_m", "rev_share")


_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT sum(rev) AS tot FROM rev),
ranked AS (
  SELECT l_partkey, rev, tot.tot,
         round(sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / tot.tot
               + 1.0e-12, 9) AS cum_share
  FROM rev CROSS JOIN tot)
SELECT CASE WHEN cum_share <= 0.7e0 THEN 'A'
            WHEN cum_share <= 0.9e0 THEN 'B' ELSE 'C' END AS abc_class,
       count(*) AS n_parts,
       (round((sum(rev) / 1.0e6) + 1.0e-9,4)+0.0e0) AS revenue_m,
       (round((sum(rev) / any_value(tot)) + 1.0e-9,4)+0.0e0) AS rev_share
FROM ranked GROUP BY 1
"""


# --- population stability index (distribution drift monitor) ----------------
PSI_CUTOFF = "2024-01-16 00:00:00"
PSI_BINS = 20


def psi_drift(
    ev: DataFrame, cutoff: str = PSI_CUTOFF, n_bins: int = PSI_BINS
) -> DataFrame:
    """Population Stability Index per event_type between the pre-cutoff
    (reference) and post-cutoff (current) value distributions — the
    standard "did my feature drift" monitor in model-risk practice:
        PSI = Σ_b (p_cur − p_ref) · ln(p_cur / p_ref)
    PSI < 0.1 stable, 0.1–0.2 moderate, > 0.2 drifted. Bin edges are
    n_bins equal-width bins over the REFERENCE min/max per type (values
    outside clamp to the edge bins); the textbook method uses reference
    deciles — equal-width is the documented deviation that keeps the edges
    a closed form of two broadcast scalars instead of a quantile sort.
    Probabilities are add-half smoothed so empty bins stay finite. Two
    partial-agged groupBys + one broadcast of per-type (min, max)."""
    cut = F.lit(cutoff).cast("timestamp")
    ref_rng = (
        ev.filter(F.col("ts") < cut)
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .localCheckpoint(eager=False)  # per-type row, read by counts + spine
    )
    counts = (
        ev.join(F.broadcast(ref_rng), "event_type")
        .select(
            "event_type",
            (F.col("ts") < cut).alias("is_ref"),
            F.least(
                F.lit(n_bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("value") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / n_bins)
                    ).cast("int"),
                ),
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("nr"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("nc"),
        )
    )
    # dense bin spine: absent bins must still carry their smoothed (0+0.5)
    # probability — a raw 0 would put ln(0) into the PSI sum
    spine = ref_rng.select(
        "event_type", F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin")
    )
    dense = spine.join(counts, ["event_type", "bin"], "left").select(
        "event_type", "bin",
        F.coalesce("nr", F.lit(0)).alias("nr"),
        F.coalesce("nc", F.lit(0)).alias("nc"),
        # types x bins rows, read by tot + the probability join: pin, or
        # both branches re-run the corpus binning scan (recompute census)
    ).localCheckpoint(eager=False)
    tot = dense.groupBy("event_type").agg(
        F.sum("nr").alias("n_ref"), F.sum("nc").alias("n_cur")
    )
    p = dense.join(F.broadcast(tot), "event_type").select(
        "event_type", "n_ref", "n_cur",
        ((F.col("nr") + 0.5) / (F.col("n_ref") + 0.5 * n_bins)).alias("p_ref"),
        ((F.col("nc") + 0.5) / (F.col("n_cur") + 0.5 * n_bins)).alias("p_cur"),
    )
    out = p.groupBy("event_type", "n_ref", "n_cur").agg(
        F.sum(
            (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
        ).alias("psi")
    )
    return out.select(
        "event_type", "n_ref", "n_cur", "psi", (F.col("psi") > 0.2).alias("drifted")
    )


def _q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(psi_drift(read_table(spark, sf_dir, "events")), "psi")


def _psi_sql(cutoff: str = PSI_CUTOFF, n_bins: int = PSI_BINS) -> str:
    from . import expr as E

    return f"""
WITH rng AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events WHERE ts < TIMESTAMP '{cutoff}' GROUP BY event_type),
counts AS (
  SELECT e.event_type,
         least({n_bins - 1}, greatest(0,
           CAST(floor((e.value - rng.lo) / ((rng.hi - rng.lo) / {n_bins})) AS INT))) AS bin,
         sum(CASE WHEN e.ts < TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END) AS nr,
         sum(CASE WHEN e.ts < TIMESTAMP '{cutoff}' THEN 0 ELSE 1 END) AS nc
  FROM events e JOIN rng ON rng.event_type = e.event_type
  GROUP BY 1, 2),
spine AS (
  SELECT event_type, unnest(range(0, {n_bins})) AS bin FROM rng),
dense AS (
  SELECT s.event_type, s.bin,
         coalesce(c.nr, 0) AS nr, coalesce(c.nc, 0) AS nc
  FROM spine s LEFT JOIN counts c
    ON c.event_type = s.event_type AND c.bin = s.bin),
tot AS (
  SELECT event_type, sum(nr) AS n_ref, sum(nc) AS n_cur
  FROM dense GROUP BY event_type),
p AS (
  SELECT d.event_type, t.n_ref, t.n_cur,
         (d.nr + 0.5e0) / (t.n_ref + {E.NUM(0.5 * n_bins)}) AS p_ref,
         (d.nc + 0.5e0) / (t.n_cur + {E.NUM(0.5 * n_bins)}) AS p_cur
  FROM dense d JOIN tot t ON t.event_type = d.event_type)
SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       {E.round6('sum((p_cur - p_ref) * ln(p_cur / p_ref))')} AS psi,
       sum((p_cur - p_ref) * ln(p_cur / p_ref)) > 0.2e0 AS drifted
FROM p GROUP BY event_type, n_ref, n_cur
"""


# --- temporal AS-OF reconstruction over the SCD2 dimension -----------------
TT_PROBES_S = (1704672000, 1705276800, 1705881600, 1706486400)  # Jan 8/15/22/29 UTC


def time_travel(ev: DataFrame, probes_s: tuple[int, ...] = TT_PROBES_S) -> DataFrame:
    """Time travel over the type-2 dimension: reconstruct every entity's
    attribute AS OF each probe timestamp — the `FOR SYSTEM_TIME AS OF`
    (SQL:2011) / Delta `VERSION AS OF` read, expressed against the SCD2
    interval table this engine already maintains (ev_scd2 / stream_scd2).
    An entity is in-state at T iff valid_from <= T < valid_to (open row:
    valid_to IS NULL). The probe list is tiny and broadcast, so the
    non-equi join costs one pass over the interval table — which is itself
    one-row-per-change, far smaller than the event log."""
    from .queries_warehouse import scd2_intervals

    scd = scd2_intervals(ev)
    probes = ev.sparkSession.createDataFrame(
        [(int(p),) for p in probes_s], "asof_s bigint"
    )
    return (
        scd.join(
            F.broadcast(probes),
            (F.col("valid_from_s") <= F.col("asof_s"))
            & (F.col("valid_to_s").isNull() | (F.col("asof_s") < F.col("valid_to_s"))),
        )
        .select("asof_s", "user_id", "event_type", "version")
    )


def _q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return time_travel(read_table(spark, sf_dir, "events"))


def _time_travel_sql(probes_s: tuple[int, ...] = TT_PROBES_S) -> str:
    probes = " UNION ALL ".join(
        f"SELECT CAST({p} AS BIGINT) AS asof_s" for p in probes_s
    )
    return f"""
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
ch AS (SELECT user_id, event_type, ts, event_id FROM e
       WHERE prev IS NULL OR event_type <> prev),
scd AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
         CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_s,
         CAST(row_number() OVER w AS BIGINT) AS version
  FROM ch
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
probes AS ({probes})
SELECT asof_s, user_id, event_type, version
FROM scd JOIN probes
  ON valid_from_s <= asof_s AND (valid_to_s IS NULL OR asof_s < valid_to_s)
"""


# --- EWMA covariance / correlation (RiskMetrics) ---------------------------
EWMA_LAM = 0.94  # RiskMetrics 1996 daily decay
EWMA_BUCKET_S = 3600


def ewma_corr(
    ev: DataFrame, lam: float = EWMA_LAM, bucket_s: int = EWMA_BUCKET_S
) -> DataFrame:
    """Exponentially weighted covariance/correlation between event-type
    value series (RiskMetrics/J.P. Morgan 1996): series resampled to a
    common hourly grid, then EW moments with weight lambda^(T - t) — recent
    co-movement dominates, the classic volatility/correlation tracker.
    Closed form, NO recursion: every EW moment is one weighted sum, so the
    whole estimator is two partial-agged groupBys and a self-join on the
    bucket grid (pairs of types, not rows — the join blowup is
    n_types² × grid, independent of raw event count)."""
    b = (
        ev.groupBy(
            (F.floor(F.unix_timestamp("ts") / bucket_s)).alias("bk"),
            "event_type",
        )
        .agg(F.avg("value").alias("v"))
    )
    tmax = b.agg(F.max("bk").alias("tmax"))
    w = F.pow(F.lit(lam), F.col("tmax") - F.col("bk"))
    a = b.select(F.col("bk"), F.col("event_type").alias("type_a"), F.col("v").alias("x"))
    c = b.select(F.col("bk").alias("bk2"), F.col("event_type").alias("type_b"), F.col("v").alias("y"))
    pairs = (
        a.join(c, (F.col("bk") == F.col("bk2")) & (F.col("type_a") < F.col("type_b")))
        .crossJoin(F.broadcast(tmax))
        .withColumn("w", w)
    )
    m = pairs.groupBy("type_a", "type_b").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("x")).alias("swx"),
        F.sum(F.col("w") * F.col("y")).alias("swy"),
        F.sum(F.col("w") * F.col("x") * F.col("x")).alias("swxx"),
        F.sum(F.col("w") * F.col("y") * F.col("y")).alias("swyy"),
        F.sum(F.col("w") * F.col("x") * F.col("y")).alias("swxy"),
        F.count("*").alias("n_buckets"),
    )
    mx, my = F.col("swx") / F.col("sw"), F.col("swy") / F.col("sw")
    cov = F.col("swxy") / F.col("sw") - mx * my
    vx = F.col("swxx") / F.col("sw") - mx * mx
    vy = F.col("swyy") / F.col("sw") - my * my
    return m.select(
        "type_a", "type_b", "n_buckets",
        cov.alias("ew_cov"),
        (cov / F.sqrt(vx * vy)).alias("ew_corr"),
    )


def _q_ewma_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(ewma_corr(read_table(spark, sf_dir, "events")), "ew_cov", "ew_corr")


def _ewma_corr_sql(lam: float = EWMA_LAM, bucket_s: int = EWMA_BUCKET_S) -> str:
    from . import expr as E

    lm = E.NUM(lam)
    return f"""
WITH b AS (
  SELECT CAST(floor(floor(epoch(ts)) / {bucket_s}) AS BIGINT) AS bk,
         event_type, avg(value) AS v
  FROM events GROUP BY 1, 2),
tm AS (SELECT max(bk) AS tmax FROM b),
pairs AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b,
         pow({lm}, tm.tmax - a.bk) AS w, a.v AS x, c.v AS y
  FROM b a JOIN b c ON a.bk = c.bk AND a.event_type < c.event_type
  CROSS JOIN tm),
m AS (
  SELECT type_a, type_b, count(*) AS n_buckets,
         sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
         sum(w * x * x) AS swxx, sum(w * y * y) AS swyy,
         sum(w * x * y) AS swxy
  FROM pairs GROUP BY type_a, type_b)
SELECT type_a, type_b, n_buckets,
       {E.round6('(swxy / sw - (swx / sw) * (swy / sw))')} AS ew_cov,
       {E.round6('((swxy / sw - (swx / sw) * (swy / sw)) / sqrt((swxx / sw - (swx / sw) * (swx / sw)) * (swyy / sw - (swy / sw) * (swy / sw))))')} AS ew_corr
FROM m
"""


# --- incremental materialized-view maintenance ------------------------------
MV_CUTOFF = "2024-01-20 00:00:00"


def mview_merge(ev: DataFrame, cutoff: str = MV_CUTOFF) -> DataFrame:
    """Incremental materialized-view refresh for a daily-by-type rollup:
    the stored view state (partial aggregates over history before `cutoff`)
    is merged with the same aggregates over only the new delta batch.
    count/sum/min/max are distributive, so merge = re-aggregate over STATE
    ROWS, never over base raw rows; avg is derived from (sum, count) at
    read time. This is the algebra every incremental-refresh engine
    (Delta/Iceberg MV, Materialize) relies on — at 100 TB the refresh cost
    is O(|delta| + |view|) instead of a full recompute, and the oracle
    (full recompute) proves the merge is exact.

    Scale shape: base state is pinned with a lazy localCheckpoint (stands
    in for the stored MV table); the delta agg shuffles only delta rows;
    the merge groupBy runs over ~|groups| rows on both sides."""
    cut = F.lit(cutoff).cast("timestamp")
    base = mv_state(ev.filter(F.col("ts") < cut)).localCheckpoint(eager=False)
    delta = mv_state(ev.filter(F.col("ts") >= cut))
    return mv_combine(base, delta)


def mv_state(df: DataFrame) -> DataFrame:
    """Partial-aggregate state of the daily-by-type rollup (distributive
    aggregates only — mergeable by construction)."""
    return df.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def mv_combine(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two state tables; derive avg at read time."""
    merged = (
        base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_events"))
    )
    return round6(roundn(merged, 4, "sum_value"), "avg_value")


def _q_mview(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mview_merge(read_table(spark, sf_dir, "events"))


# Oracle: the DIRECT full recompute — passing proves merged state == truth.
_MVIEW_SQL = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n_events,
       (round(sum(value) + 1.0e-9, 4) + 0.0e0) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value,
       (round(sum(value) / count(*) + 1.0e-9, 6) + 0.0e0) AS avg_value
FROM events
GROUP BY event_type, strftime(ts, '%Y-%m-%d')
"""


_REGISTRY.update(
    {
        "ev_mview_merge": Query(
            "ev_mview_merge", _q_mview, _MVIEW_SQL, ("warehouse",)
        ),
        "ev_merge_upsert": Query(
            "ev_merge_upsert", _q_merge_upsert, _MERGE_SQL, ("warehouse",)
        ),
        "doc_pareto": Query("doc_pareto", _q_doc_pareto, _PARETO_SQL, ("pipeline",)),
        "ev_ewma_corr": Query(
            "ev_ewma_corr", _q_ewma_corr, _ewma_corr_sql(), ("tsdb",)
        ),
        "ev_time_travel": Query(
            "ev_time_travel", _q_time_travel, _time_travel_sql(), ("warehouse",)
        ),
        "ev_psi_drift": Query("ev_psi_drift", _q_psi, _psi_sql(), ("quality",)),
        "orders_abc": Query("orders_abc", _q_abc, _ABC_SQL, ("warehouse",)),
        "li_zone_map": Query("li_zone_map", _q_zone_map, _ZONE_MAP_SQL, ("warehouse",)),
        "ev_funnel_latency": Query(
            "ev_funnel_latency", _q_funnel_latency, _FUNNEL_LATENCY_SQL, ("product",)
        ),
    }
)


# --- retraction merge (right-to-be-forgotten propagation) -------------------
ERASE_MOD = 97  # deterministic "deletion request" set: user_id % 97 == 0


def retract_merge(ev: DataFrame, erase_mod: int = ERASE_MOD) -> DataFrame:
    """GDPR-style deletion propagation into a stored rollup WITHOUT full
    recompute: subtractable aggregates (count/sum) retract algebraically
    — state minus the erased users' partials — while non-subtractable
    ones (min/max) are recomputed ONLY for the groups the erased rows
    touched, from the kept raw rows of those groups; untouched groups
    keep their stored values byte-for-byte. Groups whose count retracts
    to zero disappear. The oracle recomputes from scratch over the kept
    rows, certifying the retraction algebra end-to-end.

    Scale shape: the erased partials aggregate only ~1% of rows; the
    min/max repair shuffles only rows of AFFECTED groups (semi-join on
    the tiny affected-group list, broadcast); everything else is
    state-row arithmetic — O(|erased| + |affected groups|), not O(base).
    """
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    erased = F.col("user_id") % erase_mod == 0

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", day).agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    stored = state(ev).localCheckpoint(eager=False)  # the pre-deletion MV
    retract = (
        ev.filter(erased)
        .groupBy("event_type", day)
        .agg(F.count("*").alias("nr"), F.sum("value").alias("sr"))
        .localCheckpoint(eager=False)
    )
    affected = retract.select(
        F.col("event_type").alias("a_et"), F.col("day").alias("a_day")
    )
    kept = ev.filter(~erased).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    repaired = (
        kept.join(
            F.broadcast(affected),
            [F.col("event_type") == F.col("a_et"), F.col("day") == F.col("a_day")],
            "left_semi",
        )
        .groupBy("event_type", "day")
        .agg(F.min("value").alias("min_r"), F.max("value").alias("max_r"))
    )
    merged = (
        stored.join(retract, ["event_type", "day"], "left")
        .withColumn("n_new", F.col("n_events") - F.coalesce(F.col("nr"), F.lit(0)))
        .withColumn(
            "s_new", F.col("sum_value") - F.coalesce(F.col("sr"), F.lit(0.0))
        )
        .filter(F.col("n_new") > 0)
        .join(repaired, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.col("n_new").alias("n_events"),
            F.col("s_new").alias("sum_value"),
            F.coalesce(F.col("min_r"), F.col("min_value")).alias("min_value"),
            F.coalesce(F.col("max_r"), F.col("max_value")).alias("max_value"),
            (F.col("s_new") / F.col("n_new")).alias("avg_value"),
        )
    )
    return round6(roundn(merged, 4, "sum_value"), "avg_value")


def _q_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retract_merge(read_table(spark, sf_dir, "events"))


_RETRACT_SQL = f"""
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n_events,
       (round(sum(value) + 1.0e-9, 4) + 0.0e0) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value,
       (round(sum(value) / count(*) + 1.0e-9, 6) + 0.0e0) AS avg_value
FROM events
WHERE user_id % {ERASE_MOD} <> 0
GROUP BY event_type, strftime(ts, '%Y-%m-%d')
"""


_REGISTRY.update(
    {
        "ev_retract_merge": Query(
            "ev_retract_merge", _q_retract, _RETRACT_SQL, ("warehouse", "privacy")
        ),
    }
)


# --- cohort LTV triangle -----------------------------------------------------
def cohort_ltv(ev: DataFrame) -> DataFrame:
    """Cumulative purchase revenue per (signup-week cohort, weeks-since)
    cell — the LTV triangle next to the retention matrix: cohort = the
    user's first-seen week, age = weeks between the purchase and that
    week, value accumulates along age. Emits cumulative revenue AND
    cumulative revenue per cohort user (the comparable LTV number).

    Scale shape: first-seen is one groupBy(user); the triangle is one
    groupBy((cohort, age)) over purchase rows joined to the (small,
    user-count-sized) cohort map; the cumulative walk runs per cohort
    over <=5 age cells."""
    from pyspark.sql import Window

    week = (F.floor(F.unix_timestamp("ts") / (7 * 86400))).cast("bigint")
    first_seen = ev.groupBy("user_id").agg(F.min(week).alias("cohort_w"))
    sizes = first_seen.groupBy("cohort_w").agg(F.count("*").alias("n_users"))
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", week.alias("w"), "value")
        .join(first_seen, "user_id")
        .withColumn("age_w", F.col("w") - F.col("cohort_w"))
    )
    cells = pur.groupBy("cohort_w", "age_w").agg(
        F.count("*").alias("n_purchases"), F.sum("value").alias("rev")
    )
    wc = Window.partitionBy("cohort_w").orderBy("age_w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = (
        cells.withColumn("cum_rev", F.sum("rev").over(wc))
        .join(F.broadcast(sizes), "cohort_w")
        .withColumn("ltv_per_user", F.col("cum_rev") / F.col("n_users"))
        .select(
            "cohort_w", "age_w", "n_purchases", "n_users",
            "rev", "cum_rev", "ltv_per_user",
        )
    )
    from .queries import round6, roundn

    return round6(roundn(out, 4, "rev", "cum_rev"), "ltv_per_user")


def _q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_ltv(read_table(spark, sf_dir, "events"))


_COHORT_LTV_SQL = """
WITH wk AS (
  SELECT user_id, event_type, value,
         CAST(floor(floor(epoch(ts)) / (7 * 86400)) AS BIGINT) AS w
  FROM events),
first_seen AS (SELECT user_id, min(w) AS cohort_w FROM wk GROUP BY user_id),
sizes AS (SELECT cohort_w, count(*) AS n_users FROM first_seen GROUP BY cohort_w),
cells AS (
  SELECT f.cohort_w, wk.w - f.cohort_w AS age_w,
         count(*) AS n_purchases, sum(value) AS rev
  FROM wk JOIN first_seen f USING (user_id)
  WHERE event_type = 'purchase'
  GROUP BY f.cohort_w, wk.w - f.cohort_w),
cum AS (
  SELECT *, sum(rev) OVER (PARTITION BY cohort_w ORDER BY age_w
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_rev
  FROM cells)
SELECT c.cohort_w, c.age_w, c.n_purchases, s.n_users,
       (round(c.rev + 1.0e-9, 4) + 0.0e0) AS rev,
       (round(c.cum_rev + 1.0e-9, 4) + 0.0e0) AS cum_rev,
       (round(c.cum_rev / s.n_users + 1.0e-9, 6) + 0.0e0) AS ltv_per_user
FROM cum c JOIN sizes s USING (cohort_w)
"""


_REGISTRY.update(
    {
        "ev_cohort_ltv": Query(
            "ev_cohort_ltv", _q_cohort_ltv, _COHORT_LTV_SQL, ("product",)
        ),
    }
)
