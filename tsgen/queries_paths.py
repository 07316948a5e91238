"""Sequence/path analytics + decontamination (SURVEY §2 D/E/F extensions and
the LLM-pipeline mandate).

Operators:
- ev_transitions: first-order Markov transition counts/probabilities over
  event_type per user (reference has ordered iteration F2; this is the
  event-sequence analytics a telemetry user expects).
- ev_user_paths: first-3-event path per user → path frequency table.
- ts_autocorr: per-series autocorrelation at lags 1/2/3 (classic TS
  diagnostic; complements the FFT seasonality path, tsgen/spectral.py).
- ev_cusum: CUSUM changepoint score per user — max |cumsum(value - mean)|
  and the timestamp where it peaks.
- doc_contamination: benchmark-decontamination check — fraction of each
  training doc's 3-shingles that appear in a held-out "benchmark" doc set
  (doc_id % 97 == 0). The canonical n-gram-overlap decontamination pass of
  an LLM data pipeline.

Scale notes (100 TB):
- Every operator shuffles once on its natural key (user_id / prev_type /
  shingle). No global unpartitioned windows, no driver collects.
- ev_transitions' second aggregation runs on the (prev_type, next_type)
  matrix — |event_types|² rows, tiny regardless of input scale.
- doc_contamination joins exploded shingles against the benchmark shingle
  set on the shingle itself (equi-join, semi) — benchmark side is the small
  side but NOT assumed broadcastable; Spark/AQE picks broadcast when it
  fits. No all-pairs anything.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import dedup
from .io import read_table
from .queries import _REGISTRY, Query, canon_types, round6, roundn


# --- ev_transitions: Markov transition matrix ------------------------------
def event_transitions(ev: DataFrame) -> DataFrame:
    """(prev_type → next_type) counts and row-normalized probabilities.

    One shuffle on user_id for the lag, one partial-agg'd shuffle on the
    pair; the probability normalizer is a window over prev_type on the
    already-tiny matrix."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type", 1).over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.withColumn(
        "p", F.col("n") / F.sum("n").over(tot)
    )


def _q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = event_transitions(read_table(spark, sf_dir, "events"))
    return round6(out.select("prev_type", "next_type", "n", "p"), "p")


_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
m AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type)
SELECT prev_type, next_type, n,
       (round((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)) + 1.0e-9,6)+0.0e0) AS p
FROM m
"""


# --- Markov-chain entropy rate over the transition matrix ------------------
def transition_entropy(ev: DataFrame) -> DataFrame:
    """Entropy-rate diagnostics of the event-type Markov chain: per
    prev_type the conditional entropy H(next|prev) = −Σ p·log2 p, plus the
    empirical-weighted chain entropy rate Σ π(prev)·H(next|prev) (π from
    observed prev counts) on every row. How predictable is the next event?
    Runs entirely on the already-tiny transition matrix from
    event_transitions — no extra pass over events."""
    m = event_transitions(ev)
    h = m.groupBy("prev_type").agg(
        F.sum("n").alias("n_prev"),
        (-F.sum(F.col("p") * F.log2("p"))).alias("h_cond"),
    )
    tot = h.agg(F.sum("n_prev").alias("tot"))
    h = h.crossJoin(F.broadcast(tot)).withColumn("pi", F.col("n_prev") / F.col("tot"))
    w = Window.partitionBy()
    return h.select(
        "prev_type",
        "n_prev",
        "h_cond",
        F.sum(F.col("pi") * F.col("h_cond")).over(w).alias("entropy_rate"),
    )


def _q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(transition_entropy(read_table(spark, sf_dir, "events")), "h_cond", "entropy_rate")


_TRANSITION_ENTROPY_SQL = """
WITH pairs AS (
  SELECT lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
m AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type),
mp AS (
  SELECT prev_type, n, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
  FROM m),
h AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_prev, -sum(p * log2(p)) AS h_cond
  FROM mp GROUP BY prev_type),
t AS (SELECT CAST(sum(n_prev) AS BIGINT) AS tot FROM h)
SELECT prev_type, n_prev,
       (round((h_cond) + 1.0e-9,6)+0.0e0) AS h_cond,
       (round((sum((CAST(n_prev AS DOUBLE) / t.tot) * h_cond) OVER ()) + 1.0e-9,6)+0.0e0) AS entropy_rate
FROM h CROSS JOIN t
"""


# --- ev_user_paths: first-k event path frequencies -------------------------
def user_paths(ev: DataFrame, k: int = 3) -> DataFrame:
    """First-k-event path string per user ('a>b>c'), then path frequencies.

    row_number + conditional agg per user (one shuffle), then a tiny
    aggregation over distinct paths. concat_ws skips NULLs, so users with
    fewer than k events get their full shorter path — same in DuckDB."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    per_user = rn.groupBy("user_id").agg(
        F.concat_ws(
            ">", *[F.max(F.when(F.col("rn") == i + 1, F.col("event_type"))) for i in range(k)]
        ).alias("path")
    )
    return per_user.groupBy("path").agg(F.count("*").alias("n_users"))


def _q_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canon_types(user_paths(read_table(spark, sf_dir, "events"), k=3))


_USER_PATHS_SQL = """
WITH rn AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
per_user AS (
  SELECT user_id,
         concat_ws('>',
           max(CASE WHEN rn = 1 THEN event_type END),
           max(CASE WHEN rn = 2 THEN event_type END),
           max(CASE WHEN rn = 3 THEN event_type END)) AS path
  FROM rn WHERE rn <= 3 GROUP BY user_id)
SELECT path, count(*) AS n_users FROM per_user GROUP BY path
"""


# --- ts_autocorr: per-series ACF at small lags -----------------------------
def autocorr(ev: DataFrame, lags: tuple[int, ...] = (1, 2, 3)) -> DataFrame:
    """Per-user autocorrelation of `value` at the given lags: one window
    pass builds the lagged columns, one groupBy computes Pearson corr per
    lag (corr skips NULL pairs in both engines)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    for lg in lags:
        ev = ev.withColumn(f"_l{lg}", F.lag("value", lg).over(w))
    aggs = [F.count("*").alias("n")]
    for lg in lags:
        c = F.corr("value", f"_l{lg}")
        aggs.append(F.when(F.isnan(c), None).otherwise(c).alias(f"acf{lg}"))
    return ev.groupBy("user_id").agg(*aggs)


def _q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = autocorr(read_table(spark, sf_dir, "events"))
    # corr is a ratio of large centered sums — 4dp (see queries.roundn)
    return roundn(out, 4, "acf1", "acf2", "acf3")


_AUTOCORR_SQL = """
WITH lagged AS (
  SELECT user_id, value,
         lag(value, 1) OVER w AS l1,
         lag(value, 2) OVER w AS l2,
         lag(value, 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, count(*) AS n,
       (round((corr(value, l1)) + 1.0e-9,4)+0.0e0) AS acf1,
       (round((corr(value, l2)) + 1.0e-9,4)+0.0e0) AS acf2,
       (round((corr(value, l3)) + 1.0e-9,4)+0.0e0) AS acf3
FROM lagged GROUP BY user_id
"""


# --- ev_cusum: changepoint score per series --------------------------------
def cusum(ev: DataFrame) -> DataFrame:
    """CUSUM changepoint statistic per user: S_t = Σ_{i<=t}(v_i − mean_v);
    emit max |S_t| and the earliest timestamp achieving it.

    Two windows over ONE (user_id, ts) sort: the partition-wide mean and
    the running sum reuse the same shuffle. The argmax is the
    max-then-filter-then-min formulation — deterministic under ties (min
    ts) and engine-stable because the comparison happens on 4dp-rounded
    values. No second shuffle: the groupBys re-use the user_id
    partitioning."""
    wp = Window.partitionBy("user_id")
    wo = wp.orderBy("ts", "event_id")
    run = wo.rowsBetween(Window.unboundedPreceding, 0)
    b = (
        ev.withColumn("_mean", F.avg("value").over(wp))
        .withColumn("_s", F.sum(F.col("value") - F.col("_mean")).over(run))
        .withColumn("abs_s", F.round(F.abs("_s") + F.lit(1e-9), 4) + F.lit(0.0))
        .withColumn("ts_s", F.unix_timestamp("ts"))
        .select("user_id", "abs_s", "ts_s")
    )
    m = b.groupBy("user_id").agg(
        F.max("abs_s").alias("max_abs_s"), F.count("*").alias("n")
    )
    cp = (
        b.join(m, "user_id")
        .filter(F.col("abs_s") == F.col("max_abs_s"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("cp_ts"))
    )
    return m.join(cp, "user_id").select("user_id", "n", "max_abs_s", "cp_ts")


def _q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cusum(read_table(spark, sf_dir, "events"))


_CUSUM_SQL = """
WITH b AS (
  SELECT user_id,
         (round((abs(sum(value - mean_v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) + 1.0e-9,4)+0.0e0) AS abs_s,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM (SELECT *, avg(value) OVER (PARTITION BY user_id) AS mean_v FROM events)),
m AS (SELECT user_id, max(abs_s) AS max_abs_s, count(*) AS n FROM b GROUP BY user_id)
SELECT m.user_id, m.n, m.max_abs_s, min(b.ts_s) AS cp_ts
FROM b JOIN m ON b.user_id = m.user_id AND b.abs_s = m.max_abs_s
GROUP BY m.user_id, m.n, m.max_abs_s
"""


# --- doc_contamination: benchmark n-gram overlap ---------------------------
BENCH_MOD = 97


def contamination(docs: DataFrame, k: int = 3) -> DataFrame:
    """Benchmark-decontamination pass: docs with doc_id % 97 == 0 form the
    held-out benchmark; for every other doc, the fraction of its distinct
    word 3-shingles that appear anywhere in the benchmark set.

    Shingle the corpus ONCE (dedup.shingles), split into benchmark /
    training, and count hits with a left-semi equi-join on the shingle —
    the same single-shuffle shape as the dedup family; no pairwise
    comparisons."""
    # One exploded pass per side. The benchmark side (1/97 of docs — in a
    # real decontamination run, the held-out benchmark is a tiny fraction of
    # the corpus) is distinct'd and LEFT-joined onto the train side, so n_sh
    # and n_hit come out of ONE doc_id aggregation: the train corpus is
    # shingled once and shuffled once on `shingle` (or not at all when the
    # benchmark set broadcasts, which it does at any realistic ratio).
    sh = dedup.shingles(docs, "text", k).select("doc_id", "shingles")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_sh = (
        sh.filter(is_bench)
        # explode_outer: `shingles` is never null/empty by construction, and
        # plain explode's implicit IsNotNull/size>0 filter re-evaluates the
        # whole shingling CASE expression ~3x per row (seen in the plan)
        .select(F.explode_outer("shingles").alias("shingle"))
        .distinct()
        .withColumn("in_bench", F.lit(1).cast("bigint"))
    )
    out = (
        sh.filter(~is_bench)
        .select("doc_id", F.explode_outer("shingles").alias("shingle"))
        .join(bench_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(F.coalesce("in_bench", F.lit(0))).alias("n_hit"),
        )
        .withColumn("ratio", F.col("n_hit") / F.col("n_sh"))
    )
    return out


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = contamination(read_table(spark, sf_dir, "documents"))
    return canon_types(round6(out, "ratio"))


_CONTAMINATION_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(range(1, len(toks) - 1),
             i -> array_to_string(toks[i:i+2], ' ')))
         ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
train AS (
  SELECT doc_id, len(shingles) AS n_sh, shingles FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM train),
hits AS (
  SELECT doc_id, count(*) AS n_hit FROM ex
  WHERE shingle IN (SELECT shingle FROM bench) GROUP BY doc_id)
SELECT t.doc_id, t.n_sh, coalesce(h.n_hit, 0) AS n_hit,
       (round((CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_sh) + 1.0e-9,6)+0.0e0) AS ratio
FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
"""


# --- ev_streaks: gaps-and-islands longest-activity-streak ------------------
def streaks(ev: DataFrame) -> DataFrame:
    """Longest run of consecutive active DAYS per user (gaps-and-islands):
    distinct active days → day_num − row_number() is constant within a
    consecutive run → max run length per user. Two windows over one
    (user_id, day) sort; all keys uniform."""
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().withColumn("day_num", F.datediff("day", F.lit("1970-01-01")))
    w = Window.partitionBy("user_id").orderBy("day_num")
    isl = days.withColumn(
        "island", F.col("day_num") - F.row_number().over(w)
    )
    runs = isl.groupBy("user_id", "island").agg(F.count("*").alias("run_len"))
    return runs.groupBy("user_id").agg(
        F.sum("run_len").alias("n_active_days"),
        F.max("run_len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


def _q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canon_types(streaks(read_table(spark, sf_dir, "events")))


_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day_num
  FROM events),
isl AS (
  SELECT user_id, day_num,
         day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num) AS island
  FROM days),
runs AS (
  SELECT user_id, island, count(*) AS run_len FROM isl GROUP BY user_id, island)
SELECT user_id, CAST(sum(run_len) AS BIGINT) AS n_active_days, max(run_len) AS longest_streak,
       count(*) AS n_streaks
FROM runs GROUP BY user_id
"""


# --- ts_delta_stats: delta / delta-of-delta compressibility ----------------
def delta_stats(ev: DataFrame) -> DataFrame:
    """Per-series delta and delta-of-delta statistics — the signal a
    Gorilla/TSZ-style time-series codec exploits (how regular are the
    timestamps, how smooth are the values). One (user_id, ts) window pass."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (
        ev.withColumn("dt", F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w)))
        .withColumn("dv", F.col("value") - F.lag("value", 1).over(w))
        .withColumn("ddt", F.col("dt") - F.lag("dt", 1).over(w))
    )
    return d.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.avg("dt").alias("avg_dt"),
        F.stddev_samp("dt").alias("sd_dt"),
        F.avg(F.abs("dv")).alias("avg_abs_dv"),
        (
            F.sum(F.when(F.col("ddt") == 0, 1).otherwise(0))
            / F.sum(F.when(F.col("ddt").isNotNull(), 1).otherwise(0))
        ).alias("dod_zero_frac"),
    )


def _q_delta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = delta_stats(read_table(spark, sf_dir, "events"))
    return canon_types(roundn(out, 4, "avg_dt", "sd_dt", "avg_abs_dv", "dod_zero_frac"))


_DELTA_STATS_SQL = """
WITH d AS (
  SELECT user_id, ts, event_id,
         epoch_s - lag(epoch_s, 1) OVER w AS dt,
         value - lag(value, 1) OVER w AS dv
  FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
dd AS (
  SELECT user_id, dt, dv,
         dt - lag(dt, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ddt
  FROM d)
SELECT user_id, count(*) AS n,
       (round((avg(dt)) + 1.0e-9,4)+0.0e0) AS avg_dt,
       (round((stddev_samp(dt)) + 1.0e-9,4)+0.0e0) AS sd_dt,
       (round((avg(abs(dv))) + 1.0e-9,4)+0.0e0) AS avg_abs_dv,
       (round((CAST(sum(CASE WHEN ddt = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / sum(CASE WHEN ddt IS NOT NULL THEN 1 ELSE 0 END)) + 1.0e-9,4)+0.0e0) AS dod_zero_frac
FROM dd GROUP BY user_id
"""


# --- ev_wau: rolling 7-day distinct active users ---------------------------
def wau(ev: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU / rolling-7-day WAU / stickiness per active day.

    Sliding distinct-count done the scale-safe way: the raw stream first
    collapses to distinct (user, day); each pair then fans out to the
    `window_days` windows it belongs to (bounded 7x blowup of the ALREADY
    tiny user-day table — never of raw events), distinct'd and counted per
    window day. No range-window distinct (Spark can't, and a naive
    collect_set window would hold per-day user sets in one task's state)."""
    active = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("bigint").alias("day_num"),
    ).distinct()
    dau = active.groupBy("day_num").agg(F.countDistinct("user_id").alias("dau"))
    offs = ev.sparkSession.range(window_days).select(F.col("id").alias("off"))
    win = (
        active.crossJoin(F.broadcast(offs))
        .select("user_id", (F.col("day_num") + F.col("off")).alias("w_day"))
        .distinct()
        .groupBy("w_day")
        .agg(F.count("*").alias("wau"))
    )
    return (
        dau.join(win, dau.day_num == win.w_day)
        .select(
            (F.col("day_num") * 86400).alias("day_s"),
            "dau",
            "wau",
            (F.col("dau") / F.col("wau")).alias("stickiness"),
        )
    )


def _q_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canon_types(round6(wau(read_table(spark, sf_dir, "events")), "stickiness"))


_WAU_SQL = """
WITH active AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day_num
  FROM events),
dau AS (SELECT day_num, count(DISTINCT user_id) AS dau FROM active GROUP BY day_num),
win AS (
  SELECT w_day, count(*) AS wau FROM (
    SELECT DISTINCT user_id, day_num + off AS w_day
    FROM active CROSS JOIN (SELECT unnest(range(0, 7)) AS off))
  GROUP BY w_day)
SELECT day_num * 86400 AS day_s, dau, wau,
       (round((CAST(dau AS DOUBLE) / wau) + 1.0e-9,6)+0.0e0) AS stickiness
FROM dau JOIN win ON day_num = w_day
"""


# --- ev_outliers_mad: robust (median/MAD) outlier counts -------------------
MAD_K = 3.0 * 1.4826  # 3 sigma-equivalents under normality


def outliers_mad(ev: DataFrame) -> DataFrame:
    """Median/MAD outlier detection per series — the robust twin of
    ev_outliers' mean/stddev z-score (one extreme point can't drag the
    threshold). Exact medians via percentile(0.5): two groupBys on
    user_id + one broadcastable join of the per-user medians back."""
    med = ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("med"), F.count("*").alias("n")
    )
    j = ev.select("user_id", "value").join(med, "user_id")
    mad = j.groupBy("user_id").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        F.first("med").alias("med"),
        F.first("n").alias("n"),
    )
    out = (
        ev.select("user_id", "value")
        .join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("n").alias("n"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > MAD_K * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )
    return out


def _q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = outliers_mad(read_table(spark, sf_dir, "events"))
    return canon_types(roundn(out, 4, "med", "mad"))


_OUTLIERS_MAD_SQL = f"""
WITH med AS (
  SELECT user_id, quantile_cont(value, 5.0e-1) AS med, count(*) AS n
  FROM events GROUP BY user_id),
mad AS (
  SELECT e.user_id, quantile_cont(abs(e.value - m.med), 5.0e-1) AS mad,
         first(m.med) AS med, first(m.n) AS n
  FROM events e JOIN med m ON e.user_id = m.user_id GROUP BY e.user_id)
SELECT e.user_id, first(m.n) AS n,
       (round((first(m.med)) + 1.0e-9,4)+0.0e0) AS med,
       (round((first(m.mad)) + 1.0e-9,4)+0.0e0) AS mad,
       CAST(sum(CASE WHEN abs(e.value - m.med) > {MAD_K:.17e} * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN mad m ON e.user_id = m.user_id
GROUP BY e.user_id
"""


# --- ts_crosscorr: lead/lag cross-correlation between event-type series ----
XCORR_LAGS = (-2, -1, 0, 1, 2)


def crosscorr(ev: DataFrame, lags: tuple[int, ...] = XCORR_LAGS) -> DataFrame:
    """Pairwise cross-correlation between hourly event-type series at signed
    hour lags: positive peak lag means type_a leads type_b.

    The raw stream collapses to an (hour-bucket × type) aggregate FIRST —
    everything after runs on that tiny table, so the pair×lag join never
    touches raw-event scale data. One shuffle for the bucket agg, one for
    the (pair, lag) corr agg."""
    hourly = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("b_s"),
        "event_type",
    ).agg(F.avg("value").alias("v"))
    lag_df = ev.sparkSession.createDataFrame([(lg,) for lg in lags], "lag bigint")
    a = hourly.crossJoin(F.broadcast(lag_df)).select(
        F.col("event_type").alias("type_a"),
        "lag",
        (F.col("b_s") + F.col("lag") * 3600).alias("tb_s"),
        F.col("v").alias("va"),
    )
    b = hourly.select(
        F.col("event_type").alias("type_b"), F.col("b_s").alias("tb_s"), F.col("v").alias("vb")
    )
    c = F.corr("va", "vb")
    return (
        a.join(b, "tb_s")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b", "lag")
        .agg(
            F.when(F.isnan(c), None).otherwise(c).alias("xcorr"),
            F.count("*").alias("n_buckets"),
        )
    )


def _q_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundn(crosscorr(read_table(spark, sf_dir, "events")), 4, "xcorr")


_CROSSCORR_SQL = f"""
WITH hourly AS (
  SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS b_s,
         event_type, avg(value) AS v
  FROM events GROUP BY 1, 2),
lags AS (SELECT unnest([{", ".join(str(lg) for lg in XCORR_LAGS)}]) AS lag)
SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(lag AS BIGINT) AS lag,
       (round((corr(a.v, b.v)) + 1.0e-9,4)+0.0e0) AS xcorr,
       count(*) AS n_buckets
FROM hourly a CROSS JOIN lags
JOIN hourly b ON b.b_s = a.b_s + lag * 3600 AND a.event_type < b.event_type
GROUP BY 1, 2, 3
"""


_REGISTRY.update(
    {
        "ev_transition_entropy": Query(
            "ev_transition_entropy",
            _q_transition_entropy,
            _TRANSITION_ENTROPY_SQL,
            ("analytics",),
        ),
        "ev_transitions": Query(
            "ev_transitions", _q_transitions, _TRANSITIONS_SQL, ("analytics",)
        ),
        "ev_user_paths": Query(
            "ev_user_paths", _q_user_paths, _USER_PATHS_SQL, ("analytics",)
        ),
        "ts_autocorr": Query("ts_autocorr", _q_autocorr, _AUTOCORR_SQL, ("analytics",)),
        "ts_crosscorr": Query("ts_crosscorr", _q_crosscorr, _CROSSCORR_SQL, ("analytics",)),
        "ev_cusum": Query("ev_cusum", _q_cusum, _CUSUM_SQL, ("analytics",)),
        "ev_streaks": Query("ev_streaks", _q_streaks, _STREAKS_SQL, ("analytics",)),
        "ts_delta_stats": Query(
            "ts_delta_stats", _q_delta_stats, _DELTA_STATS_SQL, ("analytics",)
        ),
        "ev_wau": Query("ev_wau", _q_wau, _WAU_SQL, ("analytics",)),
        "ev_outliers_mad": Query(
            "ev_outliers_mad", _q_outliers_mad, _OUTLIERS_MAD_SQL, ("analytics",)
        ),
        "doc_contamination": Query(
            "doc_contamination", _q_contamination, _CONTAMINATION_SQL, ("pipeline",)
        ),
    }
)


# --- sliding event-sequence n-grams -----------------------------------------
PATH_NGRAM_N, PATH_NGRAM_TOPK = 3, 20


def path_ngrams(ev: DataFrame, topk: int = PATH_NGRAM_TOPK) -> DataFrame:
    """Corpus-wide sliding event-type trigrams over each user's full
    ordered event sequence — the clickstream-pattern-mining complement to
    ev_user_paths (which keeps only the first-3 prefix). lead() windows
    keyed on user_id generate the grams (one shuffle); the count table is
    bounded by |event_type|^3 (125 here), so the final ranking window runs
    on a provably tiny input. → (rank, ngram, n)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .filter(F.col("e3").isNotNull())
    )
    counts = (
        s.select(F.concat_ws(">", "event_type", "e2", "e3").alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), F.col("ngram").asc())
    return (
        counts.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= topk)
        .select("rank", "ngram", "n")
        .orderBy("rank")
    )


def _q_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return path_ngrams(read_table(spark, sf_dir, "events"))


_PATH_NGRAMS_SQL = f"""
WITH s AS (
  SELECT event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
counts AS (
  SELECT event_type || '>' || e2 || '>' || e3 AS ngram, count(*) AS n
  FROM s WHERE e3 IS NOT NULL GROUP BY 1)
SELECT rank, ngram, CAST(n AS BIGINT) AS n FROM (
  SELECT ngram, n, row_number() OVER (ORDER BY n DESC, ngram ASC) AS rank
  FROM counts)
WHERE rank <= {PATH_NGRAM_TOPK} ORDER BY rank
"""


_REGISTRY.update(
    {
        "ev_path_ngrams": Query(
            "ev_path_ngrams", _q_path_ngrams, _PATH_NGRAMS_SQL, ("analytics", "paths")
        ),
    }
)


# --- stationary distribution of the event-type Markov chain ------------------
STAT_ITERS = 20


def markov_stationary(ev: DataFrame, iters: int = STAT_ITERS) -> DataFrame:
    """Stationary distribution pi of the first-order event-type transition
    chain (pi P = pi), by power iteration from uniform — the steady-state
    behavior profile that says where user sessions spend their time in the
    long run. The transition matrix is |event_type|^2 rows (25 here), so
    every iteration is a broadcast-sized keyed join; state is rounded to
    12dp per iteration (the ev_logreg rounded-state-recursion discipline)
    so both engines walk identical trajectories. → (state, pi)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
    )
    cnt = pairs.groupBy("event_type", "nxt").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("event_type").agg(F.sum("n").alias("tn"))
    P = (
        cnt.join(tot, "event_type")
        .select(
            F.col("event_type").alias("src"),
            F.col("nxt").alias("dst"),
            F.round(F.col("n") / F.col("tn") + F.lit(1e-15), 12).alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    ns = P.select("src").distinct().count()
    pi = P.select("src").distinct().select(
        F.col("src").alias("state"),
        F.round(F.lit(1.0) / F.lit(float(ns)) + F.lit(1e-15), 12).alias("pi"),
    )
    # per-iteration pins KEPT deliberately: the pi chain is linear lineage,
    # but at this state size (|event_type| rows) a fully lazy 2·iters-deep
    # shuffle chain measured SLOWER than the pinned form (isolated min-of-3
    # 3.6 s vs 2.1 s — AQE re-plans every stage of the deep chain, while
    # each pin is a near-free 5-row job), so the r12 form stands
    for _ in range(iters):
        pi = (
            P.join(pi.withColumnRenamed("state", "src"), "src")
            .groupBy("dst")
            .agg(F.round(F.sum(F.col("pi") * F.col("p")) + F.lit(1e-15), 12).alias("pi"))
            .withColumnRenamed("dst", "state")
            .localCheckpoint(eager=False)
        )
    return pi.select(
        "state", (F.round(F.col("pi") + F.lit(1e-9), 6) + F.lit(0.0)).alias("pi")
    ).orderBy("state")


def _q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markov_stationary(read_table(spark, sf_dir, "events"))


def _markov_stationary_sql(iters: int = STAT_ITERS) -> str:
    ctes = ["""pairs AS (
  SELECT event_type, lead(event_type) OVER w AS nxt
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
cnt AS (SELECT event_type, nxt, count(*) AS n FROM pairs
        WHERE nxt IS NOT NULL GROUP BY event_type, nxt),
P AS MATERIALIZED (
  SELECT c.event_type AS src, c.nxt AS dst,
         round(CAST(c.n AS DOUBLE) / t.tn + 1.0e-15, 12) AS p
  FROM cnt c JOIN (SELECT event_type, sum(n) AS tn FROM cnt GROUP BY event_type) t
    USING (event_type)),
pi0 AS MATERIALIZED (
  SELECT DISTINCT src AS state,
         round(1.0e0 / (SELECT count(DISTINCT src) FROM P) + 1.0e-15, 12) AS pi
  FROM P)"""]
    for k in range(1, iters + 1):
        ctes.append(f"""pi{k} AS MATERIALIZED (
  SELECT P.dst AS state, round(sum(pi.pi * P.p) + 1.0e-15, 12) AS pi
  FROM P JOIN pi{k - 1} pi ON pi.state = P.src GROUP BY P.dst)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT state, (round(pi + 1.0e-9, 6) + 0.0e0) AS pi FROM pi{iters} ORDER BY state"
    )


_REGISTRY.update(
    {
        "ev_markov_stationary": Query(
            "ev_markov_stationary",
            _q_markov_stationary,
            _markov_stationary_sql(),
            ("analytics", "paths"),
        ),
    }
)
