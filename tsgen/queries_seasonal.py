"""Classical time-series toolkit queries (north-star TS-engine extension;
complements the reference's FFT/polyfit decomposition, SURVEY §2 G4/G5,
models/diffusion_ts_model.py:242-289, with the moving-average classics a
TSDB user reaches for first).

Operators:
- classical_decompose: STL-lite additive decomposition — centered
  moving-average trend + periodic-mean seasonal + residual. The textbook
  "classical decomposition" (Hyndman & Athanasopoulos §3.4), entirely
  window/agg SQL — no UDF, unlike the FFT path.
- ev_interpolate: linear-interpolation gap fill on a regular grid — the
  standard TSDB `interpolate(linear)` operator, via IGNORE NULLS window
  scans (prev/next observation) + the two-point line formula.
- ev_lttb: largest-triangle downsampling for visualization (Steinarsson's
  LTTB, mean-anchor variant): per time bucket keep the point with the
  largest triangle area against the neighboring buckets' mean points.
  The parallel-friendly form — anchors are bucket means, not the
  sequentially-chosen points, so every bucket is independent.

Scale notes (100 TB):
- classical_decompose: two windows + one tiny (series × period) agg joined
  back — all partitioned by series_id; one shuffle, reused by every stage.
- ev_interpolate: two IGNORE-NULLS window scans over the same (user, rn)
  partitioning — single shuffle, no joins, no UDF.
- ev_lttb: per-bucket agg (partial-agged) + lag/lead over the tiny bucket
  table + one equi-join back on (type, bucket) — the events side shuffles
  once on the bucket key; candidate ranking windows are per-bucket, never
  global.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E, generators, oracle
from .io import read_table
from .queries import _REGISTRY, Query, round6


# --- classical additive decomposition --------------------------------------
def classical_decompose(
    df: DataFrame,
    period: int = 12,
    half: int = 6,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Additive classical decomposition:
        trend_t    = centered (2·half+1)-point moving average (full windows
                     only — edges yield NULL, as in the textbook method)
        seasonal_p = mean of (value − trend) per phase p = t mod period,
                     re-centered to sum to zero per series
        residual_t = value − trend − seasonal

    Plan shape: ONE linear lineage — phase means are window aggregates
    over (key, phase), their per-series re-centering a window aggregate
    over one marked row per phase (_mark == 1, the same mean-of-phase-
    means construction as robust_decompose), so the base is evaluated
    once. The earlier groupBy + join-back re-evaluated the base + trend
    window per branch. The s_raw filter replicates the inner join's row
    drop for phases with no complete-window rows."""
    w = (
        Window.partitionBy(key)
        .orderBy("t")
        .rowsBetween(-half, half)
    )
    wk = Window.partitionBy(key)
    wp = Window.partitionBy(key, "phase")
    full = 2 * half + 1
    return (
        df.withColumn(
            "trend", F.when(F.count("*").over(w) == full, F.avg(value).over(w))
        )
        .withColumn("phase", F.col("t") % period)
        .withColumn(
            "s_raw",
            F.avg(
                F.when(F.col("trend").isNotNull(), F.col(value) - F.col("trend"))
            ).over(wp),
        )
        .withColumn(
            "_mark", F.row_number().over(Window.partitionBy(key, "phase").orderBy("t"))
        )
        .filter(F.col("s_raw").isNotNull())
        .withColumn(
            "seasonal",
            F.col("s_raw")
            - F.avg(F.when(F.col("_mark") == 1, F.col("s_raw"))).over(wk),
        )
        .withColumn("residual", F.col(value) - F.col("trend") - F.col("seasonal"))
        .select(key, "t", value, "trend", "seasonal", "residual")
    )


def _q_classical(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, 12, 96, "mixed")
    return round6(
        classical_decompose(df), "value", "trend", "seasonal", "residual"
    )


def _classical_sql(period: int = 12, half: int = 6) -> str:
    gen = oracle.generate_sql(12, 96, "mixed", rounded=False)
    full = 2 * half + 1
    return f"""
WITH src AS ({gen}),
d AS (
  SELECT series_id, t, value,
         CASE WHEN count(*) OVER w = {full} THEN avg(value) OVER w END AS trend,
         t % {period} AS phase
  FROM src
  WINDOW w AS (PARTITION BY series_id ORDER BY t
               ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)),
ph AS (
  SELECT series_id, phase, avg(value - trend) AS s_raw
  FROM d WHERE trend IS NOT NULL GROUP BY series_id, phase),
ph2 AS (
  SELECT series_id, phase,
         s_raw - avg(s_raw) OVER (PARTITION BY series_id) AS seasonal
  FROM ph)
SELECT d.series_id, d.t, {E.round6('d.value')} AS value,
       {E.round6('d.trend')} AS trend,
       {E.round6('ph2.seasonal')} AS seasonal,
       {E.round6('d.value - d.trend - ph2.seasonal')} AS residual
FROM d JOIN ph2 ON d.series_id = ph2.series_id AND d.phase = ph2.phase
"""


# --- Hyndman time-series feature vector -------------------------------------
TSF_TILE = 10


def ts_features(
    df: DataFrame,
    period: int = 12,
    half: int = 6,
    tile: int = TSF_TILE,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """The classical time-series feature vector (Wang, Smyth & Hyndman 2006;
    the `tsfeatures` R package) — per-series scalars used to route series to
    forecasting models and to cluster/classify series catalogs at scale:

      trend_strength    = max(0, 1 − Var(R)/Var(T+R))        (deseasonalized)
      seasonal_strength = max(0, 1 − Var(R)/Var(S+R))        (detrended)
      spikiness         = Var over i of the leave-one-out variances of R
                          (closed form from ΣR, ΣR², n — no n² loop)
      linearity/curvature = projections of the trend component on the
                          orthogonal linear/quadratic polynomials of the
                          contiguous complete-case grid (Σx³ = 0 by symmetry,
                          so the quadratic is exactly orthogonal)
      stability/lumpiness = variance of tile means / tile variances over
                          non-overlapping `tile`-point windows of the
                          z-normalized series

    All components over the classical_decompose complete cases; every
    feature is a keyed aggregate or keyed window — series is the parallel
    axis throughout, no global shuffle. spikiness is rounded at 10dp
    (+1e-12) rather than the house 6dp: LOO variances are O(Var(R)/n), so
    their variance is ~1e-8 and 6dp would zero the feature.
    → (series_id, trend_strength, seasonal_strength, spikiness, linearity,
    curvature, stability, lumpiness)."""
    dec = classical_decompose(df, period, half, key, value)
    # pin the complete-case decomposition: four feature branches (strengths/
    # spikiness/linearity/tiles) read it, and without the pin each branch
    # re-ran the full decompose chain (the recompute census measured 22 base
    # scans in this one plan). Materializing the decomposition once and
    # deriving every feature from it is the right shape at corpus scale too.
    cc = dec.filter(F.col("trend").isNotNull()).localCheckpoint(eager=False)
    ag = cc.groupBy(key).agg(
        F.var_samp("residual").alias("vr"),
        F.var_samp(F.col(value) - F.col("seasonal")).alias("vdeseas"),
        F.var_samp(F.col(value) - F.col("trend")).alias("vdetrend"),
        F.sum("residual").alias("s1"),
        F.sum(F.col("residual") * F.col("residual")).alias("s2"),
        F.count("*").alias("n"),
        F.min("t").alias("t0"),
    ).localCheckpoint(eager=False)  # one row per series, read by 3 branches
    strengths = ag.select(
        key,
        F.greatest(F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vdeseas")).alias(
            "trend_strength"
        ),
        F.greatest(F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vdetrend")).alias(
            "seasonal_strength"
        ),
    )
    loo = cc.select(key, "residual").join(ag.select(key, "s1", "s2", "n"), key)
    mi = (F.col("s1") - F.col("residual")) / (F.col("n") - 1)
    vi = (
        F.col("s2") - F.col("residual") * F.col("residual") - (F.col("n") - 1) * mi * mi
    ) / (F.col("n") - 2)
    spk = (
        loo.select(key, vi.alias("vi"))
        .groupBy(key)
        .agg(F.var_samp("vi").alias("spikiness"))
    )
    lb = cc.select(key, "t", "trend").join(ag.select(key, "n", "t0"), key)
    x = F.col("t") - (F.col("t0") + (F.col("n") - F.lit(1.0)) / F.lit(2.0))
    p2 = x * x - (F.col("n") * F.col("n") - F.lit(1.0)) / F.lit(12.0)
    lb = lb.select(key, F.col("trend").alias("tr"), x.alias("x"), p2.alias("p2"))
    lc = lb.groupBy(key).agg(
        (F.sum(F.col("tr") * F.col("x")) / F.sqrt(F.sum(F.col("x") * F.col("x")))).alias(
            "linearity"
        ),
        (
            F.sum(F.col("tr") * F.col("p2")) / F.sqrt(F.sum(F.col("p2") * F.col("p2")))
        ).alias("curvature"),
    )
    wk = Window.partitionBy(key)
    z = (F.col(value) - F.avg(value).over(wk)) / F.stddev_samp(value).over(wk)
    tiles = (
        df.select(key, F.floor(F.col("t") / tile).alias("tile_id"), z.alias("z"))
        .groupBy(key, "tile_id")
        .agg(F.avg("z").alias("tm"), F.var_samp("z").alias("tv"))
    )
    st = tiles.groupBy(key).agg(
        F.var_samp("tm").alias("stability"), F.var_samp("tv").alias("lumpiness")
    )
    out = strengths.join(spk, key).join(lc, key).join(st, key)
    for c in (
        "trend_strength", "seasonal_strength", "linearity", "curvature",
        "stability", "lumpiness",
    ):
        out = out.withColumn(c, F.round(F.col(c) + F.lit(1e-9), 6) + F.lit(0.0))
    out = out.withColumn(
        "spikiness", F.round(F.col("spikiness") + F.lit(1e-12), 10) + F.lit(0.0)
    )
    return out.orderBy(key)


def _q_ts_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts_features(generators.generate(spark, 12, 96, "mixed"))


def _ts_features_sql(period: int = 12, half: int = 6, tile: int = TSF_TILE) -> str:
    gen = oracle.generate_sql(12, 96, "mixed", rounded=False)
    full = 2 * half + 1
    return f"""
WITH src AS MATERIALIZED ({gen}),
d AS (
  SELECT series_id, t, value,
         CASE WHEN count(*) OVER w = {full} THEN avg(value) OVER w END AS trend,
         t % {period} AS phase
  FROM src
  WINDOW w AS (PARTITION BY series_id ORDER BY t
               ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)),
ph AS (
  SELECT series_id, phase, avg(value - trend) AS s_raw
  FROM d WHERE trend IS NOT NULL GROUP BY series_id, phase),
ph2 AS (
  SELECT series_id, phase,
         s_raw - avg(s_raw) OVER (PARTITION BY series_id) AS seasonal
  FROM ph),
cc AS MATERIALIZED (
  SELECT d.series_id, d.t, d.value, d.trend, ph2.seasonal,
         d.value - d.trend - ph2.seasonal AS residual
  FROM d JOIN ph2 ON d.series_id = ph2.series_id AND d.phase = ph2.phase
  WHERE d.trend IS NOT NULL),
ag AS MATERIALIZED (
  SELECT series_id,
         var_samp(residual) AS vr,
         var_samp(value - seasonal) AS vdeseas,
         var_samp(value - trend) AS vdetrend,
         sum(residual) AS s1, sum(residual * residual) AS s2,
         count(*) AS n, min(t) AS t0
  FROM cc GROUP BY series_id),
spk AS (
  SELECT cc.series_id, var_samp(
           (ag.s2 - cc.residual * cc.residual
            - (ag.n - 1) * ((ag.s1 - cc.residual) / (ag.n - 1))
                         * ((ag.s1 - cc.residual) / (ag.n - 1)))
           / (ag.n - 2)) AS spikiness
  FROM cc JOIN ag USING (series_id) GROUP BY cc.series_id),
lc AS (
  SELECT series_id,
         sum(tr * x) / sqrt(sum(x * x)) AS linearity,
         sum(tr * p2) / sqrt(sum(p2 * p2)) AS curvature
  FROM (SELECT cc.series_id, cc.trend AS tr,
               cc.t - (ag.t0 + (ag.n - 1.0e0) / 2.0e0) AS x,
               (cc.t - (ag.t0 + (ag.n - 1.0e0) / 2.0e0))
                 * (cc.t - (ag.t0 + (ag.n - 1.0e0) / 2.0e0))
                 - (ag.n * ag.n - 1.0e0) / 12.0e0 AS p2
        FROM cc JOIN ag USING (series_id))
  GROUP BY series_id),
st AS (
  SELECT series_id, var_samp(tm) AS stability, var_samp(tv) AS lumpiness
  FROM (SELECT series_id, tile_id, avg(z) AS tm, var_samp(z) AS tv
        FROM (SELECT series_id, t // {tile} AS tile_id,
                     (value - avg(value) OVER (PARTITION BY series_id))
                       / stddev_samp(value) OVER (PARTITION BY series_id) AS z
              FROM src)
        GROUP BY series_id, tile_id)
  GROUP BY series_id)
SELECT ag.series_id,
       {E.round6('greatest(0.0e0, 1.0e0 - ag.vr / ag.vdeseas)')} AS trend_strength,
       {E.round6('greatest(0.0e0, 1.0e0 - ag.vr / ag.vdetrend)')} AS seasonal_strength,
       (round(spk.spikiness + 1.0e-12, 10) + 0.0e0) AS spikiness,
       {E.round6('lc.linearity')} AS linearity,
       {E.round6('lc.curvature')} AS curvature,
       {E.round6('st.stability')} AS stability,
       {E.round6('st.lumpiness')} AS lumpiness
FROM ag JOIN spk USING (series_id) JOIN lc USING (series_id)
JOIN st USING (series_id)
ORDER BY ag.series_id
"""


# --- robust (outlier-downweighted) decomposition ---------------------------
def robust_decompose(
    df: DataFrame,
    period: int = 12,
    half: int = 6,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Robustness-iterated decomposition (the STL idea, Cleveland et al.
    1990, with moving-average smoothers in place of loess): run the
    classical pass, derive bisquare robustness weights from its residuals
        u = |r| / (6·mean|r|),   w = (1 − u²)² for u < 1 else 0
    (scale: mean absolute residual instead of STL's median — avoids
    cross-engine median-interpolation semantics; documented deviation),
    then RE-estimate trend and seasonal as weight-weighted means, so an
    outlier spike no longer drags the trend window or its phase mean.
    Edge rows whose pass-0 residual is undefined get weight 0 (the CASE
    falls through to the ELSE on a NULL comparison — both engines agree).
    Emits the final components plus the weight (≈0 flags the outliers).

    Plan shape: ONE linear lineage — phase means and robustness scales are
    window aggregates over (key, phase) / (key) partitions instead of
    groupBy + join-back. The earlier join-back formulation was a diamond
    DAG that re-evaluated the base + pass-0 windows ~8x per action (the
    sc/ph/ph1 branches each re-read their parent); at 100 TB that is 8
    scans, here it was 3.3s for a 12x96 input. The linear form evaluates
    every operator once: 5 exchanges total (hash(key) + t-sort, two
    hash(key, phase) passes, two hash(key) passes), no recompute, ~1.2s
    on the same input. Mean-of-phase-means centering keeps the original
    groupBy semantics via a one-row-per-phase marker (_mark == 1); the
    s_raw / scale / _present filters replicate the inner-join row drops
    for degenerate inputs (a phase or key with no valid pass-0 rows)."""
    wt = Window.partitionBy(key).orderBy("t").rowsBetween(-half, half)
    wk = Window.partitionBy(key)
    wp = Window.partitionBy(key, "phase")
    full = 2 * half + 1
    d = (
        df.withColumn(
            "trend0", F.when(F.count("*").over(wt) == full, F.avg(value).over(wt))
        )
        .withColumn("phase", F.col("t") % period)
        .withColumn(
            "s_raw",
            F.avg(
                F.when(F.col("trend0").isNotNull(), F.col(value) - F.col("trend0"))
            ).over(wp),
        )
        .withColumn(
            "_mark", F.row_number().over(Window.partitionBy(key, "phase").orderBy("t"))
        )
        .filter(F.col("s_raw").isNotNull())
        .withColumn(
            "seasonal0",
            F.col("s_raw")
            - F.avg(F.when(F.col("_mark") == 1, F.col("s_raw"))).over(wk),
        )
        .withColumn("r0", F.col(value) - F.col("trend0") - F.col("seasonal0"))
        .withColumn("scale", F.lit(6.0) * F.avg(F.abs("r0")).over(wk))
        .filter(F.col("scale").isNotNull())
    )
    u = F.abs(F.col("r0")) / F.col("scale")
    d = d.withColumn(
        "rweight",
        F.coalesce(
            F.when(u < 1.0, (1.0 - u * u) * (1.0 - u * u)).otherwise(F.lit(0.0)),
            F.lit(1.0),
        ),
    )
    swin = F.sum(F.col("rweight") * F.col(value)).over(wt)
    swei = F.sum("rweight").over(wt)
    d = d.withColumn(
        "trend",
        F.when((F.count("*").over(wt) == full) & (swei > 0), swin / swei),
    )
    tv = F.col("trend").isNotNull()
    d = (
        d.withColumn(
            "_n1",
            F.sum(F.when(tv, F.col("rweight") * (F.col(value) - F.col("trend")))).over(wp),
        )
        .withColumn("_d1", F.sum(F.when(tv, F.col("rweight"))).over(wp))
        .withColumn("_present", F.count(F.when(tv, F.lit(1))).over(wp))
        .filter(F.col("_present") >= 1)
        .withColumn("sw_raw", F.when(F.col("_d1") > 0, F.col("_n1") / F.col("_d1")))
        .withColumn(
            "seasonal",
            F.col("sw_raw")
            - F.avg(F.when(F.col("_mark") == 1, F.col("sw_raw"))).over(wk),
        )
    )
    return (
        d.withColumn("residual", F.col(value) - F.col("trend") - F.col("seasonal"))
        .select(key, "t", value, "trend", "seasonal", "residual", "rweight")
    )


def _q_robust_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, 12, 96, "mixed")
    return round6(
        robust_decompose(df), "value", "trend", "seasonal", "residual", "rweight"
    )


def _robust_sql(period: int = 12, half: int = 6) -> str:
    gen = oracle.generate_sql(12, 96, "mixed", rounded=False)
    full = 2 * half + 1
    return f"""
WITH src AS MATERIALIZED ({gen}),
d AS (
  SELECT series_id, t, value,
         CASE WHEN count(*) OVER w = {full} THEN avg(value) OVER w END AS trend0,
         t % {period} AS phase
  FROM src
  WINDOW w AS (PARTITION BY series_id ORDER BY t
               ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)),
ph AS (
  SELECT series_id, phase, avg(value - trend0) AS s_raw
  FROM d WHERE trend0 IS NOT NULL GROUP BY series_id, phase),
ph0 AS (
  SELECT series_id, phase,
         s_raw - avg(s_raw) OVER (PARTITION BY series_id) AS seasonal0
  FROM ph),
d0 AS (
  SELECT d.series_id, d.t, d.value, d.phase,
         d.value - d.trend0 - ph0.seasonal0 AS r0
  FROM d JOIN ph0 ON d.series_id = ph0.series_id AND d.phase = ph0.phase),
sc AS (
  SELECT series_id, 6.0e0 * avg(abs(r0)) AS scale
  FROM d0 WHERE r0 IS NOT NULL GROUP BY series_id),
d1 AS (
  SELECT d0.series_id, d0.t, d0.value, d0.phase,
         coalesce(CASE WHEN abs(d0.r0) / sc.scale < 1.0e0
                       THEN (1.0e0 - (abs(d0.r0) / sc.scale) * (abs(d0.r0) / sc.scale))
                          * (1.0e0 - (abs(d0.r0) / sc.scale) * (abs(d0.r0) / sc.scale))
                       ELSE 0.0e0 END, 1.0e0) AS rweight
  FROM d0 JOIN sc ON sc.series_id = d0.series_id),
d2 AS (
  SELECT series_id, t, value, phase, rweight,
         CASE WHEN count(*) OVER w = {full} AND sum(rweight) OVER w > 0
              THEN sum(rweight * value) OVER w / sum(rweight) OVER w END AS trend
  FROM d1
  WINDOW w AS (PARTITION BY series_id ORDER BY t
               ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)),
ph1 AS (
  SELECT series_id, phase,
         CASE WHEN sum(rweight) > 0
              THEN sum(rweight * (value - trend)) / sum(rweight) END AS sw_raw
  FROM d2 WHERE trend IS NOT NULL GROUP BY series_id, phase),
ph2 AS (
  SELECT series_id, phase,
         sw_raw - avg(sw_raw) OVER (PARTITION BY series_id) AS seasonal
  FROM ph1)
SELECT d2.series_id, d2.t, {E.round6('d2.value')} AS value,
       {E.round6('d2.trend')} AS trend,
       {E.round6('ph2.seasonal')} AS seasonal,
       {E.round6('d2.value - d2.trend - ph2.seasonal')} AS residual,
       {E.round6('d2.rweight')} AS rweight
FROM d2 JOIN ph2 ON d2.series_id = ph2.series_id AND d2.phase = ph2.phase
"""


# --- linear-interpolation gap fill -----------------------------------------
def interpolate_linear(
    df: DataFrame, key: str, order: str, value: str
) -> DataFrame:
    """Fill NULL values by linear interpolation between the previous and
    next non-null observation on the `order` axis; edge gaps take the
    nearest observation (constant extrapolation). Pure window functions —
    one shuffle on the entity key."""
    wp = Window.partitionBy(key).orderBy(order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy(key).orderBy(order).rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_x = F.when(F.col(value).isNotNull(), F.col(order))
    out = (
        df.withColumn("_pv", F.last(value, ignorenulls=True).over(wp))
        .withColumn("_px", F.last(obs_x, ignorenulls=True).over(wp))
        .withColumn("_nv", F.first(value, ignorenulls=True).over(wn))
        .withColumn("_nx", F.first(obs_x, ignorenulls=True).over(wn))
    )
    filled = (
        F.when(F.col(value).isNotNull(), F.col(value))
        .when(F.col("_pv").isNull(), F.col("_nv"))
        .when(F.col("_nv").isNull(), F.col("_pv"))
        .otherwise(
            F.col("_pv")
            + (F.col("_nv") - F.col("_pv"))
            * (F.col(order) - F.col("_px")).cast("double")
            / (F.col("_nx") - F.col("_px")).cast("double")
        )
    )
    return out.withColumn("filled", filled).withColumn(
        "was_observed", F.col(value).isNotNull()
    ).drop("_pv", "_px", "_nv", "_nx")


def _q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "v_obs", F.when(F.col("rn") % 5 < 3, F.col("value"))
    )
    out = interpolate_linear(base, "user_id", "rn", "v_obs")
    return round6(
        out.select("user_id", F.col("rn").cast("bigint").alias("rn"),
                   "was_observed", "filled"),
        "filled",
    )


_INTERPOLATE_SQL = """
WITH base AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         value
  FROM events),
g AS (
  SELECT user_id, rn,
         CASE WHEN rn % 5 < 3 THEN value END AS v_obs
  FROM base),
s AS (
  SELECT user_id, rn, v_obs,
         last_value(v_obs IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v_obs IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS px,
         first_value(v_obs IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN v_obs IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS nx
  FROM g
  WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY rn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, CAST(rn AS BIGINT) AS rn,
       v_obs IS NOT NULL AS was_observed,
       (round((CASE WHEN v_obs IS NOT NULL THEN v_obs
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE pv + (nv - pv) * CAST(rn - px AS DOUBLE)
                                        / CAST(nx - px AS DOUBLE) END) + 1.0e-9,6)+0.0e0)
         AS filled
FROM s
"""


# --- LTTB downsampling ------------------------------------------------------
def lttb_downsample(ev: DataFrame, bucket: str = "hour") -> DataFrame:
    """Largest-triangle downsampling, mean-anchor (bucket-parallel) variant:
    per (event_type, bucket), keep the point maximizing the triangle area
    against the previous and next buckets' anchor points. Interior buckets
    only (first/last have no anchor); ties broken by earliest timestamp.

    Anchor x = exact bucket midpoint (an integer, bit-identical on both
    engines), anchor y = bucket mean value (O(1) magnitude, safe at 6 dp) —
    averaging epoch-microsecond x would differ in the last ulp between
    engines (partial-agg association order over 1e9-scale doubles) and
    flip the hash."""
    x = F.unix_micros(F.col("ts")) / F.lit(1000000.0)
    b = ev.withColumn("bucket_s", F.unix_timestamp(F.date_trunc(bucket, "ts")))
    means = b.groupBy("event_type", "bucket_s").agg(F.avg("value").alias("my"))
    mid = F.col("bucket_s").cast("double") + F.lit(1800.0)
    wl = Window.partitionBy("event_type").orderBy("bucket_s")
    anchors = (
        means.withColumn("px", F.lag(mid).over(wl))
        .withColumn("py", F.lag("my").over(wl))
        .withColumn("nx", F.lead(mid).over(wl))
        .withColumn("ny", F.lead("my").over(wl))
        .filter(F.col("px").isNotNull() & F.col("nx").isNotNull())
        .select("event_type", "bucket_s", "px", "py", "nx", "ny")
    )
    cand = b.join(anchors, ["event_type", "bucket_s"]).withColumn(
        "area2",
        F.abs(
            (F.col("px") - F.col("nx")) * (F.col("value") - F.col("py"))
            - (F.col("px") - x) * (F.col("ny") - F.col("py"))
        ),
    )
    wr = Window.partitionBy("event_type", "bucket_s").orderBy(
        F.desc("area2"), F.asc("ts")
    )
    return (
        cand.withColumn("_r", F.row_number().over(wr))
        .filter(F.col("_r") == 1)
        .select(
            "event_type", "bucket_s", F.unix_micros("ts").alias("ts_us"),
            "value", "area2",
        )
    )


def _q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(lttb_downsample(read_table(spark, sf_dir, "events")), "value", "area2")


_LTTB_SQL = """
WITH b AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         ts, epoch_us(ts) / 1000000.0e0 AS x, value
  FROM events),
means AS (
  SELECT event_type, bucket_s, avg(value) AS my
  FROM b GROUP BY event_type, bucket_s),
anchors AS (
  SELECT event_type, bucket_s,
         lag(CAST(bucket_s AS DOUBLE) + 1800.0e0) OVER w AS px,
         lag(my) OVER w AS py,
         lead(CAST(bucket_s AS DOUBLE) + 1800.0e0) OVER w AS nx,
         lead(my) OVER w AS ny
  FROM means
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_s)),
cand AS (
  SELECT b.event_type, b.bucket_s, b.ts, b.x, b.value,
         abs((a.px - a.nx) * (b.value - a.py) - (a.px - b.x) * (a.ny - a.py)) AS area2
  FROM b JOIN anchors a
    ON b.event_type = a.event_type AND b.bucket_s = a.bucket_s
  WHERE a.px IS NOT NULL AND a.nx IS NOT NULL),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, bucket_s
                               ORDER BY area2 DESC, ts) AS r
  FROM cand)
SELECT event_type, bucket_s, epoch_us(ts) AS ts_us,
       (round((value) + 1.0e-9,6)+0.0e0) AS value,
       (round((area2) + 1.0e-9,6)+0.0e0) AS area2
FROM ranked WHERE r = 1
"""


_REGISTRY.update(
    {
        "ts_robust_decompose": Query(
            "ts_robust_decompose", _q_robust_decompose, _robust_sql(), ("decompose",)
        ),
        "ts_features": Query(
            "ts_features", _q_ts_features, _ts_features_sql(), ("tsmining",)
        ),
        "classical_decompose": Query(
            "classical_decompose", _q_classical, _classical_sql(), ("decompose",)
        ),
        "ev_interpolate": Query(
            "ev_interpolate", _q_interpolate, _INTERPOLATE_SQL, ("tsdb",)
        ),
        "ev_lttb": Query("ev_lttb", _q_lttb, _LTTB_SQL, ("tsdb",)),
    }
)


# --- SAX symbolization ------------------------------------------------------
SAX_SEGMENTS = 16
SAX_BREAKS = (-0.6745, 0.0, 0.6745)  # N(0,1) quartiles → 4-letter alphabet


def sax_words(
    df: DataFrame,
    n_segments: int = SAX_SEGMENTS,
    breaks: tuple[float, ...] = SAX_BREAKS,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """SAX symbolization (Lin/Keogh/Lonardi/Chiu 2003): PAA-reduce each
    (z-normalized) series to `n_segments` segment means, then quantize each
    mean against the standard-normal breakpoints into a letter — the whole
    series becomes one short word, the index key for motif/novelty search
    over billions of series.

    Pure Catalyst: one count window + one groupBy(key, seg) partial agg +
    one word-assembly agg, all partitioned by the series key — two shuffles,
    no UDF. PAA means are 6dp-rounded BEFORE the breakpoint compare so a
    mean sitting within float-noise of a breakpoint can't flip its letter
    between engines."""
    wk = Window.partitionBy(key)
    seg = df.withColumn("_T", F.count("*").over(wk)).withColumn(
        "seg", F.floor(F.col("t") * n_segments / F.col("_T")).cast("bigint")
    )
    paa = seg.groupBy(key, "seg").agg(
        (F.round(F.avg(value) + F.lit(1e-9), 6) + F.lit(0.0)).alias("paa")
    )
    case = (
        "CASE "
        + " ".join(
            f"WHEN paa < {E.NUM(b)} THEN '{chr(97 + i)}'"
            for i, b in enumerate(breaks)
        )
        + f" ELSE '{chr(97 + len(breaks))}' END"
    )
    lettered = paa.withColumn("sym", F.expr(case))
    return lettered.groupBy(key).agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list(struct(seg, sym))),"
            " x -> x.sym))"
        ).alias("sax_word")
    )


def _q_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, 12, 96, "mixed")
    return sax_words(df).orderBy("series_id")


def _sax_sql() -> str:
    gen = oracle.generate_sql(12, 96, "mixed", rounded=False)
    case = (
        "CASE "
        + " ".join(
            f"WHEN paa < {E.NUM(b)} THEN '{chr(97 + i)}'"
            for i, b in enumerate(SAX_BREAKS)
        )
        + f" ELSE '{chr(97 + len(SAX_BREAKS))}' END"
    )
    return f"""
WITH src AS ({gen}),
seg AS (
  SELECT series_id,
         CAST(floor(t * {SAX_SEGMENTS} / cnt) AS BIGINT) AS seg, value
  FROM (SELECT series_id, t, value,
               count(*) OVER (PARTITION BY series_id) AS cnt FROM src)),
paa AS (
  SELECT series_id, seg, (round((avg(value)) + 1.0e-9,6)+0.0e0) AS paa
  FROM seg GROUP BY series_id, seg),
sym AS (SELECT series_id, seg, {case} AS sym FROM paa)
SELECT series_id, string_agg(sym, '' ORDER BY seg) AS sax_word
FROM sym GROUP BY series_id ORDER BY series_id
"""


# --- matrix profile (exact, brute-force within series) ----------------------
MP_M = 8          # subsequence length
MP_SERIES, MP_LEN = 8, 64


def matrix_profile(
    df: DataFrame, m: int = MP_M, key: str = "series_id", value: str = "value"
) -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016): for every length-`m` window
    of each series, the z-normalized Euclidean distance to its nearest
    non-trivial neighbor window in the SAME series (exclusion zone m//2) —
    the primitive under motif discovery and discord (anomaly) detection.

    Execution shape: series are the parallel axis (one groupBy collect to
    wide form — the decompose/forecast pattern); per series the kernel is
    pure matrix algebra (window-matrix Gram product), not a Python loop per
    pair. Exact O(n_w²) per series, which is the right baseline at the
    reference's seq_len≈512; the O(n log n) MASS/STOMP refinement drops in
    behind the same (key, i, mp, nn) contract if series get long.

    Cross-engine determinism: the nearest neighbor is chosen by
    (6dp-rounded distance, smallest j) so association-order float noise
    between the numpy Gram product and the oracle's SQL sums can't flip
    the argmin; the emitted mp is rounded by the caller (4dp — it is a
    sum of m products)."""
    wide = (
        df.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col(value).alias("v")))).alias("pts"))
        .select(key, F.col("pts.v").alias("vs"))
    )
    excl = m // 2

    def fn(batches: "pd.Iterator") -> "pd.Iterator":
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for sid, vs in zip(pdf[key], pdf["vs"]):
                y = np.asarray(vs, dtype=float)
                nw = len(y) - m + 1
                X = np.lib.stride_tricks.sliding_window_view(y, m)
                mu = X.mean(axis=1)
                # same formula text as the oracle (avg(v²) − avg(v)²)
                sd = np.sqrt(np.maximum((X * X).mean(axis=1) - mu * mu, 1e-24))
                G = X @ X.T
                d2 = 2.0 * m * (1.0 - (G - m * np.outer(mu, mu)) / (m * np.outer(sd, sd)))
                d = np.sqrt(np.maximum(d2, 0.0))
                ii, jj = np.indices((nw, nw))
                d[np.abs(ii - jj) < excl] = np.inf
                dr = np.round(d + 1e-9, 6)
                nn = np.argmin(dr, axis=1)  # first min = smallest j on ties
                mp = d[np.arange(nw), nn]
                out.append(pd.DataFrame({
                    key: sid, "i": np.arange(nw), "mp": mp, "nn": nn,
                }))
            yield pd.concat(out, ignore_index=True)

    return wide.mapInPandas(fn, f"{key} bigint, i bigint, mp double, nn bigint")


def _q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import roundn

    df = generators.generate(spark, MP_SERIES, MP_LEN, "mixed")
    return roundn(matrix_profile(df).orderBy("series_id", "i"), 4, "mp")


def _matrix_profile_sql() -> str:
    from .queries import Query  # noqa: F401 (registered below)

    gen = oracle.generate_sql(MP_SERIES, MP_LEN, "mixed", rounded=False)
    m, excl = MP_M, MP_M // 2
    return f"""
WITH src AS MATERIALIZED ({gen}),
n AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
win AS MATERIALIZED (
  SELECT s.series_id, w.i, s.t - w.i AS k, s.value AS v
  FROM src s
  JOIN (SELECT src.series_id, t AS i FROM src JOIN n USING (series_id)
        WHERE t <= tmax - {m - 1}) w
    ON w.series_id = s.series_id AND s.t >= w.i AND s.t < w.i + {m}),
stats AS MATERIALIZED (
  SELECT series_id, i, avg(v) AS mu,
         sqrt(greatest(avg(v*v) - avg(v)*avg(v), 1.0e-24)) AS sd
  FROM win GROUP BY series_id, i),
dots AS (
  SELECT a.series_id, a.i, b.i AS j, sum(a.v * b.v) AS dot
  FROM win a JOIN win b
    ON b.series_id = a.series_id AND b.k = a.k AND abs(b.i - a.i) >= {excl}
  GROUP BY a.series_id, a.i, b.i),
dist AS (
  SELECT d.series_id, d.i, d.j,
         sqrt(greatest(2.0e0 * {m} * (1.0e0 -
           (d.dot - {m} * sa.mu * sb.mu) / ({m} * sa.sd * sb.sd)), 0.0e0)) AS dist
  FROM dots d
  JOIN stats sa ON sa.series_id = d.series_id AND sa.i = d.i
  JOIN stats sb ON sb.series_id = d.series_id AND sb.i = d.j),
ranked AS (
  SELECT series_id, i, j, dist,
         row_number() OVER (PARTITION BY series_id, i
                            ORDER BY (round((dist) + 1.0e-9,6)+0.0e0) ASC, j ASC) AS rn
  FROM dist)
SELECT series_id, i, {E.roundn('dist', 4)} AS mp, j AS nn
FROM ranked WHERE rn = 1
ORDER BY series_id, i
"""


MOTIF_K = 3


def motif_topk(
    df: DataFrame, m: int = MP_M, k: int = MOTIF_K,
    key: str = "series_id", value: str = "value",
) -> DataFrame:
    """Top-k motif pairs per series (matrix-profile motif discovery, Yeh et
    al. ICDM 2016 §IV): the k closest pairs of length-`m` windows (i < j,
    outside the trivial-match exclusion zone) under z-normalized Euclidean
    distance. Same wide-form mapInPandas shape as matrix_profile — series
    are the parallel axis, the kernel is one Gram product; ranking is by
    (6dp-rounded distance, i, j) so argsort ties are engine-portable."""
    wide = (
        df.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col(value).alias("v")))).alias("pts"))
        .select(key, F.col("pts.v").alias("vs"))
    )
    excl = m // 2

    def fn(batches: "pd.Iterator") -> "pd.Iterator":
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for sid, vs in zip(pdf[key], pdf["vs"]):
                y = np.asarray(vs, dtype=float)
                nw = len(y) - m + 1
                X = np.lib.stride_tricks.sliding_window_view(y, m)
                mu = X.mean(axis=1)
                sd = np.sqrt(np.maximum((X * X).mean(axis=1) - mu * mu, 1e-24))
                G = X @ X.T
                d2 = 2.0 * m * (1.0 - (G - m * np.outer(mu, mu)) / (m * np.outer(sd, sd)))
                d = np.sqrt(np.maximum(d2, 0.0))
                ii, jj = np.triu_indices(nw, k=excl)  # i < j, |i-j| >= excl
                dr = np.round(d[ii, jj] + 1e-9, 6)
                order = np.lexsort((jj, ii, dr))[:k]
                out.append(pd.DataFrame({
                    key: sid, "rank": np.arange(1, len(order) + 1),
                    "i": ii[order], "j": jj[order], "dist": d[ii, jj][order],
                }))
            yield pd.concat(out, ignore_index=True)

    return wide.mapInPandas(
        fn, f"{key} bigint, rank bigint, i bigint, j bigint, dist double"
    )


def _q_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import roundn

    df = generators.generate(spark, MP_SERIES, MP_LEN, "mixed")
    return roundn(motif_topk(df).orderBy("series_id", "rank"), 4, "dist")


def _pair_dist_cte() -> str:
    """Shared CTE body: all z-normalized window-pair distances i < j outside
    the exclusion zone (the matrix-profile SQL with a one-sided join)."""
    gen = oracle.generate_sql(MP_SERIES, MP_LEN, "mixed", rounded=False)
    m, excl = MP_M, MP_M // 2
    return f"""
WITH src AS MATERIALIZED ({gen}),
n AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
win AS MATERIALIZED (
  SELECT s.series_id, w.i, s.t - w.i AS k, s.value AS v
  FROM src s
  JOIN (SELECT src.series_id, t AS i FROM src JOIN n USING (series_id)
        WHERE t <= tmax - {m - 1}) w
    ON w.series_id = s.series_id AND s.t >= w.i AND s.t < w.i + {m}),
stats AS MATERIALIZED (
  SELECT series_id, i, avg(v) AS mu,
         sqrt(greatest(avg(v*v) - avg(v)*avg(v), 1.0e-24)) AS sd
  FROM win GROUP BY series_id, i),
dots AS (
  SELECT a.series_id, a.i, b.i AS j, sum(a.v * b.v) AS dot
  FROM win a JOIN win b
    ON b.series_id = a.series_id AND b.k = a.k AND b.i - a.i >= {excl}
  GROUP BY a.series_id, a.i, b.i),
dist AS (
  SELECT d.series_id, d.i, d.j,
         sqrt(greatest(2.0e0 * {m} * (1.0e0 -
           (d.dot - {m} * sa.mu * sb.mu) / ({m} * sa.sd * sb.sd)), 0.0e0)) AS dist
  FROM dots d
  JOIN stats sa ON sa.series_id = d.series_id AND sa.i = d.i
  JOIN stats sb ON sb.series_id = d.series_id AND sb.i = d.j)"""


def _motifs_sql() -> str:
    return f"""{_pair_dist_cte()},
ranked AS (
  SELECT series_id, i, j, dist,
         row_number() OVER (PARTITION BY series_id
                            ORDER BY (round((dist) + 1.0e-9,6)+0.0e0) ASC,
                                     i ASC, j ASC) AS rank
  FROM dist)
SELECT series_id, rank, i, j, {E.roundn('dist', 4)} AS dist
FROM ranked WHERE rank <= {MOTIF_K}
ORDER BY series_id, rank
"""


def _q_discords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k discords per series: the windows whose nearest-neighbor
    distance (the matrix profile itself) is LARGEST — the standard
    matrix-profile anomaly read-out. Pure DataFrame ranking on top of the
    profile; per-series window, never global."""
    from .queries import roundn

    df = generators.generate(spark, MP_SERIES, MP_LEN, "mixed")
    mp = matrix_profile(df)
    w = Window.partitionBy("series_id").orderBy(
        F.round(F.col("mp") + F.lit(1e-9), 6).desc(), F.col("i").asc()
    )
    out = (
        mp.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MOTIF_K)
        .select("series_id", "rank", "i", "mp")
        .orderBy("series_id", "rank")
    )
    return roundn(out, 4, "mp")


def _discords_sql() -> str:
    m, excl = MP_M, MP_M // 2
    # profile = min over BOTH directions -> reuse pair CTE with abs() join
    return f"""{_pair_dist_cte().replace(f"b.i - a.i >= {excl}", f"abs(b.i - a.i) >= {excl}")},
prof AS (
  SELECT series_id, i, min((round((dist) + 1.0e-9,6)+0.0e0)) AS mpr,
         first(dist ORDER BY (round((dist) + 1.0e-9,6)+0.0e0) ASC, j ASC) AS mp
  FROM dist GROUP BY series_id, i),
ranked AS (
  SELECT series_id, i, mp,
         row_number() OVER (PARTITION BY series_id
                            ORDER BY mpr DESC, i ASC) AS rank
  FROM prof)
SELECT series_id, rank, i, {E.roundn('mp', 4)} AS mp
FROM ranked WHERE rank <= {MOTIF_K}
ORDER BY series_id, rank
"""


_REGISTRY.update(
    {
        "ts_sax": Query("ts_sax", _q_sax, _sax_sql(), ("tsdb",)),
        "ts_matrix_profile": Query(
            "ts_matrix_profile", _q_matrix_profile, _matrix_profile_sql(), ("tsdb",)
        ),
        "ts_motifs": Query("ts_motifs", _q_motifs, _motifs_sql(), ("tsdb",)),
        "ts_discords": Query("ts_discords", _q_discords, _discords_sql(), ("tsdb",)),
    }
)


# --- single changepoint detection (CUSUM / binary-segmentation step) --------
CP_MIN_SEG = 5


def changepoint(
    df: DataFrame, key: str, order: str, value: str, min_seg: int = CP_MIN_SEG
) -> DataFrame:
    """Most-likely single mean-shift point per series: argmax over split
    positions k of the scaled between-segment statistic
        score(k) = k·(T−k)/T · (mean_left − mean_right)²
    — the square of the CUSUM statistic, equivalently the variance
    reduction of a one-split binary-segmentation step (Scott & Knott 1974).

    Pure Catalyst: one running-sum window + one count window + one argmax
    window, all partitioned by the series key — a single shuffle. The
    argmax orders by (6dp-rounded score, split index) so association-order
    float noise can't flip the winner between engines. Recursing on the two
    halves gives full binary segmentation; one level is the oracle-checkable
    unit."""
    wk = Window.partitionBy(key)
    wo = Window.partitionBy(key).orderBy(order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = (
        df.withColumn("_T", F.count("*").over(wk))
        .withColumn("_tot", F.sum(value).over(wk))
        .withColumn("_k", F.row_number().over(Window.partitionBy(key).orderBy(order)))
        .withColumn("_cum", F.sum(value).over(wo))
    )
    k, T = F.col("_k").cast("double"), F.col("_T").cast("double")
    ml = F.col("_cum") / k
    mr = (F.col("_tot") - F.col("_cum")) / (T - k)
    scored = d.filter(
        (F.col("_k") >= min_seg) & (F.col("_k") <= F.col("_T") - min_seg)
    ).withColumn("score", k * (T - k) / T * (ml - mr) * (ml - mr))
    wa = Window.partitionBy(key).orderBy(
        (F.round(F.col("score") + F.lit(1e-9), 6) + F.lit(0.0)).desc(),
        F.col("_k").asc(),
    )
    return (
        scored.withColumn("_rn", F.row_number().over(wa))
        .filter(F.col("_rn") == 1)
        .select(
            key,
            F.col("_k").alias("split_k"),
            F.col(order).alias("split_at"),
            ml.alias("mean_left"),
            mr.alias("mean_right"),
            F.col("score"),
        )
    )


def _q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import canon_types, roundn

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.avg("value").alias("value"))
    out = changepoint(hourly, "event_type", "bucket", "value")
    out = out.select(
        "event_type", "split_k",
        F.unix_timestamp("split_at").alias("split_s"),
        "mean_left", "mean_right", "score",
    )
    return canon_types(roundn(out, 6, "mean_left", "mean_right", "score"))


_CHANGEPOINT_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, avg(value) AS value
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
d AS (
  SELECT event_type, bucket, value,
         count(*) OVER (PARTITION BY event_type) AS _T,
         sum(value) OVER (PARTITION BY event_type) AS _tot,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS _k,
         sum(value) OVER (PARTITION BY event_type ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum
  FROM hourly),
scored AS (
  SELECT event_type, bucket, _k,
         _cum / _k AS mean_left,
         (_tot - _cum) / (_T - _k) AS mean_right,
         CAST(_k AS DOUBLE) * (_T - _k) / _T
           * ((_cum / _k) - ((_tot - _cum) / (_T - _k)))
           * ((_cum / _k) - ((_tot - _cum) / (_T - _k))) AS score
  FROM d WHERE _k >= {CP_MIN_SEG} AND _k <= _T - {CP_MIN_SEG}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type
    ORDER BY (round((score) + 1.0e-9,6)+0.0e0) DESC, _k ASC) AS rn
  FROM scored)
SELECT event_type, _k AS split_k,
       CAST(floor(epoch(bucket)) AS BIGINT) AS split_s,
       (round((mean_left) + 1.0e-9,6)+0.0e0) AS mean_left,
       (round((mean_right) + 1.0e-9,6)+0.0e0) AS mean_right,
       (round((score) + 1.0e-9,6)+0.0e0) AS score
FROM ranked WHERE rn = 1
"""


_REGISTRY.update(
    {
        "ts_changepoint": Query(
            "ts_changepoint", _q_changepoint, _CHANGEPOINT_SQL, ("tsdb",)
        ),
    }
)


# --- dynamic time warping --------------------------------------------------
DTW_SERIES, DTW_LEN = 8, 32


def dtw_pairs(
    df: DataFrame, key: str = "series_id", value: str = "value"
) -> DataFrame:
    """All-pairs dynamic time warping distance (squared-difference cost,
    symmetric step pattern): the classic elastic similarity measure that
    aligns series with phase shifts/local stretches where Euclidean
    distance fails.

    Execution shape: the DP recurrence D(i,j) = c(i,j) + min(D(i−1,j),
    D(i,j−1), D(i−1,j−1)) is sequential along ANTI-DIAGONALS — cells on one
    diagonal depend only on the previous two — so the kernel loops over the
    n+m−1 diagonals and vectorizes each update across (pairs × diagonal
    cells), the same time-axis-only loop discipline as the forecast
    kernels. All-pairs is O(P²) by nature: the scale path is pairing
    against a fixed reference set or LB_Keogh-pruned candidates, both of
    which reuse this kernel unchanged; the oracle-checkable unit here is
    all pairs of a bounded series set."""
    wide = (
        df.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col(value).alias("v")))).alias("pts"))
        .select(key, F.col("pts.v").alias("vs"))
    )
    a = wide.select(
        F.col(key).alias("series_a"), F.col("vs").alias("a_vs")
    )
    b = wide.select(
        F.col(key).alias("series_b"), F.col("vs").alias("b_vs")
    )
    # broadcast the right side: without it the inequality join plans as a
    # 32×32-partition nested-loop cross product (1024 tasks for 28 rows)
    pairs = a.join(F.broadcast(b), F.col("series_a") < F.col("series_b"))

    def fn(batches: "pd.Iterator") -> "pd.Iterator":
        import numpy as np
        import pandas as pd

        INF = 1.0e30  # same guard literal as the oracle's out-of-range case
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack([np.asarray(v, dtype=float) for v in pdf["a_vs"]])
            B = np.stack([np.asarray(v, dtype=float) for v in pdf["b_vs"]])
            P, n = A.shape
            m = B.shape[1]
            C = A[:, :, None] - B[:, None, :]
            C = C * C
            D = np.full((P, n + 1, m + 1), INF)
            D[:, 0, 0] = 0.0
            for d in range(2, n + m + 1):
                i = np.arange(max(1, d - m), min(n, d - 1) + 1)
                j = d - i
                D[:, i, j] = C[:, i - 1, j - 1] + np.minimum(
                    np.minimum(D[:, i - 1, j], D[:, i, j - 1]), D[:, i - 1, j - 1]
                )
            yield pd.DataFrame(
                {
                    "series_a": pdf["series_a"],
                    "series_b": pdf["series_b"],
                    "dtw": np.sqrt(D[:, n, m]),
                }
            )

    return pairs.mapInPandas(fn, "series_a bigint, series_b bigint, dtw double")


def _q_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import round6 as r6

    df = generators.generate(spark, DTW_SERIES, DTW_LEN, "mixed")
    return r6(dtw_pairs(df).orderBy("series_a", "series_b"), "dtw")


def _dtw_sql() -> str:
    # The DP replayed diagonal-by-diagonal in a recursive CTE whose state is
    # the previous TWO anti-diagonals as LIST columns (the holt_winters
    # rotating-LIST trick). Cell (i, d−i) of diagonal d reads:
    #   up   D(i−1, d−1−(i−1)) → prev list         left D(i, d−1−i) → prev
    #   diag D(i−1, d−2−(i−1)) → prev2 (or the D(0,0)=0 base when d=2)
    # with 1e30 guards where the neighbor falls off the previous diagonal's
    # valid row range [max(1, d'−m), min(n, d'−1)]. Costs are (a[i]−b[j])²
    # via explicit multiply (pow() rounds differently per libm).
    gen = oracle.generate_sql(DTW_SERIES, DTW_LEN, "mixed", rounded=False)
    n = m = DTW_LEN
    up = (
        f"CASE WHEN i - 1 >= greatest(1, r.d - {m}) AND i - 1 <= least({n}, r.d - 1) "
        f"THEN r.cur[i - 1 - greatest(1, r.d - {m}) + 1] ELSE 1.0e30 END"
    )
    left = (
        f"CASE WHEN i >= greatest(1, r.d - {m}) AND i <= least({n}, r.d - 1) "
        f"THEN r.cur[i - greatest(1, r.d - {m}) + 1] ELSE 1.0e30 END"
    )
    diag = (
        f"CASE WHEN r.d = 1 AND i = 1 THEN 0.0e0 "
        f"WHEN i - 1 >= greatest(1, r.d - 1 - {m}) AND i - 1 <= least({n}, r.d - 2) "
        f"THEN r.prev[i - 1 - greatest(1, r.d - 1 - {m}) + 1] ELSE 1.0e30 END"
    )
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({gen}),
s AS (SELECT series_id, list(value ORDER BY t) AS vs FROM src GROUP BY series_id),
pairs AS MATERIALIZED (
  SELECT a.series_id AS sa, b.series_id AS sb, a.vs AS a_l, b.vs AS b_l
  FROM s a JOIN s b ON b.series_id > a.series_id),
rec(sa, sb, d, cur, prev) AS (
  SELECT sa, sb, 1, CAST([] AS DOUBLE[]), CAST([] AS DOUBLE[]) FROM pairs
  UNION ALL
  SELECT r.sa, r.sb, r.d + 1,
         list_transform(
           range(greatest(1, r.d + 1 - {m}), least({n}, r.d) + 1),
           i -> (p.a_l[i] - p.b_l[r.d + 1 - i]) * (p.a_l[i] - p.b_l[r.d + 1 - i])
                + least({up}, {left}, {diag})),
         r.cur
  FROM rec r JOIN pairs p ON p.sa = r.sa AND p.sb = r.sb
  WHERE r.d < {n + m})
SELECT sa AS series_a, sb AS series_b, {E.round6('sqrt(cur[1])')} AS dtw
FROM rec WHERE d = {n + m}
ORDER BY series_a, series_b
"""


_REGISTRY.update(
    {
        "ts_dtw": Query("ts_dtw", _q_dtw, _dtw_sql(), ("tsdb",)),
    }
)


# --- dominant period via the autocorrelation peak ---------------------------
ACF_MIN_LAG, ACF_MAX_LAG = 2, 24


def _q_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant period per series = argmax over lags 2..24 of the ACF
    (z-normalized series, so acf_l = Σ x_t·x_{t−l} / Σ x_t²). One lag
    window per candidate (all sharing a single series partitioning →
    ONE shuffle), stack-unpivoted to (lag, product) rows, partial-agged —
    not the explode-×-lags join, which would multiply the shuffled data
    23×. Argmax on (6dp-rounded acf, smallest lag)."""
    from .queries import canon_types, roundn

    df = generators.generate(spark, 12, 96, "mixed")
    w = Window.partitionBy("series_id").orderBy("t")
    lag_cols = [
        F.lag("value", lg).over(w).alias(f"lag{lg}")
        for lg in range(ACF_MIN_LAG, ACF_MAX_LAG + 1)
    ]
    stack = (
        f"stack({ACF_MAX_LAG - ACF_MIN_LAG + 1}, "
        + ", ".join(
            f"CAST({lg} AS BIGINT), value * lag{lg}"
            for lg in range(ACF_MIN_LAG, ACF_MAX_LAG + 1)
        )
        + ") AS (l, prod)"
    )
    pr = df.select("series_id", "t", "value", *lag_cols).selectExpr(
        "series_id", stack
    )
    ss = df.groupBy("series_id").agg(
        F.sum(F.col("value") * F.col("value")).alias("ss")
    )
    acf = (
        pr.filter(F.col("prod").isNotNull())
        .groupBy("series_id", "l")
        .agg(F.sum("prod").alias("num"))
        .join(F.broadcast(ss), "series_id")
        .withColumn("acf", F.col("num") / F.col("ss"))
    )
    wa = Window.partitionBy("series_id").orderBy(
        (F.round(F.col("acf") + F.lit(1e-9), 6) + F.lit(0.0)).desc(),
        F.col("l").asc(),
    )
    out = (
        acf.withColumn("_rn", F.row_number().over(wa))
        .filter(F.col("_rn") == 1)
        .select("series_id", F.col("l").alias("period"), F.col("acf").alias("acf_peak"))
        .orderBy("series_id")
    )
    return canon_types(roundn(out, 6, "acf_peak"))


def _period_sql() -> str:
    gen = oracle.generate_sql(12, 96, "mixed", rounded=False)
    return f"""
WITH src AS ({gen}),
lags AS (SELECT unnest(range({ACF_MIN_LAG}, {ACF_MAX_LAG + 1})) AS l),
ss AS (SELECT series_id, sum(value * value) AS ss FROM src GROUP BY series_id),
acf AS (
  SELECT a.series_id, lags.l, sum(a.value * b.value) / any_value(ss.ss) AS acf
  FROM src a
  CROSS JOIN lags
  JOIN src b ON b.series_id = a.series_id AND b.t = a.t - lags.l
  JOIN ss ON ss.series_id = a.series_id
  GROUP BY a.series_id, lags.l),
ranked AS (
  SELECT series_id, l, acf, row_number() OVER (
    PARTITION BY series_id
    ORDER BY (round((acf) + 1.0e-9,6)+0.0e0) DESC, l ASC) AS rn
  FROM acf)
SELECT series_id, l AS period, {E.round6('acf')} AS acf_peak
FROM ranked WHERE rn = 1 ORDER BY series_id
"""


_REGISTRY.update(
    {
        "ts_period": Query("ts_period", _q_period, _period_sql(), ("tsdb",)),
    }
)
