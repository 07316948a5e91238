"""Time-series mining operators (north-star TS-engine extension; complements
the reference's spectral toolkit, SURVEY §2 G1-G5, models/diffusion_ts_model.py
:242-289, with the periodicity/memory/equilibrium diagnostics a TS engine is
expected to ship).

Operators:
- ts_lombscargle: Lomb-Scargle periodogram over IRREGULARLY sampled events —
  the classical spectral estimator when there is no uniform grid for an FFT
  (Lomb 1976, Scargle 1982). Implemented in ONE aggregation pass per
  (event_type, period) via the trig identities: the time-offset tau and both
  quadrature denominators are closed forms of five per-group sums, so no
  second scan with tau joined back is needed.
- ev_technical: rolling technical indicators per user — SMA20, Bollinger %B,
  Cutler's RSI(14) (SMA-based, window-expressible — Wilder's EMA variant is
  recursive), and an SMA 5/20 crossover flag. Pure window functions.
- ts_hurst: Hurst exponent by rescaled-range (R/S) analysis — per series,
  R/S over dyadic block sizes, then the log2-log2 OLS slope. Long-memory
  diagnostic (H>0.5 persistent, <0.5 anti-persistent).
- ts_coint: Engle-Granger cointegration sweep over all series pairs — OLS
  hedge ratio, then the Dickey-Fuller t-statistic of the residual's AR(1)
  drift term. Pairs-trading / spurious-regression screen.

Scale notes (100 TB):
- ts_lombscargle: per-type stats agg (tiny) broadcast back, then ONE
  partial-aggregated groupBy over events x 24 periods — two shuffles total,
  constant-size output. The phase is computed from exact BIGINT microsecond
  arithmetic ((us - us0) % period_us) so cos/sin arguments stay in [0, 2pi)
  — both engines' libm agree to ulps there, and the modulo is exact.
- ev_technical: every window shares ONE (user_id, ts, event_id) sort — a
  single shuffle, no joins.
- ts_hurst: block stats are (series, bsize, block)-local; the final OLS is
  over a 4-row-per-series table.
- ts_coint: the pair join shuffles on t once; per-pair params are a tiny
  agg broadcast back; everything downstream is pair-partitioned.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E, generators, oracle
from .io import read_table
from .queries import _REGISTRY, Query, round6

TWO_PI = 2.0 * math.pi
LS_MAX_HOURS = 24


# --- Lomb-Scargle periodogram ---------------------------------------------
def ls_power(n, svc, svs, c2, s2) -> F.Column:
    """Lomb-Scargle power from the five sufficient statistics (all
    mergeable sums — the streaming twin aggregates the same state)."""
    tau2 = F.atan2(s2, c2)
    cc = (n + F.cos(tau2) * c2 + F.sin(tau2) * s2) / 2
    ss = (n - F.cos(tau2) * c2 - F.sin(tau2) * s2) / 2
    sc = F.cos(tau2 / 2) * svc + F.sin(tau2 / 2) * svs
    ssm = F.cos(tau2 / 2) * svs - F.sin(tau2 / 2) * svc
    return (sc * sc / cc + ssm * ssm / ss) / 2


def lombscargle(ev: DataFrame, max_hours: int = LS_MAX_HOURS) -> DataFrame:
    """Lomb-Scargle power at candidate periods of 1..max_hours hours, per
    event_type, from irregular (ts, value) samples.

    One-pass form: with v' = v - vbar and theta = omega*t,
        tau2  = atan2(sum sin 2theta, sum cos 2theta)        (= 2*omega*tau)
        CC    = (n + cos(tau2)*sum cos 2theta + sin(tau2)*sum sin 2theta)/2
        SS    = (n - ...)/2
        SC    = cos(tau2/2)*sum v'cos(theta) + sin(tau2/2)*sum v'sin(theta)
        SSm   = cos(tau2/2)*sum v'sin(theta) - sin(tau2/2)*sum v'cos(theta)
        P     = (SC^2/CC + SSm^2/SS)/2,   P_norm = P/(sum v'^2 / (n-1))
    """
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("vbar"), F.min(F.unix_micros("ts")).alias("us0")
    )
    periods = [(k, k * 3600 * 1_000_000) for k in range(1, max_hours + 1)]
    grid = F.explode(
        F.array(
            *[
                F.struct(F.lit(k).alias("period_hours"), F.lit(pus).alias("period_us"))
                for k, pus in periods
            ]
        )
    ).alias("g")
    e = (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            (F.col("value") - F.col("vbar")).alias("vc"),
            (F.unix_micros("ts") - F.col("us0")).alias("dus"),
            grid,
        )
        .select("event_type", "vc", "dus", "g.period_hours", "g.period_us")
    )
    theta = (F.col("dus") % F.col("period_us")).cast("double") * (
        F.lit(TWO_PI) / F.col("period_us").cast("double")
    )
    e = e.withColumn("theta", theta)
    agg = e.groupBy("event_type", "period_hours").agg(
        F.count("*").alias("n"),
        F.sum(F.col("vc") * F.cos("theta")).alias("svc"),
        F.sum(F.col("vc") * F.sin("theta")).alias("svs"),
        F.sum(F.cos(F.col("theta") * 2)).alias("c2"),
        F.sum(F.sin(F.col("theta") * 2)).alias("s2"),
        F.sum(F.col("vc") * F.col("vc")).alias("sv2"),
    )
    power = ls_power(F.col("n"), F.col("svc"), F.col("svs"), F.col("c2"), F.col("s2"))
    return agg.select(
        "event_type",
        "period_hours",
        "n",
        power.alias("power"),
        (power / (F.col("sv2") / (F.col("n") - 1))).alias("power_norm"),
    )


def _q_lombscargle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(lombscargle(read_table(spark, sf_dir, "events")), "power", "power_norm")


def _lombscargle_sql(max_hours: int = LS_MAX_HOURS) -> str:
    return f"""
WITH stats AS (
  SELECT event_type, avg(value) AS vbar, min(epoch_us(ts)) AS us0
  FROM events GROUP BY event_type),
grid AS (SELECT unnest(range(1, {max_hours + 1})) AS period_hours),
e AS (
  SELECT ev.event_type, g.period_hours,
         (ev.value - st.vbar) AS vc,
         CAST((epoch_us(ev.ts) - st.us0) % (g.period_hours * 3600 * 1000000) AS DOUBLE)
           * ({E.NUM(TWO_PI)} / CAST(g.period_hours * 3600 * 1000000 AS DOUBLE)) AS theta
  FROM events ev
  JOIN stats st ON st.event_type = ev.event_type
  CROSS JOIN grid g),
agg AS (
  SELECT event_type, period_hours, count(*) AS n,
         sum(vc * cos(theta)) AS svc, sum(vc * sin(theta)) AS svs,
         sum(cos(theta * 2)) AS c2, sum(sin(theta * 2)) AS s2,
         sum(vc * vc) AS sv2
  FROM e GROUP BY event_type, period_hours),
p AS (
  SELECT event_type, period_hours, n,
         ((cos(atan2(s2, c2) / 2) * svc + sin(atan2(s2, c2) / 2) * svs) ^ 2
            / ((n + cos(atan2(s2, c2)) * c2 + sin(atan2(s2, c2)) * s2) / 2)
          + (cos(atan2(s2, c2) / 2) * svs - sin(atan2(s2, c2) / 2) * svc) ^ 2
            / ((n - cos(atan2(s2, c2)) * c2 - sin(atan2(s2, c2)) * s2) / 2)) / 2 AS power,
         sv2
  FROM agg)
SELECT event_type, period_hours, n,
       {E.round6("power")} AS power,
       {E.round6("power / (sv2 / (n - 1))")} AS power_norm
FROM p
"""


# --- technical indicators --------------------------------------------------
def technical_indicators(
    ev: DataFrame, key: str = "user_id", value: str = "value"
) -> DataFrame:
    """SMA20, Bollinger %B (20, 2sigma_pop), Cutler's RSI(14), SMA5/20
    crossover flag — NULL until the window is full, like every charting
    engine. One sort, no joins."""
    order = [F.col("ts"), F.col("event_id")]
    w20 = Window.partitionBy(key).orderBy(*order).rowsBetween(-19, 0)
    w5 = Window.partitionBy(key).orderBy(*order).rowsBetween(-4, 0)
    w14 = Window.partitionBy(key).orderBy(*order).rowsBetween(-13, 0)
    wlag = Window.partitionBy(key).orderBy(*order)
    v = F.col(value)
    sma20 = F.when(F.count("*").over(w20) == 20, F.avg(v).over(w20))
    sma5 = F.when(F.count("*").over(w5) == 5, F.avg(v).over(w5))
    sigma = F.when(F.count("*").over(w20) == 20, F.stddev_pop(v).over(w20))
    delta = v - F.lag(v).over(wlag)
    gain = F.when(delta > 0, delta).otherwise(F.lit(0.0))
    loss = F.when(delta < 0, -delta).otherwise(F.lit(0.0))
    df = ev.withColumn("_gain", gain).withColumn("_loss", loss).withColumn(
        "_d", delta
    )
    gsum = F.sum("_gain").over(w14)
    lsum = F.sum("_loss").over(w14)
    rsi = F.when(
        (F.count("_d").over(w14) == 14) & (gsum + lsum > 0),
        F.lit(100.0) * gsum / (gsum + lsum),
    )
    out = (
        df.withColumn("sma20", sma20)
        .withColumn(
            "bb_pctb",
            F.when(sigma > 0, (v - sma20 + 2 * sigma) / (4 * sigma)),
        )
        .withColumn("rsi14", rsi)
        .withColumn(
            "sma_cross",
            F.when(sma5.isNotNull() & sma20.isNotNull(), (sma5 > sma20).cast("int")),
        )
    )
    return out.select("event_id", key, value, "sma20", "bb_pctb", "rsi14", "sma_cross")


def _q_technical(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = technical_indicators(read_table(spark, sf_dir, "events"))
    return round6(out, "value", "sma20", "bb_pctb", "rsi14")


_TECHNICAL_SQL = """
WITH d AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN count(*) OVER w20 = 20 THEN avg(value) OVER w20 END AS sma20,
         CASE WHEN count(*) OVER w5 = 5 THEN avg(value) OVER w5 END AS sma5,
         CASE WHEN count(*) OVER w20 = 20 THEN stddev_pop(value) OVER w20 END AS sigma,
         value - lag(value) OVER wl AS delta
  FROM events
  WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         w5 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         wl AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (
  SELECT event_id, user_id, ts, value, sma20, sma5, sigma,
         sum(CASE WHEN delta > 0 THEN delta ELSE 0.0e0 END) OVER w14 AS gsum,
         sum(CASE WHEN delta < 0 THEN -delta ELSE 0.0e0 END) OVER w14 AS lsum,
         count(delta) OVER w14 AS nd
  FROM d
  WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, (round((value) + 1.0e-9,6)+0.0e0) AS value,
       (round((sma20) + 1.0e-9,6)+0.0e0) AS sma20,
       (round((CASE WHEN sigma > 0
               THEN (value - sma20 + 2 * sigma) / (4 * sigma) END) + 1.0e-9,6)+0.0e0) AS bb_pctb,
       (round((CASE WHEN nd = 14 AND gsum + lsum > 0
               THEN 100.0e0 * gsum / (gsum + lsum) END) + 1.0e-9,6)+0.0e0) AS rsi14,
       CASE WHEN sma5 IS NOT NULL AND sma20 IS NOT NULL
            THEN CAST(sma5 > sma20 AS INT) END AS sma_cross
FROM r
"""


# --- Hurst exponent (R/S analysis) -----------------------------------------
HURST_SIZES = (16, 32, 64, 128)
HURST_N, HURST_LEN = 12, 512


def hurst_rs(df: DataFrame, sizes: tuple[int, ...] = HURST_SIZES) -> DataFrame:
    """Rescaled-range Hurst exponent per series: for each block size n,
    split the series into len/n full blocks; R = range of the cumulative
    deviation from the block mean, S = population std; H = OLS slope of
    log2(mean R/S) on log2(n)."""
    grid = F.explode(F.array(*[F.lit(s) for s in sizes])).alias("bsize")
    e = df.select("series_id", "t", "value", grid)
    e = e.withColumn("block", (F.col("t") / F.col("bsize")).cast("int"))
    wb = Window.partitionBy("series_id", "bsize", "block")
    wcum = wb.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    e = e.withColumn("bmean", F.avg("value").over(wb)).withColumn(
        "bstd", F.stddev_pop("value").over(wb)
    )
    e = e.withColumn("cum", F.sum(F.col("value") - F.col("bmean")).over(wcum))
    blocks = e.groupBy("series_id", "bsize", "block").agg(
        (F.max("cum") - F.min("cum")).alias("r"), F.first("bstd").alias("s")
    )
    rs = blocks.groupBy("series_id", "bsize").agg(
        F.avg(F.col("r") / F.col("s")).alias("rs_mean")
    )
    rs = rs.withColumn("x", F.log2("bsize")).withColumn("y", F.log2("rs_mean"))
    return (
        rs.groupBy("series_id")
        .agg(F.covar_pop("x", "y").alias("sxy"), F.var_pop("x").alias("sxx"))
        .select("series_id", (F.col("sxy") / F.col("sxx")).alias("hurst"))
    )


def _q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, HURST_N, HURST_LEN, "mixed")
    return round6(hurst_rs(df), "hurst")


def _hurst_sql() -> str:
    gen = oracle.generate_sql(HURST_N, HURST_LEN, "mixed", rounded=False)
    sizes = ", ".join(str(s) for s in HURST_SIZES)
    return f"""
WITH src AS ({gen}),
e AS (
  SELECT series_id, t, value, g.bsize, CAST(floor(t / g.bsize) AS INT) AS block
  FROM src CROSS JOIN (SELECT unnest([{sizes}]) AS bsize) g),
d AS (
  SELECT series_id, bsize, block, t, value,
         avg(value) OVER wb AS bmean, stddev_pop(value) OVER wb AS bstd
  FROM e
  WINDOW wb AS (PARTITION BY series_id, bsize, block)),
c AS (
  SELECT series_id, bsize, block, bstd,
         sum(value - bmean) OVER (PARTITION BY series_id, bsize, block ORDER BY t
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d),
blocks AS (
  SELECT series_id, bsize, block, max(cum) - min(cum) AS r, any_value(bstd) AS s
  FROM c GROUP BY series_id, bsize, block),
rs AS (
  SELECT series_id, bsize, avg(r / s) AS rs_mean FROM blocks GROUP BY series_id, bsize),
xy AS (SELECT series_id, log2(bsize) AS x, log2(rs_mean) AS y FROM rs)
SELECT series_id, {E.round6("covar_pop(x, y) / var_pop(x)")} AS hurst
FROM xy GROUP BY series_id
"""


# --- Engle-Granger cointegration sweep -------------------------------------
COINT_N, COINT_LEN = 12, 256


def coint_sweep(df: DataFrame) -> DataFrame:
    """Engle-Granger step-1/2 over every ordered series pair (a < b):
    OLS y ~ alpha + beta*x, residual z; Dickey-Fuller regression (no
    constant) dz_t = phi * z_{t-1}: phi, its t-statistic. df_t below ~-3.4
    rejects 'no cointegration' at 5% (MacKinnon)."""
    a = df.select(
        F.col("series_id").alias("sa"), "t", F.col("value").alias("x")
    )
    b = df.select(F.col("series_id").alias("sb"), "t", F.col("value").alias("y"))
    # pin the aligned pair stream and the per-pair OLS table: the OLS agg,
    # the residual join, and the final beta join each re-built the pair
    # join otherwise (recompute census: 12 base scans in this plan)
    j = a.join(b, "t").where(F.col("sa") < F.col("sb")).localCheckpoint(eager=False)
    ols = j.groupBy("sa", "sb").agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("beta"),
        F.avg("x").alias("xbar"),
        F.avg("y").alias("ybar"),
    ).localCheckpoint(eager=False)
    z = (
        j.join(F.broadcast(ols), ["sa", "sb"])
        .withColumn(
            "z", F.col("y") - (F.col("ybar") - F.col("beta") * F.col("xbar")) - F.col("beta") * F.col("x")
        )
        .select("sa", "sb", "t", "z")
    )
    w = Window.partitionBy("sa", "sb").orderBy("t")
    z = z.withColumn("zl", F.lag("z").over(w)).where(F.col("zl").isNotNull())
    df_agg = z.groupBy("sa", "sb").agg(
        (F.sum(F.col("zl") * (F.col("z") - F.col("zl"))) / F.sum(F.col("zl") * F.col("zl"))).alias("phi"),
        F.sum(F.col("zl") * F.col("zl")).alias("szz"),
        F.count("*").alias("n"),
        F.sum(F.col("zl") * (F.col("z") - F.col("zl"))).alias("szd"),
        F.sum((F.col("z") - F.col("zl")) * (F.col("z") - F.col("zl"))).alias("sdd"),
    )
    # SSR of dz ~ phi*zl: sdd - 2 phi szd + phi^2 szz ; s2 = SSR/(n-1); se = sqrt(s2/szz)
    ssr = F.col("sdd") - 2 * F.col("phi") * F.col("szd") + F.col("phi") * F.col("phi") * F.col("szz")
    se = F.sqrt(ssr / (F.col("n") - 1) / F.col("szz"))
    j2 = df_agg.join(F.broadcast(ols.select("sa", "sb", "beta")), ["sa", "sb"])
    return j2.select(
        "sa", "sb", "beta", "phi", (F.col("phi") / se).alias("df_t")
    )


def _q_coint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, COINT_N, COINT_LEN, "mixed")
    return round6(coint_sweep(df), "beta", "phi", "df_t")


def _coint_sql() -> str:
    gen = oracle.generate_sql(COINT_N, COINT_LEN, "mixed", rounded=False)
    return f"""
WITH src AS ({gen}),
j AS (
  SELECT a.series_id AS sa, b.series_id AS sb, a.t, a.value AS x, b.value AS y
  FROM src a JOIN src b ON a.t = b.t AND a.series_id < b.series_id),
ols AS (
  SELECT sa, sb, covar_pop(x, y) / var_pop(x) AS beta,
         avg(x) AS xbar, avg(y) AS ybar
  FROM j GROUP BY sa, sb),
z AS (
  SELECT j.sa, j.sb, j.t,
         j.y - (ols.ybar - ols.beta * ols.xbar) - ols.beta * j.x AS z
  FROM j JOIN ols ON ols.sa = j.sa AND ols.sb = j.sb),
zl AS (
  SELECT sa, sb, z, lag(z) OVER (PARTITION BY sa, sb ORDER BY t) AS zl FROM z),
agg AS (
  SELECT sa, sb,
         sum(zl * (z - zl)) / sum(zl * zl) AS phi,
         sum(zl * zl) AS szz, count(*) AS n,
         sum(zl * (z - zl)) AS szd, sum((z - zl) * (z - zl)) AS sdd
  FROM zl WHERE zl IS NOT NULL GROUP BY sa, sb)
SELECT agg.sa, agg.sb,
       {E.round6("ols.beta")} AS beta,
       {E.round6("agg.phi")} AS phi,
       {E.round6("agg.phi / sqrt((agg.sdd - 2 * agg.phi * agg.szd + agg.phi * agg.phi * agg.szz) / (agg.n - 1) / agg.szz)")} AS df_t
FROM agg JOIN ols ON ols.sa = agg.sa AND ols.sb = agg.sb
"""


# --- partial autocorrelation (Durbin-Levinson) -----------------------------
PACF_K = 8
PACF_N, PACF_LEN = 12, 256


def pacf_durbin_levinson(df: DataFrame, k_max: int = PACF_K) -> DataFrame:
    """PACF at lags 1..k_max per series via the Durbin-Levinson recursion
    over the stationary ACF (rho_k = sum v_t v_{t-k} / sum v_t^2 on the
    z-normalized series). The ACF build is a distributed lag join + one
    aggregation; the recursion itself runs on k_max rows PER SERIES
    (applyInPandas over a constant-size group — pure-Python loop, so the
    summation order matches the oracle's list_sum exactly). rho is rounded
    to 12dp on BOTH engines before the recursion: the k_max-step recursion
    would otherwise amplify 1-ulp aggregation differences."""
    # three branches read df: pin, or each re-runs the generator chain
    df = df.localCheckpoint(eager=False)
    import pandas as pd

    ss = df.groupBy("series_id").agg(
        F.sum(F.col("value") * F.col("value")).alias("ss")
    )
    a = df.select(
        "series_id", "t", "value",
        F.explode(F.array(*[F.lit(k) for k in range(1, k_max + 1)])).alias("l"),
    )
    b = df.select("series_id", F.col("t").alias("tb"), F.col("value").alias("vb"))
    acf = (
        a.join(b, (a.series_id == b.series_id) & (F.col("tb") == F.col("t") - F.col("l")))
        .drop(b.series_id)
        .groupBy("series_id", "l")
        .agg(F.sum(F.col("value") * F.col("vb")).alias("num"))
        .join(F.broadcast(ss), "series_id")
        .select(
            "series_id", "l",
            (F.round(F.col("num") / F.col("ss") + F.lit(1.0e-15), 12)).alias("rho"),
        )
    )

    def dl(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("l")
        rho = pdf["rho"].tolist()
        sid = int(pdf["series_id"].iloc[0])
        phi = [rho[0]]
        rows = [(sid, 1, rho[0])]
        for k in range(1, len(rho)):  # extend from order k to k+1
            num = rho[k] - sum(phi[i - 1] * rho[k - i] for i in range(1, k + 1))
            den = 1 - sum(phi[i - 1] * rho[i - 1] for i in range(1, k + 1))
            pkk = num / den
            phi = [phi[j - 1] - pkk * phi[k - j] for j in range(1, k + 1)] + [pkk]
            rows.append((sid, k + 1, pkk))
        return pd.DataFrame(rows, columns=["series_id", "lag", "pacf"])

    return acf.groupBy("series_id").applyInPandas(
        dl, "series_id bigint, lag bigint, pacf double"
    )


def _q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, PACF_N, PACF_LEN, "mixed")
    return round6(pacf_durbin_levinson(df), "pacf")


def _pacf_sql(k_max: int = PACF_K) -> str:
    gen = oracle.generate_sql(PACF_N, PACF_LEN, "mixed", rounded=False)
    num = (
        f"(al.rho[rec.k + 1] - list_sum(list_transform(range(1, rec.k + 1), "
        "i -> rec.phi[i] * al.rho[rec.k + 1 - i])))"
    )
    den = (
        "(1 - list_sum(list_transform(range(1, rec.k + 1), "
        "i -> rec.phi[i] * al.rho[i])))"
    )
    pkk = f"({num} / {den})"
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({gen}),
ss AS (SELECT series_id, sum(value * value) AS ss FROM src GROUP BY series_id),
lags AS (SELECT unnest(range(1, {k_max + 1})) AS l),
acf AS (
  SELECT a.series_id, lags.l,
         round(sum(a.value * b.value) / any_value(ss.ss) + 1.0e-15, 12) AS rho
  FROM src a
  CROSS JOIN lags
  JOIN src b ON b.series_id = a.series_id AND b.t = a.t - lags.l
  JOIN ss ON ss.series_id = a.series_id
  GROUP BY a.series_id, lags.l),
al AS MATERIALIZED (SELECT series_id, list(rho ORDER BY l) AS rho FROM acf GROUP BY series_id),
rec(series_id, k, phi, pkk) AS (
  SELECT series_id, 1, [rho[1]], rho[1] FROM al
  UNION ALL
  SELECT rec.series_id, rec.k + 1,
         list_append(
           list_transform(range(1, rec.k + 1), j -> rec.phi[j] - {pkk} * rec.phi[rec.k + 1 - j]),
           {pkk}),
         {pkk}
  FROM rec JOIN al ON al.series_id = rec.series_id
  WHERE rec.k < {k_max})
SELECT series_id, k AS lag, {E.round6('pkk')} AS pacf FROM rec
"""


# --- Haar wavelet energy spectrum --------------------------------------------
HAAR_N, HAAR_LEN = 8, 256


def haar_energy(df: DataFrame) -> DataFrame:
    """Haar DWT energy per decomposition level (the multiresolution scale
    spectrum): at each level, pairwise (a+b)/sqrt2 approximations carry on,
    (a-b)/sqrt2 details contribute that level's energy; level 0 is the
    final approximation coefficient's energy. Parseval: levels sum to the
    series' total energy (asserted in tests). Series length must be a
    power of 2 (generated grid). Kalman-shape mapInPandas; the oracle
    replays the cascade with LIST state in a recursive CTE."""
    import pandas as pd

    wide = (
        df.groupBy("series_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col("value").alias("v")))).alias("pts"))
        .select("series_id", F.col("pts.v").alias("vs"))
    )

    def fn(batches):
        import numpy as np

        r2 = np.sqrt(2.0)
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for sid, vs in zip(pdf["series_id"], pdf["vs"]):
                a = np.asarray(vs, dtype=float)
                level = 1
                while len(a) > 1:
                    det = (a[0::2] - a[1::2]) / r2
                    a = (a[0::2] + a[1::2]) / r2
                    rows.append((int(sid), level, len(det), float((det * det).sum())))
                    level += 1
                rows.append((int(sid), 0, 1, float(a[0] * a[0])))
            yield pd.DataFrame(rows, columns=["series_id", "level", "n_coeffs", "energy"])

    return wide.mapInPandas(
        fn, "series_id bigint, level bigint, n_coeffs bigint, energy double"
    )


def _q_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, HAAR_N, HAAR_LEN, "mixed")
    return round6(haar_energy(df), "energy")


def _haar_sql() -> str:
    gen = oracle.generate_sql(HAAR_N, HAAR_LEN, "mixed", rounded=False)
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({gen}),
base AS (SELECT series_id, list(value ORDER BY t) AS a FROM src GROUP BY series_id),
rec(series_id, level, a, denergy) AS (
  SELECT series_id, 0, a, CAST(NULL AS DOUBLE) FROM base
  UNION ALL
  SELECT rec.series_id, rec.level + 1,
         list_transform(range(1, len(rec.a) // 2 + 1),
                        i -> (rec.a[2 * i - 1] + rec.a[2 * i]) / sqrt(2.0e0)),
         list_sum(list_transform(range(1, len(rec.a) // 2 + 1),
                  i -> ((rec.a[2 * i - 1] - rec.a[2 * i]) / sqrt(2.0e0))
                       * ((rec.a[2 * i - 1] - rec.a[2 * i]) / sqrt(2.0e0))))
  FROM rec WHERE len(rec.a) > 1)
SELECT series_id, level, CAST(len(a) AS BIGINT) AS n_coeffs,
       {E.round6('denergy')} AS energy
FROM rec WHERE level > 0
UNION ALL
SELECT series_id, 0, 1, {E.round6('a[1] * a[1]')} AS energy
FROM rec WHERE len(a) = 1
"""


# --- optimal multi-changepoint segmentation ----------------------------------
SEG_N, SEG_LEN, SEG_BETA = 8, 128, 8.0


def optimal_segmentation(df: DataFrame, beta: float = SEG_BETA) -> DataFrame:
    """Exact optimal mean-shift segmentation per series (optimal
    partitioning, the unpruned form of PELT — Killick et al. 2012):
        F(t) = min_tau F(tau) + SSE(tau+1..t) + beta,   F(0) = -beta
    with SSE from prefix sums. Emits one row per optimal segment
    (start, end, length, mean). Upgrades the single-changepoint detector
    (ts_changepoint) to the full multi-changepoint optimum.

    Execution: kalman-shape mapInPandas; the O(n^2) DP vectorizes the tau
    axis per step (n = series length, bounded — 128 here; the distributed
    axis is series count). The oracle replays the SAME DP in a recursive
    CTE with LIST state (F and argmin-pointer lists), then a second
    recursive CTE walks the backtrace — tie-breaks are first-argmin on
    both engines, and every float op matches elementwise."""
    import pandas as pd

    wide = (
        df.groupBy("series_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col("value").alias("v")))).alias("pts"))
        .select("series_id", F.col("pts.v").alias("vs"))
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for sid, vs in zip(pdf["series_id"], pdf["vs"]):
                y = np.asarray(vs, dtype=float)
                n = len(y)
                s1 = np.concatenate([[0.0], np.cumsum(y)])
                s2 = np.concatenate([[0.0], np.cumsum(y * y)])
                fv = np.empty(n + 1)
                fv[0] = -beta
                prev = np.zeros(n + 1, dtype=int)
                for t in range(1, n + 1):
                    taus = np.arange(t)
                    d1 = s1[t] - s1[taus]
                    d2 = s2[t] - s2[taus]
                    cand = (fv[:t] + (d2 - d1 * d1 / (t - taus))) + beta
                    j = int(np.argmin(cand))
                    fv[t] = cand[j]
                    prev[t] = j
                t = n
                segs = []
                while t > 0:
                    s = int(prev[t])
                    segs.append((s, t))
                    t = s
                for s, e in reversed(segs):
                    rows.append(
                        (
                            int(sid),
                            s,
                            e - 1,
                            e - s,
                            (s1[e] - s1[s]) / (e - s),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["series_id", "seg_start", "seg_end", "n_points", "seg_mean"],
            )

    return wide.mapInPandas(
        fn,
        "series_id bigint, seg_start bigint, seg_end bigint, n_points bigint, seg_mean double",
    )


def _q_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, SEG_N, SEG_LEN, "mixed")
    return round6(optimal_segmentation(df), "seg_mean")


def pelt_segmentation(df: DataFrame, beta: float = SEG_BETA) -> DataFrame:
    """PELT (Pruned Exact Linear Time, Killick et al. 2012 JASA): the SAME
    optimal mean-shift segmentation as optimal_segmentation, but each DP
    step minimizes only over the pruned candidate set
        R_t = { tau in R_{t-1} + {t-1} : F(tau) + SSE(tau+1..t) <= F(t) }
    Any tau failing the test can never re-enter the optimum (the SSE cost
    is subadditive: C(tau..t') >= C(tau..t) + C(t..t') for t' > t), so the
    prune is LOSSLESS — output is identical to the unpruned DP, which is
    why this query shares optimal_segmentation's exact DP-replay oracle.
    Under frequent changepoints |R_t| stays O(1) and the per-series cost
    drops O(n^2) -> O(n) expected: the scale path for LONG series, where
    the distributed axis (series count) no longer compensates for a
    quadratic time axis. Tie handling matches the unpruned DP: candidates
    are scanned in ascending tau and the prune keeps ties (<=), so the
    first-argmin backtrace is preserved.

    Execution: kalman-shape mapInPandas; the candidate axis vectorizes in
    numpy per step, the recursion is only over t.
    """
    import pandas as pd

    wide = (
        df.groupBy("series_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col("value").alias("v")))).alias("pts"))
        .select("series_id", F.col("pts.v").alias("vs"))
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for sid, vs in zip(pdf["series_id"], pdf["vs"]):
                y = np.asarray(vs, dtype=float)
                n = len(y)
                s1 = np.concatenate([[0.0], np.cumsum(y)])
                s2 = np.concatenate([[0.0], np.cumsum(y * y)])
                fv = np.empty(n + 1)
                fv[0] = -beta
                prev = np.zeros(n + 1, dtype=int)
                cand_set = np.array([0], dtype=int)  # R_1 = {0}
                for t in range(1, n + 1):
                    d1 = s1[t] - s1[cand_set]
                    sse = (s2[t] - s2[cand_set]) - d1 * d1 / (t - cand_set)
                    base = fv[cand_set] + sse
                    cand = base + beta
                    j = int(np.argmin(cand))  # first argmin (ascending tau)
                    fv[t] = cand[j]
                    prev[t] = cand_set[j]
                    # prune (keep ties), then admit tau = t for the next step
                    cand_set = np.append(cand_set[base <= fv[t]], t)
                t = n
                segs = []
                while t > 0:
                    s = int(prev[t])
                    segs.append((s, t))
                    t = s
                for s, e in reversed(segs):
                    rows.append(
                        (int(sid), s, e - 1, e - s, (s1[e] - s1[s]) / (e - s))
                    )
            yield pd.DataFrame(
                rows,
                columns=["series_id", "seg_start", "seg_end", "n_points", "seg_mean"],
            )

    return wide.mapInPandas(
        fn,
        "series_id bigint, seg_start bigint, seg_end bigint, n_points bigint, seg_mean double",
    )


def _q_pelt(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, SEG_N, SEG_LEN, "mixed")
    return round6(pelt_segmentation(df), "seg_mean")


def _segmentation_sql(beta: float = SEG_BETA) -> str:
    gen = oracle.generate_sql(SEG_N, SEG_LEN, "mixed", rounded=False)
    B = E.NUM(beta)
    cand = (
        "list_transform(range(0, rec.t + 1), tau -> "
        "(rec.f[tau + 1] + ((ps.s2[rec.t + 2] - ps.s2[tau + 1]) "
        "- (ps.s1[rec.t + 2] - ps.s1[tau + 1]) * (ps.s1[rec.t + 2] - ps.s1[tau + 1]) "
        f"/ (rec.t + 1 - tau))) + {B})"
    )
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({gen}),
ps AS MATERIALIZED (
  SELECT series_id,
         list_prepend(0.0e0, list(c1 ORDER BY t)) AS s1,
         list_prepend(0.0e0, list(c2 ORDER BY t)) AS s2,
         count(*) AS n
  FROM (
    SELECT series_id, t,
           sum(value) OVER w AS c1, sum(value * value) OVER w AS c2
    FROM src
    WINDOW w AS (PARTITION BY series_id ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
  GROUP BY series_id),
rec(series_id, t, f, prev) AS (
  SELECT series_id, 0, [-{B}], [CAST(0 AS BIGINT)] FROM ps
  UNION ALL
  SELECT rec.series_id, rec.t + 1,
         list_append(rec.f, list_min({cand})),
         list_append(rec.prev, CAST(list_position({cand}, list_min({cand})) - 1 AS BIGINT))
  FROM rec JOIN ps ON ps.series_id = rec.series_id
  WHERE rec.t < ps.n),
fin AS (SELECT rec.series_id, rec.prev FROM rec JOIN ps ON ps.series_id = rec.series_id AND rec.t = ps.n),
walk(series_id, e) AS (
  SELECT series_id, n FROM ps
  UNION ALL
  SELECT w.series_id, fin.prev[w.e + 1]
  FROM walk w JOIN fin ON fin.series_id = w.series_id
  WHERE w.e > 0)
SELECT w.series_id,
       fin.prev[w.e + 1] AS seg_start,
       w.e - 1 AS seg_end,
       w.e - fin.prev[w.e + 1] AS n_points,
       {E.round6("(ps.s1[w.e + 1] - ps.s1[fin.prev[w.e + 1] + 1]) / (w.e - fin.prev[w.e + 1])")} AS seg_mean
FROM walk w
JOIN fin ON fin.series_id = w.series_id
JOIN ps ON ps.series_id = w.series_id
WHERE w.e > 0
"""


# --- isotonic regression -----------------------------------------------------
ISO_N, ISO_LEN = 8, 64


def isotonic_fit(df: DataFrame) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression per series — the L2
    projection onto the monotone cone (Barlow et al. 1972; the calibration
    step behind Zadrozny-Elkan probability calibration). Computed via the
    exact minimax identity rather than the PAVA stack:
        iso_i = max_{j≤i} min_{k≥i} mean(y_j..y_k)
    PAVA's pool-merge decisions compare float means, so a 1-ulp engine
    difference could flip a pooling and change the output; the minimax
    form has NO data-dependent branches — min/max are exact, and the only
    float arithmetic is the range mean (s[k+1]−s[j])/(k−j+1) computed from
    the same sequential prefix sums on both engines → bit-identical
    output. O(n²) per series, vectorized in numpy; series are the
    distributed axis (kalman-shape mapInPandas)."""
    import pandas as pd

    wide = (
        df.groupBy("series_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col("value").alias("v")))).alias("pts"))
        .select("series_id", F.col("pts.v").alias("vs"))
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for sid, vs in zip(pdf["series_id"], pdf["vs"]):
                y = np.asarray(vs, dtype=float)
                n = len(y)
                s = np.concatenate([[0.0], np.cumsum(y)])
                j = np.arange(n)[:, None]
                k = np.arange(n)[None, :]
                with np.errstate(invalid="ignore"):
                    M = (s[k + 1] - s[j]) / (k - j + 1)  # mean(y_j..y_k), j<=k
                M[j > k] = np.inf  # invalid ranges never win a min
                smin = np.minimum.accumulate(M[:, ::-1], axis=1)[:, ::-1]
                # iso_i = max_{j<=i} smin[j, i]; rows j>i masked out of the max
                sm = np.where(j <= k, smin, -np.inf)
                iso = np.maximum.accumulate(sm, axis=0).diagonal()
                for t in range(n):
                    rows.append((int(sid), t, float(y[t]), float(iso[t])))
            yield pd.DataFrame(rows, columns=["series_id", "t", "value", "iso"])

    return wide.mapInPandas(
        fn, "series_id bigint, t bigint, value double, iso double"
    )


def _q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, ISO_N, ISO_LEN, "mixed")
    return round6(isotonic_fit(df), "value", "iso")


def _isotonic_sql() -> str:
    gen = oracle.generate_sql(ISO_N, ISO_LEN, "mixed", rounded=False)
    mean_jk = "(ps.s1[k + 2] - ps.s1[j + 1]) / (k - j + 1)"
    iso = (
        f"list_max(list_transform(range(0, src.t + 1), j -> "
        f"list_min(list_transform(range(src.t, ps.n), k -> {mean_jk}))))"
    )
    return f"""
WITH src AS MATERIALIZED ({gen}),
ps AS MATERIALIZED (
  SELECT series_id,
         list_prepend(0.0e0, list(c1 ORDER BY t)) AS s1,
         count(*) AS n
  FROM (
    SELECT series_id, t, sum(value) OVER w AS c1
    FROM src
    WINDOW w AS (PARTITION BY series_id ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
  GROUP BY series_id)
SELECT src.series_id, src.t, {E.round6('src.value')} AS value,
       {E.round6(iso)} AS iso
FROM src JOIN ps ON ps.series_id = src.series_id
"""


# --- EWMA control chart ------------------------------------------------------
EWCH_LAM, EWCH_L, EWCH_BUCKET_S = 0.2, 3.0, 3600


def ewma_chart(
    ev: DataFrame, lam: float = EWCH_LAM, L: float = EWCH_L, bucket_s: int = EWCH_BUCKET_S
) -> DataFrame:
    """EWMA control chart (Roberts 1959 / Lucas & Saccucci 1990) per
    event_type over hourly means: the monitored statistic
        z_t = λ·x_t + (1−λ)·z_{t−1},   z_1 = x_1
    against the EXACT time-varying control limits
        μ ± L·σ·sqrt(λ/(2−λ)·(1 − (1−λ)^{2t}))
    (the small-shift detector a Shewhart chart misses; CUSUM's cousin,
    already shipped as ev_cusum). μ, σ come from the FIRST HALF of each
    series — the phase-I/phase-II convention: estimating them over the
    monitored stretch too would let a sustained shift contaminate its own
    control limits and silence the chart. The out-of-control flag compares the
    6dp-ROUNDED margin on both engines, so a point sitting ulps from the
    limit cannot flip the boolean between Spark and the oracle. Execution:
    one partial-agged groupBy to buckets, a kalman-shape mapInPandas for
    the recursion (types are the batch axis), limits as a stateless
    projection."""
    import pandas as pd

    b = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / bucket_s).alias("bk"), "event_type"
    ).agg(F.avg("value").alias("x"))
    wide = (
        b.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("bk", F.col("x").alias("v")))).alias("pts"))
        .select("event_type", F.col("pts.bk").alias("bks"), F.col("pts.v").alias("vs"))
    )
    oml = 1.0 - lam

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for et, bks, vs in zip(pdf["event_type"], pdf["bks"], pdf["vs"]):
                z = float(vs[0])
                for rn, (bk, x) in enumerate(zip(bks, vs), start=1):
                    if rn > 1:
                        z = lam * float(x) + oml * z
                    rows.append((str(et), rn, int(bk), float(x), z))
            yield pd.DataFrame(rows, columns=["event_type", "rn", "bk", "x", "z"])

    zs = wide.mapInPandas(
        fn, "event_type string, rn bigint, bk bigint, x double, z double"
    )
    nn = b.groupBy("event_type").agg(F.count("*").alias("nb"))
    rk = b.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy("bk"))
    )
    st = (
        rk.join(F.broadcast(nn), "event_type")
        .filter(F.col("rn") * 2 <= F.col("nb"))
        .groupBy("event_type")
        .agg(F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd"))
    )
    fac = F.sqrt(
        F.lit(lam / (2.0 - lam))
        * (1.0 - F.pow(F.lit(oml), 2.0 * F.col("rn").cast("double")))
    )
    out = zs.join(F.broadcast(st), "event_type").select(
        "event_type",
        (F.col("bk") * bucket_s).alias("bucket_s"),
        "z",
        (F.col("mu") + F.lit(L) * F.col("sd") * fac).alias("ucl"),
        (F.col("mu") - F.lit(L) * F.col("sd") * fac).alias("lcl"),
    )
    margin = F.greatest(F.col("z") - F.col("ucl"), F.col("lcl") - F.col("z"))
    out = out.withColumn(
        "margin", F.round(margin + F.lit(1e-9), 6) + F.lit(0.0)
    ).withColumn("out_of_control", F.col("margin") > 0)
    return out


def _q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(ewma_chart(read_table(spark, sf_dir, "events")), "z", "ucl", "lcl")


def _ewma_chart_sql(
    lam: float = EWCH_LAM, L: float = EWCH_L, bucket_s: int = EWCH_BUCKET_S
) -> str:
    A, OML = E.NUM(lam), E.NUM(1.0 - lam)
    LF = E.NUM(L)
    RATIO = E.NUM(lam / (2.0 - lam))
    return f"""
WITH RECURSIVE b AS (
  SELECT CAST(floor(floor(epoch(ts)) / {bucket_s}) AS BIGINT) AS bk,
         event_type, avg(value) AS x
  FROM events GROUP BY 1, 2),
rk AS MATERIALIZED (
  SELECT event_type, bk, x,
         row_number() OVER (PARTITION BY event_type ORDER BY bk) AS rn
  FROM b),
nn AS (SELECT event_type, count(*) AS nb FROM b GROUP BY event_type),
st AS (
  SELECT rk.event_type, avg(rk.x) AS mu, stddev_samp(rk.x) AS sd
  FROM rk JOIN nn ON nn.event_type = rk.event_type
  WHERE rk.rn * 2 <= nn.nb
  GROUP BY rk.event_type),
rec(event_type, rn, bk, x, z) AS (
  SELECT event_type, CAST(1 AS BIGINT), bk, x, x FROM rk WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.rn + 1, s.bk, s.x, {A}*s.x + {OML}*r.z
  FROM rec r JOIN rk s ON s.event_type = r.event_type AND s.rn = r.rn + 1),
lim AS (
  SELECT rec.event_type, rec.bk * {bucket_s} AS bucket_s, rec.z,
         st.mu + {LF} * st.sd * sqrt({RATIO} * (1.0e0 - pow({OML}, 2.0e0 * rec.rn))) AS ucl,
         st.mu - {LF} * st.sd * sqrt({RATIO} * (1.0e0 - pow({OML}, 2.0e0 * rec.rn))) AS lcl
  FROM rec JOIN st ON st.event_type = rec.event_type)
SELECT event_type, bucket_s, {E.round6('z')} AS z,
       {E.round6('ucl')} AS ucl, {E.round6('lcl')} AS lcl,
       {E.round6('greatest(z - ucl, lcl - z)')} AS margin,
       {E.round6('greatest(z - ucl, lcl - z)')} > 0 AS out_of_control
FROM lim
"""


# --- Bayesian online changepoint detection -----------------------------------
BOCPD_N, BOCPD_LEN, BOCPD_H = 6, 96, 0.05
BOCPD_MU0, BOCPD_V0, BOCPD_S2 = 0.0, 10.0, 1.0


def bocpd(
    df: DataFrame,
    hazard: float = BOCPD_H,
    mu0: float = BOCPD_MU0,
    v0: float = BOCPD_V0,
    s2: float = BOCPD_S2,
) -> DataFrame:
    """Bayesian online changepoint detection (Adams & MacKay 2007): per
    series, the exact run-length posterior recursion under a constant
    hazard and a known-variance Gaussian with conjugate Normal prior on
    the mean. At each step every run length r is scored by its posterior
    predictive N(mu_r, v_r + s2) — whose sufficient statistic (the sum of
    the last r points) comes from prefix sums, so the carried state is
    ONLY the run-length probability vector. Emits per (series, t) the MAP
    run length and the posterior EXPECTED run length: both collapse right
    after a changepoint. (P(r_t=0) itself is constant H under a constant
    hazard — Adams & MacKay eq. 3 scores x_t under the pre-change run in
    both branches — so it carries no signal and is not emitted.)

    Execution: kalman-shape mapInPandas (series = distributed axis; the
    recursion is over t). The kernel is deliberately pure Python with
    SEQUENTIAL folds and fully parenthesized float expressions: the oracle
    replays the identical recursion in a LIST-state recursive CTE, and
    because both engines call the same platform libm (exp/sqrt) on
    identical operands in identical order, the posteriors match
    bit-for-bit — no per-step rounding needed (cf. ts_pacf, which rounds
    its recursion input instead)."""
    import pandas as pd

    wide = (
        df.groupBy("series_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col("value").alias("v")))).alias("pts"))
        .select("series_id", F.col("pts.v").alias("vs"))
    )
    omh = 1.0 - hazard

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for sid, vs in zip(pdf["series_id"], pdf["vs"]):
                y = [float(v) for v in vs]
                s1 = [0.0]
                for v in y:
                    s1.append(s1[-1] + v)
                p = [1.0]
                for k, x in enumerate(y):
                    preds = []
                    for r in range(k + 1):
                        S = s1[k] - s1[k - r]
                        vp = 1.0 / (1.0 / v0 + r / s2)
                        mu = (mu0 / v0 + S / s2) * vp
                        pv = vp + s2
                        preds.append(
                            math.exp(-((x - mu) * (x - mu)) / (2.0 * pv))
                            / math.sqrt((2.0 * math.pi) * pv)
                        )
                    acc = 0.0
                    for r in range(k + 1):
                        acc = acc + p[r] * preds[r]
                    cp = acc * hazard
                    newp_raw = [cp] + [p[r] * preds[r] * omh for r in range(k + 1)]
                    tot = 0.0
                    for v in newp_raw:
                        tot = tot + v
                    p = [v / tot for v in newp_raw]
                    e = 0.0
                    for r in range(len(p)):
                        e = e + r * p[r]
                    rows.append((int(sid), k, p.index(max(p)), e))
            yield pd.DataFrame(
                rows, columns=["series_id", "t", "map_runlen", "e_runlen"]
            )

    return wide.mapInPandas(
        fn, "series_id bigint, t bigint, map_runlen bigint, e_runlen double"
    )


def _q_bocpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, BOCPD_N, BOCPD_LEN, "mixed")
    return round6(bocpd(df), "e_runlen")


def _bocpd_sql(
    hazard: float = BOCPD_H,
    mu0: float = BOCPD_MU0,
    v0: float = BOCPD_V0,
    s2: float = BOCPD_S2,
) -> str:
    gen = oracle.generate_sql(BOCPD_N, BOCPD_LEN, "mixed", rounded=False)
    inv_v0, s2n = E.NUM(1.0 / v0), E.NUM(s2)
    Hn, omh = E.NUM(hazard), E.NUM(1.0 - hazard)
    two_pi = E.NUM(2.0 * math.pi)
    x_e = "ps.vs[rec.k + 1]"
    S_e = "(ps.s1[rec.k + 1] - ps.s1[rec.k + 1 - r])"
    vp_e = f"(1.0e0/({inv_v0} + r/{s2n}))"
    mu_e = f"(({E.NUM(mu0 / v0)} + {S_e}/{s2n}) * {vp_e})"
    pv_e = f"({vp_e} + {s2n})"
    pred_e = (
        f"(exp(-(({x_e} - {mu_e})*({x_e} - {mu_e}))/(2.0e0*{pv_e}))"
        f"/sqrt({two_pi}*{pv_e}))"
    )
    cp_e = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(0, rec.k + 1), "
        f"r -> rec.p[r + 1] * {pred_e})), (a, b) -> a + b) * {Hn}"
    )
    raw_e = (
        f"list_prepend({cp_e}, list_transform(range(0, rec.k + 1), "
        f"r -> rec.p[r + 1] * {pred_e} * {omh}))"
    )
    tot_e = f"list_reduce(list_prepend(0.0e0, {raw_e}), (a, b) -> a + b)"
    newp_e = f"list_transform({raw_e}, v -> v / {tot_e})"
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({gen}),
ps AS MATERIALIZED (
  SELECT series_id,
         list_prepend(0.0e0, list(c1 ORDER BY t)) AS s1,
         list(value ORDER BY t) AS vs,
         count(*) AS n
  FROM (
    SELECT series_id, t, value, sum(value) OVER w AS c1
    FROM src
    WINDOW w AS (PARTITION BY series_id ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
  GROUP BY series_id),
rec(series_id, k, p) AS (
  SELECT series_id, 0, [1.0e0] FROM ps
  UNION ALL
  SELECT rec.series_id, rec.k + 1, {newp_e}
  FROM rec JOIN ps ON ps.series_id = rec.series_id
  WHERE rec.k < ps.n)
SELECT series_id, k - 1 AS t,
       CAST(list_position(p, list_max(p)) - 1 AS BIGINT) AS map_runlen,
       {E.round6("list_reduce(list_prepend(0.0e0, list_transform(range(0, k + 1), r -> r * p[r + 1])), (a, b) -> a + b)")} AS e_runlen
FROM rec WHERE k >= 1
"""


# --- singular spectrum analysis ----------------------------------------------
SSA_N, SSA_LEN, SSA_WINDOW, SSA_TOP = 8, 256, 32, 8


def ssa_spectrum(df: DataFrame, window: int = SSA_WINDOW, top: int = SSA_TOP) -> DataFrame:
    """Singular Spectrum Analysis per series: singular values of the L×K
    trajectory (Hankel) matrix — the model-free decomposition spectrum
    (Broomhead & King 1986). Emits the top singular values with energy
    shares; a pure tone concentrates >99% of energy in 2 components, noise
    spreads flat. Eigen-VECTORS are sign/rotation ambiguous so the query
    is rows-only (driver) with property tests: values non-increasing,
    Σσ² = ‖X‖²_F (Frobenius identity), tone-vs-noise separation.

    Execution: kalman-shape mapInPandas — series are the Arrow-batch axis;
    each kernel SVDs its own L×K matrix (L=window bounded, cost per series
    O(L²K))."""
    import pandas as pd

    wide = (
        df.groupBy("series_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", F.col("value").alias("v")))).alias("pts"))
        .select("series_id", F.col("pts.v").alias("vs"))
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for sid, vs in zip(pdf["series_id"], pdf["vs"]):
                y = np.asarray(vs, dtype=float)
                n = len(y)
                L = min(window, n // 2)
                K = n - L + 1
                X = np.lib.stride_tricks.sliding_window_view(y, L)[:K].T  # L x K
                s = np.linalg.svd(X, compute_uv=False)
                tot = float((s * s).sum())
                cum = 0.0
                for i in range(min(top, len(s))):
                    share = float(s[i] * s[i]) / tot
                    cum += share
                    rows.append((int(sid), i + 1, float(s[i]), share, cum))
            yield pd.DataFrame(
                rows, columns=["series_id", "comp", "sv", "sv_share", "cum_share"]
            )

    return wide.mapInPandas(
        fn,
        "series_id bigint, comp bigint, sv double, sv_share double, cum_share double",
    )


def _q_ssa(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, SSA_N, SSA_LEN, "mixed")
    return round6(ssa_spectrum(df), "sv", "sv_share", "cum_share")


# --- Dickey-Fuller unit-root test --------------------------------------------
ADF_N, ADF_LEN = 12, 256


def df_unitroot(df: DataFrame) -> DataFrame:
    """Per-series Dickey-Fuller unit-root test (no-constant form, the same
    machinery the cointegration sweep applies to pair residuals):
        Δv_t = φ·v_{t−1} + ε;  t = φ̂ / se(φ̂)
    t below ≈ −1.95 rejects the unit root at 5% (stationary series). One
    lag window + one per-series aggregation."""
    w = Window.partitionBy("series_id").orderBy("t")
    z = df.withColumn("zl", F.lag("value").over(w)).where(F.col("zl").isNotNull())
    agg = z.groupBy("series_id").agg(
        (
            F.sum(F.col("zl") * (F.col("value") - F.col("zl")))
            / F.sum(F.col("zl") * F.col("zl"))
        ).alias("phi"),
        F.sum(F.col("zl") * F.col("zl")).alias("szz"),
        F.count("*").alias("n"),
        F.sum(F.col("zl") * (F.col("value") - F.col("zl"))).alias("szd"),
        F.sum(
            (F.col("value") - F.col("zl")) * (F.col("value") - F.col("zl"))
        ).alias("sdd"),
    )
    ssr = (
        F.col("sdd")
        - 2 * F.col("phi") * F.col("szd")
        + F.col("phi") * F.col("phi") * F.col("szz")
    )
    se = F.sqrt(ssr / (F.col("n") - 1) / F.col("szz"))
    return agg.select("series_id", "n", "phi", (F.col("phi") / se).alias("adf_t"))


def _q_df_unitroot(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, ADF_N, ADF_LEN, "mixed")
    return round6(df_unitroot(df), "phi", "adf_t")


def _df_unitroot_sql() -> str:
    gen = oracle.generate_sql(ADF_N, ADF_LEN, "mixed", rounded=False)
    return f"""
WITH src AS ({gen}),
z AS (
  SELECT series_id, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY t) AS zl
  FROM src),
agg AS (
  SELECT series_id,
         sum(zl * (value - zl)) / sum(zl * zl) AS phi,
         sum(zl * zl) AS szz, count(*) AS n,
         sum(zl * (value - zl)) AS szd,
         sum((value - zl) * (value - zl)) AS sdd
  FROM z WHERE zl IS NOT NULL GROUP BY series_id)
SELECT series_id, n, {E.round6("phi")} AS phi,
       {E.round6("phi / sqrt((sdd - 2 * phi * szd + phi * phi * szz) / (n - 1) / szz)")} AS adf_t
FROM agg
"""


# --- permutation entropy (Bandt-Pompe) ---------------------------------------
PE_N, PE_LEN = 12, 256


def permutation_entropy(df: DataFrame, m: int = 3) -> DataFrame:
    """Bandt-Pompe permutation entropy (order m=3) per series: each window
    of 3 consecutive values maps to its ordinal pattern (rank order); the
    normalized Shannon entropy of the pattern distribution measures
    complexity — 0 for monotone series, →1 for white noise. Two lag columns
    + one tiny per-(series, pattern) aggregation. Strict inequalities (no
    ties on continuous data) keep the pattern id engine-exact."""
    w = Window.partitionBy("series_id").orderBy("t")
    d = (
        df.withColumn("v1", F.lag("value", 2).over(w))
        .withColumn("v2", F.lag("value", 1).over(w))
        .withColumn("v3", F.col("value"))
        .where(F.col("v1").isNotNull())
    )
    pat = (
        (F.col("v1") < F.col("v2")).cast("int") * 4
        + (F.col("v2") < F.col("v3")).cast("int") * 2
        + (F.col("v1") < F.col("v3")).cast("int")
    )
    counts = d.withColumn("pat", pat).groupBy("series_id", "pat").agg(
        F.count("*").alias("n")
    )
    tot = Window.partitionBy("series_id")
    p = F.col("n") / F.sum("n").over(tot)
    ent = counts.withColumn("p", p).groupBy("series_id").agg(
        (-F.sum(F.col("p") * F.log2("p")) / F.lit(math.log2(6.0))).alias("perm_entropy"),
        F.count("*").alias("n_patterns"),
    )
    return ent


def _q_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, PE_N, PE_LEN, "mixed")
    return round6(permutation_entropy(df), "perm_entropy")


def _perm_entropy_sql() -> str:
    gen = oracle.generate_sql(PE_N, PE_LEN, "mixed", rounded=False)
    return f"""
WITH src AS ({gen}),
d AS (
  SELECT series_id,
         lag(value, 2) OVER w AS v1, lag(value, 1) OVER w AS v2, value AS v3
  FROM src WINDOW w AS (PARTITION BY series_id ORDER BY t)),
pats AS (
  SELECT series_id,
         CAST(v1 < v2 AS INT) * 4 + CAST(v2 < v3 AS INT) * 2 + CAST(v1 < v3 AS INT) AS pat
  FROM d WHERE v1 IS NOT NULL),
counts AS (SELECT series_id, pat, count(*) AS n FROM pats GROUP BY series_id, pat),
p AS (
  SELECT series_id, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY series_id) AS p
  FROM counts)
SELECT series_id,
       {E.round6(f"-sum(p * log2(p)) / {E.NUM(math.log2(6.0))}")} AS perm_entropy,
       count(*) AS n_patterns
FROM p GROUP BY series_id
"""


# --- two-sample Kolmogorov-Smirnov test -------------------------------------
KS_TYPE_A, KS_TYPE_B = "click", "view"


def ks_test(ev: DataFrame, type_a: str = KS_TYPE_A, type_b: str = KS_TYPE_B) -> DataFrame:
    """Exact two-sample KS statistic between the `value` distributions of
    two event types: D = max |ECDF_a − ECDF_b|, plus the scaled statistic
    D·sqrt(na·nb/(na+nb)) (≥1.36 rejects equality at 5%).

    Scale path: counts collapse to one row per DISTINCT value first (ties
    resolved exactly, engine-independently), then the global cumulative
    counts use the range-partition + per-partition-offset pattern of
    global_row_ids — the only full-width window is over the one-row-per-
    partition offsets table. No unpartitioned window over data."""
    s = ev.filter(F.col("event_type").isin(type_a, type_b)).select(
        "value", (F.col("event_type") == type_a).cast("long").alias("ia")
    )
    per_v = s.groupBy("value").agg(
        F.sum("ia").alias("na_v"), F.sum(1 - F.col("ia")).alias("nb_v")
    )
    n = int(per_v.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = (
        per_v.repartitionByRange(n, F.col("value"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    psums = d.groupBy("_pid").agg(
        F.sum("na_v").alias("_sa"), F.sum("nb_v").alias("_sb")
    )
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = psums.withColumn(
        "_oa", F.coalesce(F.sum("_sa").over(off_w), F.lit(0))
    ).withColumn("_ob", F.coalesce(F.sum("_sb").over(off_w), F.lit(0)))
    tot = per_v.agg(
        F.sum("na_v").alias("n_a"), F.sum("nb_v").alias("n_b")
    )
    wloc = Window.partitionBy("_pid").orderBy("value").rowsBetween(
        Window.unboundedPreceding, 0
    )
    j = (
        d.join(F.broadcast(offs.select("_pid", "_oa", "_ob")), "_pid")
        .withColumn("cum_a", F.col("_oa") + F.sum("na_v").over(wloc))
        .withColumn("cum_b", F.col("_ob") + F.sum("nb_v").over(wloc))
        .crossJoin(F.broadcast(tot))
    )
    diff = F.abs(
        F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b")
    )
    out = j.agg(
        F.first(F.lit(type_a)).alias("type_a"),
        F.first(F.lit(type_b)).alias("type_b"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max(diff).alias("ks_d"),
    )
    scaled = F.col("ks_d") * F.sqrt(
        (F.col("n_a") * F.col("n_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    )
    return out.withColumn("ks_scaled", scaled)


def _q_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(ks_test(read_table(spark, sf_dir, "events")), "ks_d", "ks_scaled")


_KS_SQL = f"""
WITH s AS (
  SELECT value, CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS ia
  FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')),
per_v AS (
  SELECT value, CAST(sum(ia) AS BIGINT) AS na_v, CAST(sum(1 - ia) AS BIGINT) AS nb_v
  FROM s GROUP BY value),
c AS (
  SELECT sum(na_v) OVER w AS cum_a, sum(nb_v) OVER w AS cum_b
  FROM per_v
  WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (SELECT CAST(sum(na_v) AS BIGINT) AS n_a, CAST(sum(nb_v) AS BIGINT) AS n_b FROM per_v)
SELECT '{KS_TYPE_A}' AS type_a, '{KS_TYPE_B}' AS type_b, tot.n_a, tot.n_b,
       (round((max(abs(CAST(cum_a AS DOUBLE) / tot.n_a - CAST(cum_b AS DOUBLE) / tot.n_b))) + 1.0e-9,6)+0.0e0) AS ks_d,
       (round((max(abs(CAST(cum_a AS DOUBLE) / tot.n_a - CAST(cum_b AS DOUBLE) / tot.n_b))
               * sqrt(CAST(tot.n_a * tot.n_b AS DOUBLE) / (tot.n_a + tot.n_b))) + 1.0e-9,6)+0.0e0) AS ks_scaled
FROM c CROSS JOIN tot GROUP BY tot.n_a, tot.n_b
"""


# --- chi-square independence test --------------------------------------------
def chi_square(ev: DataFrame) -> DataFrame:
    """Pearson chi-square test of independence between event_type and
    day-of-week: chi2 = sum (O − E)²/E with E = row·col/N. Three
    partial-agged aggregations over the tiny contingency table; marginals
    broadcast back."""
    # the contingency table is types x 7 rows read by four branches: pin
    # it, or each marginal re-runs the corpus scan (recompute census x4)
    obs = ev.groupBy("event_type", F.dayofweek("ts").alias("dow")).agg(
        F.count("*").alias("o")
    ).localCheckpoint(eager=False)
    row = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    col = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    j = (
        obs.join(F.broadcast(row), "event_type")
        .join(F.broadcast(col), "dow")
        .crossJoin(F.broadcast(tot))
    )
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    return j.agg(
        F.sum("o").alias("n_obs"),
        F.sum(term).alias("chi2"),
        ((F.count_distinct("event_type") - 1) * (F.count_distinct("dow") - 1))
        .cast("bigint")
        .alias("dof"),
    )


def _q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(chi_square(read_table(spark, sf_dir, "events")), "chi2")


_CHI_SQUARE_SQL = """
WITH obs AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS o
  FROM events GROUP BY 1, 2),
r AS (SELECT event_type, sum(o) AS r FROM obs GROUP BY event_type),
c AS (SELECT dow, sum(o) AS c FROM obs GROUP BY dow),
t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs)
SELECT CAST(sum(obs.o) AS BIGINT) AS n_obs,
       (round((sum((obs.o - CAST(r.r * c.c AS DOUBLE) / t.n)
                   * (obs.o - CAST(r.r * c.c AS DOUBLE) / t.n)
                   / (CAST(r.r * c.c AS DOUBLE) / t.n))) + 1.0e-9,6)+0.0e0) AS chi2,
       CAST((count(DISTINCT obs.event_type) - 1) * (count(DISTINCT obs.dow) - 1) AS BIGINT) AS dof
FROM obs JOIN r USING (event_type) JOIN c USING (dow) CROSS JOIN t
"""


# --- counter rate with reset handling (PromQL rate()/increase()) -------------
def counter_rate(ev: DataFrame, bucket_s: int = 3600) -> DataFrame:
    """Monotone-counter semantics over `value` per user: the per-step
    increase is the delta when the counter moved forward, or the current
    value after a RESET (counter restarted from 0 — Prometheus
    rate()/increase() convention); aggregated per time bucket with
    resets counted. One lag window + one partial-agged groupBy."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.withColumn("_delta", F.col("value") - F.lag("value").over(w))
    inc = (
        F.when(F.col("_delta").isNull(), F.lit(0.0))
        .when(F.col("_delta") >= 0, F.col("_delta"))
        .otherwise(F.col("value"))
    )
    b = (F.unix_micros("ts") / F.lit(1_000_000 * bucket_s)).cast("bigint")
    g = (
        d.withColumn("_inc", inc)
        .withColumn("bucket", b)
        .groupBy("user_id", "bucket")
        .agg(
            F.count("*").alias("n_samples"),
            F.sum("_inc").alias("increase"),
            F.sum(
                F.coalesce((F.col("_delta") < 0).cast("long"), F.lit(0))
            ).alias("n_resets"),
        )
    )
    return g.select(
        "user_id",
        (F.col("bucket") * bucket_s).alias("bucket_s"),
        "n_samples",
        "increase",
        (F.col("increase") / F.lit(float(bucket_s))).alias("rate_per_s"),
        "n_resets",
    )


def _q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(counter_rate(read_table(spark, sf_dir, "events")), "increase", "rate_per_s")


_COUNTER_RATE_SQL = """
WITH d AS (
  SELECT user_id, ts, value,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
  FROM events),
i AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / (CAST(3600 AS BIGINT) * 1000000)) AS BIGINT) AS bucket,
         CASE WHEN delta IS NULL THEN 0.0e0
              WHEN delta >= 0 THEN delta ELSE value END AS inc,
         CASE WHEN delta < 0 THEN 1 ELSE 0 END AS is_reset
  FROM d)
SELECT user_id, bucket * 3600 AS bucket_s, count(*) AS n_samples,
       (round((sum(inc)) + 1.0e-9,6)+0.0e0) AS increase,
       (round((sum(inc) / 3600.0e0) + 1.0e-9,6)+0.0e0) AS rate_per_s,
       CAST(sum(is_reset) AS BIGINT) AS n_resets
FROM i GROUP BY user_id, bucket
"""


# --- maximum drawdown --------------------------------------------------------
def max_drawdown(ev: DataFrame) -> DataFrame:
    """Max drawdown per user over the cumulative value curve: running peak
    of the cumsum, drawdown = peak − cum, emit the max and when it
    happened. Two stacked running windows sharing one (user, ts) sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = (
        ev.withColumn("cum", F.sum("value").over(w))
        .withColumn("peak", F.max(F.col("cum")).over(w))
        .withColumn("dd", F.col("peak") - F.col("cum"))
    )
    d = d.withColumn("mdd", F.max("dd").over(Window.partitionBy("user_id")))
    return d.groupBy("user_id").agg(
        F.max("mdd").alias("max_drawdown"),
        F.min(
            F.when(F.col("dd") == F.col("mdd"), F.unix_micros("ts"))
        ).alias("trough_us"),
    )


def _q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(max_drawdown(read_table(spark, sf_dir, "events")), "max_drawdown")


_DRAWDOWN_SQL = """
WITH d AS (
  SELECT user_id, ts,
         max(cum) OVER w2 - cum AS dd
  FROM (
    SELECT user_id, ts, event_id, sum(value) OVER w AS cum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
m AS (SELECT user_id, max(dd) AS mdd FROM d GROUP BY user_id)
SELECT d.user_id, (round((m.mdd) + 1.0e-9,6)+0.0e0) AS max_drawdown,
       min(CASE WHEN d.dd = m.mdd THEN epoch_us(d.ts) END) AS trough_us
FROM d JOIN m ON m.user_id = d.user_id
GROUP BY d.user_id, m.mdd
"""


# --- Zipf exponent fit -------------------------------------------------------
def zipf_fit(df: DataFrame, text: str = "text", max_rank: int = 1000) -> DataFrame:
    """Zipf's-law fit over the corpus token frequencies: OLS slope of
    log(freq) on log(rank) for the top max_rank tokens (expected ≈ −1 for
    natural language; flatter for synthetic/repetitive corpora). The rank
    is orderBy+limit (TakeOrderedAndProject — no unpartitioned window over
    the vocabulary); the OLS runs on max_rank rows."""
    toks = df.select(F.explode(F.split(F.col(text), " ")).alias("token"))
    counts = toks.filter(F.col("token") != "").groupBy("token").agg(
        F.count("*").alias("n")
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(max_rank)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    xy = ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    return xy.agg(
        F.count("*").alias("n_tokens"),
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("zipf_exponent"),
        F.corr("x", "y").alias("loglog_corr"),
    )


def _q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return round6(zipf_fit(docs), "zipf_exponent", "loglog_corr")


_ZIPF_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
counts AS (
  SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY token),
top AS (SELECT token, n FROM counts ORDER BY n DESC, token ASC LIMIT 1000),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank FROM top),
xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM ranked)
SELECT count(*) AS n_tokens,
       (round((covar_pop(x, y) / var_pop(x)) + 1.0e-9,6)+0.0e0) AS zipf_exponent,
       (round((corr(x, y)) + 1.0e-9,6)+0.0e0) AS loglog_corr
FROM xy
"""


# --- Poisson rate anomaly ----------------------------------------------------
def rate_anomaly(ev: DataFrame, z_min: float = 3.0) -> DataFrame:
    """Count-based anomaly detection: per (event_type, hour bucket) compare
    the event COUNT to the type's mean hourly rate λ with the Poisson
    normal approximation z = (n − λ)/sqrt(λ); emit buckets with |z| ≥
    z_min. Complements the value-based detectors (ev_outliers, ts_anomalies,
    stream_anomalies). Two partial-agged aggregations; λ broadcast back."""
    b = (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("bigint")
    hourly = ev.withColumn("bucket", b).groupBy("event_type", "bucket").agg(
        F.count("*").alias("n")
    )
    lam = hourly.groupBy("event_type").agg(F.avg("n").alias("lam"))
    z = (F.col("n") - F.col("lam")) / F.sqrt(F.col("lam"))
    return (
        hourly.join(F.broadcast(lam), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= z_min)
        .select(
            "event_type",
            (F.col("bucket") * 3600).alias("bucket_s"),
            "n",
            "lam",
            "z",
        )
    )


def _q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(rate_anomaly(read_table(spark, sf_dir, "events")), "lam", "z")


_RATE_ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / (CAST(3600 AS BIGINT) * 1000000)) AS BIGINT) AS bucket,
         count(*) AS n
  FROM events GROUP BY 1, 2),
lam AS (SELECT event_type, avg(n) AS lam FROM hourly GROUP BY event_type)
SELECT hourly.event_type, bucket * 3600 AS bucket_s, n,
       (round((lam.lam) + 1.0e-9,6)+0.0e0) AS lam,
       (round(((n - lam.lam) / sqrt(lam.lam)) + 1.0e-9,6)+0.0e0) AS z
FROM hourly JOIN lam ON lam.event_type = hourly.event_type
WHERE abs((n - lam.lam) / sqrt(lam.lam)) >= 3.0e0
"""


# --- M4 visualization downsampling ------------------------------------------
M4_BUCKET_S = 3600


def m4_downsample(ev: DataFrame, bucket_s: int = M4_BUCKET_S) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (event_type, time
    bucket) keep min, max, first, last — the four points that make a
    line-chart render pixel-identical to the full series. Complements LTTB
    (ev_lttb): M4 is exact for min/max envelopes, LTTB for shape. ONE
    partial-aggregated groupBy; first/last via deterministic struct
    min/max over (ts, event_id, value)."""
    b = (F.unix_micros("ts") / F.lit(1_000_000 * bucket_s)).cast("bigint")
    g = ev.withColumn("bucket", b).groupBy("event_type", "bucket").agg(
        F.count("*").alias("n"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min(F.struct("ts", "event_id", "value"))["value"].alias("v_first"),
        F.max(F.struct("ts", "event_id", "value"))["value"].alias("v_last"),
    )
    return g.withColumn("bucket_s", F.col("bucket") * bucket_s).drop("bucket")


def _q_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(
        m4_downsample(read_table(spark, sf_dir, "events")),
        "v_min", "v_max", "v_first", "v_last",
    )


_M4_SQL = f"""
WITH d AS (
  SELECT event_type, CAST(floor(epoch_us(ts) / (CAST({M4_BUCKET_S} AS BIGINT) * 1000000)) AS BIGINT) AS bucket,
         ts, event_id, value,
         row_number() OVER (PARTITION BY event_type,
                            CAST(floor(epoch_us(ts) / (CAST({M4_BUCKET_S} AS BIGINT) * 1000000)) AS BIGINT)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type,
                            CAST(floor(epoch_us(ts) / (CAST({M4_BUCKET_S} AS BIGINT) * 1000000)) AS BIGINT)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT event_type, count(*) AS n,
       (round((min(value)) + 1.0e-9,6)+0.0e0) AS v_min,
       (round((max(value)) + 1.0e-9,6)+0.0e0) AS v_max,
       (round((max(CASE WHEN rn_a = 1 THEN value END)) + 1.0e-9,6)+0.0e0) AS v_first,
       (round((max(CASE WHEN rn_d = 1 THEN value END)) + 1.0e-9,6)+0.0e0) AS v_last,
       bucket * {M4_BUCKET_S} AS bucket_s
FROM d GROUP BY event_type, bucket
"""


# --- CDC changelog apply -----------------------------------------------------
def cdc_apply(ev: DataFrame, delete_type: str = "error") -> DataFrame:
    """Apply a CDC changelog to produce final state: events are ordered
    upserts per user_id, `delete_type` rows are tombstones. Last write wins
    ((ts, event_id) order); users whose final op is a tombstone are absent
    from the output. The lakehouse 'APPLY CHANGES INTO' kernel as one
    ranking window + filter — a single user_id shuffle."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    d = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_changes", F.count("*").over(Window.partitionBy("user_id"))
    )
    return (
        d.filter((F.col("rn") == 1) & (F.col("event_type") != delete_type))
        .select(
            "user_id",
            F.col("value").alias("final_value"),
            F.col("event_type").alias("final_op"),
            F.unix_micros("ts").alias("updated_us"),
            "n_changes",
        )
    )


def _q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(cdc_apply(read_table(spark, sf_dir, "events")), "final_value")


_CDC_SQL = """
WITH d AS (
  SELECT user_id, value, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events)
SELECT user_id, (round((value) + 1.0e-9,6)+0.0e0) AS final_value,
       event_type AS final_op, epoch_us(ts) AS updated_us, n_changes
FROM d WHERE rn = 1 AND event_type <> 'error'
"""


# --- peak detection ---------------------------------------------------------
PEAK_NEIGHBORS, PEAK_HALF, PEAK_Z = 3, 10, 2.0


def peak_detect(
    ev: DataFrame,
    neighbors: int = PEAK_NEIGHBORS,
    half: int = PEAK_HALF,
    z_min: float = PEAK_Z,
) -> DataFrame:
    """Alert-style peak detection per user: a row is a peak when it is a
    STRICT local maximum over ±neighbors rows AND its z-score against the
    centered ±half rolling baseline exceeds z_min. Plateaus emit no peak
    (strict > on both sides) — deterministic across engines. All windows
    share one (user, ts) sort; boundary frames treat the missing side as
    −inf."""
    order = [F.col("ts"), F.col("event_id")]
    wl = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-neighbors, -1)
    wr = Window.partitionBy("user_id").orderBy(*order).rowsBetween(1, neighbors)
    wb = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-half, half)
    v = F.col("value")
    lmax = F.coalesce(F.max(v).over(wl), F.lit(-1.0e308))
    rmax = F.coalesce(F.max(v).over(wr), F.lit(-1.0e308))
    mean = F.avg(v).over(wb)
    std = F.stddev_pop(v).over(wb)
    z = (v - mean) / std
    out = ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value",
        lmax.alias("_lm"), rmax.alias("_rm"), mean.alias("_mu"), std.alias("_sd"),
    )
    return out.filter(
        (F.col("value") > F.col("_lm"))
        & (F.col("value") > F.col("_rm"))
        & (F.col("_sd") > 0)
        & ((F.col("value") - F.col("_mu")) / F.col("_sd") > z_min)
    ).select(
        "event_id", "user_id", "ts_us", "value",
        ((F.col("value") - F.col("_mu")) / F.col("_sd")).alias("zscore"),
    )


def _q_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(peak_detect(read_table(spark, sf_dir, "events")), "value", "zscore")


_PEAK_SQL = f"""
WITH d AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
         coalesce(max(value) OVER wl, -1.0e308) AS lm,
         coalesce(max(value) OVER wr, -1.0e308) AS rm,
         avg(value) OVER wb AS mu, stddev_pop(value) OVER wb AS sd
  FROM events
  WINDOW wl AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN {PEAK_NEIGHBORS} PRECEDING AND 1 PRECEDING),
         wr AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND {PEAK_NEIGHBORS} FOLLOWING),
         wb AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN {PEAK_HALF} PRECEDING AND {PEAK_HALF} FOLLOWING))
SELECT event_id, user_id, ts_us, (round((value) + 1.0e-9,6)+0.0e0) AS value,
       (round(((value - mu) / sd) + 1.0e-9,6)+0.0e0) AS zscore
FROM d
WHERE value > lm AND value > rm AND sd > 0 AND (value - mu) / sd > {PEAK_Z:.1f}e0
"""


# --- Welch power spectral density ------------------------------------------
WELCH_M, WELCH_STEP = 64, 32  # 50% overlap
WELCH_N, WELCH_LEN = 12, 512


def _hann(j: int, m: int) -> float:
    return 0.5 - 0.5 * math.cos(2.0 * math.pi * j / (m - 1))


def welch_psd(df: DataFrame, m: int = WELCH_M, step: int = WELCH_STEP, seq_len: int = WELCH_LEN) -> DataFrame:
    """Welch's averaged-periodogram PSD (Welch 1967) per series: Hann-
    windowed length-m segments at 50% overlap, per-segment DFT power
    normalized by U = sum(w_j^2), averaged across segments. THE standard
    PSD estimator — complements the raw DFT (fft_spectrum) and the
    irregular-sampling Lomb-Scargle.

    Scale shape: each point lands in at most 2 segments (explode factor 2)
    x (m/2+1) frequencies; the per-(series, segment, freq) trig sums
    partial-aggregate, the segment average is a second tiny agg — two
    shuffles, both series-keyed. Window weights and the normalizer are
    Python-float literals, identical in the oracle."""
    n_segs = (seq_len - m) // step + 1
    u_norm = sum(_hann(j, m) ** 2 for j in range(m))
    s_hi = (F.col("t") / F.lit(step)).cast("int")
    e = df.withColumn("s", F.explode(F.array(s_hi - 1, s_hi)))
    e = e.filter(
        (F.col("s") >= 0)
        & (F.col("s") < n_segs)
        & (F.col("t") - F.col("s") * step < m)
    ).withColumn("j", F.col("t") - F.col("s") * step)
    hann = F.lit(0.5) - F.lit(0.5) * F.cos(
        F.col("j").cast("double") * F.lit(2.0 * math.pi / (m - 1))
    )
    e = e.withColumn("wv", F.col("value") * hann)
    ks = F.explode(F.array(*[F.lit(k) for k in range(m // 2 + 1)])).alias("k")
    e = e.select("series_id", "s", "j", "wv", ks)
    ang = F.col("j").cast("double") * F.col("k").cast("double") * F.lit(2.0 * math.pi / m)
    seg = e.groupBy("series_id", "s", "k").agg(
        F.sum(F.col("wv") * F.cos(ang)).alias("re"),
        F.sum(F.col("wv") * F.sin(ang)).alias("im"),
    )
    p = (F.col("re") * F.col("re") + F.col("im") * F.col("im")) / F.lit(u_norm)
    return (
        seg.withColumn("p", p)
        .groupBy("series_id", "k")
        .agg(F.avg("p").alias("psd"), F.count("*").alias("n_segs"))
    )


def _q_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, WELCH_N, WELCH_LEN, "mixed")
    return round6(welch_psd(df), "psd")


def _welch_sql(m: int = WELCH_M, step: int = WELCH_STEP, seq_len: int = WELCH_LEN) -> str:
    gen = oracle.generate_sql(WELCH_N, WELCH_LEN, "mixed", rounded=False)
    n_segs = (seq_len - m) // step + 1
    u_norm = sum(_hann(j, m) ** 2 for j in range(m))
    return f"""
WITH src AS ({gen}),
e AS (
  SELECT series_id, t, value, u.s, t - u.s * {step} AS j
  FROM (SELECT series_id, t, value,
               unnest([CAST(floor(t / {step}) AS INT) - 1,
                       CAST(floor(t / {step}) AS INT)]) AS s
        FROM src) u
  WHERE u.s >= 0 AND u.s < {n_segs} AND t - u.s * {step} < {m}),
w AS (
  SELECT series_id, s, j,
         value * (0.5e0 - 0.5e0 * cos(CAST(j AS DOUBLE) * {E.NUM(2.0 * math.pi / (m - 1))})) AS wv
  FROM e),
seg AS (
  SELECT series_id, s, ks.k,
         sum(wv * cos(CAST(j AS DOUBLE) * CAST(ks.k AS DOUBLE) * {E.NUM(2.0 * math.pi / m)})) AS re,
         sum(wv * sin(CAST(j AS DOUBLE) * CAST(ks.k AS DOUBLE) * {E.NUM(2.0 * math.pi / m)})) AS im
  FROM w CROSS JOIN (SELECT unnest(range(0, {m // 2 + 1})) AS k) ks
  GROUP BY series_id, s, ks.k)
SELECT series_id, k,
       {E.round6(f"avg((re * re + im * im) / {E.NUM(u_norm)})")} AS psd,
       count(*) AS n_segs
FROM seg GROUP BY series_id, k
"""


# --- calendar seasonality profile ------------------------------------------
def seasonal_profile(ev: DataFrame) -> DataFrame:
    """Hour-of-day × day-of-week activity/value heatmap per event_type, with
    each cell's lift vs the type's overall mean value. One partial-agged
    groupBy over (type, dow, hour); the per-type normalizer is a tiny agg
    broadcast back. UTC calendar on both engines (dow: 1=Sunday, Spark
    dayofweek convention; DuckDB dayofweek is 0=Sunday → +1)."""
    cells = ev.groupBy(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").alias("n_events"), F.avg("value").alias("mean_value"))
    tot = ev.groupBy("event_type").agg(F.avg("value").alias("type_mean"))
    return (
        cells.join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "dow", "hour", "n_events", "mean_value",
            (F.col("mean_value") / F.col("type_mean")).alias("lift"),
        )
    )


def _q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(seasonal_profile(read_table(spark, sf_dir, "events")), "mean_value", "lift")


_SEASONAL_PROFILE_SQL = """
WITH cells AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
         count(*) AS n_events, avg(value) AS mean_value
  FROM events GROUP BY 1, 2, 3),
tot AS (SELECT event_type, avg(value) AS type_mean FROM events GROUP BY event_type)
SELECT cells.event_type, dow, hour, n_events,
       (round((mean_value) + 1.0e-9,6)+0.0e0) AS mean_value,
       (round((mean_value / type_mean) + 1.0e-9,6)+0.0e0) AS lift
FROM cells JOIN tot ON tot.event_type = cells.event_type
"""


# --- Apdex (application performance index) ----------------------------------
APDEX_T = 50.0  # "satisfied" threshold on value; tolerating up to 4T


def apdex(ev: DataFrame, t: float = APDEX_T) -> DataFrame:
    """Apdex score per event_type treating `value` as a latency:
    (satisfied + tolerating/2) / total with satisfied = value <= T,
    tolerating = T < value <= 4T. One partial-agged aggregation."""
    sat = (F.col("value") <= t).cast("long")
    tol = ((F.col("value") > t) & (F.col("value") <= 4 * t)).cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(sat).alias("n_satisfied"),
        F.sum(tol).alias("n_tolerating"),
        ((F.sum(sat) + F.sum(tol) / F.lit(2.0)) / F.count("*")).alias("apdex"),
    )


def _q_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(apdex(read_table(spark, sf_dir, "events")), "apdex")


_APDEX_SQL = f"""
SELECT event_type, count(*) AS n,
       CAST(sum(CASE WHEN value <= {APDEX_T:.1f}e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
       CAST(sum(CASE WHEN value > {APDEX_T:.1f}e0 AND value <= {4 * APDEX_T:.1f}e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
       (round(((sum(CASE WHEN value <= {APDEX_T:.1f}e0 THEN 1 ELSE 0 END)
                + sum(CASE WHEN value > {APDEX_T:.1f}e0 AND value <= {4 * APDEX_T:.1f}e0 THEN 1 ELSE 0 END) / 2.0e0)
               / count(*)) + 1.0e-9,6)+0.0e0) AS apdex
FROM events GROUP BY event_type
"""


# --- Ljung-Box white-noise test --------------------------------------------
LB_K = 10
LB_N, LB_LEN = 12, 256


def ljung_box(df: DataFrame, k_max: int = LB_K) -> DataFrame:
    """Ljung-Box portmanteau statistic per series:
        Q = n(n+2) * sum_{k=1..K} rho_k^2 / (n-k)
    over the stationary ACF (same lag-join build as ts_pacf). Q ~ chi2(K)
    under white noise — large Q rejects 'no autocorrelation'."""
    # three branches read df: pin, or each re-runs the generator chain
    df = df.localCheckpoint(eager=False)
    n_tbl = df.groupBy("series_id").agg(
        F.count("*").alias("nn"), F.sum(F.col("value") * F.col("value")).alias("ss")
    )
    a = df.select(
        "series_id", "t", "value",
        F.explode(F.array(*[F.lit(k) for k in range(1, k_max + 1)])).alias("l"),
    )
    b = df.select("series_id", F.col("t").alias("tb"), F.col("value").alias("vb"))
    acf = (
        a.join(b, (a.series_id == b.series_id) & (F.col("tb") == F.col("t") - F.col("l")))
        .drop(b.series_id)
        .groupBy("series_id", "l")
        .agg(F.sum(F.col("value") * F.col("vb")).alias("num"))
        .join(F.broadcast(n_tbl), "series_id")
        .select(
            "series_id", "l", "nn",
            ((F.col("num") / F.col("ss")) * (F.col("num") / F.col("ss"))
             / (F.col("nn") - F.col("l"))).alias("term"),
        )
    )
    return acf.groupBy("series_id").agg(
        (F.first("nn") * (F.first("nn") + 2) * F.sum("term")).alias("q_stat"),
        F.lit(k_max).cast("bigint").alias("dof"),
    )


def _q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, LB_N, LB_LEN, "mixed")
    return round6(ljung_box(df), "q_stat")


def _ljung_box_sql(k_max: int = LB_K) -> str:
    gen = oracle.generate_sql(LB_N, LB_LEN, "mixed", rounded=False)
    return f"""
WITH src AS ({gen}),
nt AS (SELECT series_id, count(*) AS nn, sum(value * value) AS ss
       FROM src GROUP BY series_id),
lags AS (SELECT unnest(range(1, {k_max + 1})) AS l),
acf AS (
  SELECT a.series_id, lags.l, any_value(nt.nn) AS nn,
         (sum(a.value * b.value) / any_value(nt.ss))
           * (sum(a.value * b.value) / any_value(nt.ss))
           / (any_value(nt.nn) - lags.l) AS term
  FROM src a
  CROSS JOIN lags
  JOIN src b ON b.series_id = a.series_id AND b.t = a.t - lags.l
  JOIN nt ON nt.series_id = a.series_id
  GROUP BY a.series_id, lags.l)
SELECT series_id,
       {E.round6("any_value(nn) * (any_value(nn) + 2) * sum(term)")} AS q_stat,
       CAST({k_max} AS BIGINT) AS dof
FROM acf GROUP BY series_id
"""


# --- Mann-Kendall trend test ------------------------------------------------
MK_N, MK_LEN = 12, 128


def mann_kendall(df: DataFrame) -> DataFrame:
    """Nonparametric Mann-Kendall trend test per series:
        S = sum_{i<j} sign(x_j - x_i),  var(S) = n(n-1)(2n+5)/18 (no-ties
        form; the z-normalized generator output has no exact ties),
        Z = (S -/+ 1)/sqrt(var) with the standard continuity correction.
    The i<j pair join is quadratic in SERIES LENGTH only (bounded, per
    series) and shuffles on series_id once."""
    # three branches read df: pin, or each re-runs the generator chain
    df = df.localCheckpoint(eager=False)
    a = df.select("series_id", F.col("t").alias("ti"), F.col("value").alias("xi"))
    b = df.select("series_id", F.col("t").alias("tj"), F.col("value").alias("xj"))
    pairs = a.join(b, "series_id").where(F.col("ti") < F.col("tj"))
    s = pairs.groupBy("series_id").agg(
        F.sum(F.signum(F.col("xj") - F.col("xi")).cast("bigint")).alias("s")
    )
    n_tbl = df.groupBy("series_id").agg(F.count("*").alias("n"))
    s = s.join(F.broadcast(n_tbl), "series_id")
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
    ).cast("double") / 18
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return s.select("series_id", "s", "n", z.alias("z"))


def _q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, MK_N, MK_LEN, "mixed")
    return round6(mann_kendall(df), "z")


def _mann_kendall_sql() -> str:
    gen = oracle.generate_sql(MK_N, MK_LEN, "mixed", rounded=False)
    return f"""
WITH src AS ({gen}),
nt AS (SELECT series_id, count(*) AS n FROM src GROUP BY series_id),
s AS (
  SELECT a.series_id, CAST(sum(sign(b.value - a.value)) AS BIGINT) AS s
  FROM src a JOIN src b ON b.series_id = a.series_id AND a.t < b.t
  GROUP BY a.series_id)
SELECT s.series_id, s.s, nt.n,
       {E.round6("CASE WHEN s.s > 0 THEN (s.s - 1) / sqrt(CAST(nt.n * (nt.n - 1) * (2 * nt.n + 5) AS DOUBLE) / 18) "
                 "WHEN s.s < 0 THEN (s.s + 1) / sqrt(CAST(nt.n * (nt.n - 1) * (2 * nt.n + 5) AS DOUBLE) / 18) "
                 "ELSE 0.0e0 END")} AS z
FROM s JOIN nt ON nt.series_id = s.series_id
"""


# --- inter-arrival gap statistics ------------------------------------------
def _stratified_gaps(ev: DataFrame) -> DataFrame:
    """All consecutive inter-arrival gaps per event_type WITHOUT a
    full-stratum lag window (strata are low-cardinality → the direct
    Window.partitionBy(event_type) funnels each whole stratum through one
    task). Range-partition on (event_type, ts, event_id) so each
    partition holds a contiguous slice of each stratum; within-partition
    gaps come from a (partition, stratum)-keyed lag, and the one missing
    gap per partition boundary is recovered from a bounded
    |partitions| x |strata| first/last table. → (event_type, gap_s)."""
    n = int(ev.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    slim = ev.select(
        "event_type", F.unix_micros("ts").alias("_tus"), "event_id"
    )
    d = slim.repartitionByRange(n, "event_type", "_tus", "event_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.localCheckpoint(eager=False)  # pin the sampled range split (2 reads)
    wl = Window.partitionBy("_pid", "event_type").orderBy("_tus", "event_id")
    within = (
        d.withColumn("_prev", F.lag("_tus").over(wl))
        .where(F.col("_prev").isNotNull())
        .select(
            "event_type",
            ((F.col("_tus") - F.col("_prev")) / F.lit(1_000_000.0)).alias("gap_s"),
        )
    )
    # boundary gaps: first event of each (partition, stratum) vs the last
    # event of the PREVIOUS partition holding that stratum
    b = d.groupBy("_pid", "event_type").agg(
        F.min(F.struct("_tus", "event_id")).alias("_first"),
        F.max(F.struct("_tus", "event_id")).alias("_last"),
    )
    wb = Window.partitionBy("event_type").orderBy("_pid")
    boundary = (
        b.withColumn("_prev_last", F.lag("_last._tus").over(wb))
        .where(F.col("_prev_last").isNotNull())
        .select(
            "event_type",
            ((F.col("_first._tus") - F.col("_prev_last")) / F.lit(1_000_000.0)).alias(
                "gap_s"
            ),
        )
    )
    return within.unionByName(boundary)


def gap_stats(ev: DataFrame) -> DataFrame:
    """Per event_type inter-arrival diagnostics: mean/std/CV of the gap
    seconds, exact p95 (interpolated percentile), and the burstiness index
    B = (CV-1)/(CV+1) (Goh & Barabasi 2008): -1 periodic, 0 Poisson,
    →1 bursty.

    Scale shape (r9): gaps come from _stratified_gaps (range-partitioned
    lag + boundary recovery — no full-stratum window), and the exact p95
    comes from TWO order statistics instead of `percentile()` (whose
    aggregation buffer holds every group value in one task's memory):
    rank the gaps per stratum on the stratified_rank scaffold, select the
    rows at ranks floor(h)/ceil(h) for h = 1 + 0.95*(n-1), and
    interpolate — v_lo + (h - floor(h)) * (v_hi - v_lo), the same
    formula percentile()/quantile_cont evaluate. Rank ties left unbroken
    on purpose: the k-th smallest VALUE is well-defined however equal
    values are ordered among themselves."""
    from .queries_scale import stratified_rank

    gaps = _stratified_gaps(ev).localCheckpoint(eager=False)  # 2 reads below
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.avg("gap_s").alias("mean_gap_s"),
        F.stddev_pop("gap_s").alias("std_gap_s"),
    )
    h = F.lit(1.0) + (F.col("n_gaps") - 1) * F.lit(0.95)
    agg = agg.withColumn("_h", h).withColumn(
        "_rlo", F.floor("_h").cast("bigint")
    ).withColumn("_rhi", F.ceil("_h").cast("bigint"))
    ranked = stratified_rank(gaps, "event_type", [F.asc("gap_s")], out="_rn")
    sel = ranked.join(
        F.broadcast(agg.select("event_type", "_h", "_rlo", "_rhi")), "event_type"
    ).where((F.col("_rn") == F.col("_rlo")) | (F.col("_rn") == F.col("_rhi")))
    p95 = sel.groupBy("event_type").agg(
        F.max(F.when(F.col("_rn") == F.col("_rlo"), F.col("gap_s"))).alias("_vlo"),
        F.max(F.when(F.col("_rn") == F.col("_rhi"), F.col("gap_s"))).alias("_vhi"),
        F.first("_h").alias("_h2"),
        F.first("_rlo").alias("_rlo2"),
    )
    p95 = p95.select(
        "event_type",
        (
            F.col("_vlo")
            + (F.col("_h2") - F.col("_rlo2")) * (F.col("_vhi") - F.col("_vlo"))
        ).alias("p95_gap_s"),
    )
    out = agg.join(p95, "event_type")
    cv = F.col("std_gap_s") / F.col("mean_gap_s")
    return out.select(
        "event_type",
        "n_gaps",
        "mean_gap_s",
        "std_gap_s",
        "p95_gap_s",
        cv.alias("cv"),
        ((cv - 1) / (cv + 1)).alias("burstiness"),
    )


def _q_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(
        gap_stats(read_table(spark, sf_dir, "events")),
        "mean_gap_s", "std_gap_s", "p95_gap_s", "cv", "burstiness",
    )


_GAP_STATS_SQL = """
WITH g AS (
  SELECT event_type,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id))
           / 1000000.0e0 AS gap_s
  FROM events),
agg AS (
  SELECT event_type, count(*) AS n_gaps, avg(gap_s) AS mean_gap_s,
         stddev_pop(gap_s) AS std_gap_s,
         quantile_cont(gap_s, 0.95e0) AS p95_gap_s
  FROM g WHERE gap_s IS NOT NULL GROUP BY event_type)
SELECT event_type, n_gaps,
       (round((mean_gap_s) + 1.0e-9,6)+0.0e0) AS mean_gap_s,
       (round((std_gap_s) + 1.0e-9,6)+0.0e0) AS std_gap_s,
       (round((p95_gap_s) + 1.0e-9,6)+0.0e0) AS p95_gap_s,
       (round((std_gap_s / mean_gap_s) + 1.0e-9,6)+0.0e0) AS cv,
       (round(((std_gap_s / mean_gap_s - 1) / (std_gap_s / mean_gap_s + 1)) + 1.0e-9,6)+0.0e0) AS burstiness
FROM agg
"""


_REGISTRY.update(
    {
        "ts_lombscargle": Query(
            "ts_lombscargle", _q_lombscargle, _lombscargle_sql(), ("tsdb",)
        ),
        "ev_technical": Query("ev_technical", _q_technical, _TECHNICAL_SQL, ("tsdb",)),
        "ts_hurst": Query("ts_hurst", _q_hurst, _hurst_sql(), ("tsdb",)),
        "ts_coint": Query("ts_coint", _q_coint, _coint_sql(), ("tsdb",)),
        "ev_gap_stats": Query(
            "ev_gap_stats", _q_gap_stats, _GAP_STATS_SQL, ("tsdb",)
        ),
        "ts_pacf": Query("ts_pacf", _q_pacf, _pacf_sql(), ("tsdb",)),
        "ts_ljung_box": Query("ts_ljung_box", _q_ljung_box, _ljung_box_sql(), ("tsdb",)),
        "ev_seasonal_profile": Query(
            "ev_seasonal_profile", _q_seasonal_profile, _SEASONAL_PROFILE_SQL, ("tsdb",)
        ),
        "ev_apdex": Query("ev_apdex", _q_apdex, _APDEX_SQL, ("analytics",)),
        "ts_welch_psd": Query("ts_welch_psd", _q_welch, _welch_sql(), ("tsdb",)),
        "ev_peak_detect": Query(
            "ev_peak_detect", _q_peak_detect, _PEAK_SQL, ("tsdb",)
        ),
        "ev_m4_downsample": Query("ev_m4_downsample", _q_m4, _M4_SQL, ("tsdb",)),
        "ev_drawdown": Query("ev_drawdown", _q_drawdown, _DRAWDOWN_SQL, ("tsdb",)),
        "ev_ks_test": Query("ev_ks_test", _q_ks, _KS_SQL, ("analytics",)),
        "ts_perm_entropy": Query(
            "ts_perm_entropy", _q_perm_entropy, _perm_entropy_sql(), ("tsdb",)
        ),
        "ts_adf": Query("ts_adf", _q_df_unitroot, _df_unitroot_sql(), ("tsdb",)),
        "ts_ssa": Query("ts_ssa", _q_ssa, None, ("tsdb",)),
        "ts_pelt": Query("ts_pelt", _q_pelt, _segmentation_sql(), ("tsdb",)),
        "ts_bocpd": Query("ts_bocpd", _q_bocpd, _bocpd_sql(), ("tsdb",)),
        "ev_ewma_chart": Query(
            "ev_ewma_chart", _q_ewma_chart, _ewma_chart_sql(), ("tsdb",)
        ),
        "ts_isotonic": Query("ts_isotonic", _q_isotonic, _isotonic_sql(), ("tsdb",)),
        "ts_segmentation": Query(
            "ts_segmentation", _q_segmentation, _segmentation_sql(), ("tsdb",)
        ),
        "ts_haar_energy": Query("ts_haar_energy", _q_haar, _haar_sql(), ("tsdb",)),
        "ev_chi_square": Query(
            "ev_chi_square", _q_chi_square, _CHI_SQUARE_SQL, ("analytics",)
        ),
        "doc_zipf": Query("doc_zipf", _q_zipf, _ZIPF_SQL, ("text",)),
        "ev_rate_anomaly": Query(
            "ev_rate_anomaly", _q_rate_anomaly, _RATE_ANOMALY_SQL, ("tsdb",)
        ),
        "ev_counter_rate": Query(
            "ev_counter_rate", _q_counter_rate, _COUNTER_RATE_SQL, ("tsdb",)
        ),
        "ev_cdc_apply": Query("ev_cdc_apply", _q_cdc_apply, _CDC_SQL, ("warehouse",)),
        "ts_mann_kendall": Query(
            "ts_mann_kendall", _q_mann_kendall, _mann_kendall_sql(), ("tsdb",)
        ),
    }
)


# --- Seasonal-Hybrid ESD anomalies -----------------------------------------
SESD_KMAX = 10
SESD_Z = 3.0


def sesd_anomalies(ev: DataFrame, kmax: int = SESD_KMAX, z_thresh: float = SESD_Z) -> DataFrame:
    """Seasonal-Hybrid ESD anomaly detection (Hochenbaum, Vallis &
    Kejariwal 2017, Twitter's AnomalyDetection): hourly event counts per
    type are deseasonalized by the robust hour-of-day MEDIAN profile
    (for this profile the x - seasonal_centered - median(x) residual
    collapses algebraically to x - hod_median), then generalized ESD runs
    on the residuals with median/MAD in place of mean/std: repeatedly
    locate the max |r - med|/MAD point, emit it if it exceeds the
    threshold, REMOVE it, and recompute — removal is what lets ESD find
    k anomalies where a one-shot z-test masks all but the largest.
    Fixed-threshold variant (z = 3.0, the normal approximation of the
    ESD lambda_k, documented deviation from the t-quantile form).

    Exactness: counts are integers, hod-medians and MADs stay on a dyadic
    grid, so every residual, median and z-score is bit-identical across
    engines with NO rounding anywhere in the recursion; ties in the
    argmax resolve to the first (earliest-hour) position on both sides.

    Scale shape: raw events reduce FIRST to the (type x hour) count grid
    (one partial-agged groupBy); the ESD loop runs per type on ~720-point
    arrays inside applyInPandas (constant-size groups); the oracle replays
    the identical loop in a LIST-state recursive CTE."""
    import numpy as np
    import pandas as pd

    hourly = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
        )
        .agg(F.count("*").alias("n"))
    )

    schema = (
        "event_type string, k long, bucket_s long, n_events long,"
        " resid double, z double"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        et = pdf["event_type"].iloc[0]
        h = pdf["h"].to_numpy()
        n = pdf["n"].to_numpy().astype(np.float64)
        hod = h % 24
        r = np.empty_like(n)
        for hd in np.unique(hod):
            m = hod == hd
            r[m] = n[m] - np.median(n[m])
        out = []
        hs, ns, rs = list(h), list(n), list(r)
        for k in range(1, kmax + 1):
            arr = np.array(rs)
            med = np.median(arr)
            mad = np.median(np.abs(arr - med))
            if mad <= 0:
                break
            z = np.abs(arr - med) / mad
            i = int(np.argmax(z))
            if not z[i] > z_thresh:
                break
            out.append((et, k, int(hs[i]) * 3600, int(ns[i]), float(rs[i]), float(z[i])))
            del hs[i], ns[i], rs[i]
        return pd.DataFrame(
            out, columns=["event_type", "k", "bucket_s", "n_events", "resid", "z"]
        )

    res = hourly.groupBy("event_type").applyInPandas(kernel, schema)
    return round6(res, "resid", "z")


def _q_sesd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sesd_anomalies(read_table(spark, sf_dir, "events"))


def _sesd_sql(kmax: int = SESD_KMAX, z_thresh: float = SESD_Z) -> str:
    Z = E.NUM(z_thresh)

    def med(l: str) -> str:
        s = f"list_sort({l})"
        c = f"len({l})"
        return (
            f"(CASE WHEN {c} % 2 = 1 THEN {s}[({c} + 1) // 2] "
            f"ELSE ({s}[{c} // 2] + {s}[{c} // 2 + 1]) / 2.0e0 END)"
        )

    rm = "list_concat(list_slice({l}, 1, pos - 1), list_slice({l}, pos + 1, len({l})))"
    return f"""
WITH RECURSIVE hourly AS MATERIALIZED (
  SELECT event_type, CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h,
         count(*) AS n
  FROM events GROUP BY 1, 2),
prof AS (
  SELECT event_type, h % 24 AS hod, {med('list(CAST(n AS DOUBLE))')} AS hodmed
  FROM hourly GROUP BY event_type, h % 24),
resid AS (
  SELECT hh.event_type, hh.h, hh.n, CAST(hh.n AS DOUBLE) - p.hodmed AS r
  FROM hourly hh JOIN prof p
    ON p.event_type = hh.event_type AND p.hod = hh.h % 24),
base AS MATERIALIZED (
  SELECT event_type, list(h ORDER BY h) AS hs, list(n ORDER BY h) AS ns,
         list(r ORDER BY h) AS rs
  FROM resid GROUP BY event_type),
rec(event_type, k, hs, ns, rs, a_h, a_n, a_r, a_z) AS (
  SELECT event_type, 0, hs, ns, rs,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM base
  UNION ALL
  SELECT event_type, k + 1,
         {rm.format(l='hs')}, {rm.format(l='ns')}, {rm.format(l='rs')},
         hs[pos], ns[pos], rs[pos], zmax
  FROM (
    SELECT *, list_position(zl, zmax) AS pos FROM (
      SELECT *, list_aggregate(zl, 'max') AS zmax FROM (
        SELECT *, list_transform(rs, x -> abs(x - med) / mad) AS zl FROM (
          SELECT *, {med(f"list_transform(rs, x -> abs(x - med))")} AS mad FROM (
            SELECT *, {med('rs')} AS med
            FROM rec WHERE k < {kmax})))
      WHERE mad > 0.0e0))
  WHERE zmax > {Z})
SELECT event_type, k, a_h * 3600 AS bucket_s, a_n AS n_events,
       (round(a_r + 1.0e-9, 6) + 0.0e0) AS resid,
       (round(a_z + 1.0e-9, 6) + 0.0e0) AS z
FROM rec WHERE k >= 1
"""


_REGISTRY.update(
    {
        "ts_sesd": Query("ts_sesd", _q_sesd, _sesd_sql(), ("tsdb", "anomaly")),
    }
)


# --- SSA top components via per-series power iteration -----------------------
SSAP_N, SSAP_LEN, SSAP_WINDOW, SSAP_ITERS, SSAP_K = 8, 256, 32, 40, 3


def ssa_power(df: DataFrame, window: int = SSAP_WINDOW, k: int = SSAP_K,
              iters: int = SSAP_ITERS) -> DataFrame:
    """Top-k SSA eigen-energies by per-series power iteration with
    deflation over the L x L lag-covariance matrix C[i][j] =
    sum_t v[i+t] v[j+t] — the oracle-checkable companion to the rows-only
    full-SVD ssa_spectrum (same argument as embed_pca_power: a fixed
    number of contractive power steps IS SQL-replayable, a full
    eigensolve is not). Emits eigenvalue (sigma^2) and energy share of
    the total trace per component.

    Execution: kalman-shape applyInPandas, series as the group axis; the
    oracle replays each chain in a per-series LIST-state recursive CTE."""
    import numpy as np
    import pandas as pd

    wide = (
        df.groupBy("series_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("t", F.col("value").alias("v")))
            ).alias("pts")
        )
        .select("series_id", F.col("pts.v").alias("vs"))
    )

    schema = "series_id long, component long, sigma2 double, energy_share double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            v = np.asarray(row["vs"], dtype=np.float64)
            L = window
            K = len(v) - L + 1
            X = np.stack([v[i : i + K] for i in range(L)])
            C = X @ X.T
            tr = float(np.trace(C))
            Ck = C
            for comp in range(1, k + 1):
                u = np.full(L, 1.0 / np.sqrt(L))
                for _ in range(iters):
                    w = Ck @ u
                    u = w / np.sqrt((w * w).sum())
                lam = float(u @ (Ck @ u))
                out.append((int(row["series_id"]), comp, lam, lam / tr))
                Ck = Ck - lam * np.outer(u, u)
        return pd.DataFrame(
            out, columns=["series_id", "component", "sigma2", "energy_share"]
        )

    res = wide.groupBy("series_id").applyInPandas(kernel, schema)
    from .queries import roundn

    return roundn(res, 4, "sigma2", "energy_share")


def _q_ssa_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, SSAP_N, SSAP_LEN, "mixed")
    return ssa_power(df)


def _ssa_power_sql(window: int = SSAP_WINDOW, k: int = SSAP_K,
                   iters: int = SSAP_ITERS) -> str:
    gen = oracle.generate_sql(SSAP_N, SSAP_LEN, "mixed", rounded=False)
    L = window
    K = SSAP_LEN - L + 1

    def cv(g: str, v: str) -> str:
        return (
            f"list_transform(range(1, {L} + 1), i -> "
            f"list_sum(list_transform(range(1, {L} + 1), j -> {g}.g[i][j] * {v}[j])))"
        )

    parts = [f"""
WITH RECURSIVE src AS MATERIALIZED ({gen}),
al AS MATERIALIZED (
  SELECT series_id, list(value ORDER BY t) AS vs FROM src GROUP BY series_id),
gm1 AS MATERIALIZED (
  SELECT series_id,
         list_transform(range(1, {L} + 1), i ->
           list_transform(range(1, {L} + 1), j ->
             list_sum(list_transform(range(0, {K}),
               t -> vs[i + t] * vs[j + t])))) AS g
  FROM al),
tr AS (
  SELECT series_id,
         list_sum(list_transform(range(1, {L} + 1), i -> g[i][i])) AS trace
  FROM gm1)"""]
    for m in range(1, k + 1):
        g = f"gm{m}"
        step = cv(g, "rec.v")
        parts.append(f""",
rec{m}(series_id, k, v) AS (
  SELECT series_id, 0,
         list_transform(range(1, {L} + 1), i -> 1.0e0 / sqrt(CAST({L} AS DOUBLE)))
  FROM {g}
  UNION ALL
  SELECT rec.series_id, rec.k + 1,
         list_transform({step}, w ->
           w / sqrt(list_sum(list_transform({step}, ww -> ww * ww))))
  FROM rec{m} rec JOIN {g} ON {g}.series_id = rec.series_id
  WHERE rec.k < {iters}),
fin{m} AS MATERIALIZED (
  SELECT series_id, v FROM rec{m} WHERE k = {iters}),
lam{m} AS MATERIALIZED (
  SELECT fin.series_id,
         list_sum(list_transform(range(1, {L} + 1), i ->
           fin.v[i] * list_sum(list_transform(range(1, {L} + 1),
             j -> {g}.g[i][j] * fin.v[j])))) AS lam
  FROM fin{m} fin JOIN {g} ON {g}.series_id = fin.series_id)""")
        if m < k:
            parts.append(f""",
gm{m + 1} AS MATERIALIZED (
  SELECT {g}.series_id,
         list_transform(range(1, {L} + 1), i ->
           list_transform(range(1, {L} + 1), j ->
             {g}.g[i][j] - lam.lam * fin.v[i] * fin.v[j])) AS g
  FROM {g}
  JOIN fin{m} fin ON fin.series_id = {g}.series_id
  JOIN lam{m} lam ON lam.series_id = {g}.series_id)""")
    emits = "\nUNION ALL\n".join(
        f"""SELECT lam{m}.series_id, {m} AS component,
       (round(lam{m}.lam + 1.0e-9, 4) + 0.0e0) AS sigma2,
       (round(lam{m}.lam / tr.trace + 1.0e-9, 4) + 0.0e0) AS energy_share
FROM lam{m} JOIN tr ON tr.series_id = lam{m}.series_id"""
        for m in range(1, k + 1)
    )
    return "".join(parts) + "\n" + emits


_REGISTRY.update(
    {
        "ts_ssa_power": Query(
            "ts_ssa_power", _q_ssa_power, _ssa_power_sql(), ("tsdb",)
        ),
    }
)
