"""Forecasting toolkit, part 2 (north-star TS-engine extension; complements
the SES/Holt/Holt-Winters/theta/Kalman family in tsgen/forecast.py with the
remaining M-competition classics):

- forecast_accuracy: the M-competition benchmark harness — naive /
  seasonal-naive / drift forecasts on a train/test split, scored with
  MAE / RMSE / sMAPE / MASE per (series, method). This is the query a
  forecasting user runs FIRST to know whether a fancy model beats the
  benchmarks (Hyndman & Athanasopoulos chapter 5).
- forecast_croston: Croston's method for intermittent demand — separate
  SES levels for the nonzero demand sizes and the inter-arrival intervals,
  forecast rate = size_level / interval_level. Uses the same closed-form
  SES identity as forecast_ses (tsgen/queries_misc.py:328): the recursion
  level_n is a plain weighted sum, so the whole method is one filter + one
  window + one aggregation.

Scale notes (100 TB):
- accuracy: lag window + per-series scalar agg share the series_id
  partitioning; the scalars table (n_series rows) is broadcast back.
- croston: arrivals filter prunes before the shuffle; the SES closed form
  makes the "sequential" recursion a partial-aggregable weighted sum.

Reference scope anchor: the reference's models consume the same generated
series (utils/data_generators.py:28-113); forecasting is engine surface on
top, mirroring what its TS users run downstream.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E, generators, oracle
from .io import read_table
from .queries import _REGISTRY, Query, roundn

ACC_TRAIN_N, ACC_SEASON = 48, 16
CROSTON_ALPHA = 0.3
CROSTON_SALT = 52121


# --- benchmark accuracy harness -------------------------------------------
def forecast_accuracy(
    df: DataFrame,
    train_n: int = ACC_TRAIN_N,
    season: int = ACC_SEASON,
    key: str = "series_id",
    t: str = "t",
    value: str = "value",
) -> DataFrame:
    """Score the three M-competition benchmark forecasters on a holdout:
    naive (last train value), seasonal-naive (value one season back — the
    holdout must be <= one season so every lookback lands in train), drift
    (line through first and last train points). Metrics per (series,
    method): MAE, RMSE, sMAPE, and MASE scaled by the in-sample one-step
    naive MAE (Hyndman's scale-free standard)."""
    wo = Window.partitionBy(key).orderBy(t)
    d = df.withColumn("snaive", F.lag(value, season).over(wo)).withColumn(
        "prev", F.lag(value, 1).over(wo)
    )
    train = F.col(t) < train_n
    scal = d.groupBy(key).agg(
        F.max(F.when(F.col(t) == train_n - 1, F.col(value))).alias("y_last"),
        F.max(F.when(F.col(t) == 0, F.col(value))).alias("y0"),
        F.avg(
            F.when(train & (F.col(t) >= 1), F.abs(F.col(value) - F.col("prev")))
        ).alias("scale"),
    )
    test = (
        d.filter(~train)
        .join(F.broadcast(scal), key)
        .withColumn("h", F.col(t) - F.lit(train_n - 1))
    )
    drift = F.col("y_last") + F.col("h") * (F.col("y_last") - F.col("y0")) / F.lit(
        float(train_n - 1)
    )
    m = test.select(
        key,
        F.col(value).alias("y"),
        "scale",
        F.explode(
            F.array(
                F.struct(F.lit("naive").alias("method"), F.col("y_last").alias("yhat")),
                F.struct(F.lit("snaive").alias("method"), F.col("snaive").alias("yhat")),
                F.struct(F.lit("drift").alias("method"), drift.alias("yhat")),
            )
        ).alias("m"),
    )
    e = F.col("m.yhat") - F.col("y")
    return m.groupBy(key, F.col("m.method").alias("method")).agg(
        F.avg(F.abs(e)).alias("mae"),
        F.sqrt(F.avg(e * e)).alias("rmse"),
        F.avg(2.0 * F.abs(e) / (F.abs(F.col("y")) + F.abs(F.col("m.yhat")))).alias(
            "smape"
        ),
        (F.avg(F.abs(e)) / F.max("scale")).alias("mase"),
    )


def _q_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, 8, 64, "mixed")
    return roundn(forecast_accuracy(df), 4, "mae", "rmse", "smape", "mase")


def _accuracy_sql(train_n: int = ACC_TRAIN_N, season: int = ACC_SEASON) -> str:
    gen = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return f"""
WITH src AS ({gen}),
d AS (
  SELECT series_id, t, value,
         lag(value, {season}) OVER wa AS snaive,
         lag(value, 1) OVER wa AS prev
  FROM src WINDOW wa AS (PARTITION BY series_id ORDER BY t)),
scal AS (
  SELECT series_id,
         max(CASE WHEN t = {train_n - 1} THEN value END) AS y_last,
         max(CASE WHEN t = 0 THEN value END) AS y0,
         avg(CASE WHEN t >= 1 AND t < {train_n} THEN abs(value - prev) END)
           AS scale
  FROM d GROUP BY series_id),
test AS (
  SELECT d.series_id, d.t, d.value, d.snaive, s.y_last, s.y0, s.scale,
         d.t - {train_n - 1} AS h
  FROM d JOIN scal s ON d.series_id = s.series_id
  WHERE d.t >= {train_n}),
m AS (
  SELECT series_id, 'naive' AS method, value AS y, y_last AS yhat, scale
  FROM test
  UNION ALL
  SELECT series_id, 'snaive', value, snaive, scale FROM test
  UNION ALL
  SELECT series_id, 'drift',
         value, y_last + h * (y_last - y0) / {E.NUM(train_n - 1)}, scale
  FROM test)
SELECT series_id, method,
  {E.roundn('avg(abs(yhat - y))', 4)} AS mae,
  {E.roundn('sqrt(avg((yhat - y) * (yhat - y)))', 4)} AS rmse,
  {E.roundn('avg(2.0e0 * abs(yhat - y) / (abs(y) + abs(yhat)))', 4)} AS smape,
  {E.roundn('avg(abs(yhat - y)) / max(scale)', 4)} AS mase
FROM m GROUP BY series_id, method
"""


# --- Croston intermittent demand ------------------------------------------
def _demand_expr() -> str:
    """Deterministic intermittent-demand transform of the generated series:
    ~35% of points carry a positive demand abs(value)+0.5, the rest are 0.
    Engine-portable (same LCG u01 text on both sides)."""
    k = E.pt_key()
    return (
        f"CASE WHEN {E.u01(k, CROSTON_SALT)} < 3.5e-1 "
        f"THEN abs(value) + 5.0e-1 ELSE 0.0e0 END"
    )


def croston_forecast(
    df: DataFrame,
    alpha: float = CROSTON_ALPHA,
    key: str = "series_id",
    t: str = "t",
    demand: str = "demand",
) -> DataFrame:
    """Croston (1972): SES level over the nonzero demand SIZES and a second
    SES level over the inter-arrival INTERVALS (first interval = t+1, i.e.
    time since series start); forecast demand rate = z_hat / p_hat.

    The SES recursions use the closed-form weighted-sum identity (same as
    forecast_ses): weight_i = (1-a)^(n-1) for the first arrival, else
    a (1-a)^(n-i) — so the whole method aggregates in one pass instead of
    replaying the recursion."""
    wo = Window.partitionBy(key).orderBy(t)
    wp = Window.partitionBy(key)
    arr = (
        df.filter(F.col(demand) > 0)
        .withColumn("i", F.row_number().over(wo))
        .withColumn(
            "gap",
            F.coalesce(F.col(t) - F.lag(t).over(wo), F.col(t) + F.lit(1)).cast(
                "double"
            ),
        )
        .withColumn("n", F.count("*").over(wp))
    )
    a = F.lit(alpha)
    w_i = F.when(F.col("i") == 1, F.pow(1.0 - a, F.col("n") - 1)).otherwise(
        a * F.pow(1.0 - a, F.col("n") - F.col("i"))
    )
    out = arr.groupBy(key).agg(
        F.count("*").alias("n_arrivals"),
        F.sum(w_i * F.col(demand)).alias("z_hat"),
        F.sum(w_i * F.col("gap")).alias("p_hat"),
    )
    return out.withColumn("rate", F.col("z_hat") / F.col("p_hat"))


def _q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generators.generate(spark, 8, 96, "mixed")
    d = df.withColumn("demand", F.expr(_demand_expr()))
    return roundn(croston_forecast(d), 6, "z_hat", "p_hat", "rate")


def _croston_sql(alpha: float = CROSTON_ALPHA) -> str:
    gen = oracle.generate_sql(8, 96, "mixed", rounded=False)
    a, na = E.NUM(alpha), E.NUM(1.0 - alpha)
    return f"""
WITH src AS ({gen}),
dem AS (SELECT series_id, t, {_demand_expr()} AS demand FROM src),
arr AS (
  SELECT series_id, t, demand,
         row_number() OVER wa AS i,
         CAST(coalesce(t - lag(t) OVER wa, t + 1) AS DOUBLE) AS gap,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM dem WHERE demand > 0
  WINDOW wa AS (PARTITION BY series_id ORDER BY t)),
wts AS (
  SELECT series_id, demand, gap,
         CASE WHEN i = 1 THEN pow({na}, n - 1)
              ELSE {a} * pow({na}, n - i) END AS w_i
  FROM arr),
agg AS (
  SELECT series_id, count(*) AS n_arrivals,
         sum(w_i * demand) AS z_hat, sum(w_i * gap) AS p_hat
  FROM wts GROUP BY series_id)
SELECT series_id, n_arrivals, {E.round6('z_hat')} AS z_hat,
       {E.round6('p_hat')} AS p_hat, {E.round6('z_hat / p_hat')} AS rate
FROM agg
"""


def _q_sba(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan Approximation (IJF 2005): Croston's rate estimator
    is biased high; SBA multiplies by (1 − α/2). The recommended default
    for the 'intermittent'/'lumpy' quadrants li_demand_classes routes to.
    Reuses croston_forecast wholesale — one extra projected column."""
    df = generators.generate(spark, 8, 96, "mixed")
    d = df.withColumn("demand", F.expr(_demand_expr()))
    out = croston_forecast(d).withColumn(
        "sba_rate",
        F.round(
            F.lit(1.0 - CROSTON_ALPHA / 2.0) * (F.col("z_hat") / F.col("p_hat"))
            + F.lit(1e-9),
            6,
        )
        + F.lit(0.0),
    )
    return roundn(out, 6, "z_hat", "p_hat", "rate")


def _sba_sql(alpha: float = CROSTON_ALPHA) -> str:
    gen = oracle.generate_sql(8, 96, "mixed", rounded=False)
    a, na, mult = E.NUM(alpha), E.NUM(1.0 - alpha), E.NUM(1.0 - alpha / 2.0)
    return f"""
WITH src AS ({gen}),
dem AS (SELECT series_id, t, {_demand_expr()} AS demand FROM src),
arr AS (
  SELECT series_id, t, demand,
         row_number() OVER wa AS i,
         CAST(coalesce(t - lag(t) OVER wa, t + 1) AS DOUBLE) AS gap,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM dem WHERE demand > 0
  WINDOW wa AS (PARTITION BY series_id ORDER BY t)),
wts AS (
  SELECT series_id, demand, gap,
         CASE WHEN i = 1 THEN pow({na}, n - 1)
              ELSE {a} * pow({na}, n - i) END AS w_i
  FROM arr),
agg AS (
  SELECT series_id, count(*) AS n_arrivals,
         sum(w_i * demand) AS z_hat, sum(w_i * gap) AS p_hat
  FROM wts GROUP BY series_id)
SELECT series_id, n_arrivals, {E.round6('z_hat')} AS z_hat,
       {E.round6('p_hat')} AS p_hat, {E.round6('z_hat / p_hat')} AS rate,
       {E.round6(f'{mult} * (z_hat / p_hat)')} AS sba_rate
FROM agg
"""


# --- hierarchical forecast reconciliation ----------------------------------
RECON_ALPHA = 0.3


def forecast_reconcile(ev: DataFrame, alpha: float = RECON_ALPHA) -> DataFrame:
    """Hierarchical forecast reconciliation (Hyndman et al. 2011's problem,
    with the two classical solvers): hourly value-sum series per event_type
    roll up to a coherent total; independent SES base forecasts of the
    leaves and the total do NOT add up, so reconcile both ways —
    bottom-up (total := Σ leaf forecasts) and top-down (leaf := historical
    share × total forecast). Emits per node the base, bottom-up and
    top-down forecasts plus the share; the 'total' row shows exactly the
    coherence gap bottom-up closes.

    Execution: the node series table (leaves ∪ total) is one groupBy plus
    one rollup-style re-aggregation; SES runs once over ALL nodes in a
    kalman-shape mapInPandas (nodes are the Arrow-batch axis); shares and
    the reconciliation arithmetic live on an n_nodes-row table."""
    import pandas as pd

    b = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).alias("bk"), "event_type"
    ).agg(F.sum("value").alias("v")).localCheckpoint(eager=False)
    # ^ pinned: the leaves and total branches both read the hourly table,
    #   and unpinned each downstream branch re-ran the events scan
    #   (recompute census: 8 scans in this plan)
    leaves = b.select(F.col("event_type").alias("node"), "bk", "v")
    total = b.groupBy("bk").agg(F.sum("v").alias("v")).select(
        F.lit("total").alias("node"), "bk", "v"
    )
    nodes = leaves.unionByName(total)
    wide = (
        nodes.groupBy("node")
        .agg(F.array_sort(F.collect_list(F.struct("bk", F.col("v").alias("x")))).alias("pts"))
        .select("node", F.col("pts.x").alias("vs"))
    )
    oma = 1.0 - alpha

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for node, vs in zip(pdf["node"], pdf["vs"]):
                l = float(vs[0])
                tot = 0.0
                for x in vs:
                    tot = tot + float(x)
                for x in vs[1:]:
                    l = alpha * float(x) + oma * l
                rows.append((str(node), l, tot))
            yield pd.DataFrame(rows, columns=["node", "base_fc", "hist_sum"])

    fc = wide.mapInPandas(
        fn, "node string, base_fc double, hist_sum double"
    ).localCheckpoint(eager=False)  # n_nodes rows, read by 3 branches
    tot_row = fc.filter(F.col("node") == "total").select(
        F.col("base_fc").alias("tot_fc"), F.col("hist_sum").alias("tot_hist")
    )
    leaf = fc.filter(F.col("node") != "total")
    bu_total = leaf.agg(F.sum("base_fc").alias("bu"))
    out_leaf = leaf.crossJoin(F.broadcast(tot_row)).select(
        "node",
        "base_fc",
        F.col("base_fc").alias("bu_fc"),
        ((F.col("hist_sum") / F.col("tot_hist")) * F.col("tot_fc")).alias("td_fc"),
        (F.col("hist_sum") / F.col("tot_hist")).alias("share"),
    )
    out_tot = (
        tot_row.crossJoin(F.broadcast(bu_total))
        .select(
            F.lit("total").alias("node"),
            F.col("tot_fc").alias("base_fc"),
            F.col("bu").alias("bu_fc"),
            F.col("tot_fc").alias("td_fc"),
            F.lit(1.0).alias("share"),
        )
    )
    return out_leaf.unionByName(out_tot)


def _q_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import round6

    return round6(
        forecast_reconcile(read_table(spark, sf_dir, "events")),
        "base_fc", "bu_fc", "td_fc", "share",
    )


def _reconcile_sql(alpha: float = RECON_ALPHA) -> str:
    A, OMA = E.NUM(alpha), E.NUM(1.0 - alpha)
    return f"""
WITH RECURSIVE b AS (
  SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS bk,
         event_type, sum(value) AS v
  FROM events GROUP BY 1, 2),
nodes AS MATERIALIZED (
  SELECT event_type AS node, bk, v FROM b
  UNION ALL
  SELECT 'total' AS node, bk, sum(v) AS v FROM b GROUP BY bk),
rk AS MATERIALIZED (
  SELECT node, v, row_number() OVER (PARTITION BY node ORDER BY bk) AS rn
  FROM nodes),
nn AS (SELECT node, count(*) AS n, sum(v) AS hist_sum FROM rk GROUP BY node),
rec(node, rn, l) AS (
  SELECT node, 1, v FROM rk WHERE rn = 1
  UNION ALL
  SELECT r.node, r.rn + 1, {A}*s.v + {OMA}*r.l
  FROM rec r JOIN rk s ON s.node = r.node AND s.rn = r.rn + 1),
fc AS (
  SELECT rec.node, rec.l AS base_fc, nn.hist_sum
  FROM rec JOIN nn ON nn.node = rec.node AND rec.rn = nn.n),
tot AS (SELECT base_fc AS tot_fc, hist_sum AS tot_hist FROM fc WHERE node = 'total'),
bu AS (SELECT sum(base_fc) AS bu FROM fc WHERE node <> 'total')
SELECT node, {E.round6('base_fc')} AS base_fc,
       {E.round6('base_fc')} AS bu_fc,
       {E.round6('(hist_sum / tot.tot_hist) * tot.tot_fc')} AS td_fc,
       {E.round6('hist_sum / tot.tot_hist')} AS share
FROM fc CROSS JOIN tot WHERE node <> 'total'
UNION ALL
SELECT 'total', {E.round6('tot.tot_fc')}, {E.round6('bu.bu')},
       {E.round6('tot.tot_fc')}, 1.0e0
FROM tot CROSS JOIN bu
"""


_REGISTRY.update(
    {
        "forecast_accuracy": Query(
            "forecast_accuracy", _q_accuracy, _accuracy_sql(), ("forecast",)
        ),
        "forecast_sba": Query(
            "forecast_sba", _q_sba, _sba_sql(), ("forecast",)
        ),
        "forecast_croston": Query(
            "forecast_croston", _q_croston, _croston_sql(), ("forecast",)
        ),
        "forecast_reconcile": Query(
            "forecast_reconcile", _q_reconcile, _reconcile_sql(), ("forecast",)
        ),
    }
)


# --- Prophet-lite: trend knots + weekly Fourier, exact ridge solve -----------
PL_KNOTS = (10, 19)
PL_LAMBDA = 1e-4
PL_DIM = 6  # [1, t, hinge(t-k1), hinge(t-k2), sin(2pi t/7), cos(2pi t/7)]


def prophet_lite(ev: DataFrame) -> DataFrame:
    """Decomposable daily-series model in the style of Prophet (Taylor &
    Letham 2018): piecewise-linear trend (hinge features at fixed
    changepoint knots) + weekly Fourier seasonality, fit by RIDGE least
    squares solved EXACTLY — the normal equations accumulate distributed
    (one groupBy(day) for the series, one 36-cell aggregate for X'X and
    X'y), then a 6x6 Gaussian elimination runs as constant-size driver
    arithmetic whose every pivot/eliminate/back-substitute step the
    oracle replays in LIST-state CTEs. A'=X'X+lambda*I and b=X'y are
    rounded to 6dp first, so both engines eliminate the identical
    matrix bit-for-bit (no iterative-convergence concerns at all).

    Emits one row per coefficient plus the training RMSE row."""
    import math

    beta, daily = _prophet_fit(ev)
    d = PL_DIM
    t = F.col("t").cast("double")
    feats = [
        F.lit(1.0),
        t / 30.0,
        F.greatest(F.lit(0.0), (t - PL_KNOTS[0]) / 30.0),
        F.greatest(F.lit(0.0), (t - PL_KNOTS[1]) / 30.0),
        F.sin(t * (2.0 * math.pi / 7.0)),
        F.cos(t * (2.0 * math.pi / 7.0)),
    ]
    spark = ev.sparkSession
    names = ["intercept", "trend", f"hinge_{PL_KNOTS[0]}", f"hinge_{PL_KNOTS[1]}",
             "sin_weekly", "cos_weekly"]
    bdf = spark.createDataFrame(
        [(n, float(v)) for n, v in zip(names, beta)], "feature string, beta double"
    )
    pred = sum(feats[i] * F.lit(beta[i]) for i in range(d))
    rmse = daily.agg(
        F.sqrt(F.avg((F.col("y") - pred) * (F.col("y") - pred))).alias("beta")
    ).select(F.lit("rmse").alias("feature"), "beta")
    from .queries import round6

    return round6(bdf.unionByName(rmse), "beta")


def _q_prophet_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prophet_lite(read_table(spark, sf_dir, "events"))


def _prophet_core_sql() -> tuple:
    from . import expr as E

    d = PL_DIM
    lam = E.NUM(PL_LAMBDA)
    w = E.NUM(2.0 * 3.141592653589793 / 7.0)
    feats = (
        f"[1.0e0, CAST(t AS DOUBLE) / 3.0e1, "
        f"greatest(0.0e0, (CAST(t AS DOUBLE) - {PL_KNOTS[0]}) / 3.0e1), "
        f"greatest(0.0e0, (CAST(t AS DOUBLE) - {PL_KNOTS[1]}) / 3.0e1), "
        f"sin(CAST(t AS DOUBLE) * {w}), cos(CAST(t AS DOUBLE) * {w})]"
    )
    # A flattened row-major (with ridge), b appended as column d
    parts = [f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) - 19723 AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
xr AS (SELECT t, y, {feats} AS x FROM daily),
cells AS (
  SELECT i, j,
         (round(sum(x[i + 1] * x[j + 1]) + 1.0e-9, 6) + 0.0e0)
           + CASE WHEN i = j THEN {lam} ELSE 0.0e0 END AS a,
         (round(sum(x[i + 1] * y) + 1.0e-9, 6) + 0.0e0) AS b
  FROM xr, range(0, {d}) r1(i), range(0, {d}) r2(j)
  GROUP BY i, j),
m0 AS MATERIALIZED (
  SELECT list(row ORDER BY i) AS m FROM (
    SELECT i, list_append(list(a ORDER BY j),
                          max(CASE WHEN j = 0 THEN b END)) AS row
    FROM cells GROUP BY i))"""]
    step = 0
    cur = "m0"
    for k in range(d):
        step += 1
        nxt = f"m{step}"
        parts.append(f""",
{nxt} AS MATERIALIZED (
  SELECT list_transform(range(0, {d}), i ->
           CASE WHEN i <= {k} THEN m[i + 1]
                ELSE list_transform(range(0, {d + 1}), j ->
                       m[i + 1][j + 1]
                       - (m[i + 1][{k} + 1] / m[{k} + 1][{k} + 1])
                         * m[{k} + 1][j + 1]) END) AS m
  FROM {cur})""")
        cur = nxt
    # back substitution: beta accumulated as a growing list (beta[d-1] first)
    parts.append(f""",
bs0 AS (SELECT m, CAST([] AS DOUBLE[]) AS rev FROM {cur})""")
    for idx, i in enumerate(range(d - 1, -1, -1)):
        parts.append(f""",
bs{idx + 1} AS (
  SELECT m,
         list_append(rev,
           (m[{i} + 1][{d + 1}]
            - list_reduce(list_prepend(0.0e0,
                list_transform(range({i} + 1, {d}), j ->
                  m[{i} + 1][j + 1] * rev[{d} - j])), (a, b) -> a + b))
           / m[{i} + 1][{i} + 1]) AS rev
  FROM bs{idx})""")
    names = ["intercept", "trend", f"hinge_{PL_KNOTS[0]}", f"hinge_{PL_KNOTS[1]}",
             "sin_weekly", "cos_weekly"]
    sel = "\nUNION ALL\n".join(
        f"SELECT '{n}' AS feature, (round(rev[{d} - {i}] + 1.0e-9, 6) + 0.0e0) AS beta FROM bs{d}"
        for i, n in enumerate(names)
    )
    pred = " + ".join(f"bb.rev[{d} - {i}] * x[{i} + 1]" for i in range(d))
    return "".join(parts), pred, sel, feats


def _prophet_lite_sql() -> str:
    d = PL_DIM
    prefix, pred, sel, _ = _prophet_core_sql()
    return prefix + f""",
rmse AS (
  SELECT 'rmse' AS feature,
         (round(sqrt(avg((y - ({pred})) * (y - ({pred})))) + 1.0e-9, 6) + 0.0e0)
           AS beta
  FROM xr CROSS JOIN bs{d} bb)
{sel}
UNION ALL SELECT * FROM rmse
"""


_REGISTRY.update(
    {
        "ts_prophet_lite": Query(
            "ts_prophet_lite", _q_prophet_lite, _prophet_lite_sql(), ("forecast",)
        ),
    }
)


# --- Prophet-lite forecast with empirical band -------------------------------
PL_HORIZON = 7
PL_BAND_Q = 0.9


def prophet_forecast(ev: DataFrame, horizon: int = PL_HORIZON) -> DataFrame:
    """h-day-ahead forecast from the prophet_lite fit: the fitted
    trend+seasonality curve extrapolates (hinges stay active, the weekly
    wave continues), banded by the q90 of in-sample |residual| — the
    simple empirical interval that needs no distributional assumption
    (the conformal machinery provides the calibrated alternative).
    Betas come bit-identical from the shared exact solve; the band is an
    exact order statistic over the daily residuals, so every emitted
    number replays in SQL."""
    import math

    beta, daily = _prophet_fit(ev)

    def x_of(t: float) -> list:
        return [
            1.0,
            t / 30.0,
            max(0.0, (t - PL_KNOTS[0]) / 30.0),
            max(0.0, (t - PL_KNOTS[1]) / 30.0),
            math.sin(t * (2.0 * math.pi / 7.0)),
            math.cos(t * (2.0 * math.pi / 7.0)),
        ]

    def pred(t: float) -> float:
        acc = 0.0
        for i in range(PL_DIM):
            acc = acc + beta[i] * x_of(t)[i]
        return acc

    rows = daily.collect()  # ~30 daily points — bounded driver state
    resid = sorted(abs(r.y - pred(float(r.t))) for r in rows)
    band = resid[math.ceil(PL_BAND_Q * len(resid)) - 1]
    out = [
        (30 + h, pred(float(30 + h)), pred(float(30 + h)) - band,
         pred(float(30 + h)) + band)
        for h in range(horizon)
    ]
    spark = ev.sparkSession
    df = spark.createDataFrame(out, "t bigint, yhat double, lo double, hi double")
    from .queries import round6

    return round6(df, "yhat", "lo", "hi")


def _prophet_fit(ev: DataFrame):
    """Shared fit: returns (beta list, daily DataFrame). Same arithmetic
    as prophet_lite (which re-derives its outputs from these betas)."""
    import math

    day = (
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint") - F.lit(19723)
    ).alias("t")
    daily = ev.groupBy(day).agg(F.count("*").cast("double").alias("y"))
    t = F.col("t").cast("double")
    feats = [
        F.lit(1.0),
        t / 30.0,
        F.greatest(F.lit(0.0), (t - PL_KNOTS[0]) / 30.0),
        F.greatest(F.lit(0.0), (t - PL_KNOTS[1]) / 30.0),
        F.sin(t * (2.0 * math.pi / 7.0)),
        F.cos(t * (2.0 * math.pi / 7.0)),
    ]
    d = PL_DIM
    xrow = daily.select("t", "y", F.array(*feats).alias("x"))
    cells = xrow.select(
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.lit(j).alias("j"),
                        (F.element_at("x", i + 1) * F.element_at("x", j + 1)).alias("xx"),
                        (F.element_at("x", i + 1) * F.col("y")).alias("xy"),
                    )
                    for i in range(d)
                    for j in range(d)
                ]
            )
        ).alias("c"),
    ).select("c.i", "c.j", "c.xx", "c.xy")
    gram = cells.groupBy("i", "j").agg(
        (F.round(F.sum("xx") + F.lit(1e-9), 6) + F.lit(0.0)).alias("a"),
        (F.round(F.sum(F.when(F.col("j") == 0, F.col("xy"))) + F.lit(1e-9), 6) + F.lit(0.0)).alias("b"),
    )
    rows = gram.collect()
    A = [[0.0] * d for _ in range(d)]
    bv = [0.0] * d
    for r in rows:
        A[r.i][r.j] = r.a
        if r.j == 0:
            bv[r.i] = r.b
    for i in range(d):
        A[i][i] = A[i][i] + PL_LAMBDA
    for k in range(d):
        for i in range(k + 1, d):
            f = A[i][k] / A[k][k]
            for j in range(d):
                A[i][j] = A[i][j] - f * A[k][j]
            bv[i] = bv[i] - f * bv[k]
    beta = [0.0] * d
    for i in range(d - 1, -1, -1):
        acc = 0.0
        for j in range(i + 1, d):
            acc = acc + A[i][j] * beta[j]
        beta[i] = (bv[i] - acc) / A[i][i]
    return beta, daily


def _q_prophet_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prophet_forecast(read_table(spark, sf_dir, "events"))


def _prophet_forecast_sql(horizon: int = PL_HORIZON) -> str:
    from . import expr as E

    d = PL_DIM
    prefix, pred, _, feats = _prophet_core_sql()
    q = E.NUM(PL_BAND_Q)
    return prefix + f""",
resid AS (
  SELECT list_sort(list(abs(y - ({pred})))) AS l
  FROM xr CROSS JOIN bs{d} bb),
band AS (
  SELECT l[CAST(ceil({q} * len(l)) AS BIGINT)] AS b FROM resid),
fx AS (
  SELECT t, {feats} AS x FROM (SELECT unnest(range(30, {30 + horizon})) AS t))
SELECT t,
       (round(({pred}) + 1.0e-9, 6) + 0.0e0) AS yhat,
       (round(({pred}) - band.b + 1.0e-9, 6) + 0.0e0) AS lo,
       (round(({pred}) + band.b + 1.0e-9, 6) + 0.0e0) AS hi
FROM fx CROSS JOIN bs{d} bb CROSS JOIN band
"""


_REGISTRY.update(
    {
        "ts_prophet_forecast": Query(
            "ts_prophet_forecast",
            _q_prophet_forecast,
            _prophet_forecast_sql(),
            ("forecast",),
        ),
    }
)
