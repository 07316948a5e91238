"""Training-lifecycle metrics (SURVEY §2 C6/C7, I2) + interval join +
percentiles — all oracle-checked.

The reference's epoch loop (test_training.py:144-176) accumulates per-epoch
train losses and tracks the best (min) one. The gradient step itself is out
of deterministic scope (SURVEY §7), but the *metrics dataflow* is exactly
expressible: per-epoch loss = one grouped aggregation keyed by epoch (the
per-epoch noise draw is salted by epoch), best-so-far = running min window.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E, generators
from .io import read_table
from .queries import _REGISTRY, Query, round6

N_EPOCHS, N_TR, LEN_TR = 10, 8, 64


def _epoch_loss_exprs() -> tuple[str, str]:
    """(clean, noisy-at-epoch) value exprs; noise salt depends on epoch."""
    clean = E.signal_expr("mixed", LEN_TR)
    nl = E.series_params()["noise_level"]
    key = f"(({E.pt_key()}) * 131 + epoch) % {E.M31}"
    noisy = f"({clean} + {nl} * {E.normal(key, E.SALT_NOISE)})"
    return clean, noisy


def _q_epoch_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean, noisy = _epoch_loss_exprs()
    grid = generators.base_grid(spark, N_TR, LEN_TR)
    epochs = spark.range(N_EPOCHS).select(F.col("id").alias("epoch"))
    df = grid.crossJoin(epochs).withColumn(
        "sq_err", F.expr(f"pow({noisy} - {clean}, 2)")
    )
    per_epoch = df.groupBy("epoch").agg(F.avg("sq_err").alias("train_loss"))
    w = Window.orderBy("epoch").rowsBetween(Window.unboundedPreceding, 0)
    out = per_epoch.withColumn("best_loss", F.min("train_loss").over(w)).withColumn(
        "is_best", F.col("train_loss") == F.col("best_loss")
    )
    return round6(out, "train_loss", "best_loss")


def _epoch_metrics_sql() -> str:
    clean, noisy = _epoch_loss_exprs()
    return f"""
WITH grid AS (
  SELECT series_id, t, epoch
  FROM (SELECT range AS series_id FROM range({N_TR}))
  CROSS JOIN (SELECT range AS t FROM range({LEN_TR}))
  CROSS JOIN (SELECT range AS epoch FROM range({N_EPOCHS}))),
per_epoch AS (
  SELECT epoch, avg(pow({noisy} - {clean}, 2)) AS train_loss
  FROM grid GROUP BY epoch)
SELECT epoch, (round((train_loss) + 1.0e-9,6)+0.0e0) AS train_loss,
       (round((min(train_loss) OVER (ORDER BY epoch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) + 1.0e-9,6)+0.0e0) AS best_loss,
       (train_loss = min(train_loss) OVER (ORDER BY epoch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS is_best
FROM per_epoch
"""


# --- interval join: events falling inside incident windows ----------------
def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident windows = hours with >= 5 'error' events; join every event
    landing inside such an hour (ts BETWEEN start AND end). Because the
    windows are hour-ALIGNED by construction, `ts >= w_start AND ts <
    w_start + 1h` is exactly `date_trunc(hour, ts) = w_start` — so the
    join runs as a broadcast HASH join on the truncated hour, not a
    nested-loop range join (plan-lint r9: the BNLJ here was the one
    registry range-join that had a free equi-key). The general
    non-aligned interval case is covered by ev_asof / ev_interval_union."""
    ev = read_table(spark, sf_dir, "events")
    incidents = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("w_start"))
        .agg(F.count("*").alias("n_err"))
        .filter(F.col("n_err") >= 5)
    )
    joined = ev.withColumn("w_start", F.date_trunc("hour", "ts")).join(
        F.broadcast(incidents), "w_start"
    )
    out = joined.groupBy(F.unix_timestamp("w_start").alias("w_start_s"), "event_type").agg(
        F.count("*").alias("n_in_window"), F.sum("value").alias("sum_value")
    )
    return round6(out, "sum_value")


_INTERVAL_SQL = """
WITH incidents AS (
  SELECT date_trunc('hour', ts) AS w_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end
  FROM events WHERE event_type = 'error'
  GROUP BY 1 HAVING count(*) >= 5)
SELECT CAST(floor(epoch(i.w_start)) AS BIGINT) AS w_start_s, e.event_type,
       count(*) AS n_in_window, (round((sum(e.value)) + 1.0e-9,6)+0.0e0) AS sum_value
FROM events e JOIN incidents i ON e.ts >= i.w_start AND e.ts < i.w_end
GROUP BY 1, 2
"""


# --- exact interpolated percentiles ---------------------------------------
def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # order-statistic form (r9): the built-in percentile() buffers every
    # group value in one task — see stratified_percentiles
    from .queries_scale import stratified_percentiles

    ev = read_table(spark, sf_dir, "events")
    out = stratified_percentiles(
        ev, "event_type", "value", [0.5, 0.9, 0.99], ["p50", "p90", "p99"]
    )
    return round6(out, "p50", "p90", "p99")


_PERCENTILES_SQL = """
SELECT event_type,
       (round((quantile_cont(value, 0.5)) + 1.0e-9,6)+0.0e0) AS p50,
       (round((quantile_cont(value, 0.9)) + 1.0e-9,6)+0.0e0) AS p90,
       (round((quantile_cont(value, 0.99)) + 1.0e-9,6)+0.0e0) AS p99
FROM events GROUP BY event_type
"""


# --- closed-form denoiser training step (I2/I3 analog) --------------------
# One exact least-squares "epoch" of a linear noise predictor over q_sample
# output (models/train_diffusion_ts.py:34-64): sufficient statistics via one
# aggregation pass, Cramer 4x4 solve as shared SQL text, MSE from a residual
# pass (the oracle uses the no-second-pass identity). See tsgen/train.py for
# the scale argument.
TD_N, TD_LEN, TD_T = 16, 64, 50


def _q_train_denoiser(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import diffusion, train
    from .queries import roundn
    from .schedules import schedule_table

    df = generators.generate(spark, TD_N, TD_LEN, "mixed")
    sched = schedule_table(spark, TD_T, "cosine")
    noisy = diffusion.q_sample(df, sched, TD_T).join(
        F.broadcast(sched.select("t_step", "sqrt_1m_ac")), "t_step"
    )
    out = train.fit_linear_denoiser(noisy)
    return roundn(out, 4, "w0", "w1", "w2", "w3", "train_mse", "baseline_mse")


def _train_denoiser_sql() -> str:
    from . import diffusion, oracle, train
    from .schedules import duckdb_from_clause, schedule_sql

    gen = oracle.generate_sql(TD_N, TD_LEN, "mixed", rounded=False)
    sched = schedule_sql(TD_T, "cosine", duckdb_from_clause(TD_T))
    tstep = diffusion.draw_t_step(TD_T)
    noise = E.normal(E.pt_key(), diffusion.SALT_QNOISE)
    e = train.solver_exprs()
    r4 = lambda x: E.roundn(x, 4)  # noqa: E731
    return f"""
WITH src AS ({gen}), sch AS ({sched}),
b AS (SELECT series_id, t, value, {tstep} AS t_step, {noise} AS noise FROM src),
j AS (SELECT (sch.sqrt_ac * b.value + sch.sqrt_1m_ac * b.noise) AS x,
             sch.sqrt_1m_ac AS s_t, b.noise AS y
      FROM b JOIN sch ON b.t_step = sch.t_step),
g AS (SELECT {train.sums_select_sql("x", "s_t", "y")} FROM j),
w AS (SELECT *, {e["w0"]} AS w0, {e["w1"]} AS w1, {e["w2"]} AS w2, {e["w3"]} AS w3 FROM g)
SELECT CAST(a00 AS BIGINT) AS n,
       {r4("w0")} AS w0, {r4("w1")} AS w1, {r4("w2")} AS w2, {r4("w3")} AS w3,
       {r4(e["train_mse"])} AS train_mse,
       {r4(e["baseline_mse"])} AS baseline_mse
FROM w
"""


# --- Fourier time-embedding denoiser (sinusoidal-PE analog) ---------------
def _q_train_denoiser_fourier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import diffusion, train
    from .queries import roundn
    from .schedules import schedule_table

    df = generators.generate(spark, TD_N, TD_LEN, "mixed")
    sched = schedule_table(spark, TD_T, "cosine")
    noisy = diffusion.q_sample(df, sched, TD_T)
    base = noisy.selectExpr("x_t AS x", "t_step", "noise AS y")
    out = train.fit_feature_denoiser(base, train.fourier_feats(TD_T))
    return roundn(out, 4, "w0", "w1", "w2", "w3", "train_mse", "baseline_mse")


def _train_denoiser_fourier_sql() -> str:
    from . import diffusion, oracle, train
    from .schedules import duckdb_from_clause, schedule_sql

    gen = oracle.generate_sql(TD_N, TD_LEN, "mixed", rounded=False)
    sched = schedule_sql(TD_T, "cosine", duckdb_from_clause(TD_T))
    tstep = diffusion.draw_t_step(TD_T)
    noise = E.normal(E.pt_key(), diffusion.SALT_QNOISE)
    e = train.solver_exprs()
    feats = train.fourier_feats(TD_T)
    r4 = lambda x: E.roundn(x, 4)  # noqa: E731
    return f"""
WITH src AS ({gen}), sch AS ({sched}),
b AS (SELECT series_id, t, value, {tstep} AS t_step, {noise} AS noise FROM src),
j AS (SELECT b.t_step,
             (sch.sqrt_ac * b.value + sch.sqrt_1m_ac * b.noise) AS x,
             b.noise AS y
      FROM b JOIN sch ON b.t_step = sch.t_step),
g AS (SELECT {train.sums_select_sql_feats(feats, "y")} FROM j),
w AS (SELECT *, {e["w0"]} AS w0, {e["w1"]} AS w1, {e["w2"]} AS w2, {e["w3"]} AS w3 FROM g)
SELECT CAST(a00 AS BIGINT) AS n,
       {r4("w0")} AS w0, {r4("w1")} AS w1, {r4("w2")} AS w2, {r4("w3")} AS w3,
       {r4(e["train_mse"])} AS train_mse,
       {r4(e["baseline_mse"])} AS baseline_mse
FROM w
"""


# --- the full multi-epoch training loop, as ONE aggregation ---------------
# Reference shape (test_training.py:144-176): per epoch draw fresh timesteps
# + noise, fit, track the best (min) loss. Here every epoch's 15 sufficient
# statistics partial-aggregate in the SAME shuffle (groupBy epoch), each row
# solves its own normal equations, and best-so-far is a running-min window —
# E epochs over 100 TB cost one pass, not E passes.
EP_N, EP_LEN, EP_T, EP_EPOCHS = 8, 64, 50, 6


def _ep_exprs() -> tuple[str, str]:
    from . import diffusion

    tkey = f"((series_id * 131 + epoch) % {E.M31})"
    nkey = f"((({E.pt_key()}) * 131 + epoch) % {E.M31})"
    tstep = f"CAST(floor({E.u01(tkey, diffusion.SALT_TSTEP)} * {EP_T}) AS BIGINT)"
    noise = E.normal(nkey, diffusion.SALT_QNOISE)
    return tstep, noise


_EP_ROUND = ("w0", "w1", "w2", "w3", "train_mse", "best_mse")


def _q_train_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import train
    from .queries import roundn
    from .schedules import schedule_table

    tstep, noise = _ep_exprs()
    epochs = spark.range(EP_EPOCHS).select(F.col("id").alias("epoch"))
    sched = schedule_table(spark, EP_T, "cosine")
    df = (
        generators.generate(spark, EP_N, EP_LEN, "mixed")
        .crossJoin(F.broadcast(epochs))
        .withColumn("t_step", F.expr(tstep))
        .withColumn("noise", F.expr(noise))
        .join(F.broadcast(sched.select("t_step", "sqrt_ac", "sqrt_1m_ac")), "t_step")
        .withColumn(
            "x_t", F.col("sqrt_ac") * F.col("value") + F.col("sqrt_1m_ac") * F.col("noise")
        )
    )
    fit = train.fit_linear_denoiser(df, group=["epoch"])
    w = Window.orderBy("epoch").rowsBetween(Window.unboundedPreceding, 0)
    out = fit.withColumn("best_mse", F.min("train_mse").over(w)).withColumn(
        "is_best", F.col("train_mse") == F.col("best_mse")
    )
    return roundn(out.drop("baseline_mse"), 4, *_EP_ROUND)


def _train_epochs_sql() -> str:
    from . import oracle, train
    from .schedules import duckdb_from_clause, schedule_sql

    tstep, noise = _ep_exprs()
    e = train.solver_exprs()
    r4 = lambda x: E.roundn(x, 4)  # noqa: E731
    return f"""
WITH src AS ({oracle.generate_sql(EP_N, EP_LEN, "mixed", rounded=False)}),
ep AS (SELECT range AS epoch FROM range({EP_EPOCHS})),
sch AS ({schedule_sql(EP_T, "cosine", duckdb_from_clause(EP_T))}),
b AS (SELECT series_id, t, value, epoch, {tstep} AS t_step, {noise} AS noise
      FROM src CROSS JOIN ep),
j AS (SELECT b.epoch, (sch.sqrt_ac * b.value + sch.sqrt_1m_ac * b.noise) AS x,
             sch.sqrt_1m_ac AS s_t, b.noise AS y
      FROM b JOIN sch ON b.t_step = sch.t_step),
g AS (SELECT epoch, {train.sums_select_sql("x", "s_t", "y")} FROM j GROUP BY epoch),
w AS (SELECT *, {e["w0"]} AS w0, {e["w1"]} AS w1, {e["w2"]} AS w2, {e["w3"]} AS w3 FROM g),
m AS (SELECT *, {e["train_mse"]} AS _mse FROM w),
f AS (SELECT *, min(_mse) OVER (ORDER BY epoch ROWS BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW) AS _best FROM m)
SELECT epoch, CAST(a00 AS BIGINT) AS n,
       {r4("w0")} AS w0, {r4("w1")} AS w1, {r4("w2")} AS w2, {r4("w3")} AS w3,
       {r4("_mse")} AS train_mse, {r4("_best")} AS best_mse,
       (_mse = _best) AS is_best
FROM f
"""


_REGISTRY.update(
    {
        "epoch_metrics": Query("epoch_metrics", _q_epoch_metrics, _epoch_metrics_sql(), ("training",)),
        "train_denoiser": Query(
            "train_denoiser", _q_train_denoiser, _train_denoiser_sql(), ("training",)
        ),
        "train_epochs": Query(
            "train_epochs", _q_train_epochs, _train_epochs_sql(), ("training",)
        ),
        "train_denoiser_fourier": Query(
            "train_denoiser_fourier",
            _q_train_denoiser_fourier,
            _train_denoiser_fourier_sql(),
            ("training",),
        ),
        "ev_interval_join": Query("ev_interval_join", _q_interval_join, _INTERVAL_SQL, ("join",)),
        "ev_percentiles": Query("ev_percentiles", _q_percentiles, _PERCENTILES_SQL, ("agg",)),
    }
)


# --- funnel: click -> purchase conversion within 24h ----------------------
def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), "value"
    )
    conv = (
        purchases.join(F.broadcast(first_click), "user_id")
        .where(
            (F.col("pts") >= F.col("fc"))
            & (F.col("pts") < F.col("fc") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases_24h"), F.sum("value").alias("purchase_value"))
    )
    out = (
        first_click.join(conv, "user_id", "left")
        .select(
            "user_id",
            F.unix_timestamp("fc").alias("first_click_s"),
            F.coalesce("n_purchases_24h", F.lit(0)).alias("n_purchases_24h"),
            (F.round(F.coalesce("purchase_value", F.lit(0.0)) + F.lit(1e-9), 6) + F.lit(0.0)).alias("purchase_value"),
            (F.coalesce("n_purchases_24h", F.lit(0)) > 0).alias("converted"),
        )
    )
    return out


_FUNNEL_SQL = """
WITH first_click AS (
  SELECT user_id, min(ts) AS fc FROM events WHERE event_type = 'click' GROUP BY user_id),
conv AS (
  SELECT e.user_id, count(*) AS n_purchases_24h, sum(e.value) AS purchase_value
  FROM events e JOIN first_click f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= f.fc AND e.ts < f.fc + INTERVAL 24 HOURS
  GROUP BY e.user_id)
SELECT f.user_id, CAST(floor(epoch(f.fc)) AS BIGINT) AS first_click_s,
       COALESCE(c.n_purchases_24h, 0) AS n_purchases_24h,
       (round((COALESCE(c.purchase_value, 0.0e0)) + 1.0e-9,6)+0.0e0) AS purchase_value,
       (COALESCE(c.n_purchases_24h, 0) > 0) AS converted
FROM first_click f LEFT JOIN conv c ON f.user_id = c.user_id
"""

_REGISTRY["ev_funnel"] = Query("ev_funnel", _q_funnel, _FUNNEL_SQL, ("join",))


# --- cohort retention: users active N days after their first day ----------
def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention matrix (completes the funnel/sessionize
    product-analytics triad): cohort = first active day, cell = distinct
    users active at each day offset. Two shuffles (first-day agg keyed by
    user, cohort-cell agg keyed by (cohort, offset)) — both uniform keys."""
    ev = read_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    act = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    j = act.join(first, "user_id").withColumn(
        "day_offset", F.datediff("day", "cohort_day")
    )
    return j.groupBy(
        F.unix_timestamp("cohort_day").alias("cohort_s"), "day_offset"
    ).agg(F.count_distinct("user_id").alias("n_users"))


_RETENTION_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
SELECT CAST(floor(epoch(f.cohort_day)) AS BIGINT) AS cohort_s,
       CAST(date_diff('day', f.cohort_day, a.day) AS INT) AS day_offset,
       count(DISTINCT a.user_id) AS n_users
FROM act a JOIN first f ON a.user_id = f.user_id
GROUP BY 1, 2
"""

_REGISTRY["ev_retention"] = Query("ev_retention", _q_retention, _RETENTION_SQL, ("agg",))


def _q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # strict-ORDER multi-stage funnel: first view, first click AFTER that
    # view, first purchase AFTER that click — per-user stage reached, then
    # the classic funnel report (n_users per stage). Three conditional-min
    # aggregations chained by broadcast joins on user_id (each stage table
    # is one row per user); no window over raw events.
    ev = read_table(spark, sf_dir, "events")
    # each stage table (one row per user) is read twice — by the next
    # stage's join AND by the final count union; pinned, events is scanned
    # exactly once per stage filter (was 6 scans, recompute census)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
        .localCheckpoint(eager=False)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
        .localCheckpoint(eager=False)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("fc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
        .localCheckpoint(eager=False)
    )
    out = (
        v.agg(F.count("*").alias("n_users")).withColumn("stage", F.lit("1_view"))
        .unionByName(
            c.agg(F.count("*").alias("n_users")).withColumn("stage", F.lit("2_click_after_view"))
        )
        .unionByName(
            p.agg(F.count("*").alias("n_users")).withColumn("stage", F.lit("3_purchase_after_click"))
        )
    )
    return out.select("stage", "n_users").orderBy("stage")


_FUNNEL_STAGES_SQL = """
WITH v AS (SELECT user_id, min(ts) AS fv FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS fc
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.fv GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS fp
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.fc GROUP BY e.user_id)
SELECT stage, n_users FROM (
  SELECT '1_view' AS stage, count(*) AS n_users FROM v
  UNION ALL SELECT '2_click_after_view', count(*) FROM c
  UNION ALL SELECT '3_purchase_after_click', count(*) FROM p)
ORDER BY stage
"""

_REGISTRY["ev_funnel_stages"] = Query(
    "ev_funnel_stages", _q_funnel_stages, _FUNNEL_STAGES_SQL, ("join",)
)


# --- exponential retention-curve fit -----------------------------------------
RETFIT_MAX_AGE = 14


def retention_fit(ev: DataFrame, max_age: int = RETFIT_MAX_AGE) -> DataFrame:
    """Exponential retention-curve fit (the standard growth-analytics
    model: r(k) = exp(a + b·k), b < 0): pool the cohort retention matrix
    into r(k) = active users at age k / cohort size (ONLY cohorts old
    enough to be observed at age k — the triangle correction, else recent
    cohorts bias r(k) down), then fit ln r(k) ~ a + b·k for k = 1..max_age
    by closed-form least squares and project half-life and day-30
    retention. Everything is keyed aggregation plus an O(max_age)-row
    regression — no window wider than a cohort.
    → one row (n_ages, slope, intercept, half_life_days, r30)."""
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    act = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    j = act.join(first, "user_id").withColumn(
        "age", F.datediff("day", "cohort_day")
    )
    horizon = ev.agg(F.date_trunc("day", F.max("ts")).alias("h"))
    sizes = first.groupBy("cohort_day").agg(F.count("*").alias("n0"))
    active = j.filter((F.col("age") >= 1) & (F.col("age") <= max_age)).groupBy(
        "cohort_day", "age"
    ).agg(F.count_distinct("user_id").alias("n_act"))
    # triangle correction: cohort contributes to age k only if observable
    obs = (
        sizes.crossJoin(F.broadcast(horizon))
        .withColumn("max_obs", F.datediff("h", "cohort_day"))
        .select("cohort_day", "n0", "max_obs")
    )
    # Spark's sequence(1, n) auto-negates the step when n < 1 (yields [1, 0]
    # for a horizon-day cohort) while the oracle's range(1, n+1) is empty —
    # drop unobservable cohorts BEFORE the explode so both engines agree.
    grid = obs.filter(F.col("max_obs") >= 1).select(
        "cohort_day", "n0", F.explode(F.sequence(F.lit(1), F.least(F.col("max_obs"), F.lit(max_age)))).alias("age")
    )
    r = (
        grid.join(active, ["cohort_day", "age"], "left")
        .groupBy("age")
        .agg(
            F.sum(F.coalesce(F.col("n_act"), F.lit(0))).alias("act"),
            F.sum("n0").alias("base"),
        )
        .withColumn("r", F.col("act") / F.col("base"))
        .filter(F.col("r") > 0)
        .withColumn("y", F.log("r"))
    )
    fit = r.agg(
        F.count("*").alias("n"),
        F.sum("age").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("age") * F.col("y")).alias("sxy"),
        F.sum(F.col("age") * F.col("age")).alias("sxx"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = fit.withColumn("slope", b).withColumn(
        "intercept", (F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n")
    )
    ln2 = 0.6931471805599453
    return fit.select(
        F.col("n").cast("bigint").alias("n_ages"),
        (F.round(F.col("slope") + F.lit(1e-9), 6) + F.lit(0.0)).alias("slope"),
        (F.round(F.col("intercept") + F.lit(1e-9), 6) + F.lit(0.0)).alias("intercept"),
        (F.round(-F.lit(ln2) / F.col("slope") + F.lit(1e-9), 4) + F.lit(0.0)).alias(
            "half_life_days"
        ),
        (
            F.round(F.exp(F.col("intercept") + F.col("slope") * F.lit(30.0)) + F.lit(1e-9), 6)
            + F.lit(0.0)
        ).alias("r30"),
    )


def _q_retention_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_fit(read_table(spark, sf_dir, "events"))


_RETENTION_FIT_SQL = f"""
WITH first AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
horizon AS (SELECT date_trunc('day', max(ts)) AS h FROM events),
sizes AS (SELECT cohort_day, count(*) AS n0 FROM first GROUP BY cohort_day),
active AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS age,
         count(DISTINCT a.user_id) AS n_act
  FROM act a JOIN first f USING (user_id)
  WHERE date_diff('day', f.cohort_day, a.day) BETWEEN 1 AND {RETFIT_MAX_AGE}
  GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.day)),
grid AS (
  SELECT s.cohort_day, s.n0, unnest(range(1, CAST(least(date_diff('day', s.cohort_day, h.h),
                        {RETFIT_MAX_AGE}) AS BIGINT) + 1)) AS age
  FROM sizes s CROSS JOIN horizon h),
r AS (
  SELECT g.age, ln(CAST(sum(coalesce(a.n_act, 0)) AS DOUBLE) / sum(g.n0)) AS y,
         CAST(g.age AS DOUBLE) AS x
  FROM grid g LEFT JOIN active a ON a.cohort_day = g.cohort_day AND a.age = g.age
  GROUP BY g.age
  HAVING sum(coalesce(a.n_act, 0)) > 0),
fit AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM r),
co AS (
  SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
  FROM fit)
SELECT CAST(n AS BIGINT) AS n_ages,
       (round(slope + 1.0e-9, 6) + 0.0e0) AS slope,
       (round(intercept + 1.0e-9, 6) + 0.0e0) AS intercept,
       (round(-0.6931471805599453e0 / slope + 1.0e-9, 4) + 0.0e0) AS half_life_days,
       (round(exp(intercept + slope * 30.0e0) + 1.0e-9, 6) + 0.0e0) AS r30
FROM co
"""


_REGISTRY["ev_retention_fit"] = Query(
    "ev_retention_fit", _q_retention_fit, _RETENTION_FIT_SQL, ("analytics", "growth")
)
