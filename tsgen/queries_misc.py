"""Coverage queries for the remaining SURVEY §2 rows: positional/timestep
encodings (B11), polynomial basis (B10), embedding lookup (E2), dataset
union (F4), patchify (G6), set ops (F ext), cube (C ext), conditional
sampling (I1 + B19)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import expr as E, generators, oracle
from .io import read_table
from .queries import _REGISTRY, Query, round6, roundn

# --- B10: polynomial basis table [1, c, c^2, c^3], c = t/n ----------------
BASIS_N, BASIS_DEG = 64, 3


def _q_poly_basis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # diffusion_ts_model.py:219-221
    df = spark.range(BASIS_N).select(F.col("id").alias("t"))
    for i in range(BASIS_DEG + 1):
        df = df.withColumn(f"p{i}", F.pow(F.col("t").cast("double") / BASIS_N, i))
    return round6(df, *[f"p{i}" for i in range(BASIS_DEG + 1)])


_POLY_BASIS_SQL = f"""
SELECT t, {", ".join(f"(round((pow(CAST(t AS DOUBLE) / {BASIS_N}, {i})) + 1.0e-9,6)+0.0e0) AS p{i}" for i in range(BASIS_DEG + 1))}
FROM (SELECT range AS t FROM range({BASIS_N}))
"""

# --- B11: sinusoidal positional encoding ----------------------------------
PE_LEN, PE_DIM = 32, 8  # d_model even; pairs (sin, cos)


def _q_posenc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pe[pos, 2i] = sin(pos·exp(−ln(10^4)·2i/d)); [pos, 2i+1] = cos(·) —
    # diffusion_ts_model.py:110-116
    pos = spark.range(PE_LEN).select(F.col("id").alias("pos"))
    i = spark.range(PE_DIM // 2).select(F.col("id").alias("i"))
    df = pos.crossJoin(i)
    freq = F.exp(-F.lit(9.210340371976184) * (2 * F.col("i")).cast("double") / PE_DIM)
    return round6(
        df.select(
            "pos",
            "i",
            F.sin(F.col("pos").cast("double") * freq).alias("pe_sin"),
            F.cos(F.col("pos").cast("double") * freq).alias("pe_cos"),
        ),
        "pe_sin",
        "pe_cos",
    )


_POSENC_SQL = f"""
SELECT pos, i,
       (round((sin(CAST(pos AS DOUBLE) * exp(-9.2103403719761840e0 * CAST(2*i AS DOUBLE) / {PE_DIM}))) + 1.0e-9,6)+0.0e0) AS pe_sin,
       (round((cos(CAST(pos AS DOUBLE) * exp(-9.2103403719761840e0 * CAST(2*i AS DOUBLE) / {PE_DIM}))) + 1.0e-9,6)+0.0e0) AS pe_cos
FROM (SELECT range AS pos FROM range({PE_LEN})) CROSS JOIN (SELECT range AS i FROM range({PE_DIM // 2}))
"""


# --- E2: label → embedding lookup (broadcast join to an embedding table) --
def _q_label_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nn.Embedding(y) ≡ broadcast equi-join of labels to a vector table
    # (diffusion_ts_model.py:180,189-198); we surface the vector's L2 norm
    labels = generators.generate_labeled(spark, 32, 8, noise=False, normalize=False).select(
        "series_id", "label"
    ).distinct()
    emb = read_table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    emb = emb.select(
        F.col("vec_id").alias("label"),
        F.sqrt(F.aggregate(F.zip_with(vec, vec, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)).alias(
            "emb_norm"
        ),
    )
    return round6(labels.join(F.broadcast(emb), "label").select("series_id", "label", "emb_norm"), "emb_norm")


def _label_embedding_sql() -> str:
    n_fam = 4
    label = f"CAST(floor({E.u01('series_id', E.SALT_LABEL)} * {n_fam}) AS BIGINT)"
    return f"""
WITH labels AS (
  SELECT DISTINCT series_id, {label} AS label
  FROM (SELECT range AS series_id FROM range(32))),
emb AS (
  SELECT vec_id AS label,
         sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS emb_norm
  FROM embeddings)
SELECT series_id, labels.label, (round((emb_norm) + 1.0e-9,6)+0.0e0) AS emb_norm
FROM labels JOIN emb ON labels.label = emb.label
"""


# --- F4: dataset union (mixed-family corpus) ------------------------------
def _q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = generators.generate(spark, 8, 32, "sine").withColumn("family", F.lit("sine"))
    b = generators.generate(spark, 8, 32, "cosine").withColumn("family", F.lit("cosine"))
    return round6(a.unionByName(b), "value")


def _union_sql() -> str:
    sa = _gen_rounded("sine")
    sb = _gen_rounded("cosine")
    return f"{sa} UNION ALL {sb}"


def _gen_rounded(fam: str) -> str:
    from . import oracle

    inner = oracle.generate_sql(8, 32, fam, rounded=False)
    return (
        f"SELECT series_id, t, {E.round6('value')} AS value, '{fam}' AS family FROM ({inner})"
    )


# --- G6: patchify (patch grouping key; stats per patch) -------------------
PATCH = 8


def _q_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # patchify: (b, s, d) -> (b, s/p, p·d) ≡ grouping by t DIV p
    # (diffusion_ts_model.py:445-470); no data movement in long format
    df = generators.generate(spark, 8, 64, "mixed")
    out = (
        df.withColumn("patch_id", F.expr(f"t DIV {PATCH}"))
        .groupBy("series_id", "patch_id")
        .agg(F.count("*").alias("n"), F.avg("value").alias("patch_mean"), F.max("value").alias("patch_max"))
    )
    return round6(out, "patch_mean", "patch_max")


def _patchify_sql() -> str:
    from . import oracle

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return f"""
SELECT series_id, t // {PATCH} AS patch_id, count(*) AS n,
       (round((avg(value)) + 1.0e-9,6)+0.0e0) AS patch_mean,
       (round((max(value)) + 1.0e-9,6)+0.0e0) AS patch_max
FROM ({inner}) GROUP BY series_id, t // {PATCH}
"""


# --- G6 inverse: patchify → unpatchify round-trip --------------------------
def _q_patch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unpatchify ((b, s/p, p·d) -> (b, s, d), diffusion_ts_model.py:445-470):
    # pack each patch into an ordered array, then posexplode back and rebuild
    # t = patch_id·p + pos. Output ≡ the original series — the oracle is the
    # generator itself, so the round-trip identity is driver-hash-checked.
    df = generators.generate(spark, 8, 64, "mixed")
    packed = (
        df.withColumn("patch_id", F.expr(f"t DIV {PATCH}"))
        .withColumn("pos", F.expr(f"t % {PATCH}"))
        .groupBy("series_id", "patch_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", F.col("value").alias("v")))).alias("patch"))
    )
    unpacked = packed.select(
        "series_id",
        "patch_id",
        F.posexplode(F.col("patch.v")).alias("pos", "value"),
    ).select(
        "series_id",
        (F.col("patch_id") * PATCH + F.col("pos")).cast("bigint").alias("t"),
        "value",
    )
    return round6(unpacked, "value")


def _patch_roundtrip_sql() -> str:
    from . import oracle

    return oracle.generate_sql(8, 64, "mixed")


# --- set ops: users who clicked but never purchased -----------------------
def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    return (
        clickers.exceptAll(buyers)
        .withColumn("segment", F.lit("clicked_never_bought"))
        .unionByName(
            clickers.intersect(viewers).withColumn("segment", F.lit("clicked_and_viewed"))
        )
    )


_SET_OPS_SQL = """
SELECT user_id, 'clicked_never_bought' AS segment FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
UNION ALL
SELECT user_id, 'clicked_and_viewed' AS segment FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
"""


# --- cube ----------------------------------------------------------------
def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        (F.round(F.avg("o_totalprice") + F.lit(1e-9), 4) + F.lit(0.0)).alias("avg_total"),
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       (round((avg(o_totalprice)) + 1.0e-9,4)+0.0e0) AS avg_total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- dim>1: multichannel generator ---------------------------------------
MC_N, MC_DIM, MC_LEN = 8, 3, 48


def _q_multichannel(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = generators.generate_multichannel(spark, MC_N, MC_LEN, MC_DIM, "mixed")
    return round6(out, "value")


def _multichannel_sql() -> str:
    from .normalize import znorm_sql

    ck = generators.multichannel_key()
    value = E.noisy_signal_expr("mixed", MC_LEN, sid=ck)
    inner = (
        f"SELECT series_id, channel, t, {value} AS value FROM "
        f"(SELECT range AS series_id FROM range({MC_N})) "
        f"CROSS JOIN (SELECT range AS channel FROM range({MC_DIM})) "
        f"CROSS JOIN (SELECT range AS t FROM range({MC_LEN}))"
    )
    normed = znorm_sql(inner, key="series_id, channel")
    return f"SELECT series_id, channel, t, {E.round6('value')} AS value FROM ({normed})"


# --- I1 + B19: conditional (forecast) sampling ---------------------------
def _q_sample_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the whole conditioned T-step loop in one mapInPandas pass
    from . import diffusion

    out = diffusion.sample_conditional_fused(spark, 4, 32, timesteps=6, history_len=16)
    return round6(out.select("series_id", "t", "observed", "x"), "x")


def _sample_forecast_sql() -> str:
    # unrolled-loop oracle (queries_decompose._sample_loop_sql) in forecast
    # mode: per-step history re-noising + observed-mask replace in SQL
    from .queries_decompose import _sample_loop_sql

    return _sample_loop_sql(4, 32, 6, mode="forecast", history_len=16)


def _sample_label_sql() -> str:
    from .queries_decompose import _sample_loop_sql

    return _sample_loop_sql(8, 32, 6, mode="label", guidance=0.5)


# --- I1 + A2: label-conditional sampling (CFG analogue) --------------------
def _q_sample_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # guidance=0.5: genuinely blends the unconditional denoiser with the
    # label-conditioned prediction each step (guidance=1 collapses to the
    # clean family signal — that identity is the property test)
    from . import diffusion

    out = diffusion.sample_conditional_label(spark, 8, 32, timesteps=6, guidance=0.5)
    return round6(out.select("series_id", "label", "t", "x"), "x")


_REGISTRY.update(
    {
        "poly_basis": Query("poly_basis", _q_poly_basis, _POLY_BASIS_SQL, ("expr",)),
        "posenc": Query("posenc", _q_posenc, _POSENC_SQL, ("expr",)),
        "label_embedding": Query("label_embedding", _q_label_embedding, _label_embedding_sql(), ("join",)),
        "gen_union": Query("gen_union", _q_union, _union_sql(), ("generator",)),
        "patchify_stats": Query("patchify_stats", _q_patchify, _patchify_sql(), ("expr",)),
        "patch_roundtrip": Query("patch_roundtrip", _q_patch_roundtrip, _patch_roundtrip_sql(), ("expr",)),
        "event_set_ops": Query("event_set_ops", _q_set_ops, _SET_OPS_SQL, ("setop",)),
        "gen_multichannel": Query(
            "gen_multichannel", _q_multichannel, _multichannel_sql(), ("generator",)
        ),
        "orders_cube": Query("orders_cube", _q_cube, _CUBE_SQL, ("agg",)),
        "sample_forecast": Query(
            "sample_forecast", _q_sample_forecast, _sample_forecast_sql(), ("diffusion",)
        ),
        "sample_conditional_label": Query(
            "sample_conditional_label", _q_sample_label, _sample_label_sql()
        ),
    }
)


# --- forecasting ----------------------------------------------------------
def _q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    out = forecast.seasonal_naive(df, season=16, horizon=24)
    return round6(out, "forecast")


def _seasonal_naive_sql() -> str:
    from . import forecast, oracle

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    sql = forecast.seasonal_naive_sql(inner, season=16, horizon=24)
    return (
        f"SELECT series_id, t, h, {E.round6('forecast')} AS forecast FROM ({sql})"
    )


def _q_ses(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.ses_forecast(df, alpha=0.3), "level")


def _ses_sql() -> str:
    # closed form of the SES recursion (same identity the Spark side
    # vectorizes, tsgen/forecast.py:75-79): level_{n−1} = (1−α)^(n−1)·y_0
    # + α·Σ_{t≥1} (1−α)^(n−1−t)·y_t — a plain weighted aggregation in SQL
    gen = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return f"""
WITH src AS ({gen}),
n AS (SELECT series_id, count(*) AS n FROM src GROUP BY series_id)
SELECT s.series_id,
       {E.round6("sum(CASE WHEN t = 0 THEN pow(7.0e-1, n.n - 1) "
                 "ELSE 3.0e-1 * pow(7.0e-1, n.n - 1 - t) END * value)")} AS level
FROM src s JOIN n ON s.series_id = n.series_id
GROUP BY s.series_id
"""


def _q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.holt_forecast(df), "level", "trend", "fc")


def _holt_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.holt_sql(inner)


def _q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 96, "mixed")
    return round6(
        forecast.conformal_ses(df), "fc", "qhat", "lo", "hi", "coverage"
    )


def _conformal_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 96, "mixed", rounded=False)
    return forecast.conformal_ses_sql(inner)


def _q_holt_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.holt_damped_forecast(df), "level", "trend", "fc")


def _holt_damped_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.holt_damped_sql(inner)


def _q_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.kalman_filter(df), "level", "gain")


def _kalman_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.kalman_sql(inner)


def _q_garch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.garch_filter(df), "ret", "sigma2")


def _garch_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.garch_sql(inner)


def _q_ses_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.ses_backtest(df), "mae", "rmse", "mase")


def _ses_backtest_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.ses_backtest_sql(inner)


def _q_model_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.model_select(df), "mase_ses", "mase_holt")


def _model_select_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.model_select_sql(inner)


def _q_forecast_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(
        forecast.forecast_combo(df),
        "f_ses", "f_holt", "f_naive", "combo_eq", "combo_imae",
    ).orderBy("series_id", "h")


def _forecast_combo_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.forecast_combo_sql(inner)


def _q_arma11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.arma11_filter(df), "innovation", "fc_next")


def _arma11_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.arma11_sql(inner)


def _q_kalman_smoother(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.kalman_smoother(df), "level", "smoothed")


def _kalman_smoother_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.kalman_smoother_sql(inner)


def _q_kalman_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return roundn(forecast.kalman_em(df), 4, "q_hat", "r_hat")


def _kalman_em_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.kalman_em_sql(inner)


def _q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(forecast.holt_winters(df), "forecast")


def _holt_winters_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.holt_winters_sql(inner)


def _q_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 8, 64, "mixed")
    return roundn(forecast.theta_forecast(df), 4, "forecast")


def _theta_sql() -> str:
    from . import forecast

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    return forecast.theta_sql(inner)


def _q_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import decompose

    df = generators.generate(spark, 8, 64, "mixed")
    return round6(decompose.trend_theilsen(df), "ts_slope", "ts_intercept")


def _theilsen_sql() -> str:
    from . import decompose

    inner = oracle.generate_sql(8, 64, "mixed", rounded=False)
    sql = decompose.theilsen_sql(inner)
    return f"""
SELECT series_id, (round((ts_slope) + 1.0e-9,6)+0.0e0) AS ts_slope,
       (round((ts_intercept) + 1.0e-9,6)+0.0e0) AS ts_intercept
FROM ({sql})
"""


def _q_ts_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import forecast

    df = generators.generate(spark, 16, 96, "linear_sum")
    return round6(forecast.anomalies(df, threshold=2.5), "value", "residual", "res_z")


def _ts_anomalies_sql() -> str:
    # rides the decompose oracle chain (queries_decompose): unrounded
    # decomposition -> residual z-score filter, same 2.5 threshold
    from .queries_decompose import _decompose_chain_sql

    gen = oracle.generate_sql(16, 96, "linear_sum", rounded=False)
    chain = _decompose_chain_sql(gen, "series_id", seq_len=96, rounded=False)
    return f"""
WITH d AS ({chain}),
st AS (SELECT series_id, avg(residual) AS mu, stddev_samp(residual) AS sd
       FROM d GROUP BY series_id)
SELECT d.series_id, d.t, {E.round6('d.value')} AS value,
       {E.round6('d.residual')} AS residual,
       {E.round6('(d.residual - st.mu) / st.sd')} AS res_z
FROM d JOIN st ON d.series_id = st.series_id
WHERE abs((d.residual - st.mu) / st.sd) > 2.5e0
"""


_REGISTRY.update(
    {
        "forecast_seasonal_naive": Query(
            "forecast_seasonal_naive", _q_seasonal_naive, _seasonal_naive_sql(), ("forecast",)
        ),
        "forecast_ses": Query("forecast_ses", _q_ses, _ses_sql(), ("forecast",)),
        "forecast_holt": Query("forecast_holt", _q_holt, _holt_sql(), ("forecast",)),
        "forecast_holt_damped": Query(
            "forecast_holt_damped", _q_holt_damped, _holt_damped_sql(), ("forecast",)
        ),
        "forecast_conformal": Query(
            "forecast_conformal", _q_conformal, _conformal_sql(), ("forecast",)
        ),
        "kalman_filter": Query("kalman_filter", _q_kalman, _kalman_sql(), ("forecast",)),
        "kalman_smoother": Query(
            "kalman_smoother", _q_kalman_smoother, _kalman_smoother_sql(), ("forecast",)
        ),
        "kalman_em": Query("kalman_em", _q_kalman_em, _kalman_em_sql(), ("forecast",)),
        "forecast_garch": Query("forecast_garch", _q_garch, _garch_sql(), ("forecast",)),
        "forecast_arma11": Query("forecast_arma11", _q_arma11, _arma11_sql(), ("forecast",)),
        "forecast_backtest": Query(
            "forecast_backtest", _q_ses_backtest, _ses_backtest_sql(), ("forecast",)
        ),
        "forecast_combo": Query(
            "forecast_combo", _q_forecast_combo, _forecast_combo_sql(), ("forecast",)
        ),
        "forecast_model_select": Query(
            "forecast_model_select", _q_model_select, _model_select_sql(), ("forecast",)
        ),
        "forecast_holt_winters": Query(
            "forecast_holt_winters", _q_holt_winters, _holt_winters_sql(), ("forecast",)
        ),
        "forecast_theta": Query("forecast_theta", _q_theta, _theta_sql(), ("forecast",)),
        "trend_theilsen": Query("trend_theilsen", _q_theilsen, _theilsen_sql(), ("decompose",)),
        "ts_anomalies": Query(
            "ts_anomalies", _q_ts_anomalies, _ts_anomalies_sql(), ("forecast",)
        ),
    }
)
