"""Statistical diagnostics over event streams (north-star analytics
extension):

- ts_granger: pairwise Granger-causality F-test between hourly event-type
  series — does type X's previous hour help predict type Y's current hour
  beyond Y's own history? Restricted model y_t ~ y_{t-1} vs unrestricted
  y_t ~ y_{t-1} + x_{t-1}, both with intercept (fitted equivalently on
  centered moments via covariance identities — one aggregation, no
  two-pass demeaning), F = (RSS_r - RSS_u) / (RSS_u / (n - 3)).
- ev_benford: Benford's-law first-digit test on event values — the
  data-quality / fraud screen. First digits are extracted via integer
  string rendering (engine-portable; no log10 boundary risk), expected
  frequencies are log10(1 + 1/d), and each digit row carries its
  chi-square contribution.

Scale notes (100 TB):
- ts_granger: raw events collapse FIRST to the (hour x type) aggregate
  (one partial-agged shuffle); the lag alignment is an equi-join on the
  tiny hourly table and the OLS solve is one groupBy over ordered type
  pairs — never touches raw scale.
- ev_benford: pure projection + 9-row partial-agged groupBy; the digit
  extraction is integer/string arithmetic, pushdown-friendly.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import read_table
from .queries import _REGISTRY, Query, roundn

BENFORD_SCALE = 1000


# --- Granger causality -----------------------------------------------------
def granger_pairs(ev: DataFrame) -> DataFrame:
    """All ordered event-type pairs (x -> y): hourly avg series, one-hour
    lag alignment by bucket arithmetic, OLS via centered second moments
    (covariance identities), F-statistic for H0 "x does not Granger-cause
    y"."""
    hourly = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("b_s"),
        "event_type",
    ).agg(F.avg("value").alias("v"))
    y = hourly.select(
        F.col("event_type").alias("y_type"), "b_s", F.col("v").alias("yv")
    )
    yl = hourly.select(
        F.col("event_type").alias("y_type"),
        (F.col("b_s") + 3600).alias("b_s"),
        F.col("v").alias("ylv"),
    )
    xl = hourly.select(
        F.col("event_type").alias("x_type"),
        (F.col("b_s") + 3600).alias("b_s"),
        F.col("v").alias("xlv"),
    )
    reg = (
        y.join(yl, ["y_type", "b_s"])
        .join(xl, "b_s")
        .filter(F.col("x_type") != F.col("y_type"))
    )
    n = F.count("*")
    agg = reg.groupBy("y_type", "x_type").agg(
        n.alias("n"),
        F.sum("yv").alias("sy"),
        F.sum("ylv").alias("s1"),
        F.sum("xlv").alias("s2"),
        F.sum(F.col("yv") * F.col("yv")).alias("syy"),
        F.sum(F.col("yv") * F.col("ylv")).alias("sy1"),
        F.sum(F.col("yv") * F.col("xlv")).alias("sy2"),
        F.sum(F.col("ylv") * F.col("ylv")).alias("s11"),
        F.sum(F.col("xlv") * F.col("xlv")).alias("s22"),
        F.sum(F.col("ylv") * F.col("xlv")).alias("s12"),
    )
    nn = F.col("n").cast("double")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / nn
    cy1 = F.col("sy1") - F.col("sy") * F.col("s1") / nn
    cy2 = F.col("sy2") - F.col("sy") * F.col("s2") / nn
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / nn
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / nn
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / nn
    det = c11 * c22 - c12 * c12
    b_u = (cy1 * c22 - cy2 * c12) / det
    c_u = (c11 * cy2 - c12 * cy1) / det
    rss_u = cyy - b_u * cy1 - c_u * cy2
    rss_r = cyy - (cy1 / c11) * cy1
    fstat = (rss_r - rss_u) / (rss_u / (nn - 3.0))
    return agg.select(
        "y_type",
        "x_type",
        "n",
        b_u.alias("beta_ylag"),
        c_u.alias("beta_xlag"),
        fstat.alias("f_stat"),
    )


def _q_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundn(
        granger_pairs(read_table(spark, sf_dir, "events")), 4, "beta_ylag", "beta_xlag", "f_stat"
    )


_GRANGER_SQL = """
WITH hourly AS (
  SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS b_s,
         event_type, avg(value) AS v
  FROM events GROUP BY 1, 2),
reg AS (
  SELECT y.event_type AS y_type, x.event_type AS x_type,
         y.v AS yv, yl.v AS ylv, x.v AS xlv
  FROM hourly y
  JOIN hourly yl ON yl.event_type = y.event_type AND yl.b_s = y.b_s - 3600
  JOIN hourly x ON x.b_s = y.b_s - 3600 AND x.event_type <> y.event_type),
agg AS (
  SELECT y_type, x_type, count(*) AS n,
         sum(yv) AS sy, sum(ylv) AS s1, sum(xlv) AS s2,
         sum(yv * yv) AS syy, sum(yv * ylv) AS sy1, sum(yv * xlv) AS sy2,
         sum(ylv * ylv) AS s11, sum(xlv * xlv) AS s22,
         sum(ylv * xlv) AS s12
  FROM reg GROUP BY y_type, x_type),
m AS (
  SELECT y_type, x_type, n,
         syy - sy * sy / CAST(n AS DOUBLE) AS cyy,
         sy1 - sy * s1 / CAST(n AS DOUBLE) AS cy1,
         sy2 - sy * s2 / CAST(n AS DOUBLE) AS cy2,
         s11 - s1 * s1 / CAST(n AS DOUBLE) AS c11,
         s22 - s2 * s2 / CAST(n AS DOUBLE) AS c22,
         s12 - s1 * s2 / CAST(n AS DOUBLE) AS c12
  FROM agg),
fit AS (
  SELECT y_type, x_type, n, cyy, cy1, cy2, c11,
         (cy1 * c22 - cy2 * c12) / (c11 * c22 - c12 * c12) AS b_u,
         (c11 * cy2 - c12 * cy1) / (c11 * c22 - c12 * c12) AS c_u
  FROM m)
SELECT y_type, x_type, n,
  (round(b_u + 1.0e-9, 4) + 0.0e0) AS beta_ylag,
  (round(c_u + 1.0e-9, 4) + 0.0e0) AS beta_xlag,
  (round(((cyy - (cy1 / c11) * cy1) - (cyy - b_u * cy1 - c_u * cy2))
         / ((cyy - b_u * cy1 - c_u * cy2) / (CAST(n AS DOUBLE) - 3.0e0))
         + 1.0e-9, 4) + 0.0e0) AS f_stat
FROM fit
"""


# --- Benford first-digit test ---------------------------------------------
def benford(ev: DataFrame, scale: int = BENFORD_SCALE) -> DataFrame:
    """First-digit distribution of |value| (scaled to an integer so digit
    extraction is exact string arithmetic on both engines) vs the Benford
    expectation log10(1 + 1/d), with per-digit chi-square contributions."""
    i = F.abs(F.floor(F.col("value") * scale)).cast("bigint")
    d = ev.select(i.alias("i")).filter(F.col("i") > 0)
    digit = F.substring(F.col("i").cast("string"), 1, 1).cast("bigint")
    obs = d.groupBy(digit.alias("digit")).agg(F.count("*").alias("n_obs"))
    tot = d.agg(F.count("*").alias("n_tot"))
    out = obs.crossJoin(F.broadcast(tot))
    expected = F.col("n_tot") * (
        F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(F.lit(10.0))
    )
    chi = (F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected
    return out.select(
        "digit",
        "n_obs",
        expected.alias("n_exp"),
        chi.alias("chi2_term"),
    )


def _q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundn(benford(read_table(spark, sf_dir, "events")), 4, "n_exp", "chi2_term")


_BENFORD_SQL = f"""
WITH d AS (
  SELECT CAST(abs(floor(value * {BENFORD_SCALE})) AS BIGINT) AS i
  FROM events
  WHERE CAST(abs(floor(value * {BENFORD_SCALE})) AS BIGINT) > 0),
obs AS (
  SELECT CAST(substr(CAST(i AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         count(*) AS n_obs
  FROM d GROUP BY 1),
tot AS (SELECT count(*) AS n_tot FROM d)
SELECT digit, n_obs,
  (round(n_tot * (ln(1.0e0 + 1.0e0 / CAST(digit AS DOUBLE)) / ln(1.0e1))
         + 1.0e-9, 4) + 0.0e0) AS n_exp,
  (round((n_obs - n_tot * (ln(1.0e0 + 1.0e0 / CAST(digit AS DOUBLE)) / ln(1.0e1)))
         * (n_obs - n_tot * (ln(1.0e0 + 1.0e0 / CAST(digit AS DOUBLE)) / ln(1.0e1)))
         / (n_tot * (ln(1.0e0 + 1.0e0 / CAST(digit AS DOUBLE)) / ln(1.0e1)))
         + 1.0e-9, 4) + 0.0e0) AS chi2_term
FROM obs CROSS JOIN tot
"""


# --- difference-in-differences -----------------------------------------------
def did_readout(ev: DataFrame) -> DataFrame:
    """Difference-in-differences estimator over the event stream: treatment
    assignment is the deterministic hash split (ab_experiment's LCG),
    pre/post periods split at the observed time midpoint (INTEGER
    microsecond midpoint — epoch micros exceed 2^53, so a float midpoint
    would misclassify boundary rows differently per engine). DiD = (T_post − T_pre) −
    (C_post − C_pre) on mean value, with the standard 4-cell SE
    sqrt(Σ var_g/n_g) and t-statistic. Two aggregations: the 2-row span
    agg broadcast back, then one partial-agged 4-cell groupBy."""
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    )
    e = ev.crossJoin(F.broadcast(span)).select(
        (((F.col("user_id") * 2654435761) % 2147483647) % 2).alias("treated"),
        (F.unix_micros("ts") >= F.expr("(lo + hi) DIV 2")).cast("int").alias("post"),
        "value",
    )
    cells = e.groupBy("treated", "post").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )

    def cell(t, p, col):
        return F.max(F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col)))

    out = cells.agg(
        cell(1, 0, "m").alias("t_pre"),
        cell(1, 1, "m").alias("t_post"),
        cell(0, 0, "m").alias("c_pre"),
        cell(0, 1, "m").alias("c_post"),
        F.sum(F.col("v") / F.col("n")).alias("_var_sum"),
        F.sum("n").alias("n_obs"),
    )
    did = (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre"))
    return out.select(
        "n_obs", "t_pre", "t_post", "c_pre", "c_post",
        did.alias("did"),
        (did / F.sqrt(F.col("_var_sum"))).alias("t_stat"),
    )


def _q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundn(
        did_readout(read_table(spark, sf_dir, "events")), 4,
        "t_pre", "t_post", "c_pre", "c_post", "did", "t_stat",
    )


_DID_SQL = """
WITH span AS (
  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
e AS (
  SELECT ((user_id * 2654435761) % 2147483647) % 2 AS treated,
         CAST(epoch_us(ts) >= (span.lo + span.hi) // 2 AS INT) AS post,
         value
  FROM events CROSS JOIN span),
cells AS (
  SELECT treated, post, count(*) AS n, avg(value) AS m, var_samp(value) AS v
  FROM e GROUP BY treated, post),
agg AS (
  SELECT max(CASE WHEN treated = 1 AND post = 0 THEN m END) AS t_pre,
         max(CASE WHEN treated = 1 AND post = 1 THEN m END) AS t_post,
         max(CASE WHEN treated = 0 AND post = 0 THEN m END) AS c_pre,
         max(CASE WHEN treated = 0 AND post = 1 THEN m END) AS c_post,
         sum(v / n) AS var_sum,
         CAST(sum(n) AS BIGINT) AS n_obs
  FROM cells)
SELECT n_obs,
       (round((t_pre) + 1.0e-9,4)+0.0e0) AS t_pre,
       (round((t_post) + 1.0e-9,4)+0.0e0) AS t_post,
       (round((c_pre) + 1.0e-9,4)+0.0e0) AS c_pre,
       (round((c_post) + 1.0e-9,4)+0.0e0) AS c_post,
       (round(((t_post - t_pre) - (c_post - c_pre)) + 1.0e-9,4)+0.0e0) AS did,
       (round((((t_post - t_pre) - (c_post - c_pre)) / sqrt(var_sum)) + 1.0e-9,4)+0.0e0) AS t_stat
FROM agg
"""


_REGISTRY.update(
    {
        "ts_granger": Query("ts_granger", _q_granger, _GRANGER_SQL, ("analytics",)),
        "ev_benford": Query("ev_benford", _q_benford, _BENFORD_SQL, ("analytics",)),
        "ev_did": Query("ev_did", _q_did, _DID_SQL, ("analytics",)),
    }
)


# --- CUPED variance reduction ----------------------------------------------
CUPED_CUT = "2024-01-15 00:00:00"


def cuped_readout(ev: DataFrame, cutoff: str = CUPED_CUT) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM'13):
    each user's post-period metric Y is adjusted by their PRE-period
    metric X — Y' = Y - theta*(X - mean(X)) with theta = cov(X,Y)/var(X)
    — which strips the between-user variance the experiment can never
    randomize away. Emits per-arm means/variances before and after
    adjustment plus the realized variance-reduction fraction; the means
    are unchanged by construction (E[X] cancels), which the oracle
    certifies along with the numbers.

    Scale shape: one groupBy(user) to per-user (X, Y); theta is ONE
    4-number aggregate over that table, rounded to 6dp and broadcast back
    (the rounded-recursion-input rule — both engines adjust with the
    identical theta double); per-arm stats are one more partial-agged
    groupBy. Nothing data-sized crosses the wire."""
    cut = F.lit(cutoff).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)).alias("y"),
    )
    mom = per_user.agg(
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
    ).select(
        (
            F.round(
                (F.col("mxy") - F.col("mx") * F.col("my"))
                / (F.col("mxx") - F.col("mx") * F.col("mx"))
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("theta"),
        (F.round(F.col("mx") + F.lit(1e-9), 6) + F.lit(0.0)).alias("m_pre"),
    )
    adj = per_user.crossJoin(F.broadcast(mom)).withColumn(
        "y_adj", F.col("y") - F.col("theta") * (F.col("x") - F.col("m_pre"))
    )
    out = (
        adj.withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.avg("y").alias("mean_y"),
            F.avg("y_adj").alias("mean_y_adj"),
            (F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y")).alias("var_y"),
            (
                F.avg(F.col("y_adj") * F.col("y_adj"))
                - F.avg("y_adj") * F.avg("y_adj")
            ).alias("var_y_adj"),
            F.first("theta").alias("theta"),
        )
        .withColumn(
            "var_reduction", F.lit(1.0) - F.col("var_y_adj") / F.col("var_y")
        )
    )
    out = roundn(out, 4, "mean_y", "mean_y_adj")
    out = roundn(out, 2, "var_y", "var_y_adj")
    return roundn(out, 6, "var_reduction")


def _q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cuped_readout(read_table(spark, sf_dir, "events"))


def _cuped_sql(cutoff: str = CUPED_CUT) -> str:
    return f"""
WITH per_user AS MATERIALIZED (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '{cutoff}' THEN value ELSE 0.0e0 END) AS x,
         sum(CASE WHEN ts >= TIMESTAMP '{cutoff}' THEN value ELSE 0.0e0 END) AS y
  FROM events GROUP BY user_id),
mom AS (
  SELECT (round((avg(x * y) - avg(x) * avg(y))
                / (avg(x * x) - avg(x) * avg(x)) + 1.0e-9, 6) + 0.0e0) AS theta,
         (round(avg(x) + 1.0e-9, 6) + 0.0e0) AS m_pre
  FROM per_user),
adj AS (
  SELECT user_id % 2 AS arm, y,
         y - theta * (x - m_pre) AS y_adj, theta
  FROM per_user CROSS JOIN mom)
SELECT arm, count(*) AS n_users,
       (round(avg(y) + 1.0e-9, 4) + 0.0e0) AS mean_y,
       (round(avg(y_adj) + 1.0e-9, 4) + 0.0e0) AS mean_y_adj,
       (round(avg(y * y) - avg(y) * avg(y) + 1.0e-9, 2) + 0.0e0) AS var_y,
       (round(avg(y_adj * y_adj) - avg(y_adj) * avg(y_adj) + 1.0e-9, 2) + 0.0e0)
         AS var_y_adj,
       any_value(theta) AS theta,
       (round(1.0e0 - (avg(y_adj * y_adj) - avg(y_adj) * avg(y_adj))
                    / (avg(y * y) - avg(y) * avg(y)) + 1.0e-9, 6) + 0.0e0)
         AS var_reduction
FROM adj GROUP BY arm
"""


_REGISTRY.update(
    {
        "ev_cuped": Query("ev_cuped", _q_cuped, _cuped_sql(), ("causal",)),
    }
)


# --- interrupted time series (segmented regression) ------------------------
ITS_T0_DAY = 19  # 2024-01-20, days since 2024-01-01
ITS_EPOCH_DAY0 = 19723  # floor(epoch('2024-01-01') / 86400)


def its_readout(ev: DataFrame, t0: int = ITS_T0_DAY) -> DataFrame:
    """Interrupted time-series analysis by segmented regression (Wagner et
    al. 2002): fit separate OLS lines to the daily event-count series
    before and after the intervention day, and report the slope change
    and the level change AT the intervention point — the two causal
    quantities of an ITS design. Fitting each segment separately is
    algebraically identical to the interacted 4-parameter model but needs
    only per-segment (t, y) moments: one groupBy(day) over raw data, one
    4-number aggregate per segment, zero matrix solves.

    Exactness: daily counts and day indices are integers, so every moment
    and both closed-form slopes are bit-identical across engines."""
    daily = ev.groupBy(
        (
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
            - F.lit(ITS_EPOCH_DAY0)
        ).alias("t")
    ).agg(F.count("*").cast("double").alias("y"))
    seg = daily.withColumn("post", (F.col("t") >= t0).cast("int"))
    mom = seg.groupBy("post").agg(
        F.count("*").alias("n"),
        F.avg(F.col("t").cast("double")).alias("mt"),
        F.avg("y").alias("my"),
        F.avg(F.col("t") * F.col("y")).alias("mty"),
        F.avg(F.col("t") * F.col("t")).alias("mtt"),
    ).withColumn(
        "slope",
        (F.col("mty") - F.col("mt") * F.col("my"))
        / (F.col("mtt") - F.col("mt") * F.col("mt")),
    ).withColumn("icept", F.col("my") - F.col("slope") * F.col("mt"))
    pre = mom.filter(F.col("post") == 0).select(
        F.col("n").alias("n_pre"),
        F.col("slope").alias("slope_pre"),
        F.col("icept").alias("icept_pre"),
    )
    post = mom.filter(F.col("post") == 1).select(
        F.col("n").alias("n_post"),
        F.col("slope").alias("slope_post"),
        F.col("icept").alias("icept_post"),
    )
    out = (
        pre.crossJoin(post)
        .withColumn("slope_change", F.col("slope_post") - F.col("slope_pre"))
        .withColumn(
            "level_change",
            (F.col("icept_post") + F.col("slope_post") * t0)
            - (F.col("icept_pre") + F.col("slope_pre") * t0),
        )
        .select(
            "n_pre", "n_post", "slope_pre", "slope_post",
            "slope_change", "level_change",
        )
    )
    return roundn(out, 6, "slope_pre", "slope_post", "slope_change", "level_change")


def _q_its(spark: SparkSession, sf_dir: str) -> DataFrame:
    return its_readout(read_table(spark, sf_dir, "events"))


_ITS_SQL = f"""
WITH daily AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) - {ITS_EPOCH_DAY0} AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
mom AS (
  SELECT CASE WHEN t >= {ITS_T0_DAY} THEN 1 ELSE 0 END AS post,
         count(*) AS n, avg(CAST(t AS DOUBLE)) AS mt, avg(y) AS my,
         avg(t * y) AS mty, avg(t * t) AS mtt
  FROM daily GROUP BY 1),
fit AS (
  SELECT post, n, slope, my - slope * mt AS icept FROM (
    SELECT *, (mty - mt * my) / (mtt - mt * mt) AS slope FROM mom))
SELECT p.n AS n_pre, q.n AS n_post,
       (round(p.slope + 1.0e-9, 6) + 0.0e0) AS slope_pre,
       (round(q.slope + 1.0e-9, 6) + 0.0e0) AS slope_post,
       (round(q.slope - p.slope + 1.0e-9, 6) + 0.0e0) AS slope_change,
       (round((q.icept + q.slope * {ITS_T0_DAY})
              - (p.icept + p.slope * {ITS_T0_DAY}) + 1.0e-9, 6) + 0.0e0)
         AS level_change
FROM (SELECT * FROM fit WHERE post = 0) p
CROSS JOIN (SELECT * FROM fit WHERE post = 1) q
"""


_REGISTRY.update(
    {
        "ts_its": Query("ts_its", _q_its, _ITS_SQL, ("causal",)),
    }
)


# --- Holm-corrected multi-metric A/B readout --------------------------------
# Abramowitz & Stegun 26.2.17 normal-CDF tail polynomial
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_AS_K = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def _p_two_sided(z: str) -> str:
    """SQL expr: two-sided normal p-value for |z|, A&S 26.2.17 (|err| <
    7.5e-8 — far below the 6dp display rounding). Identical text runs on
    both engines; exp() ulp drift is absorbed by rounding p to 6dp before
    any ranking."""
    from . import expr as E

    az = f"abs({z})"
    t = f"(1.0e0 / (1.0e0 + {E.NUM(_AS_K)} * {az}))"
    # b_k * t^k expanded as repeated products (DuckDB ^ is pow(); explicit
    # multiplication is bit-identical on both engines)
    poly = " + ".join(
        " * ".join([E.NUM(b)] + [t] * (i + 1)) for i, b in enumerate(_AS_B)
    )
    phi = f"({E.NUM(_INV_SQRT_2PI)} * exp(-0.5e0 * {az} * {az}))"
    return f"(2.0e0 * {phi} * ({poly}))"


def ab_holm(ev: DataFrame) -> DataFrame:
    """Per-metric Welch z-tests (one metric per event_type, deterministic
    user_id%2 arms) with HOLM step-down multiple-testing correction —
    the guardrail-metric readout: m simultaneous tests keep familywise
    error <= alpha by comparing the r-th smallest p against alpha/(m-r+1),
    i.e. adjusted p = cummax((m-r+1) * p) clamped to 1. p-values use the
    A&S normal-tail polynomial (identical expression both engines) and
    are rounded to 6dp BEFORE ranking so the step-down order is engine-
    stable.

    Scale shape: ONE partial-agged groupBy(event_type) with conditional
    per-arm moments; everything after (z, p, rank, cummax) runs on the
    m-row table."""
    g = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).cast("double").alias("n1"),
        F.avg(F.when(F.col("user_id") % 2 == 0, F.col("value"))).alias("m0"),
        F.avg(F.when(F.col("user_id") % 2 == 1, F.col("value"))).alias("m1"),
        F.avg(F.when(F.col("user_id") % 2 == 0, F.col("value") * F.col("value"))).alias("s0"),
        F.avg(F.when(F.col("user_id") % 2 == 1, F.col("value") * F.col("value"))).alias("s1"),
    )
    g = (
        g.withColumn("v0", F.col("s0") - F.col("m0") * F.col("m0"))
        .withColumn("v1", F.col("s1") - F.col("m1") * F.col("m1"))
        .withColumn(
            "z",
            (F.col("m1") - F.col("m0"))
            / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")),
        )
        .withColumn("p", F.expr(_p_two_sided("z")))
        .withColumn("p6", F.round(F.col("p") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    from pyspark.sql import Window

    m = F.count("*").over(Window.partitionBy())
    wr = Window.orderBy("p6", "event_type")
    wc = Window.orderBy("p6", "event_type").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        g.withColumn("m_tests", m)
        .withColumn("rnk", F.row_number().over(wr))
        .withColumn("step", (F.col("m_tests") - F.col("rnk") + 1) * F.col("p6"))
        .withColumn("p_holm", F.least(F.lit(1.0), F.max("step").over(wc)))
        .select(
            "event_type",
            F.col("n0").cast("bigint").alias("n_a"),
            F.col("n1").cast("bigint").alias("n_b"),
            (F.col("m1") - F.col("m0")).alias("mean_diff"),
            "z",
            F.col("p6").alias("p_value"),
            "p_holm",
            (F.col("p_holm") < 0.05).cast("int").cast("bigint").alias("significant"),
        )
    )
    out = roundn(out, 4, "mean_diff")
    return roundn(out, 6, "z", "p_holm")


def _q_ab_holm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ab_holm(read_table(spark, sf_dir, "events"))


def _ab_holm_sql() -> str:
    p_expr = _p_two_sided("z")
    return f"""
WITH g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         avg(CASE WHEN user_id % 2 = 0 THEN value END) AS m0,
         avg(CASE WHEN user_id % 2 = 1 THEN value END) AS m1,
         avg(CASE WHEN user_id % 2 = 0 THEN value * value END) AS s0,
         avg(CASE WHEN user_id % 2 = 1 THEN value * value END) AS s1
  FROM events GROUP BY event_type),
zt AS (
  SELECT *, (round({p_expr} + 1.0e-9, 6) + 0.0e0) AS p6 FROM (
    SELECT *, (m1 - m0) / sqrt(v1 / n1 + v0 / n0) AS z FROM (
      SELECT *, s0 - m0 * m0 AS v0, s1 - m1 * m1 AS v1 FROM g))),
holm AS (
  SELECT *,
         least(1.0e0,
               max((m_tests - rnk + 1) * p6)
                 OVER (ORDER BY p6, event_type
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS p_holm
  FROM (
    SELECT *, count(*) OVER () AS m_tests,
           row_number() OVER (ORDER BY p6, event_type) AS rnk
    FROM zt))
SELECT event_type, CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
       (round(m1 - m0 + 1.0e-9, 4) + 0.0e0) AS mean_diff,
       (round(z + 1.0e-9, 6) + 0.0e0) AS z,
       p6 AS p_value,
       (round(p_holm + 1.0e-9, 6) + 0.0e0) AS p_holm,
       CAST(CASE WHEN p_holm < 5.0e-2 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM holm
"""


_REGISTRY.update(
    {
        "ev_ab_holm": Query("ev_ab_holm", _q_ab_holm, _ab_holm_sql(), ("causal",)),
    }
)


# --- mSPRT always-valid sequential test -------------------------------------
MSPRT_TAU2 = 1.0  # mixture variance of the effect prior


def msprt_monitor(ev: DataFrame, tau2: float = MSPRT_TAU2) -> DataFrame:
    """Always-valid sequential A/B monitoring via the mixture sequential
    probability ratio test (Johari, Koomen, Pekelis & Walsh 2017 — the
    "peeking" paper): after each day, the cumulative arm difference
    theta_hat over effective sample size n_eff = 1/(1/n0 + 1/n1) yields
    the mixture likelihood ratio

        Lambda_n = sqrt(2s2 / (2s2 + n*tau2))
                   * exp(n^2 * tau2 * theta^2 / (4*s2*(2s2 + n*tau2)))

    and the always-valid p-value is the running min of 1/Lambda — valid
    at EVERY peek, unlike the fixed-horizon z-test. s2 is the pooled
    variance over the full window (one broadcast scalar, documented
    simplification).

    Scale shape: one groupBy(day) with conditional per-arm partials; the
    cumulative windows, Lambda and the running min all run on the
    ~30-row daily table. Per-day p is rounded to 6dp before the running
    min so the monitor path is engine-stable."""
    daily = msprt_daily(ev)
    s2 = msprt_s2(ev)
    return msprt_from_daily(daily, s2, tau2)


def msprt_daily(ev: DataFrame) -> DataFrame:
    """Per-day mergeable partials of the monitor (conditional per-arm
    count/sum) — the piece a streaming twin can compute incrementally."""
    day = (
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint") - F.lit(ITS_EPOCH_DAY0)
    ).alias("day")
    arm0 = F.col("user_id") % 2 == 0
    return ev.groupBy(day).agg(
        F.sum(F.when(arm0, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(~arm0, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(arm0, F.col("value")).otherwise(0.0)).alias("s0"),
        F.sum(F.when(~arm0, F.col("value")).otherwise(0.0)).alias("s1"),
    )


def msprt_s2(ev: DataFrame) -> DataFrame:
    return ev.agg(
        (
            F.round(
                F.avg(F.col("value") * F.col("value")) - F.avg("value") * F.avg("value")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("s2")
    )


def msprt_from_daily(
    daily: DataFrame, s2: DataFrame, tau2: float = MSPRT_TAU2
) -> DataFrame:
    from pyspark.sql import Window

    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        daily.crossJoin(F.broadcast(s2))
        .withColumn("cn0", F.sum("n0").over(wc))
        .withColumn("cn1", F.sum("n1").over(wc))
        .withColumn("cs0", F.sum("s0").over(wc))
        .withColumn("cs1", F.sum("s1").over(wc))
        .withColumn("both", (F.col("cn0") > 0) & (F.col("cn1") > 0))
        .withColumn(
            "theta",
            F.when(
                F.col("both"),
                F.col("cs1") / F.col("cn1") - F.col("cs0") / F.col("cn0"),
            ),
        )
        .withColumn(
            "n_eff",
            F.when(
                F.col("both"),
                F.lit(1.0)
                / (F.lit(1.0) / F.col("cn0") + F.lit(1.0) / F.col("cn1")),
            ),
        )
    )
    t2 = F.lit(tau2)
    denom = F.lit(2.0) * F.col("s2") + F.col("n_eff") * t2
    lam = F.sqrt(F.lit(2.0) * F.col("s2") / denom) * F.exp(
        F.col("n_eff") * F.col("n_eff") * t2 * F.col("theta") * F.col("theta")
        / (F.lit(4.0) * F.col("s2") * denom)
    )
    out = (
        cum.withColumn("lam", F.when(F.col("both"), lam))
        .withColumn(
            "p_day",
            F.round(
                F.coalesce(
                    F.least(F.lit(1.0), F.lit(1.0) / F.col("lam")), F.lit(1.0)
                )
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0),
        )
        .withColumn("p_always_valid", F.min("p_day").over(wc))
        .select(
            "day",
            (F.col("cn0") + F.col("cn1")).cast("bigint").alias("n_cum"),
            "theta",
            "lam",
            "p_day",
            "p_always_valid",
        )
    )
    out = roundn(out, 6, "theta", "p_always_valid")
    return roundn(out, 4, "lam")


def _q_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return msprt_monitor(read_table(spark, sf_dir, "events"))


def _msprt_sql(tau2: float = MSPRT_TAU2) -> str:
    from . import expr as E

    T2 = E.NUM(tau2)
    return f"""
WITH daily AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) - {ITS_EPOCH_DAY0} AS day,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0e0 END) AS s0,
         sum(CASE WHEN user_id % 2 = 1 THEN value ELSE 0.0e0 END) AS s1
  FROM events GROUP BY 1),
s2t AS (
  SELECT (round(avg(value * value) - avg(value) * avg(value) + 1.0e-9, 4) + 0.0e0)
           AS s2
  FROM events),
cum AS (
  SELECT *,
         CASE WHEN cn0 > 0 AND cn1 > 0
              THEN cs1 / cn1 - cs0 / cn0 END AS theta,
         CASE WHEN cn0 > 0 AND cn1 > 0
              THEN 1.0e0 / (1.0e0 / cn0 + 1.0e0 / cn1) END AS n_eff
  FROM (
    SELECT day, s2,
           sum(n0) OVER w AS cn0, sum(n1) OVER w AS cn1,
           sum(s0) OVER w AS cs0, sum(s1) OVER w AS cs1
    FROM daily CROSS JOIN s2t
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))),
lamt AS (
  SELECT *,
         (round(coalesce(least(1.0e0, 1.0e0 / lam), 1.0e0) + 1.0e-9, 6) + 0.0e0)
           AS p_day
  FROM (
    SELECT *,
           CASE WHEN n_eff IS NOT NULL THEN
             sqrt(2.0e0 * s2 / (2.0e0 * s2 + n_eff * {T2}))
               * exp(n_eff * n_eff * {T2} * theta * theta
                     / (4.0e0 * s2 * (2.0e0 * s2 + n_eff * {T2}))) END AS lam
    FROM cum))
SELECT day, CAST(cn0 + cn1 AS BIGINT) AS n_cum,
       (round(theta + 1.0e-9, 6) + 0.0e0) AS theta,
       (round(lam + 1.0e-9, 4) + 0.0e0) AS lam,
       p_day,
       (round(min(p_day) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1.0e-9, 6)
        + 0.0e0) AS p_always_valid
FROM lamt
"""


_REGISTRY.update(
    {
        "ev_msprt": Query("ev_msprt", _q_msprt, _msprt_sql(), ("causal", "sequential")),
    }
)


# --- sample-ratio-mismatch guardrail ----------------------------------------
def srm_check(ev: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch check (Fabijan et al. 2019) — the first
    guardrail of any experiment readout: a chi-square test of the
    observed arm counts against the designed 50/50 split, per metric
    stratum (event_type) and pooled. A 1-df chi-square tail equals the
    two-sided normal tail at z = sqrt(chi2), so the p-value reuses the
    A&S polynomial. Counts are integers: chi2 is bit-identical across
    engines. Alert threshold p < 0.001 (the accepted SRM convention;
    compared on the 6dp-rounded p so the flag is engine-stable)."""
    by_type = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("n_b"),
    )
    pooled = ev.agg(
        F.lit("__all__").alias("event_type"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("n_b"),
    )
    e = (F.col("n_a") + F.col("n_b")).cast("double") / 2.0
    chi2 = (
        (F.col("n_a") - e) * (F.col("n_a") - e) / e
        + (F.col("n_b") - e) * (F.col("n_b") - e) / e
    )
    out = (
        by_type.unionByName(pooled)
        .withColumn("chi2", chi2)
        .withColumn("p", F.expr(_p_two_sided("sqrt(chi2)")))
        .withColumn("p6", F.round(F.col("p") + F.lit(1e-9), 6) + F.lit(0.0))
        .select(
            "event_type",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "chi2",
            F.col("p6").alias("p_value"),
            (F.col("p6") < 0.001).cast("int").cast("bigint").alias("srm_alert"),
        )
    )
    return roundn(out, 6, "chi2")


def _q_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srm_check(read_table(spark, sf_dir, "events"))


def _srm_sql() -> str:
    p_expr = _p_two_sided("sqrt(chi2)")
    return f"""
WITH counts AS (
  SELECT event_type,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
  FROM events GROUP BY event_type
  UNION ALL
  SELECT '__all__',
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END),
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
  FROM events),
chi AS (
  SELECT *,
         (n_a - e) * (n_a - e) / e + (n_b - e) * (n_b - e) / e AS chi2
  FROM (SELECT *, CAST(n_a + n_b AS DOUBLE) / 2.0e0 AS e FROM counts)),
pt AS (
  SELECT *, (round({p_expr} + 1.0e-9, 6) + 0.0e0) AS p6 FROM chi)
SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       (round(chi2 + 1.0e-9, 6) + 0.0e0) AS chi2,
       p6 AS p_value,
       CAST(CASE WHEN p6 < 1.0e-3 THEN 1 ELSE 0 END AS BIGINT) AS srm_alert
FROM pt
"""


_REGISTRY.update(
    {
        "ev_srm": Query("ev_srm", _q_srm, _srm_sql(), ("causal",)),
    }
)


# --- next-event prediction eval ----------------------------------------------
NEXT_CUTOFF = "2024-01-20 00:00:00"


def next_event_eval(ev: DataFrame, cutoff: str = NEXT_CUTOFF) -> DataFrame:
    """First-order next-event prediction with a TIME-BASED train/test
    split — the honest sequence-model baseline eval: the transition
    table learned before the cutoff predicts argmax next event type; a
    global most-frequent-next baseline calibrates how much the
    conditioning actually buys. A pair belongs to train/test by its
    SUCCESSOR's timestamp (no leakage across the boundary). All counts
    are integers; ties break on event-type order — bit-identical across
    engines.

    Scale shape: one per-user lead() window; train model and baseline
    are ~n_types^2 aggregates; scoring is a broadcast join of the tiny
    model onto the test pairs."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("cur"))
        .withColumn("nxt", F.lead("cur").over(w))
        .withColumn("nxt_ts", F.lead("ts").over(w))
        .filter(F.col("nxt").isNotNull())
        .withColumn("is_test", F.col("nxt_ts") >= F.lit(cutoff).cast("timestamp"))
    )
    counts = (
        pairs.filter(~F.col("is_test")).groupBy("cur", "nxt").agg(F.count("*").alias("c"))
    )
    wm = Window.partitionBy("cur").orderBy(F.desc("c"), F.asc("nxt"))
    model = (
        counts.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    base = (
        counts.groupBy("nxt").agg(F.sum("c").alias("c"))
        .orderBy(F.desc("c"), F.asc("nxt"))
        .limit(1)
        .select(F.col("nxt").alias("base_pred"))
    )
    test = (
        pairs.filter(F.col("is_test"))
        .join(F.broadcast(model), "cur", "left")
        .crossJoin(F.broadcast(base))
    )
    out = (
        test.groupBy("cur")
        .agg(
            F.count("*").alias("n_test"),
            F.first("pred").alias("predicted"),
            F.sum((F.col("nxt") == F.col("pred")).cast("int")).alias("n_correct"),
            F.sum((F.col("nxt") == F.col("base_pred")).cast("int")).alias("n_base"),
        )
        .withColumn("acc_model", F.col("n_correct").cast("double") / F.col("n_test"))
        .withColumn("acc_base", F.col("n_base").cast("double") / F.col("n_test"))
    )
    return roundn(out, 6, "acc_model", "acc_base")


def _q_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    return next_event_eval(read_table(spark, sf_dir, "events"))


def _next_event_sql(cutoff: str = NEXT_CUTOFF) -> str:
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT cur, nxt, nxt_ts >= TIMESTAMP '{cutoff}' AS is_test FROM (
    SELECT event_type AS cur,
           lead(event_type) OVER w AS nxt,
           lead(ts) OVER w AS nxt_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
  WHERE nxt IS NOT NULL),
counts AS (
  SELECT cur, nxt, count(*) AS c FROM pairs WHERE NOT is_test GROUP BY cur, nxt),
model AS (
  SELECT cur, nxt AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY cur ORDER BY c DESC, nxt) AS rk
    FROM counts) WHERE rk = 1),
base AS (
  SELECT nxt AS base_pred FROM (
    SELECT nxt, sum(c) AS c FROM counts GROUP BY nxt)
  ORDER BY c DESC, nxt LIMIT 1)
SELECT p.cur, count(*) AS n_test, any_value(m.pred) AS predicted,
       CAST(sum(CASE WHEN p.nxt = m.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN p.nxt = b.base_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       (round(CAST(sum(CASE WHEN p.nxt = m.pred THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) + 1.0e-9, 6) + 0.0e0) AS acc_model,
       (round(CAST(sum(CASE WHEN p.nxt = b.base_pred THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) + 1.0e-9, 6) + 0.0e0) AS acc_base
FROM pairs p LEFT JOIN model m ON m.cur = p.cur CROSS JOIN base b
WHERE p.is_test
GROUP BY p.cur
"""


_REGISTRY.update(
    {
        "ev_next_event_acc": Query(
            "ev_next_event_acc", _q_next_event, _next_event_sql(), ("paths", "ml")
        ),
    }
)


# --- per-stratum mSPRT monitor -----------------------------------------------
def msprt_by_type(ev: DataFrame, tau2: float = MSPRT_TAU2) -> DataFrame:
    """The always-valid monitor per metric stratum (event_type): each
    stratum runs its own cumulative mixture-LR path against its own
    pooled variance — the per-guardrail view the pooled ev_msprt
    aggregates away. Same windows, PARTITIONED by stratum; the pooled
    variance is a 5-row broadcast."""
    day = (
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint") - F.lit(ITS_EPOCH_DAY0)
    ).alias("day")
    arm0 = F.col("user_id") % 2 == 0
    daily = ev.groupBy("event_type", day).agg(
        F.sum(F.when(arm0, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(~arm0, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(arm0, F.col("value")).otherwise(0.0)).alias("s0"),
        F.sum(F.when(~arm0, F.col("value")).otherwise(0.0)).alias("s1"),
    )
    s2 = ev.groupBy("event_type").agg(
        (
            F.round(
                F.avg(F.col("value") * F.col("value")) - F.avg("value") * F.avg("value")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("s2")
    )
    from pyspark.sql import Window

    wc = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        daily.join(F.broadcast(s2), "event_type")
        .withColumn("cn0", F.sum("n0").over(wc))
        .withColumn("cn1", F.sum("n1").over(wc))
        .withColumn("cs0", F.sum("s0").over(wc))
        .withColumn("cs1", F.sum("s1").over(wc))
        .withColumn("both", (F.col("cn0") > 0) & (F.col("cn1") > 0))
        .withColumn(
            "theta",
            F.when(
                F.col("both"),
                F.col("cs1") / F.col("cn1") - F.col("cs0") / F.col("cn0"),
            ),
        )
        .withColumn(
            "n_eff",
            F.when(
                F.col("both"),
                F.lit(1.0) / (F.lit(1.0) / F.col("cn0") + F.lit(1.0) / F.col("cn1")),
            ),
        )
    )
    t2 = F.lit(tau2)
    denom = F.lit(2.0) * F.col("s2") + F.col("n_eff") * t2
    lam = F.sqrt(F.lit(2.0) * F.col("s2") / denom) * F.exp(
        F.col("n_eff") * F.col("n_eff") * t2 * F.col("theta") * F.col("theta")
        / (F.lit(4.0) * F.col("s2") * denom)
    )
    out = (
        cum.withColumn("lam", F.when(F.col("both"), lam))
        .withColumn(
            "p_day",
            F.round(
                F.coalesce(
                    F.least(F.lit(1.0), F.lit(1.0) / F.col("lam")), F.lit(1.0)
                )
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0),
        )
        .withColumn("p_always_valid", F.min("p_day").over(wc))
        .select(
            "event_type",
            "day",
            (F.col("cn0") + F.col("cn1")).cast("bigint").alias("n_cum"),
            "theta",
            "p_day",
            "p_always_valid",
        )
    )
    return roundn(out, 6, "theta", "p_always_valid")


def _q_msprt_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return msprt_by_type(read_table(spark, sf_dir, "events"))


def _msprt_by_type_sql(tau2: float = MSPRT_TAU2) -> str:
    from . import expr as E

    T2 = E.NUM(tau2)
    return f"""
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) - {ITS_EPOCH_DAY0} AS day,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0e0 END) AS s0,
         sum(CASE WHEN user_id % 2 = 1 THEN value ELSE 0.0e0 END) AS s1
  FROM events GROUP BY 1, 2),
s2t AS (
  SELECT event_type,
         (round(avg(value * value) - avg(value) * avg(value) + 1.0e-9, 4) + 0.0e0)
           AS s2
  FROM events GROUP BY event_type),
cum AS (
  SELECT *,
         CASE WHEN cn0 > 0 AND cn1 > 0
              THEN cs1 / cn1 - cs0 / cn0 END AS theta,
         CASE WHEN cn0 > 0 AND cn1 > 0
              THEN 1.0e0 / (1.0e0 / cn0 + 1.0e0 / cn1) END AS n_eff
  FROM (
    SELECT d.event_type, day, s2,
           sum(n0) OVER w AS cn0, sum(n1) OVER w AS cn1,
           sum(s0) OVER w AS cs0, sum(s1) OVER w AS cs1
    FROM daily d JOIN s2t USING (event_type)
    WINDOW w AS (PARTITION BY d.event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))),
lamt AS (
  SELECT *,
         (round(coalesce(least(1.0e0, 1.0e0 / lam), 1.0e0) + 1.0e-9, 6) + 0.0e0)
           AS p_day
  FROM (
    SELECT *,
           CASE WHEN n_eff IS NOT NULL THEN
             sqrt(2.0e0 * s2 / (2.0e0 * s2 + n_eff * {T2}))
               * exp(n_eff * n_eff * {T2} * theta * theta
                     / (4.0e0 * s2 * (2.0e0 * s2 + n_eff * {T2}))) END AS lam
    FROM cum))
SELECT event_type, day, CAST(cn0 + cn1 AS BIGINT) AS n_cum,
       (round(theta + 1.0e-9, 6) + 0.0e0) AS theta,
       p_day,
       (round(min(p_day) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1.0e-9, 6)
        + 0.0e0) AS p_always_valid
FROM lamt
"""


_REGISTRY.update(
    {
        "ev_msprt_by_type": Query(
            "ev_msprt_by_type", _q_msprt_by_type, _msprt_by_type_sql(),
            ("causal", "sequential"),
        ),
    }
)


# --- pre-experiment power analysis -------------------------------------------
PWR_MDES = (0.5, 1.0, 2.0, 5.0)
Z_ALPHA_2 = 1.959963984540054   # two-sided alpha = 0.05
Z_BETA = 0.8416212335729143     # power = 0.80


def power_analysis(ev: DataFrame, mdes: tuple = PWR_MDES) -> DataFrame:
    """Pre-experiment sample-size table: n per arm = 2*s2*(z_a/2+z_b)^2 /
    mde^2 for a grid of minimum detectable effects (absolute units of the
    value metric), using the pooled variance measured from THIS data —
    the planning step before ab_experiment/ev_msprt ever run. Also
    converts each n into runtime-days at the observed event rate. One
    variance aggregate + one count; everything else is a 4-row
    projection."""
    s2 = ev.agg(
        (
            F.round(
                F.avg(F.col("value") * F.col("value")) - F.avg("value") * F.avg("value")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("s2"),
        F.count("*").alias("n_events"),
        (
            F.round(
                (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts")))
                / F.lit(86400.0)
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("span_days"),
    )
    spark = ev.sparkSession
    grid = spark.createDataFrame([(m,) for m in mdes], "mde double")
    kappa = F.lit((Z_ALPHA_2 + Z_BETA) ** 2)
    out = (
        grid.crossJoin(F.broadcast(s2))
        .withColumn(
            "n_per_arm",
            F.ceil(F.lit(2.0) * F.col("s2") * kappa / (F.col("mde") * F.col("mde")))
            .cast("bigint"),
        )
        .withColumn(
            "days_needed",
            F.round(
                F.lit(2.0) * F.col("n_per_arm")
                / (F.col("n_events") / F.col("span_days"))
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0),
        )
        .select("mde", "s2", "n_per_arm", "days_needed")
    )
    return out


def _q_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    return power_analysis(read_table(spark, sf_dir, "events"))


def _power_sql(mdes: tuple = PWR_MDES) -> str:
    from . import expr as E

    kappa = E.NUM((Z_ALPHA_2 + Z_BETA) ** 2)
    grid = ", ".join(f"({E.NUM(m)})" for m in mdes)
    return f"""
WITH s2t AS (
  SELECT (round(avg(value * value) - avg(value) * avg(value) + 1.0e-9, 4) + 0.0e0)
           AS s2,
         count(*) AS n_events,
         (round((CAST(floor(epoch(max(ts))) AS BIGINT)
                 - CAST(floor(epoch(min(ts))) AS BIGINT)) / 8.64e4
                + 1.0e-9, 4) + 0.0e0) AS span_days
  FROM events),
grid AS (SELECT * FROM (VALUES {grid}) AS t(mde))
SELECT mde, s2,
       CAST(ceil(2.0e0 * s2 * {kappa} / (mde * mde)) AS BIGINT) AS n_per_arm,
       (round(2.0e0 * CAST(ceil(2.0e0 * s2 * {kappa} / (mde * mde)) AS BIGINT)
              / (n_events / span_days) + 1.0e-9, 4) + 0.0e0) AS days_needed
FROM grid CROSS JOIN s2t
"""


_REGISTRY.update(
    {
        "ev_power_analysis": Query(
            "ev_power_analysis", _q_power, _power_sql(), ("causal",)
        ),
    }
)


# --- quantile treatment effects (sketch-based) -------------------------------
QTE_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


def qte_readout(ev: DataFrame, qs: tuple = QTE_QS) -> DataFrame:
    """Quantile treatment effects: per-arm value quantiles from the
    MERGEABLE DDSketch (never a per-arm global sort — two arms would mean
    two dead executors at 100 TB) and their differences across the
    distribution — the readout that sees effects a mean difference hides
    (e.g. treatment moves only the tail). Sketch arithmetic is the
    proven dd machinery, identical on both engines."""
    from . import sketches
    from .queries import roundn

    armed = ev.withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    est = sketches.dd_quantiles_by(armed, "arm", "value", qs)
    wide = (
        est.groupBy("q")
        .agg(
            F.max(F.when(F.col("grp") == 0, F.col("est"))).alias("q_control"),
            F.max(F.when(F.col("grp") == 1, F.col("est"))).alias("q_treatment"),
        )
        .withColumn("qte", F.col("q_treatment") - F.col("q_control"))
    )
    return roundn(wide, 6, "q_control", "q_treatment", "qte")


def _q_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    return qte_readout(read_table(spark, sf_dir, "events"))


def _qte_sql(qs: tuple = QTE_QS) -> str:
    from . import sketches

    inner = sketches.dd_quantiles_by_sql(
        "arm", "value", "(SELECT user_id % 2 AS arm, value FROM events) ev", qs
    )
    return f"""
WITH est AS ({inner})
SELECT q,
       (round(max(CASE WHEN grp = 0 THEN est END) + 1.0e-9, 6) + 0.0e0)
         AS q_control,
       (round(max(CASE WHEN grp = 1 THEN est END) + 1.0e-9, 6) + 0.0e0)
         AS q_treatment,
       (round(max(CASE WHEN grp = 1 THEN est END)
              - max(CASE WHEN grp = 0 THEN est END) + 1.0e-9, 6) + 0.0e0) AS qte
FROM est GROUP BY q
"""


_REGISTRY.update(
    {
        "ev_qte": Query("ev_qte", _q_qte, _qte_sql(), ("causal", "sketch")),
    }
)


# --- novelty effect (treatment effect by exposure age) ----------------------
def novelty_effect(ev: DataFrame) -> DataFrame:
    """Treatment effect by EXPOSURE AGE: the arm difference re-estimated
    within each weeks-since-first-seen bucket — the standard check for
    novelty/primacy effects (an effect that decays with age is novelty,
    not product value; one that grows is learning). One first-seen
    aggregate joined back (user-count-sized), one conditional-moment
    groupBy per age bucket."""
    wk = F.floor(F.unix_timestamp("ts") / (7 * 86400)).cast("bigint")
    first_seen = ev.groupBy("user_id").agg(F.min(wk).alias("fw"))
    aged = (
        ev.join(first_seen, "user_id")
        .withColumn("age_w", (wk - F.col("fw")).cast("bigint"))
        .withColumn("arm", (F.col("user_id") % 2).cast("int"))
    )
    g = aged.groupBy("age_w").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.avg(F.when(F.col("arm") == 0, F.col("value"))).alias("mean_a"),
        F.avg(F.when(F.col("arm") == 1, F.col("value"))).alias("mean_b"),
    )
    out = g.withColumn("effect", F.col("mean_b") - F.col("mean_a"))
    return roundn(out, 4, "mean_a", "mean_b", "effect")


def _q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return novelty_effect(read_table(spark, sf_dir, "events"))


_NOVELTY_SQL = """
WITH wk AS (
  SELECT user_id, value,
         CAST(floor(floor(epoch(ts)) / (7 * 86400)) AS BIGINT) AS w
  FROM events),
fs AS (SELECT user_id, min(w) AS fw FROM wk GROUP BY user_id),
aged AS (
  SELECT wk.w - fs.fw AS age_w, wk.user_id % 2 AS arm, value
  FROM wk JOIN fs USING (user_id))
SELECT age_w,
       CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       (round(avg(CASE WHEN arm = 0 THEN value END) + 1.0e-9, 4) + 0.0e0)
         AS mean_a,
       (round(avg(CASE WHEN arm = 1 THEN value END) + 1.0e-9, 4) + 0.0e0)
         AS mean_b,
       (round(avg(CASE WHEN arm = 1 THEN value END)
              - avg(CASE WHEN arm = 0 THEN value END) + 1.0e-9, 4) + 0.0e0)
         AS effect
FROM aged GROUP BY age_w
"""


_REGISTRY.update(
    {
        "ev_novelty_effect": Query(
            "ev_novelty_effect", _q_novelty, _NOVELTY_SQL, ("causal",)
        ),
    }
)


def ab_bh_fdr(ev: DataFrame) -> DataFrame:
    """Benjamini-Hochberg FDR control (Benjamini & Hochberg, JRSS-B 1995)
    over the same per-event-type Welch z-tests as ab_holm — the step-UP
    procedure that controls the expected false-discovery rate instead of
    familywise error, standard for metric dashboards with many non-
    guardrail metrics: adjusted p_(r) = min_{j >= r} (m/j) p_(j), i.e. a
    reverse running min over the p-ordered table, clamped to 1. Same
    scale shape as ab_holm: one corpus-sized keyed agg, then m-row window
    arithmetic. -> (event_type, n_a, n_b, mean_diff, z, p_value, p_bh,
    discovery)."""
    g = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).cast("double").alias("n1"),
        F.avg(F.when(F.col("user_id") % 2 == 0, F.col("value"))).alias("m0"),
        F.avg(F.when(F.col("user_id") % 2 == 1, F.col("value"))).alias("m1"),
        F.avg(F.when(F.col("user_id") % 2 == 0, F.col("value") * F.col("value"))).alias("s0"),
        F.avg(F.when(F.col("user_id") % 2 == 1, F.col("value") * F.col("value"))).alias("s1"),
    )
    g = (
        g.withColumn("v0", F.col("s0") - F.col("m0") * F.col("m0"))
        .withColumn("v1", F.col("s1") - F.col("m1") * F.col("m1"))
        .withColumn(
            "z",
            (F.col("m1") - F.col("m0"))
            / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")),
        )
        .withColumn("p", F.expr(_p_two_sided("z")))
        .withColumn("p6", F.round(F.col("p") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    from pyspark.sql import Window

    m = F.count("*").over(Window.partitionBy())
    wr = Window.orderBy("p6", "event_type")
    wrev = Window.orderBy(F.col("p6").desc(), F.col("event_type").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = (
        g.withColumn("m_tests", m)
        .withColumn("rnk", F.row_number().over(wr))
        .withColumn("step", F.col("m_tests") / F.col("rnk") * F.col("p6"))
        .withColumn("p_bh", F.least(F.lit(1.0), F.min("step").over(wrev)))
        .select(
            "event_type",
            F.col("n0").cast("bigint").alias("n_a"),
            F.col("n1").cast("bigint").alias("n_b"),
            (F.col("m1") - F.col("m0")).alias("mean_diff"),
            "z",
            F.col("p6").alias("p_value"),
            "p_bh",
            (F.col("p_bh") < 0.05).cast("int").cast("bigint").alias("discovery"),
        )
    )
    out = roundn(out, 4, "mean_diff")
    return roundn(out, 6, "z", "p_bh")


def _q_ab_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ab_bh_fdr(read_table(spark, sf_dir, "events"))


def _ab_bh_sql() -> str:
    p_expr = _p_two_sided("z")
    return f"""
WITH g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         avg(CASE WHEN user_id % 2 = 0 THEN value END) AS m0,
         avg(CASE WHEN user_id % 2 = 1 THEN value END) AS m1,
         avg(CASE WHEN user_id % 2 = 0 THEN value * value END) AS s0,
         avg(CASE WHEN user_id % 2 = 1 THEN value * value END) AS s1
  FROM events GROUP BY event_type),
zt AS (
  SELECT *, (round({p_expr} + 1.0e-9, 6) + 0.0e0) AS p6 FROM (
    SELECT *, (m1 - m0) / sqrt(v1 / n1 + v0 / n0) AS z FROM (
      SELECT *, s0 - m0 * m0 AS v0, s1 - m1 * m1 AS v1 FROM g))),
bh AS (
  SELECT *,
         least(1.0e0,
               min(CAST(m_tests AS DOUBLE) / rnk * p6)
                 OVER (ORDER BY p6 DESC, event_type DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS p_bh
  FROM (
    SELECT *, count(*) OVER () AS m_tests,
           row_number() OVER (ORDER BY p6, event_type) AS rnk
    FROM zt))
SELECT event_type, CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
       (round(m1 - m0 + 1.0e-9, 4) + 0.0e0) AS mean_diff,
       (round(z + 1.0e-9, 6) + 0.0e0) AS z,
       p6 AS p_value,
       (round(p_bh + 1.0e-9, 6) + 0.0e0) AS p_bh,
       CAST(CASE WHEN p_bh < 5.0e-2 THEN 1 ELSE 0 END AS BIGINT) AS discovery
FROM bh
"""


# --- exact Shapley-value channel attribution ---------------------------------
def shapley_attribution(ev: DataFrame) -> DataFrame:
    """Exact Shapley-value marketing attribution (Shapley 1953; applied to
    conversion credit by Dalessandro et al., ADKDD 2012, "Causally
    motivated attribution for online advertising"): channels are the
    non-purchase event types, a user's coalition is the SET of channels
    they touched, v(S) is the empirical conversion rate of users whose
    touched set is exactly S (unobserved coalitions get v = 0), and each
    channel's credit is the exact Shapley sum

        phi(i) = sum_{S not containing i} |S|!(k-|S|-1)!/k! (v(S u i) - v(S))

    — the unique attribution satisfying efficiency/symmetry/dummy, the
    principled alternative to last-touch (ev_attribution) and the Markov
    removal-effect model (ev_attribution_markov).

    Scale shape: corpus-sized work is ONE user-keyed agg (bitmask of
    touched channels + converted flag) and ONE mask-keyed agg (<= 2^k
    rows); the Shapley enumeration runs on a 2^k x k grid (k = distinct
    channels, 4 here; the subset table is generated, never shuffled) with
    every small table broadcast. Bitmasks/factorials evaluate identically
    in both engines (integer ops).
    -> (channel, n_users, v_single, shapley)."""
    ch = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("channel"))
        .distinct()
    )
    from pyspark.sql import Window

    # pin the bounded tables: ch (k rows) feeds four branches, um (one row
    # per user) feeds two, vm (<= 2^k rows) feeds three — unpinned, every
    # branch re-scanned events (recompute census: 12 scans in this plan);
    # pinned, events is read twice (channel scan + user-mask scan)
    ch = ch.withColumn(
        "idx", F.row_number().over(Window.orderBy("channel")) - 1
    ).localCheckpoint(eager=False)
    kdf = ch.agg(F.count("*").cast("int").alias("k"))
    # per-user coalition mask: OR of touched-channel bits = sum of DISTINCT
    # per-channel bit values (each idx contributes its bit at most once)
    um = (
        ev.join(F.broadcast(ch), ev.event_type == ch.channel, "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.expr("sum(DISTINCT CASE WHEN idx IS NOT NULL THEN shiftleft(1, idx) END)"),
                F.lit(0),
            ).cast("bigint").alias("mask"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
        .select("user_id", "mask", "conv")
        .localCheckpoint(eager=False)
    )
    vm = um.groupBy("mask").agg(
        F.count("*").alias("n"), F.sum("conv").alias("nc")
    ).select("mask", (F.col("nc") / F.col("n")).alias("v")).localCheckpoint(eager=False)
    subsets = kdf.select(
        "k", F.explode(F.expr("sequence(0, shiftleft(1, k) - 1)")).alias("smask")
    )
    pairs = (
        subsets.crossJoin(F.broadcast(ch))
        .filter(F.expr("(shiftright(smask, idx) & 1) = 0"))
        .withColumn("smask_i", F.expr("smask | shiftleft(1, idx)"))
        .withColumn(
            "w",
            F.expr(
                "CAST(factorial(bit_count(smask)) AS DOUBLE)"
                " * factorial(k - bit_count(smask) - 1) / factorial(k)"
            ),
        )
    )
    pairs = (
        pairs.join(F.broadcast(vm.select(F.col("mask").alias("smask"), F.col("v").alias("v0"))), "smask", "left")
        .join(F.broadcast(vm.select(F.col("mask").alias("smask_i"), F.col("v").alias("v1"))), "smask_i", "left")
        .withColumn("v0", F.coalesce("v0", F.lit(0.0)))
        .withColumn("v1", F.coalesce("v1", F.lit(0.0)))
    )
    shap = pairs.groupBy("channel", "idx").agg(
        F.sum(F.col("w") * (F.col("v1") - F.col("v0"))).alias("shapley")
    )
    touched = (
        um.crossJoin(F.broadcast(ch))
        .filter(F.expr("(shiftright(mask, idx) & 1) = 1"))
        .groupBy("channel")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    single = ch.join(
        F.broadcast(vm), F.expr("mask = shiftleft(1, idx)"), "left"
    ).select("channel", F.coalesce("v", F.lit(0.0)).alias("v_single"))
    out = (
        shap.join(touched, "channel", "left")
        .join(single, "channel")
        .select(
            "channel",
            F.coalesce("n_users", F.lit(0)).cast("bigint").alias("n_users"),
            (F.round(F.col("v_single") + F.lit(1e-9), 6) + F.lit(0.0)).alias("v_single"),
            (F.round(F.col("shapley") + F.lit(1e-9), 6) + F.lit(0.0)).alias("shapley"),
        )
        .orderBy("channel")
    )
    return out


def _q_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shapley_attribution(read_table(spark, sf_dir, "events"))


_SHAPLEY_SQL = """
WITH ch AS (
  SELECT channel, row_number() OVER (ORDER BY channel) - 1 AS idx
  FROM (SELECT DISTINCT event_type AS channel FROM events
        WHERE event_type <> 'purchase')),
kk AS (SELECT CAST(count(*) AS INT) AS k FROM ch),
um AS (
  SELECT e.user_id,
         coalesce(sum(DISTINCT CASE WHEN c.idx IS NOT NULL
                                    THEN (1 << c.idx) END), 0) AS mask,
         max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events e LEFT JOIN ch c ON e.event_type = c.channel
  GROUP BY e.user_id),
vm AS (
  SELECT mask, CAST(sum(conv) AS DOUBLE) / count(*) AS v
  FROM um GROUP BY mask),
subsets AS (
  SELECT kk.k, CAST(s.s AS BIGINT) AS smask
  FROM kk, unnest(range(0, 1 << kk.k)) s(s)),
pairs AS (
  SELECT c.channel, c.idx, sb.smask, sb.smask | (1 << c.idx) AS smask_i,
         CAST(factorial(CAST(bit_count(sb.smask) AS INTEGER)) AS DOUBLE)
           * factorial(CAST(sb.k - bit_count(sb.smask) - 1 AS INTEGER))
           / factorial(sb.k) AS w
  FROM subsets sb CROSS JOIN ch c
  WHERE ((sb.smask >> c.idx) & 1) = 0),
pv AS (
  SELECT p.channel, p.idx, p.w,
         coalesce(v0.v, 0.0e0) AS v0, coalesce(v1.v, 0.0e0) AS v1
  FROM pairs p
  LEFT JOIN vm v0 ON v0.mask = p.smask
  LEFT JOIN vm v1 ON v1.mask = p.smask_i),
shap AS (
  SELECT channel, idx, sum(w * (v1 - v0)) AS shapley FROM pv
  GROUP BY channel, idx),
touched AS (
  SELECT c.channel, CAST(count(*) AS BIGINT) AS n_users
  FROM um u CROSS JOIN ch c
  WHERE ((u.mask >> c.idx) & 1) = 1
  GROUP BY c.channel),
single AS (
  SELECT c.channel, coalesce(vm.v, 0.0e0) AS v_single
  FROM ch c LEFT JOIN vm ON vm.mask = (1 << c.idx))
SELECT s.channel, coalesce(t.n_users, 0) AS n_users,
       (round(g.v_single + 1.0e-9, 6) + 0.0e0) AS v_single,
       (round(s.shapley + 1.0e-9, 6) + 0.0e0) AS shapley
FROM shap s LEFT JOIN touched t ON s.channel = t.channel
JOIN single g ON s.channel = g.channel
ORDER BY s.channel
"""


# --- uplift / Qini curve ----------------------------------------------------
QINI_K = 10


def qini_curve(ev: DataFrame, k: int = QINI_K) -> DataFrame:
    """Uplift decile / Qini curve (Radcliffe 2007, "Using control groups to
    target on predicted lift"): rank users by a targeting score, split into
    k deciles, and per decile compare treated vs control conversion; the
    cumulative Qini coefficient

        Qini(d) = cum_conv_T(d) − cum_conv_C(d) · cum_n_T(d)/cum_n_C(d)

    is the incremental conversions captured by targeting the top d deciles
    — the standard readout for "who should get the treatment". Arms follow
    the repo convention (user_id % 2); score = pre-experiment view count
    (a deterministic stand-in for the uplift model); outcome = any
    purchase. Deciles come from ntile_exact (two-phase range partition —
    no single-reducer sort); the one k-row cumulative window is bounded.
    → (decile, n_treat, n_ctrl, uplift, qini)."""
    from pyspark.sql import Window

    from .queries_scale import ntile_exact

    users = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    ).withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    users = ntile_exact(
        users, k, [F.col("score").desc(), F.col("user_id").asc()], "decile"
    )
    per = users.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_treat"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_ctrl"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("c_treat"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("c_ctrl"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    per = (
        per.withColumn("cum_nt", F.sum("n_treat").over(wc))
        .withColumn("cum_nc", F.sum("n_ctrl").over(wc))
        .withColumn("cum_ct", F.sum("c_treat").over(wc))
        .withColumn("cum_cc", F.sum("c_ctrl").over(wc))
    )
    # A decile can hold zero treated or zero control users (small SFs, skewed
    # arms): divide through NULLIF so both engines emit NULL instead of Spark
    # raising ANSI DIVIDE_BY_ZERO while DuckDB silently returns NULL.
    uplift = F.col("c_treat") / F.nullif(F.col("n_treat"), F.lit(0)) - F.col(
        "c_ctrl"
    ) / F.nullif(F.col("n_ctrl"), F.lit(0))
    qini = F.col("cum_ct") - F.col("cum_cc") * F.col("cum_nt") / F.nullif(
        F.col("cum_nc"), F.lit(0)
    )
    return (
        per.select(
            "decile",
            "n_treat",
            "n_ctrl",
            (F.round(uplift + F.lit(1e-9), 6) + F.lit(0.0)).alias("uplift"),
            (F.round(qini + F.lit(1e-9), 6) + F.lit(0.0)).alias("qini"),
        )
        .orderBy("decile")
    )


def _q_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return qini_curve(read_table(spark, sf_dir, "events"))


_QINI_SQL = f"""
WITH users AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS score,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
         user_id % 2 AS arm
  FROM events GROUP BY user_id),
dec AS (
  SELECT *, ntile({QINI_K}) OVER (ORDER BY score DESC, user_id ASC) AS decile
  FROM users),
per AS (
  SELECT decile,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
         sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS c_treat,
         sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS c_ctrl
  FROM dec GROUP BY decile),
cum AS (
  SELECT decile, n_treat, n_ctrl, c_treat, c_ctrl,
         sum(n_treat) OVER w AS cum_nt, sum(n_ctrl) OVER w AS cum_nc,
         sum(c_treat) OVER w AS cum_ct, sum(c_ctrl) OVER w AS cum_cc
  FROM per
  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT decile, n_treat, n_ctrl,
       (round(CAST(c_treat AS DOUBLE) / NULLIF(n_treat, 0)
              - CAST(c_ctrl AS DOUBLE) / NULLIF(n_ctrl, 0)
              + 1.0e-9, 6) + 0.0e0) AS uplift,
       (round(cum_ct - cum_cc * CAST(cum_nt AS DOUBLE) / NULLIF(cum_nc, 0)
              + 1.0e-9, 6) + 0.0e0) AS qini
FROM cum ORDER BY decile
"""


_REGISTRY.update(
    {
        "ev_qini": Query("ev_qini", _q_qini, _QINI_SQL, ("causal", "experiment")),
        "ev_shapley_attr": Query(
            "ev_shapley_attr", _q_shapley, _SHAPLEY_SQL, ("causal", "product")
        ),
        "ev_bh_fdr": Query(
            "ev_bh_fdr", _q_ab_bh, _ab_bh_sql(), ("causal", "experiment")
        ),
    }
)
