"""Classical state-space decoding and AR forecasting on generated series.

ts_hmm_viterbi: Viterbi max-probability decode + forward-algorithm
log-likelihood for a fixed 3-state HMM (Rabiner, Proc. IEEE 1989,
eqs. 32-35 and 19-21) over per-series discretized observations. Both
recursions are LEFT FOLDS over the observation sequence, expressed as
pure Catalyst `aggregate` higher-order functions (no UDF, no Python in
the hot path) — the per-element state is the K-vector of log-scores, so
the fold is O(T·K²) per series with zero shuffle beyond the one
collect_list groupBy. The DuckDB oracle replays the identical fold with
`list_reduce(list_prepend(init, ev), …)` (acc and element are both
DOUBLE[] so the reduce type-checks); each step rounds the K-vector to
9dp in BOTH engines so exp/ln ulp noise cannot compound (the IRLS
rounding discipline). Discretization happens on 6dp-rounded values —
the precision at which the two engines' generated series are identical
— so bucket boundaries can never flip between engines.

forecast_ar2: Yule–Walker AR(2) fit (Box & Jenkins, ch. 3: the
closed-form solve of the order-2 Toeplitz system) + recursive h-step
forecast. Autocovariances are two lag-window products per series (one
window, one agg); the six forecast steps are unrolled scalar
expressions over the per-series coefficient row. Scale shape: per-series
windows only — never a global window; the model state is three numbers
per series.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import expr as E, generators, oracle
from .io import read_table
from .queries import _REGISTRY, Query, round6, roundn

HMM_N, HMM_LEN = 8, 64
HMM_CUT_LO, HMM_CUT_HI = -0.4, 0.4
# transition, emission, and start distributions (rows sum to 1)
HMM_A = ((0.8, 0.15, 0.05), (0.1, 0.8, 0.1), (0.05, 0.15, 0.8))
HMM_B = ((0.7, 0.2, 0.1), (0.2, 0.6, 0.2), (0.1, 0.2, 0.7))
HMM_PI = (1 / 3, 1 / 3, 1 / 3)
_K = 3

AR_N, AR_LEN, AR_H = 8, 256, 6


def _r9(x: str) -> str:
    return f"(round(({x}) + 1.0e-12, 9) + 0.0e0)"


def _hmm_exprs(spark_dialect: bool):
    """Build the shared fold lambdas; only indexing (0- vs 1-based) and the
    array constructor differ between the Spark and DuckDB dialects."""
    la = [[E.NUM(math.log(HMM_A[i][j])) for j in range(_K)] for i in range(_K)]
    lb = [[E.NUM(math.log(HMM_B[j][s])) for s in range(_K)] for j in range(_K)]
    lpi = [E.NUM(math.log(p)) for p in HMM_PI]
    if spark_dialect:
        arr = lambda xs: "array(" + ", ".join(xs) + ")"  # noqa: E731
        ix = lambda v, k: f"{v}[{k}]"  # noqa: E731  (0-based)
    else:
        arr = lambda xs: "[" + ", ".join(xs) + "]"  # noqa: E731
        ix = lambda v, k: f"{v}[{k + 1}]"  # noqa: E731  (1-based)

    init = arr(lpi)
    # emission log-vector for observed symbol o: e[j] = log B[j][o]
    ev = (
        "CASE WHEN o = 0 THEN " + arr([lb[j][0] for j in range(_K)])
        + " WHEN o = 1 THEN " + arr([lb[j][1] for j in range(_K)])
        + " ELSE " + arr([lb[j][2] for j in range(_K)]) + " END"
    )

    def step(j: int, combine: str) -> str:
        terms = [f"({ix('acc', i)} + {la[i][j]})" for i in range(_K)]
        if combine == "max":
            inner = f"greatest({', '.join(terms)})"
        else:  # logsumexp, explicit left-to-right addition in both engines
            inner = "ln(" + " + ".join(f"exp({t})" for t in terms) + ")"
        return _r9(f"{inner} + {ix('e', j)}")

    vit_merge = arr([step(j, "max") for j in range(_K)])
    fwd_merge = arr([step(j, "lse") for j in range(_K)])
    lse_final = "ln(" + " + ".join(f"exp({ix('fwd', j)})" for j in range(_K)) + ")"
    return init, ev, vit_merge, fwd_merge, lse_final


def hmm_decode(df: DataFrame) -> DataFrame:
    """→ (series_id, viterbi_ll, end_state, forward_ll) per series."""
    init, ev, vit_merge, fwd_merge, lse_final = _hmm_exprs(spark_dialect=True)
    lo, hi = E.NUM(HMM_CUT_LO), E.NUM(HMM_CUT_HI)
    wide = (
        roundn(df, 6, "value")
        .groupBy("series_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("t", F.col("value").alias("v")))
            ).alias("p")
        )
        .select("series_id", F.col("p.v").alias("vs"))
        .withColumn(
            "obs",
            F.expr(
                f"transform(vs, v -> CASE WHEN v < {lo} THEN 0 "
                f"WHEN v < {hi} THEN 1 ELSE 2 END)"
            ),
        )
        .withColumn("evs", F.expr(f"transform(obs, o -> {ev})"))
    )
    folded = wide.select(
        "series_id",
        F.expr(f"aggregate(evs, {init}, (acc, e) -> {vit_merge})").alias("vit"),
        F.expr(f"aggregate(evs, {init}, (acc, e) -> {fwd_merge})").alias("fwd"),
    )
    out = folded.select(
        "series_id",
        F.expr("array_max(vit)").alias("viterbi_ll"),
        F.expr("array_position(vit, array_max(vit))").alias("end_state"),
        F.expr(lse_final).alias("forward_ll"),
    ).orderBy("series_id")
    return round6(out, "viterbi_ll", "forward_ll")


def _q_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hmm_decode(generators.generate(spark, HMM_N, HMM_LEN, "mixed"))


def _hmm_sql() -> str:
    init, ev, vit_merge, fwd_merge, lse_final = _hmm_exprs(spark_dialect=False)
    lo, hi = E.NUM(HMM_CUT_LO), E.NUM(HMM_CUT_HI)
    gen = oracle.generate_sql(HMM_N, HMM_LEN, "mixed", rounded=True)
    return f"""
WITH src AS MATERIALIZED ({gen}),
w AS (SELECT series_id, list(value ORDER BY t) AS vs FROM src GROUP BY series_id),
o AS (SELECT series_id,
             list_transform(vs, v -> CASE WHEN v < {lo} THEN 0
                                          WHEN v < {hi} THEN 1 ELSE 2 END) AS obs
      FROM w),
em AS (SELECT series_id, list_transform(obs, o -> {ev}) AS evs FROM o),
f AS (SELECT series_id,
             list_reduce(list_prepend({init}, evs), (acc, e) -> {vit_merge}) AS vit,
             list_reduce(list_prepend({init}, evs), (acc, e) -> {fwd_merge}) AS fwd
      FROM em)
SELECT series_id,
       {E.round6('list_max(vit)')} AS viterbi_ll,
       CAST(list_position(vit, list_max(vit)) AS BIGINT) AS end_state,
       {E.round6(lse_final)} AS forward_ll
FROM f ORDER BY series_id
"""


def ar2_forecast(df: DataFrame, h: int = AR_H) -> DataFrame:
    """Yule–Walker AR(2) per series + recursive h-step forecast.
    → (series_id, h, yhat)."""
    from pyspark.sql import Window

    x = roundn(df, 6, "value")
    w = Window.partitionBy("series_id").orderBy("t")
    lagged = (
        x.withColumn("x1", F.lead("value", 1).over(w))
        .withColumn("x2", F.lead("value", 2).over(w))
    )
    stats = lagged.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mu"),
        F.sum(F.col("value") * F.col("value")).alias("sxx"),
        F.sum(F.col("value") * F.col("x1")).alias("sx1"),
        F.sum(F.col("value") * F.col("x2")).alias("sx2"),
        F.sum("value").alias("sx"),
        F.sum("x1").alias("s1"),
        F.sum(F.when(F.col("x1").isNotNull(), F.col("value"))).alias("sa1"),
        F.sum("x2").alias("s2"),
        F.sum(F.when(F.col("x2").isNotNull(), F.col("value"))).alias("sa2"),
        F.count("x1").alias("n1"),
        F.count("x2").alias("n2"),
        F.max_by("value", "t").alias("l1"),
    )
    # centered autocovariances c_k = Σ(x_t-μ)(x_{t+k}-μ)/n over valid t
    c = stats.select(
        "series_id",
        "mu",
        "l1",
        F.expr(_r9("(sxx - 2 * mu * sx + n * mu * mu) / n")).alias("c0"),
        F.expr(_r9("(sx1 - mu * s1 - mu * sa1 + n1 * mu * mu) / n")).alias("c1"),
        F.expr(_r9("(sx2 - mu * s2 - mu * sa2 + n2 * mu * mu) / n")).alias("c2"),
    )
    # second-to-last value for the recursion seed
    last2 = (
        lagged.filter(F.col("x1").isNotNull() & F.col("x2").isNull())
        .select("series_id", F.col("value").alias("l2x"))
    )
    r = (
        c.join(last2, "series_id")
        .withColumn("r1", F.expr(_r9("c1 / c0")))
        .withColumn("r2", F.expr(_r9("c2 / c0")))
        .withColumn("phi1", F.expr(_r9("r1 * (1 - r2) / (1 - r1 * r1)")))
        .withColumn("phi2", F.expr(_r9("(r2 - r1 * r1) / (1 - r1 * r1)")))
        .withColumn("y1", F.expr(_r9("l1 - mu")))
        .withColumn("y2", F.expr(_r9("l2x - mu")))
    )
    prev2, prev1 = "y2", "y1"
    for step in range(1, h + 1):
        r = r.withColumn(
            f"f{step}", F.expr(_r9(f"phi1 * {prev1} + phi2 * {prev2}"))
        )
        prev2, prev1 = prev1, f"f{step}"
    stack = ", ".join(f"{i}L, f{i} + mu" for i in range(1, h + 1))
    out = r.select(
        "series_id", F.expr(f"stack({h}, {stack}) AS (h, yhat)")
    ).orderBy("series_id", "h")
    return round6(out, "yhat")


def _q_forecast_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ar2_forecast(generators.generate(spark, AR_N, AR_LEN, "mixed"))


def _ar2_sql(h: int = AR_H) -> str:
    gen = oracle.generate_sql(AR_N, AR_LEN, "mixed", rounded=True)
    fsteps, prev2, prev1 = [], "y2", "y1"
    for step in range(1, h + 1):
        fsteps.append(
            f"h{step} AS (SELECT *, {_r9(f'phi1 * {prev1} + phi2 * {prev2}')} "
            f"AS f{step} FROM h{step - 1})"
        )
        prev2, prev1 = prev1, f"f{step}"
    cases = " ".join(f"WHEN {i} THEN f{i}" for i in range(1, h + 1))
    chain = ",\n".join(fsteps)
    return f"""
WITH src AS MATERIALIZED ({gen}),
lg AS (SELECT series_id, t, value,
              lead(value, 1) OVER (PARTITION BY series_id ORDER BY t) AS x1,
              lead(value, 2) OVER (PARTITION BY series_id ORDER BY t) AS x2
       FROM src),
st AS (SELECT series_id, count(*) AS n, avg(value) AS mu,
              sum(value * value) AS sxx,
              sum(value * x1) AS sx1, sum(value * x2) AS sx2,
              sum(value) AS sx,
              sum(x1) AS s1, sum(CASE WHEN x1 IS NOT NULL THEN value END) AS sa1,
              sum(x2) AS s2, sum(CASE WHEN x2 IS NOT NULL THEN value END) AS sa2,
              count(x1) AS n1, count(x2) AS n2,
              max_by(value, t) AS l1
       FROM lg GROUP BY series_id),
l2 AS (SELECT series_id, value AS l2x FROM lg
       WHERE x1 IS NOT NULL AND x2 IS NULL),
cv AS (SELECT st.series_id, mu, l1, l2x,
              {_r9('(sxx - 2 * mu * sx + n * mu * mu) / n')} AS c0,
              {_r9('(sx1 - mu * s1 - mu * sa1 + n1 * mu * mu) / n')} AS c1,
              {_r9('(sx2 - mu * s2 - mu * sa2 + n2 * mu * mu) / n')} AS c2
       FROM st JOIN l2 USING (series_id)),
rr AS (SELECT *, {_r9('c1 / c0')} AS r1, {_r9('c2 / c0')} AS r2 FROM cv),
h0 AS (SELECT *, {_r9('r1 * (1 - r2) / (1 - r1 * r1)')} AS phi1,
              {_r9('(r2 - r1 * r1) / (1 - r1 * r1)')} AS phi2,
              {_r9('l1 - mu')} AS y1, {_r9('l2x - mu')} AS y2
       FROM rr),
{chain}
SELECT series_id, hs.h, {E.round6(f'(CASE hs.h {cases} END) + mu')} AS yhat
FROM h{h} CROSS JOIN (SELECT unnest(range(1, {h + 1})) AS h) hs
ORDER BY series_id, hs.h
"""


# --- Kleinberg burst detection ------------------------------------------------
BURST_S, BURST_GAMMA = 2.0, 1.0


def _burst_exprs(spark_dialect: bool):
    """Shared 2-state Viterbi fold for the Kleinberg automaton. Fold state =
    [c0, c1, b0, b1, d0, d1]: per-state best path cost, burst count (0->1
    entries), and burst-state dwell seconds. Only array syntax and indexing
    base differ between engines; the arithmetic text is identical so both
    engines execute the same float ops in the same order."""
    if spark_dialect:
        arr = lambda xs: "array(" + ", ".join(xs) + ")"  # noqa: E731
        ix = lambda v, k: f"{v}[{k}]"  # noqa: E731  (0-based)
        x = "x"
    else:
        arr = lambda xs: "[" + ", ".join(xs) + "]"  # noqa: E731
        ix = lambda v, k: f"{v}[{k + 1}]"  # noqa: E731  (1-based)
        # DuckDB list_reduce needs acc and element types to match, so the
        # gap list is DOUBLE[][] (1-element inner lists) and x arrives as
        # a list; the arithmetic text is otherwise identical
        x = "x[1]"
    c0, c1 = ix("acc", 0), ix("acc", 1)
    b0, b1 = ix("acc", 2), ix("acc", 3)
    d0, d1 = ix("acc", 4), ix("acc", 5)
    # tau(1,0) = 0; tau(0,1) = gamma * ln(n)
    from0_to0 = f"({c0} <= {c1})"
    from0_to1 = f"({c0} + gcost <= {c1})"
    nc0 = _r9(f"least({c0}, {c1}) + (lam0 * {x} - llam0)")
    nc1 = _r9(f"least({c0} + gcost, {c1}) + (lam1 * {x} - llam1)")
    nb0 = f"CASE WHEN {from0_to0} THEN {b0} ELSE {b1} END"
    nb1 = f"CASE WHEN {from0_to1} THEN {b0} + 1.0e0 ELSE {b1} END"
    nd0 = f"CASE WHEN {from0_to0} THEN {d0} ELSE {d1} END"
    nd1 = f"CASE WHEN {from0_to1} THEN {d0} + {x} ELSE {d1} + {x} END"
    merge = arr([nc0, nc1, nb0, nb1, nd0, nd1])
    init = arr(["0.0e0", "gcost", "0.0e0", "0.0e0", "0.0e0", "0.0e0"])
    return init, merge


def burst_detect(ev: DataFrame) -> DataFrame:
    """Kleinberg burst detection (Kleinberg, KDD 2002, "Bursty and
    Hierarchical Structure in Streams" — the 2-state automaton his §2
    builds the full hierarchy from): per event type, model inter-arrival
    gaps as exponential with base rate lam0 = n/T (state q0) and burst
    rate lam1 = s*lam0 (state q1, s=2); entering the burst state costs
    gamma*ln(n). The min-cost state sequence is a Viterbi left fold over
    the gap list — expressed as a pure Catalyst `aggregate` (no UDF, no
    Python), O(T) per event type, the exact mechanism of ts_hmm_viterbi
    (see module docstring) with costs instead of log-probs. Each fold step
    rounds to 9dp in both engines so exp/ln ulp noise cannot compound.
    Starting state is q0 (cost 0) with q1 admitted at entry cost, matching
    Kleinberg's convention. Gaps are integer epoch-second diffs (the
    repo's cross-engine timestamp idiom). A gap of 0 s (same-second
    events) is fine: the cost contribution is just -ln(lam).
    -> (event_type, n_gaps, lambda0, n_bursts, burst_seconds, total_cost).
    """
    init, merge = _burst_exprs(spark_dialect=True)
    s, g = E.NUM(BURST_S), E.NUM(BURST_GAMMA)
    wide = (
        ev.select("event_type", F.unix_timestamp("ts").alias("es"))
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("es")).alias("tss"))
        .withColumn(
            "gaps",
            F.expr(
                "transform(sequence(1, size(tss) - 1),"
                " i -> CAST(tss[i] - tss[i - 1] AS DOUBLE))"
            ),
        )
        # tspan = 0 (every event in one epoch second) would make lam0 an
        # IEEE Infinity in Spark but NULL/error in DuckDB — drop those
        # types identically in both engines (ADVICE r06).
        .filter(
            (F.size("gaps") >= 2)
            & (F.element_at("tss", -1) > F.element_at("tss", 1))
        )
        .select(
            "event_type",
            "gaps",
            F.size("gaps").cast("bigint").alias("n_gaps"),
            (
                F.size("gaps").cast("double")
                / (F.element_at("tss", -1) - F.element_at("tss", 1)).cast("double")
            ).alias("lam0"),
        )
        .withColumn("lam1", F.expr(f"lam0 * {s}"))
        .withColumn("llam0", F.expr("ln(lam0)"))
        .withColumn("llam1", F.expr("ln(lam1)"))
        .withColumn("gcost", F.expr(f"{g} * ln(CAST(n_gaps AS DOUBLE))"))
    )
    folded = wide.select(
        "event_type",
        "n_gaps",
        "lam0",
        F.expr(f"aggregate(gaps, {init}, (acc, x) -> {merge})").alias("st"),
    )
    fin = folded.select(
        "event_type",
        "n_gaps",
        F.col("lam0").alias("lambda0"),
        F.when(F.expr("st[0] <= st[1]"), F.expr("st[2]"))
        .otherwise(F.expr("st[3]"))
        .cast("bigint")
        .alias("n_bursts"),
        F.when(F.expr("st[0] <= st[1]"), F.expr("st[4]"))
        .otherwise(F.expr("st[5]"))
        .alias("burst_seconds"),
        F.expr("least(st[0], st[1])").alias("total_cost"),
    ).orderBy("event_type")
    return round6(fin, "lambda0", "burst_seconds", "total_cost")


def _q_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return burst_detect(ev)


def _burst_sql() -> str:
    init, merge = _burst_exprs(spark_dialect=False)
    s, g = E.NUM(BURST_S), E.NUM(BURST_GAMMA)
    return f"""
WITH es AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
w AS (SELECT event_type, list(es ORDER BY es) AS tss FROM es GROUP BY event_type),
gp AS (
  SELECT event_type,
         list_transform(range(2, len(tss) + 1),
                        i -> [CAST(tss[i] - tss[i - 1] AS DOUBLE)]) AS gaps,
         tss
  FROM w),
pars AS (
  SELECT event_type, gaps,
         CAST(len(gaps) AS BIGINT) AS n_gaps,
         CAST(len(gaps) AS DOUBLE) / (tss[-1] - tss[1]) AS lam0
  FROM gp WHERE len(gaps) >= 2 AND tss[-1] > tss[1]),
pp AS (
  SELECT event_type, gaps, n_gaps, lam0,
         lam0 * {s} AS lam1, ln(lam0) AS llam0, ln(lam0 * {s}) AS llam1,
         {g} * ln(CAST(n_gaps AS DOUBLE)) AS gcost
  FROM pars),
f AS (
  SELECT event_type, n_gaps, lam0,
         list_reduce(list_prepend({init}, gaps), (acc, x) -> {merge}) AS st
  FROM pp)
SELECT event_type, n_gaps,
       {E.round6('lam0')} AS lambda0,
       CAST(CASE WHEN st[1] <= st[2] THEN st[3] ELSE st[4] END AS BIGINT) AS n_bursts,
       {E.round6('CASE WHEN st[1] <= st[2] THEN st[5] ELSE st[6] END')} AS burst_seconds,
       {E.round6('least(st[1], st[2])')} AS total_cost
FROM f ORDER BY event_type
"""


# --- VAR(1) vector autoregression ---------------------------------------------
VAR_N, VAR_LEN, VAR_H = 8, 128, 4


def var1_forecast(df: DataFrame, h: int = VAR_H) -> DataFrame:
    """VAR(1) fit + h-step forecast for 2-channel series (Lutkepohl, "New
    Introduction to Multiple Time Series Analysis", ch. 3: multivariate
    least squares; channels are z-normalized so the intercept is dropped):
    A = S_yz S_zz^{-1} with S_yz = sum_t x_t x_{t-1}', S_zz = sum_t
    x_{t-1} x_{t-1}' — a closed-form 2x2 solve per series (Cramer), then
    the forecast recursion f_k = A f_{k-1} unrolled from the last
    observation. The multivariate extension of forecast_ar2: cross-channel
    coefficients a12/a21 read out lead-lag structure between channels.

    Scale shape: one (series,t)-keyed channel pivot join, one per-series
    lag window, one keyed agg to the four+four cross-moments — model
    state is 8 numbers per series, never a global window. A entries are
    rounded at 9dp in both engines before the forecast unroll so
    sum-association ulps cannot propagate.
    -> one row per series: (series_id, a11, a12, a21, a22,
       f0_1..f0_h, f1_1..f1_h)."""
    from pyspark.sql import Window

    x = roundn(df, 6, "value")
    c0 = x.filter(F.col("channel") == 0).select("series_id", "t", F.col("value").alias("y0"))
    c1 = x.filter(F.col("channel") == 1).select("series_id", "t", F.col("value").alias("y1"))
    wide = c0.join(c1, ["series_id", "t"])
    w = Window.partitionBy("series_id").orderBy("t")
    lag = (
        wide.withColumn("z0", F.lag("y0").over(w))
        .withColumn("z1", F.lag("y1").over(w))
    )
    s = lag.groupBy("series_id").agg(
        F.sum(F.col("y0") * F.col("z0")).alias("s00"),
        F.sum(F.col("y0") * F.col("z1")).alias("s01"),
        F.sum(F.col("y1") * F.col("z0")).alias("s10"),
        F.sum(F.col("y1") * F.col("z1")).alias("s11"),
        F.sum(F.when(F.col("z0").isNotNull(), F.col("z0") * F.col("z0"))).alias("q00"),
        F.sum(F.when(F.col("z0").isNotNull(), F.col("z0") * F.col("z1"))).alias("q01"),
        F.sum(F.when(F.col("z0").isNotNull(), F.col("z1") * F.col("z1"))).alias("q11"),
        F.max_by("y0", "t").alias("l0"),
        F.max_by("y1", "t").alias("l1"),
    )
    det = "(q00 * q11 - q01 * q01)"
    a = (
        s.withColumn("a11", F.expr(_r9(f"(s00 * q11 - s01 * q01) / {det}")))
        .withColumn("a12", F.expr(_r9(f"(s01 * q00 - s00 * q01) / {det}")))
        .withColumn("a21", F.expr(_r9(f"(s10 * q11 - s11 * q01) / {det}")))
        .withColumn("a22", F.expr(_r9(f"(s11 * q00 - s10 * q01) / {det}")))
    )
    f0p, f1p = "l0", "l1"
    cols = ["series_id", "a11", "a12", "a21", "a22"]
    for k in range(1, h + 1):
        a = a.withColumn(f"f0_{k}", F.expr(_r9(f"a11 * {f0p} + a12 * {f1p}")))
        a = a.withColumn(f"f1_{k}", F.expr(_r9(f"a21 * {f0p} + a22 * {f1p}")))
        f0p, f1p = f"f0_{k}", f"f1_{k}"
        cols += [f"f0_{k}", f"f1_{k}"]
    out = a.select(*cols).orderBy("series_id")
    return round6(out, *[c for c in cols if c != "series_id"])


def _q_var1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return var1_forecast(
        generators.generate_multichannel(spark, VAR_N, VAR_LEN, 2, "mixed")
    )


def _var1_sql(h: int = VAR_H) -> str:
    from .generators import multichannel_key
    from .normalize import znorm_sql

    ck = multichannel_key()
    value = E.noisy_signal_expr("mixed", VAR_LEN, sid=ck)
    inner = (
        f"SELECT series_id, channel, t, {value} AS value FROM "
        f"(SELECT range AS series_id FROM range({VAR_N})) "
        "CROSS JOIN (SELECT range AS channel FROM range(2)) "
        f"CROSS JOIN (SELECT range AS t FROM range({VAR_LEN}))"
    )
    normed = znorm_sql(inner, key="series_id, channel")
    det = "(q00 * q11 - q01 * q01)"
    fcols, fexprs = [], []
    f0p, f1p = "l0", "l1"
    for k in range(1, h + 1):
        fexprs.append(f"{_r9(f'a11 * {f0p} + a12 * {f1p}')} AS f0_{k}")
        fexprs.append(f"{_r9(f'a21 * {f0p} + a22 * {f1p}')} AS f1_{k}")
        f0p, f1p = f"f0_{k}", f"f1_{k}"
        fcols += [f"f0_{k}", f"f1_{k}"]
    # unroll the forecast recursion through nested selects so each step
    # references the previous step's rounded value (same as the Spark side)
    sel = "SELECT series_id, a11, a12, a21, a22, l0, l1 FROM a"
    for k in range(1, h + 1):
        prev0 = "l0" if k == 1 else f"f0_{k - 1}"
        prev1 = "l1" if k == 1 else f"f1_{k - 1}"
        sel = (
            f"SELECT *, {_r9(f'a11 * {prev0} + a12 * {prev1}')} AS f0_{k},"
            f" {_r9(f'a21 * {prev0} + a22 * {prev1}')} AS f1_{k} FROM ({sel})"
        )
    outs = ", ".join(
        [f"{E.round6(c)} AS {c}" for c in ["a11", "a12", "a21", "a22"] + fcols]
    )
    return f"""
WITH srcm AS MATERIALIZED (
  SELECT series_id, channel, t, {E.round6('value')} AS value FROM ({normed})),
wide AS (
  SELECT c0.series_id, c0.t, c0.value AS y0, c1.value AS y1
  FROM (SELECT series_id, t, value FROM srcm WHERE channel = 0) c0
  JOIN (SELECT series_id, t, value FROM srcm WHERE channel = 1) c1
    USING (series_id, t)),
lagd AS (
  SELECT series_id, t, y0, y1,
         lag(y0) OVER (PARTITION BY series_id ORDER BY t) AS z0,
         lag(y1) OVER (PARTITION BY series_id ORDER BY t) AS z1
  FROM wide),
s AS (
  SELECT series_id,
         sum(y0 * z0) AS s00, sum(y0 * z1) AS s01,
         sum(y1 * z0) AS s10, sum(y1 * z1) AS s11,
         sum(CASE WHEN z0 IS NOT NULL THEN z0 * z0 END) AS q00,
         sum(CASE WHEN z0 IS NOT NULL THEN z0 * z1 END) AS q01,
         sum(CASE WHEN z0 IS NOT NULL THEN z1 * z1 END) AS q11,
         max_by(y0, t) AS l0, max_by(y1, t) AS l1
  FROM lagd GROUP BY series_id),
a AS (
  SELECT series_id,
         {_r9(f'(s00 * q11 - s01 * q01) / {det}')} AS a11,
         {_r9(f'(s01 * q00 - s00 * q01) / {det}')} AS a12,
         {_r9(f'(s10 * q11 - s11 * q01) / {det}')} AS a21,
         {_r9(f'(s11 * q00 - s10 * q01) / {det}')} AS a22,
         l0, l1
  FROM s)
SELECT series_id, {outs} FROM ({sel}) ORDER BY series_id
"""


# --- Hawkes self-excitation log-likelihood ------------------------------------
HAWKES_BETA = 1.0 / 300.0   # 5-minute exponential kernel decay
HAWKES_BR = 0.5             # branching ratio alpha/beta
HAWKES_BG = 0.5             # background fraction: mu = BG * n / T


def _hawkes_exprs(spark_dialect: bool):
    """Shared Ozaki-recursion fold: state = [R, sum_log_intensity]."""
    if spark_dialect:
        arr = lambda xs: "array(" + ", ".join(xs) + ")"  # noqa: E731
        ix = lambda v, k: f"{v}[{k}]"  # noqa: E731
        x = "x"
    else:
        arr = lambda xs: "[" + ", ".join(xs) + "]"  # noqa: E731
        ix = lambda v, k: f"{v}[{k + 1}]"  # noqa: E731
        x = "x[1]"  # gaps are 1-element lists so list_reduce type-checks
    r, sl = ix("acc", 0), ix("acc", 1)
    nr = _r9(f"exp(-bet * {x}) * (1.0e0 + {r})")
    # intensity just before event i+1: mu + alpha * R'(i+1)
    nsl = _r9(f"{sl} + ln(mu + alph * {nr})")
    merge = arr([nr, nsl])
    init = arr(["0.0e0", _r9("ln(mu)")])
    return init, merge


def hawkes_loglik(ev: DataFrame) -> DataFrame:
    """Hawkes self-exciting point-process fit readout (Hawkes 1971;
    log-likelihood and O(n) recursion from Ozaki, Ann. Inst. Statist.
    Math. 1979): per event type, with exponential kernel
    g(t) = alpha*exp(-beta*t), the conditional intensity recursion
    R(i) = exp(-beta*(t_i - t_{i-1})) * (1 + R(i-1)) gives

        ll = sum_i ln(mu + alpha*R(i)) - mu*T - (alpha/beta) *
             sum_i (1 - exp(-beta*(T - t_i)))

    Background rate mu = BG*n/T (half the events ascribed to background),
    alpha = BR*beta. The recursion is a pure Catalyst `aggregate` left
    fold over integer-second gaps (the ts_hmm_viterbi mechanism — no UDF,
    no Python, O(n) per type); the compensator sum is a second fold whose
    per-term exp is rounded at 9dp in both engines. The excess of ll over
    the Poisson log-likelihood at the same mu-hat reads out how much
    self-excitation (burstiness) the stream carries — the generative
    counterpart of ev_burst_kleinberg's decoder.
    -> (event_type, n_events, r_end, loglik, ll_poisson)."""
    init, merge = _hawkes_exprs(spark_dialect=True)
    wide = (
        ev.select("event_type", F.unix_timestamp("ts").alias("es"))
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("es")).alias("tss"))
        # tspan = 0 guard matches burst_detect: mu = n/tspan must not hit
        # IEEE Infinity (Spark) vs NULL (DuckDB) divergence (ADVICE r06).
        .filter(
            (F.size("tss") >= 3)
            & (F.element_at("tss", -1) > F.element_at("tss", 1))
        )
        .withColumn(
            "gaps",
            F.expr(
                "transform(sequence(1, size(tss) - 1),"
                " i -> CAST(tss[i] - tss[i - 1] AS DOUBLE))"
            ),
        )
        .withColumn("n", F.size("tss").cast("bigint"))
        .withColumn(
            "tspan",
            (F.element_at("tss", -1) - F.element_at("tss", 1)).cast("double"),
        )
        .withColumn("mu", F.expr(f"{E.NUM(HAWKES_BG)} * CAST(n AS DOUBLE) / tspan"))
        .withColumn("bet", F.lit(HAWKES_BETA))
        .withColumn("alph", F.expr(f"{E.NUM(HAWKES_BR)} * bet"))
    )
    folded = wide.withColumn(
        "st", F.expr(f"aggregate(gaps, {init}, (acc, x) -> {merge})")
    ).withColumn(
        "comp_sum",
        F.expr(
            "aggregate(transform(tss, t -> "
            + _r9("1.0e0 - exp(-bet * CAST(tss[size(tss) - 1] - t AS DOUBLE))")
            + "), 0.0e0, (a, v) -> a + v)"
        ),
    )
    out = folded.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.expr("st[0]").alias("r_end"),
        F.expr(
            "st[1] - mu * tspan - (alph / bet) * comp_sum"
        ).alias("loglik"),
        # Poisson LL at the same empirical rate n/T: n*ln(n/T) - n
        F.expr(
            "CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE) / tspan) - CAST(n AS DOUBLE)"
        ).alias("ll_poisson"),
    ).orderBy("event_type")
    return round6(out, "r_end", "loglik", "ll_poisson")


def _q_hawkes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hawkes_loglik(read_table(spark, sf_dir, "events"))


def _hawkes_sql() -> str:
    init, merge = _hawkes_exprs(spark_dialect=False)
    term = _r9("1.0e0 - exp(-bet * CAST(tss[-1] - t AS DOUBLE))")
    return f"""
WITH es AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
w AS (SELECT event_type, list(es ORDER BY es) AS tss FROM es GROUP BY event_type),
pars AS (
  SELECT event_type, tss,
         list_transform(range(2, len(tss) + 1),
                        i -> [CAST(tss[i] - tss[i - 1] AS DOUBLE)]) AS gaps,
         CAST(len(tss) AS BIGINT) AS n,
         CAST(tss[-1] - tss[1] AS DOUBLE) AS tspan
  FROM w WHERE len(tss) >= 3 AND tss[-1] > tss[1]),
pp AS (
  SELECT *, {E.NUM(HAWKES_BG)} * CAST(n AS DOUBLE) / tspan AS mu,
         {E.NUM(HAWKES_BETA)} AS bet,
         {E.NUM(HAWKES_BR)} * {E.NUM(HAWKES_BETA)} AS alph
  FROM pars),
f AS (
  SELECT event_type, n, mu, bet, alph, tspan,
         list_reduce(list_prepend({init}, gaps), (acc, x) -> {merge}) AS st,
         list_reduce(list_prepend(0.0e0,
             list_transform(tss, t -> {term})), (a, v) -> a + v) AS comp_sum
  FROM pp)
SELECT event_type, n AS n_events,
       {E.round6('st[1]')} AS r_end,
       {E.round6('st[2] - mu * tspan - (alph / bet) * comp_sum')} AS loglik,
       {E.round6('CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE) / tspan)'
                 ' - CAST(n AS DOUBLE)')} AS ll_poisson
FROM f ORDER BY event_type
"""


_REGISTRY.update(
    {
        "ts_hmm_viterbi": Query(
            "ts_hmm_viterbi", _q_hmm_viterbi, _hmm_sql(), ("tsdb", "iterative")
        ),
        "forecast_ar2": Query(
            "forecast_ar2", _q_forecast_ar2, _ar2_sql(), ("forecast",)
        ),
        "ev_burst_kleinberg": Query(
            "ev_burst_kleinberg", _q_burst, _burst_sql(), ("tsdb", "anomaly")
        ),
        "ev_hawkes_loglik": Query(
            "ev_hawkes_loglik", _q_hawkes, _hawkes_sql(), ("tsdb", "anomaly")
        ),
        "forecast_var1": Query(
            "forecast_var1", _q_var1, _var1_sql(), ("forecast",)
        ),
    }
)
