"""Distributed model-fitting and model-diagnostic operators (LLM-pipeline
mandate, part 4 — "train a simple model ON the cluster, not beside it"):

- ev_logreg: logistic regression fit by IRLS / Newton-Raphson. Each
  iteration is ONE partial-aggregated pass over the data computing the
  five sufficient statistics of the 2-parameter Newton step
  (sum w, sum w*x, sum w*x^2, sum (y-p), sum (y-p)*x); the 2x2 normal
  system is solved in closed form. This is exactly how spark.ml fits
  GLMs at scale: constant-size driver state, O(iterations) data passes,
  nothing but a map-side-combined agg per pass. Emits one row per
  iteration with the updated coefficients and average log-likelihood.
- ev_mutual_info: mutual information I(X;Y) between binned features
  (hour-of-day, day-of-week, fixed-width value bucket) and the binary
  purchase label — the standard filter-style feature-relevance screen
  run before training. Joint/marginal counts are exact integers, so the
  MI sum is reproducible bit-for-bit across engines.
- ev_calibration: reliability-diagram bins + per-bin Brier score for a
  fixed scoring rule (a frozen logistic score over the standardized
  value) — the calibration audit you run on any quality-classifier
  score before thresholding it into a data filter.

Exact cross-engine replay:
- The IRLS recursion rounds its INPUTS: the five sufficient statistics
  are rounded to 4dp (engine fp-association drift on a 1e5-row sum is
  ~1e-8, four orders below the boundary), and the updated betas to 12dp
  with the +1e-15 nudge (ts_pacf idiom). From identical rounded inputs
  both engines run the identical closed-form arithmetic, so the betas
  are bit-equal and drift cannot compound across iterations.
- x is standardized with mean/std rounded to 6dp FIRST, so every row's
  x is the same double on both engines ((v-m)/s is exact IEEE given
  identical m, s); only exp/ln ulps differ, absorbed by the 4dp/6dp
  aggregate rounding.

Scale notes (100 TB):
- ev_logreg: per iteration one agg to a 1-row state (partial agg =>
  5 doubles per partition cross the wire) + one agg for the ll
  diagnostic; the 1-row beta is broadcast back. No shuffle of data
  rows at any point, no driver collect of anything data-sized. The
  eager 1-row localCheckpoint pins each iteration's state so lineage
  (and scan count) stays linear in iterations.
- ev_mutual_info: ONE data-sized groupBy to <=96 (feat,bin,y) cells
  (stack() triples rows map-side, pre-shuffle); everything after runs
  on broadcast-sized tables.
- ev_calibration: one groupBy over 10 bins; the scoring rule is a pure
  projection (pushdown-safe).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import read_table
from .queries import _REGISTRY, Query, round6, roundn

LOGREG_ITERS = 4
CAL_A, CAL_B = -1.5, 1.0


# --- shared: standardized value + purchase label ---------------------------
def _xy_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x, y): x = (value - mean)/std with mean/std rounded to 6dp (both
    engines see the identical double), y = 1.0 for purchase events."""
    ev = read_table(spark, sf_dir, "events")
    stats = ev.agg(
        (F.round(F.avg("value") + F.lit(1e-9), 6) + F.lit(0.0)).alias("m"),
        (
            F.round(
                F.sqrt(F.avg(F.col("value") * F.col("value")) - F.avg("value") * F.avg("value"))
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("s"),
    )
    return (
        ev.crossJoin(F.broadcast(stats))
        .select(
            ((F.col("value") - F.col("m")) / F.col("s")).alias("x"),
            F.when(F.col("event_type") == "purchase", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        )
    )


_XY_SQL = """
stats AS (
  SELECT (round(avg(value) + 1.0e-9, 6) + 0.0e0) AS m,
         (round(sqrt(avg(value * value) - avg(value) * avg(value)) + 1.0e-9, 6) + 0.0e0) AS s
  FROM events),
base AS MATERIALIZED (
  SELECT (value - m) / s AS x,
         CASE WHEN event_type = 'purchase' THEN 1.0e0 ELSE 0.0e0 END AS y
  FROM events CROSS JOIN stats)"""


# --- ev_logreg -------------------------------------------------------------
def logreg_irls(base: DataFrame, iters: int = LOGREG_ITERS) -> DataFrame:
    """IRLS over (x, y) starting from beta = (0, 0). Returns one row per
    iteration: iter, beta0, beta1 (6dp display of the 12dp state),
    avg_loglik after the update, n."""
    spark = base.sparkSession
    # pin the (x, y) design projection once: every IRLS pass reads it
    # twice (sufficient stats + loglik row), and unpinned each read
    # re-ran the events scan/groupBy (recompute census: 8 scans/plan).
    # Caching the slim design table is the standard IRLS shape (MLlib).
    base = base.localCheckpoint(eager=False)

    # ONE fused pass over `base` per beta (VERDICT r13 item 3, opt guide
    # §1.2 "don't compute things twice"): iteration k's loglik row and
    # iteration k+1's sufficient statistics both scan `base` under the SAME
    # beta_k, so they run as one combined aggregate — 2·iters data passes
    # become iters+1 (the beta_0 stats pass emits no loglik row; the last
    # beta's pass computes no next step). Every expression, rounding rule
    # and accumulation (same pinned partitioning, same per-column sums) is
    # unchanged, so the emitted values are identical — oracle-verified.
    def _stats(beta: DataFrame) -> DataFrame:
        """Sufficient statistics of the Newton step under `beta` (4dp)."""
        z = F.col("b0") + F.col("b1") * F.col("x")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        w = p * (F.lit(1.0) - p)
        aggs = base.crossJoin(F.broadcast(beta)).agg(
            F.sum(w).alias("s00"),
            F.sum(w * F.col("x")).alias("s01"),
            F.sum(w * F.col("x") * F.col("x")).alias("s11"),
            F.sum(F.col("y") - p).alias("g0"),
            F.sum((F.col("y") - p) * F.col("x")).alias("g1"),
            F.first("b0").alias("b0"),
            F.first("b1").alias("b1"),
        )
        return roundn(aggs, 4, "s00", "s01", "s11", "g0", "g1")

    def _fused(beta: DataFrame, last: bool) -> DataFrame:
        """Loglik diagnostics under `beta` PLUS (unless last) the next
        step's sufficient statistics, in one aggregate pass."""
        z = F.col("b0") + F.col("b1") * F.col("x")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        w = p * (F.lit(1.0) - p)
        cols = [
            F.first("b0").alias("b0"),
            F.first("b1").alias("b1"),
            F.avg(
                F.col("y") * F.log(p) + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
            ).alias("avg_loglik"),
            F.count("*").alias("n"),
        ]
        if not last:
            cols += [
                F.sum(w).alias("s00"),
                F.sum(w * F.col("x")).alias("s01"),
                F.sum(w * F.col("x") * F.col("x")).alias("s11"),
                F.sum(F.col("y") - p).alias("g0"),
                F.sum((F.col("y") - p) * F.col("x")).alias("g1"),
            ]
        one = base.crossJoin(F.broadcast(beta)).agg(*cols)
        if not last:
            one = roundn(one, 4, "s00", "s01", "s11", "g0", "g1")
        return one

    def _step(stats: DataFrame) -> DataFrame:
        """Closed-form 2x2 Newton update from 4dp stats (12dp beta)."""
        solved = stats.withColumn(
            "det", F.col("s00") * F.col("s11") - F.col("s01") * F.col("s01")
        )
        return solved.select(
            F.round(
                F.col("b0")
                + (F.col("s11") * F.col("g0") - F.col("s01") * F.col("g1")) / F.col("det")
                + F.lit(1.0e-15),
                12,
            ).alias("b0"),
            F.round(
                F.col("b1")
                + (F.col("s00") * F.col("g1") - F.col("s01") * F.col("g0")) / F.col("det")
                + F.lit(1.0e-15),
                12,
            ).alias("b1"),
        )

    beta = spark.range(1).select(F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"))
    beta = _step(_stats(beta)).localCheckpoint(eager=True)
    out = None
    for it in range(1, iters + 1):
        # lazy pin: the fused pass materializes inside the next beta's eager
        # pin (or the final action for the last iteration) and the loglik row
        # then reads the cached 1-row result — no extra job per iteration
        fused = _fused(beta, last=(it == iters)).localCheckpoint(eager=False)
        row = fused.select(
            F.lit(it).cast("bigint").alias("iter"),
            F.col("b0").alias("beta0"),
            F.col("b1").alias("beta1"),
            "avg_loglik",
            "n",
        )
        out = row if out is None else out.unionByName(row)
        if it < iters:
            beta = _step(fused).localCheckpoint(eager=True)
    return round6(out, "beta0", "beta1", "avg_loglik")


def _q_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return logreg_irls(_xy_base(spark, sf_dir))


def _logreg_sql(iters: int = LOGREG_ITERS, base_sql: str | None = None) -> str:
    parts = [
        "WITH "
        + (base_sql if base_sql is not None else _XY_SQL).strip()
        + ",\nbeta0_ AS (SELECT 0.0e0 AS b0, 0.0e0 AS b1)"
    ]
    for k in range(1, iters + 1):
        prev = f"beta{k - 1}_"
        parts.append(f""",
agg{k} AS (
  SELECT (round(sum(p * (1.0e0 - p)) + 1.0e-9, 4) + 0.0e0) AS s00,
         (round(sum(p * (1.0e0 - p) * x) + 1.0e-9, 4) + 0.0e0) AS s01,
         (round(sum(p * (1.0e0 - p) * x * x) + 1.0e-9, 4) + 0.0e0) AS s11,
         (round(sum(y - p) + 1.0e-9, 4) + 0.0e0) AS g0,
         (round(sum((y - p) * x) + 1.0e-9, 4) + 0.0e0) AS g1,
         any_value(b0) AS b0, any_value(b1) AS b1
  FROM (SELECT x, y, b0, b1,
               1.0e0 / (1.0e0 + exp(-(b0 + b1 * x))) AS p
        FROM base CROSS JOIN {prev})),
beta{k}_ AS MATERIALIZED (
  SELECT round(b0 + (s11 * g0 - s01 * g1) / det + 1.0e-15, 12) AS b0,
         round(b1 + (s00 * g1 - s01 * g0) / det + 1.0e-15, 12) AS b1
  FROM (SELECT *, s00 * s11 - s01 * s01 AS det FROM agg{k})),
ll{k} AS (
  SELECT CAST({k} AS BIGINT) AS iter,
         (round(any_value(b0) + 1.0e-9, 6) + 0.0e0) AS beta0,
         (round(any_value(b1) + 1.0e-9, 6) + 0.0e0) AS beta1,
         (round(avg(y * ln(p) + (1.0e0 - y) * ln(1.0e0 - p)) + 1.0e-9, 6) + 0.0e0)
           AS avg_loglik,
         count(*) AS n
  FROM (SELECT x, y, b0, b1,
               1.0e0 / (1.0e0 + exp(-(b0 + b1 * x))) AS p
        FROM base CROSS JOIN beta{k}_))""")
    emits = "\nUNION ALL\n".join(f"SELECT * FROM ll{k}" for k in range(1, iters + 1))
    return "".join(parts) + "\n" + emits


# --- ev_mutual_info --------------------------------------------------------
def mutual_info(ev: DataFrame) -> DataFrame:
    """I(X;Y) in nats per binned feature vs the purchase label, from exact
    joint counts. One data-sized groupBy; the rest is broadcast-sized."""
    stacked = ev.select(
        F.expr(
            "stack(3, 'f_hod', CAST(floor(unix_timestamp(ts) / 3600) % 24 AS BIGINT),"
            " 'f_dow', CAST((floor(unix_timestamp(ts) / 86400) + 4) % 7 AS BIGINT),"
            " 'f_vbin', least(CAST(floor(value / 50.0) AS BIGINT), CAST(7 AS BIGINT)))"
            " AS (feat, bin)"
        ),
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("y"),
    )
    joint = stacked.groupBy("feat", "bin", "y").agg(F.count("*").alias("c"))
    marg_x = joint.groupBy("feat", "bin").agg(F.sum("c").alias("cx"))
    marg_y = joint.groupBy("feat", "y").agg(F.sum("c").alias("cy"))
    tot = joint.groupBy("feat").agg(F.sum("c").alias("n"))
    cells = (
        joint.join(F.broadcast(marg_x), ["feat", "bin"])
        .join(F.broadcast(marg_y), ["feat", "y"])
        .join(F.broadcast(tot), "feat")
        .withColumn(
            "term",
            (F.col("c").cast("double") / F.col("n"))
            * F.log(
                F.col("c").cast("double") * F.col("n")
                / (F.col("cx").cast("double") * F.col("cy"))
            ),
        )
    )
    out = cells.groupBy("feat").agg(
        F.sum("term").alias("mi_nats"), F.count("*").alias("n_cells")
    )
    return round6(out.select(F.col("feat").alias("feature"), "mi_nats", "n_cells"), "mi_nats")


def _q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mutual_info(read_table(spark, sf_dir, "events"))


_MI_SQL = """
WITH stacked AS (
  SELECT feat, bin,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM events, (VALUES ('f_hod'), ('f_dow'), ('f_vbin')) AS feats(feat),
  LATERAL (SELECT CASE feat
      WHEN 'f_hod' THEN CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) % 24
      WHEN 'f_dow' THEN (CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) + 4) % 7
      ELSE least(CAST(floor(value / 50.0e0) AS BIGINT), CAST(7 AS BIGINT)) END AS bin)),
joint AS (SELECT feat, bin, y, count(*) AS c FROM stacked GROUP BY feat, bin, y),
marg_x AS (SELECT feat, bin, sum(c) AS cx FROM joint GROUP BY feat, bin),
marg_y AS (SELECT feat, y, sum(c) AS cy FROM joint GROUP BY feat, y),
tot AS (SELECT feat, sum(c) AS n FROM joint GROUP BY feat)
SELECT j.feat AS feature,
       (round(sum((CAST(j.c AS DOUBLE) / t.n)
                  * ln(CAST(j.c AS DOUBLE) * t.n
                       / (CAST(mx.cx AS DOUBLE) * my.cy))) + 1.0e-9, 6) + 0.0e0)
         AS mi_nats,
       count(*) AS n_cells
FROM joint j
JOIN marg_x mx ON j.feat = mx.feat AND j.bin = mx.bin
JOIN marg_y my ON j.feat = my.feat AND j.y = my.y
JOIN tot t ON j.feat = t.feat
GROUP BY j.feat
"""


# --- ev_calibration --------------------------------------------------------
def calibration(base: DataFrame, a: float = CAL_A, b: float = CAL_B) -> DataFrame:
    """Reliability bins for the frozen score sigmoid(a + b*x): per decile
    bin of the score, (n, mean_pred, frac_pos, brier). The score is
    rounded to 6dp BEFORE binning so engine exp() ulps cannot flip a
    bin edge."""
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(a) + F.lit(b) * F.col("x"))))
    scored = base.withColumn("p", F.round(p + F.lit(1e-9), 6) + F.lit(0.0)).withColumn(
        "bin", F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("bigint")
    )
    out = scored.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.avg("p").alias("mean_pred"),
        F.avg("y").alias("frac_pos"),
        F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias("brier"),
    )
    return round6(out, "mean_pred", "frac_pos", "brier")


def _q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return calibration(_xy_base(spark, sf_dir))


def _cal_sql(a: float = CAL_A, b: float = CAL_B) -> str:
    return f"""
WITH {_XY_SQL.strip()},
scored AS (
  SELECT y,
         (round(1.0e0 / (1.0e0 + exp(-({a:.1f}e0 + {b:.1f}e0 * x))) + 1.0e-9, 6) + 0.0e0) AS p
  FROM base)
SELECT least(CAST(floor(p * 10) AS BIGINT), CAST(9 AS BIGINT)) AS bin,
       count(*) AS n,
       (round(avg(p) + 1.0e-9, 6) + 0.0e0) AS mean_pred,
       (round(avg(y) + 1.0e-9, 6) + 0.0e0) AS frac_pos,
       (round(avg((p - y) * (p - y)) + 1.0e-9, 6) + 0.0e0) AS brier
FROM scored
GROUP BY 1
"""


_REGISTRY.update(
    {
        "ev_logreg": Query("ev_logreg", _q_logreg, _logreg_sql(), ("ml", "iterative")),
        "ev_mutual_info": Query("ev_mutual_info", _q_mutual_info, _MI_SQL, ("ml",)),
        "ev_calibration": Query("ev_calibration", _q_calibration, _cal_sql(), ("ml",)),
    }
)


# --- multinomial naive Bayes: train + held-out eval --------------------------
NB_SALT = 77231
NB_TRAIN_FRAC = 0.8


def nb_classify(docs: DataFrame) -> DataFrame:
    """Multinomial naive Bayes trained ON the cluster and evaluated on a
    deterministic held-out split — the end-to-end "can we model this
    column from the text" baseline every labeling pipeline starts with.
    Train: token counts per (class, word) with add-1 smoothing over the
    train vocabulary; score: sum of n_w * ln p(w|c) + ln prior, unseen
    words fall back to the smoothed floor ln(1/(tot_c + V)). Emits the
    held-out confusion matrix (actual, predicted, n_docs).

    Scale shape: the split is a pure projection (portable LCG); training
    is one groupBy((class, word)) partial agg; scoring joins test tokens
    against the vocabulary-sized model table (no broadcast hint — the
    model is vocab x classes), with per-class floors and priors joined
    from class-count tables; argmax is a per-doc window over n_classes
    rows, on the 6dp-rounded score so engine ln() ulps cannot flip it."""
    from pyspark.sql import Window

    from . import expr as E

    split_u = F.expr(E.u01("doc_id", NB_SALT))
    d = docs.select("doc_id", "lang", "text").withColumn(
        "is_train", split_u < F.lit(NB_TRAIN_FRAC)
    )
    toks = d.select(
        "doc_id", "lang", "is_train",
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    # pin: the train side is read by counts + vocab, the test side by the
    # scorer — unpinned, every branch re-tokenized the corpus (recompute
    # census: 10 documents scans in this plan). One tokenize, many reads.
    toks = toks.localCheckpoint(eager=False)
    tr = toks.filter(F.col("is_train"))
    te = toks.filter(~F.col("is_train"))

    wc = tr.groupBy("lang", "w").agg(F.count("*").alias("cws")).localCheckpoint(eager=False)
    tot = wc.groupBy("lang").agg(F.sum("cws").alias("tot_c"))
    vocab = tr.agg(F.countDistinct("w").alias("v"))
    prior = (
        d.filter(F.col("is_train"))
        .groupBy("lang")
        .agg(F.count("*").alias("nd"))
    )
    n_train = prior.agg(F.sum("nd").alias("ndt"))
    cls = (
        prior.crossJoin(F.broadcast(n_train))
        .join(tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("cls"),
            F.log(F.col("nd").cast("double") / F.col("ndt")).alias("lprior"),
            (F.col("tot_c") + F.col("v")).cast("double").alias("denom"),
        )
        .localCheckpoint(eager=False)  # n_classes rows, read twice
    )
    logp = (
        wc.join(cls, wc.lang == cls.cls)
        .select(
            F.col("cls"), F.col("w"),
            F.log((F.col("cws") + 1).cast("double") / F.col("denom")).alias("lp"),
        )
    )
    test_counts = te.groupBy("doc_id", "lang", "w").agg(F.count("*").alias("nw"))
    scored = (
        test_counts.crossJoin(F.broadcast(cls.select("cls", "lprior", "denom")))
        .join(logp, ["cls", "w"], "left")
        .withColumn(
            "lp_eff",
            F.coalesce(F.col("lp"), F.log(F.lit(1.0) / F.col("denom"))),
        )
        .groupBy("doc_id", "lang", "cls")
        .agg(
            (F.sum(F.col("nw") * F.col("lp_eff")) + F.first("lprior")).alias("score")
        )
        .withColumn("s6", F.round(F.col("score") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.desc("s6"), F.asc("cls"))
    pred = (
        scored.withColumn("rk", F.row_number().over(w_doc))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("actual"), F.col("cls").alias("predicted"))
    )
    return pred.groupBy("actual", "predicted").agg(F.count("*").alias("n_docs"))


def _q_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nb_classify(read_table(spark, sf_dir, "documents"))


def _nb_sql() -> str:
    from . import expr as E

    u = E.u01("doc_id", NB_SALT)
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, lang, text, {u} < {E.NUM(NB_TRAIN_FRAC)} AS is_train
  FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id, lang, is_train, w FROM (
    SELECT doc_id, lang, is_train, unnest(string_split(text, ' ')) AS w FROM d)
  WHERE w <> ''),
wc AS (SELECT lang, w, count(*) AS cws FROM toks WHERE is_train GROUP BY lang, w),
tot AS (SELECT lang, sum(cws) AS tot_c FROM wc GROUP BY lang),
vocab AS (SELECT count(DISTINCT w) AS v FROM toks WHERE is_train),
prior AS (SELECT lang, count(*) AS nd FROM d WHERE is_train GROUP BY lang),
ntr AS (SELECT sum(nd) AS ndt FROM prior),
cls AS MATERIALIZED (
  SELECT prior.lang AS cls,
         ln(CAST(nd AS DOUBLE) / ndt) AS lprior,
         CAST(tot_c + v AS DOUBLE) AS denom
  FROM prior CROSS JOIN ntr JOIN tot ON tot.lang = prior.lang CROSS JOIN vocab),
logp AS (
  SELECT cls.cls, wc.w, ln(CAST(cws + 1 AS DOUBLE) / denom) AS lp
  FROM wc JOIN cls ON cls.cls = wc.lang),
tc AS (
  SELECT doc_id, lang, w, count(*) AS nw FROM toks WHERE NOT is_train
  GROUP BY doc_id, lang, w),
scored AS (
  SELECT doc_id, lang, c.cls,
         (round(sum(nw * coalesce(lp, ln(1.0e0 / c.denom))) + any_value(c.lprior)
                + 1.0e-9, 6) + 0.0e0) AS s6
  FROM tc CROSS JOIN cls c
  LEFT JOIN logp ON logp.cls = c.cls AND logp.w = tc.w
  GROUP BY doc_id, lang, c.cls),
pred AS (
  SELECT doc_id, lang AS actual, cls AS predicted FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY s6 DESC, cls) AS rk
    FROM scored) WHERE rk = 1)
SELECT actual, predicted, count(*) AS n_docs
FROM pred GROUP BY actual, predicted
"""


_REGISTRY.update(
    {
        "doc_nb_classify": Query("doc_nb_classify", _q_nb, _nb_sql(), ("ml", "text")),
    }
)


# --- Poisson GLM (counts regression) -----------------------------------------
POIS_ITERS = 7


def poisson_glm(ev: DataFrame, iters: int = POIS_ITERS) -> DataFrame:
    """Poisson regression fit by IRLS — the canonical counts model
    (events per user-day ~ exp(b0 + b1*is_weekend)), sharing the exact
    machinery of ev_logreg with GLM weights w = mu and score residual
    y - mu: per iteration ONE 5-number sufficient-statistics aggregate,
    closed-form 2x2 solve, 4dp-stat / 12dp-beta rounded recursion so the
    unrolled-CTE oracle replays bit-for-bit. exp(b1) is the weekend rate
    ratio — the interpretable output.

    Scale shape: one groupBy((user, day)) builds the counts table; each
    IRLS pass is a partial-agged global aggregate over it; the 1-row
    beta is eagerly checkpointed and broadcast back."""
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    base = (
        ev.groupBy(F.col("user_id"), day.alias("d"))
        .agg(F.count("*").cast("double").alias("y"))
        # epoch day 0 = Thursday -> (d+3)%7 maps Sat=5, Sun=6
        .withColumn("x", (((F.col("d") + 3) % 7) >= 5).cast("double"))
    )
    spark = ev.sparkSession
    base = base.localCheckpoint(eager=False)  # same pin as logreg_irls

    # Same fused-pass rewrite as logreg_irls (VERDICT r13 item 3): loglik
    # row k and stats k+1 share beta_k, so one combined aggregate replaces
    # the two base passes — 2·iters passes become iters+1. Expressions,
    # rounding and accumulation order unchanged; oracle-verified.
    def _stats(beta: DataFrame) -> DataFrame:
        mu = F.exp(F.col("b0") + F.col("b1") * F.col("x"))
        aggs = base.crossJoin(F.broadcast(beta)).agg(
            F.sum(mu).alias("s00"),
            F.sum(mu * F.col("x")).alias("s01"),
            F.sum(mu * F.col("x") * F.col("x")).alias("s11"),
            F.sum(F.col("y") - mu).alias("g0"),
            F.sum((F.col("y") - mu) * F.col("x")).alias("g1"),
            F.first("b0").alias("b0"),
            F.first("b1").alias("b1"),
        )
        return roundn(aggs, 4, "s00", "s01", "s11", "g0", "g1")

    def _fused(beta: DataFrame, last: bool) -> DataFrame:
        mu = F.exp(F.col("b0") + F.col("b1") * F.col("x"))
        cols = [
            F.first("b0").alias("b0"),
            F.first("b1").alias("b1"),
            F.avg(
                F.col("y") * (F.col("b0") + F.col("b1") * F.col("x")) - mu
            ).alias("avg_ll_core"),
            F.count("*").alias("n"),
        ]
        if not last:
            cols += [
                F.sum(mu).alias("s00"),
                F.sum(mu * F.col("x")).alias("s01"),
                F.sum(mu * F.col("x") * F.col("x")).alias("s11"),
                F.sum(F.col("y") - mu).alias("g0"),
                F.sum((F.col("y") - mu) * F.col("x")).alias("g1"),
            ]
        one = base.crossJoin(F.broadcast(beta)).agg(*cols)
        if not last:
            one = roundn(one, 4, "s00", "s01", "s11", "g0", "g1")
        return one

    def _step(stats: DataFrame) -> DataFrame:
        solved = stats.withColumn(
            "det", F.col("s00") * F.col("s11") - F.col("s01") * F.col("s01")
        )
        return solved.select(
            F.round(
                F.col("b0")
                + (F.col("s11") * F.col("g0") - F.col("s01") * F.col("g1")) / F.col("det")
                + F.lit(1.0e-15),
                12,
            ).alias("b0"),
            F.round(
                F.col("b1")
                + (F.col("s00") * F.col("g1") - F.col("s01") * F.col("g0")) / F.col("det")
                + F.lit(1.0e-15),
                12,
            ).alias("b1"),
        )

    beta = spark.range(1).select(F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"))
    beta = _step(_stats(beta)).localCheckpoint(eager=True)
    out = None
    for it in range(1, iters + 1):
        fused = _fused(beta, last=(it == iters)).localCheckpoint(eager=False)
        row = fused.select(
            F.lit(it).cast("bigint").alias("iter"),
            F.col("b0").alias("beta0"),
            F.col("b1").alias("beta1"),
            F.exp(F.col("b1")).alias("weekend_ratio"),
            "avg_ll_core",
            "n",
        )
        out = row if out is None else out.unionByName(row)
        if it < iters:
            beta = _step(fused).localCheckpoint(eager=True)
    return round6(out, "beta0", "beta1", "weekend_ratio", "avg_ll_core")


def _q_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    return poisson_glm(read_table(spark, sf_dir, "events"))


def _poisson_sql(iters: int = POIS_ITERS) -> str:
    parts = ["""
WITH base AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE) AS y,
         CAST(CASE WHEN (d + 3) % 7 >= 5 THEN 1 ELSE 0 END AS DOUBLE) AS x
  FROM (
    SELECT user_id, CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d
    FROM events)
  GROUP BY user_id, d),
pbeta0_ AS (SELECT 0.0e0 AS b0, 0.0e0 AS b1)"""]
    for k in range(1, iters + 1):
        prev = f"pbeta{k - 1}_"
        parts.append(f""",
pagg{k} AS (
  SELECT (round(sum(mu) + 1.0e-9, 4) + 0.0e0) AS s00,
         (round(sum(mu * x) + 1.0e-9, 4) + 0.0e0) AS s01,
         (round(sum(mu * x * x) + 1.0e-9, 4) + 0.0e0) AS s11,
         (round(sum(y - mu) + 1.0e-9, 4) + 0.0e0) AS g0,
         (round(sum((y - mu) * x) + 1.0e-9, 4) + 0.0e0) AS g1,
         any_value(b0) AS b0, any_value(b1) AS b1
  FROM (SELECT x, y, b0, b1, exp(b0 + b1 * x) AS mu
        FROM base CROSS JOIN {prev})),
pbeta{k}_ AS MATERIALIZED (
  SELECT round(b0 + (s11 * g0 - s01 * g1) / det + 1.0e-15, 12) AS b0,
         round(b1 + (s00 * g1 - s01 * g0) / det + 1.0e-15, 12) AS b1
  FROM (SELECT *, s00 * s11 - s01 * s01 AS det FROM pagg{k})),
pll{k} AS (
  SELECT CAST({k} AS BIGINT) AS iter,
         (round(any_value(b0) + 1.0e-9, 6) + 0.0e0) AS beta0,
         (round(any_value(b1) + 1.0e-9, 6) + 0.0e0) AS beta1,
         (round(exp(any_value(b1)) + 1.0e-9, 6) + 0.0e0) AS weekend_ratio,
         (round(avg(y * (b0 + b1 * x) - exp(b0 + b1 * x)) + 1.0e-9, 6) + 0.0e0)
           AS avg_ll_core,
         count(*) AS n
  FROM base CROSS JOIN pbeta{k}_)""")
    emits = "\nUNION ALL\n".join(f"SELECT * FROM pll{k}" for k in range(1, iters + 1))
    return "".join(parts) + "\n" + emits


_REGISTRY.update(
    {
        "ev_poisson_glm": Query(
            "ev_poisson_glm", _q_poisson, _poisson_sql(), ("ml", "iterative")
        ),
    }
)


# --- held-out bigram perplexity ----------------------------------------------
PPL_SALT = 40993
PPL_TRAIN_FRAC = 0.8


def bigram_perplexity(docs: DataFrame) -> DataFrame:
    """Held-out bigram language-model perplexity per language: train
    add-1-smoothed bigram counts on a deterministic 80% split, score the
    held-out docs with ln((c2+1)/(c1+V)) (unseen contexts fall back to
    the uniform floor), report exp(-avg log-prob) — the honest LM-quality
    number (the in-corpus bigram scorer overfits by construction; this
    one cannot). Counts are integers, V is a broadcast scalar, scoring
    joins test bigrams against the vocab-sized count tables.

    Scale shape: bigrams come from ONE lead() window per doc; training
    is two vocabulary-sized groupBys; no data-sized shuffle after the
    bigram build."""
    from pyspark.sql import Window

    from . import expr as E

    d = docs.select("doc_id", "lang", "text").withColumn(
        "is_train", F.expr(E.u01("doc_id", PPL_SALT)) < F.lit(PPL_TRAIN_FRAC)
    )
    toks = d.select(
        "doc_id", "lang", "is_train",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    win = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("prev", F.lag("w").over(win))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "lang", "is_train", "prev", F.col("w").alias("cur"))
    )
    c2 = big.filter("is_train").groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = big.filter("is_train").groupBy("prev").agg(F.count("*").alias("c1"))
    vocab = toks.filter("is_train").agg(
        F.countDistinct("w").cast("double").alias("v")
    )
    test = (
        big.filter(~F.col("is_train"))
        .join(c2, ["prev", "cur"], "left")
        .join(c1, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.col("v"))
            ),
        )
    )
    out = (
        test.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_bigrams"),
            F.avg("logp").alias("avg_logp"),
        )
        .withColumn("perplexity", F.exp(-F.col("avg_logp")))
    )
    return round6(out, "avg_logp", "perplexity")


def _q_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_perplexity(read_table(spark, sf_dir, "documents"))


def _ppl_sql() -> str:
    from . import expr as E

    u = E.u01("doc_id", PPL_SALT)
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, lang, text, {u} < {E.NUM(PPL_TRAIN_FRAC)} AS is_train
  FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id, lang, is_train, w, pos FROM (
    SELECT doc_id, lang, is_train,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM d)
  WHERE w <> ''),
big AS MATERIALIZED (
  SELECT doc_id, lang, is_train, prev, w AS cur FROM (
    SELECT *, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM toks)
  WHERE prev IS NOT NULL),
c2 AS (SELECT prev, cur, count(*) AS c2 FROM big WHERE is_train GROUP BY prev, cur),
c1 AS (SELECT prev, count(*) AS c1 FROM big WHERE is_train GROUP BY prev),
vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM toks WHERE is_train),
test AS (
  SELECT b.lang, b.doc_id,
         ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE)
            / (CAST(coalesce(c1.c1, 0) AS DOUBLE) + vv.v)) AS logp
  FROM big b
  LEFT JOIN c2 ON c2.prev = b.prev AND c2.cur = b.cur
  LEFT JOIN c1 ON c1.prev = b.prev
  CROSS JOIN vv
  WHERE NOT b.is_train)
SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_bigrams,
       (round(avg(logp) + 1.0e-9, 6) + 0.0e0) AS avg_logp,
       (round(exp(-avg(logp)) + 1.0e-9, 6) + 0.0e0) AS perplexity
FROM test GROUP BY lang
"""


_REGISTRY.update(
    {
        "doc_ppl_holdout": Query(
            "doc_ppl_holdout", _q_ppl, _ppl_sql(), ("text", "eval")
        ),
    }
)



# --- discrete-time hazard GLM (survival regression) --------------------------
HAZ_HORIZON = 29  # day index range of the event window (Jan 2024)


def _hazard_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x, y) at-risk table for the discrete-time hazard model: one row
    per user-day while the user has not yet converted (first purchase);
    y = 1 on the conversion day, x = day/30. Users who never convert are
    censored at the horizon — included as all-zero rows, exactly the
    likelihood discrete-time survival analysis needs (Allison 1982);
    fitting a logistic model on this table IS survival regression."""
    ev = read_table(spark, sf_dir, "events")
    day = (F.floor(F.unix_timestamp("ts") / 86400).cast("bigint") - F.lit(19723))
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(day).alias("fp"))
    )
    users = ev.select("user_id").distinct()
    risk = (
        users.join(fp, "user_id", "left")
        .withColumn("last_d", F.coalesce(F.col("fp"), F.lit(HAZ_HORIZON)))
        .select(
            "user_id", "fp",
            F.explode(F.sequence(F.lit(0), F.col("last_d"))).alias("d"),
        )
    )
    return risk.select(
        (F.col("d").cast("double") / 30.0).alias("x"),
        F.when(F.col("fp") == F.col("d"), F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )


_HAZARD_BASE_SQL = f"""
fp AS (
  SELECT user_id,
         min(CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) - 19723) AS fp
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
users AS (SELECT DISTINCT user_id FROM events),
base AS MATERIALIZED (
  SELECT CAST(d AS DOUBLE) / 3.0e1 AS x,
         CASE WHEN fp.fp = d THEN 1.0e0 ELSE 0.0e0 END AS y
  FROM users
  LEFT JOIN fp USING (user_id),
  LATERAL (SELECT unnest(range(0, coalesce(fp.fp, {HAZ_HORIZON}) + 1)) AS d))"""


def _q_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return logreg_irls(_hazard_base(spark, sf_dir))


_REGISTRY.update(
    {
        "ev_hazard_glm": Query(
            "ev_hazard_glm",
            _q_hazard,
            _logreg_sql(base_sql=_HAZARD_BASE_SQL),
            ("ml", "survival"),
        ),
    }
)
