"""LDA-lite topic modeling over the documents table (VERDICT r03 item 8).

doc_topics: PLSA (Hofmann, SIGIR 1999) fit by a FIXED number of EM
iterations with deterministic hash-based initialization — the
oracle-checkable stand-in for LDA (collapsed Gibbs is sampling-order
dependent; fixed-iteration EM from a shared deterministic init replays
bit-for-bit in SQL, the same argument as ev_logreg's IRLS).

    E-step: r(d,w,z) ∝ θ_d(z)·φ_z(w)
    M-step: φ_z(w) ∝ Σ_d n(d,w)·r(d,w,z);  θ_d(z) ∝ Σ_w n(d,w)·r(d,w,z)

Cross-engine determinism: the M-step sufficient
statistics are rounded to 4dp and the normalized probabilities to 12dp
(+1e-15 nudge) each iteration, so exp/ulp noise cannot compound across
iterations; final report rounds to 4dp.

Scale shape (100 TB): φ is K×V — broadcast every iteration (vocab is
top-V capped in any real topic model); θ is doc-keyed and stays
partitioned by doc_id — the E-step join and the θ M-step groupBy reuse
the same doc_id partitioning, φ's M-step is a tiny (K×V) aggregate.
Per-iteration lineage is pinned with localCheckpoint so the plan does not
double per EM round.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E
from .io import read_table
from .queries import _REGISTRY, Query, roundn

TOPIC_K = 3
TOPIC_ITERS = 5
TOPIC_TOP = 5
TOPIC_V = 4096
TOPIC_SALT_PHI = 5147
TOPIC_SALT_THETA = 6521


def _r4(c):
    return F.round(c + F.lit(1e-9), 4) + F.lit(0.0)


def _r12(c):
    return F.round(c + F.lit(1e-15), 12) + F.lit(0.0)


def plsa_topics(
    docs: DataFrame,
    k: int = TOPIC_K,
    iters: int = TOPIC_ITERS,
    top: int = TOPIC_TOP,
    vocab_cap: int = TOPIC_V,
) -> DataFrame:
    """Top-`top` terms per topic after `iters` EM rounds of PLSA.
    → (z, rank, token, phi, topic_share) — topic_share is the corpus-level
    mixture weight Σ_d θ_d(z) / n_docs."""
    spark = docs.sparkSession
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    cnt0 = toks.groupBy("doc_id", "token").agg(F.count("*").alias("n"))
    # dense word ids over a top-V vocab (exact integer corpus counts, ties
    # broken by token) — the limit(V) makes the row_number window bounded
    # work no matter the corpus size, the standard topic-model vocab cap
    vocab = (
        cnt0.groupBy("token")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(vocab_cap)
        .withColumn(
            "wid",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
            ),
        )
        .select("token", "wid")
    )
    cnt = (
        cnt0.join(F.broadcast(vocab), "token")
        .select("doc_id", "wid", "n")
        .localCheckpoint(eager=False)
    )
    zs = spark.range(1, k + 1).select(F.col("id").cast("bigint").alias("z"))

    # φ0: (z, wid) raw = 1 + u01(wid*k+z) normalized per topic — K×V, tiny
    phi = (
        vocab.crossJoin(F.broadcast(zs))
        .withColumn("raw", 1.0 + F.expr(E.u01(f"(wid * {k} + z)", TOPIC_SALT_PHI)))
        .withColumn("v", _r12(F.col("raw") / F.sum("raw").over(Window.partitionBy("z"))))
        .select("z", "wid", "v")
    )
    # θ0: (doc_id, z) normalized per doc — doc-keyed, window partitioned
    theta = (
        cnt.select("doc_id")
        .distinct()
        .crossJoin(F.broadcast(zs))
        .withColumn(
            "raw", 1.0 + F.expr(E.u01(f"(doc_id * {k} + z)", TOPIC_SALT_THETA))
        )
        .withColumn(
            "v", _r12(F.col("raw") / F.sum("raw").over(Window.partitionBy("doc_id")))
        )
        .select("doc_id", "z", "v")
    )

    for _ in range(iters):
        joint = (
            cnt.join(theta.withColumnRenamed("v", "th"), "doc_id")
            .join(F.broadcast(phi.withColumnRenamed("v", "ph")), ["z", "wid"])
            .withColumn("num", F.col("th") * F.col("ph"))
            .withColumn(
                "den", F.sum("num").over(Window.partitionBy("doc_id", "wid"))
            )
            .withColumn("nr", F.col("n") * F.col("num") / F.col("den"))
            .localCheckpoint(eager=False)
        )
        phi_num = joint.groupBy("z", "wid").agg(_r4(F.sum("nr")).alias("s"))
        phi = phi_num.withColumn(
            "v", _r12(F.col("s") / F.sum("s").over(Window.partitionBy("z")))
        ).select("z", "wid", "v")
        th_num = joint.groupBy("doc_id", "z").agg(_r4(F.sum("nr")).alias("s"))
        theta = th_num.withColumn(
            "v", _r12(F.col("s") / F.sum("s").over(Window.partitionBy("doc_id")))
        ).select("doc_id", "z", "v")

    share = theta.groupBy("z").agg(
        _r4(F.sum("v") / F.countDistinct("doc_id")).alias("topic_share")
    )
    w = Window.partitionBy("z").orderBy(F.col("v").desc(), F.col("wid").asc())
    out = (
        phi.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .join(F.broadcast(vocab), "wid")
        .join(F.broadcast(share), "z")
        .select(
            "z", "rank", "token", F.col("v").alias("phi"), "topic_share"
        )
        .orderBy("z", "rank")
    )
    return roundn(out, 4, "phi")


def _q_doc_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return plsa_topics(docs)


def _topics_sql(k: int = TOPIC_K, iters: int = TOPIC_ITERS, top: int = TOPIC_TOP) -> str:
    r4 = lambda x: f"(round(({x}) + 1.0e-9, 4) + 0.0e0)"  # noqa: E731
    r12 = lambda x: f"(round(({x}) + 1.0e-15, 12) + 0.0e0)"  # noqa: E731
    u_phi = E.u01(f"(wid * {k} + z)", TOPIC_SALT_PHI)
    u_th = E.u01(f"(doc_id * {k} + z)", TOPIC_SALT_THETA)
    parts = [f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
cnt0 AS (SELECT doc_id, token, count(*) AS n FROM toks GROUP BY doc_id, token),
vocab AS MATERIALIZED (
  SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS wid
  FROM (SELECT token, sum(n) AS cnt FROM cnt0 GROUP BY token
        ORDER BY cnt DESC, token LIMIT {TOPIC_V})),
cnt AS MATERIALIZED (
  SELECT c.doc_id, v.wid, c.n FROM cnt0 c JOIN vocab v USING (token)),
zs AS (SELECT unnest(range(1, {k + 1})) AS z),
phi0 AS MATERIALIZED (
  SELECT z, wid, {r12('raw / sum(raw) OVER (PARTITION BY z)')} AS v
  FROM (SELECT v.wid, zs.z, 1.0e0 + {u_phi} AS raw FROM vocab v CROSS JOIN zs)),
theta0 AS MATERIALIZED (
  SELECT doc_id, z, {r12('raw / sum(raw) OVER (PARTITION BY doc_id)')} AS v
  FROM (SELECT d.doc_id, zs.z, 1.0e0 + {u_th} AS raw
        FROM (SELECT DISTINCT doc_id FROM cnt) d CROSS JOIN zs))"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f""",
joint{t} AS MATERIALIZED (
  SELECT c.doc_id, c.wid, th.z,
         c.n * (th.v * ph.v) /
           sum(th.v * ph.v) OVER (PARTITION BY c.doc_id, c.wid) AS nr
  FROM cnt c
  JOIN theta{p} th ON th.doc_id = c.doc_id
  JOIN phi{p} ph ON ph.wid = c.wid AND ph.z = th.z),
phi{t} AS MATERIALIZED (
  SELECT z, wid, {r12('s / sum(s) OVER (PARTITION BY z)')} AS v
  FROM (SELECT z, wid, {r4('sum(nr)')} AS s FROM joint{t} GROUP BY z, wid)),
theta{t} AS MATERIALIZED (
  SELECT doc_id, z, {r12('s / sum(s) OVER (PARTITION BY doc_id)')} AS v
  FROM (SELECT doc_id, z, {r4('sum(nr)')} AS s
        FROM joint{t} GROUP BY doc_id, z))""")
    parts.append(f""",
share AS (
  SELECT z, {r4('sum(v) / count(DISTINCT doc_id)')} AS topic_share
  FROM theta{iters} GROUP BY z),
ranked AS (
  SELECT z, wid, v,
         row_number() OVER (PARTITION BY z ORDER BY v DESC, wid ASC) AS rank
  FROM phi{iters})
SELECT r.z, r.rank, vo.token, {r4('r.v')} AS phi, sh.topic_share
FROM ranked r
JOIN vocab vo ON vo.wid = r.wid
JOIN share sh ON sh.z = r.z
WHERE r.rank <= {top}
ORDER BY r.z, r.rank""")
    return "".join(parts)


_REGISTRY.update(
    {
        "doc_topics": Query("doc_topics", _q_doc_topics, _topics_sql(), ("llm", "text")),
    }
)
