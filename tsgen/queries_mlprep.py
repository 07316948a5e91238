"""Training-data preparation operators (LLM-pipeline mandate, part 3):

- split_assign: deterministic train/val/test assignment by hashing the
  stable doc id through the engine-portable LCG (same u01 text on both
  engines — reproducible across reruns, clusters, and engines; the
  industry-standard alternative to rand() splits, which shift membership
  every run). Reported as per-(split, lang) counts + achieved fractions.
- name_match_jw: fuzzy entity resolution over part names — first-token
  blocking, then Jaro-Winkler similarity on within-block pairs. The JW
  kernel is an Arrow-batched pandas UDF implementing the textbook Winkler
  variant (boost only when jaro > 0.7, prefix cap 4, p = 0.1) — verified
  bit-equal to DuckDB's jaro_winkler_similarity, which the oracle uses.
- doc_woe: weight-of-evidence / information-value scoring of a binned
  feature (char-length buckets) against a binary label (lang = 'en') —
  the standard credit-scoring-style diagnostic for "does this feature
  separate the classes", used when building quality-classifier features.
  Laplace +0.5 smoothing keeps empty cells finite, mirrored both sides.

Scale notes (100 TB):
- split_assign: the assignment is a pure per-row projection (no shuffle,
  pushdown-safe); the report is one partial-agged groupBy over ~tens of
  cells plus a broadcast scalar total.
- name_match_jw: blocking bounds the candidate set (pairs grow with
  block_size^2, not corpus^2); blocks shuffle once on the block key; the
  UDF sees only surviving pairs. For heavier skew, swap first-token
  blocking for multi-key blocking (first token x length band).
- doc_woe: fixed-width binning avoids any global sort (compare ntile,
  which would need one); two partial-agged groupBys + a broadcast totals
  row.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import expr as E
from .io import read_table
from .queries import _REGISTRY, Query, round6

SPLIT_SALT = 52127
JW_THRESHOLD = 0.88
WOE_BIN_W, WOE_BIN_MAX = 100, 5


# --- deterministic split ---------------------------------------------------
def _split_expr(col: str = "doc_id") -> str:
    u = E.u01(col, SPLIT_SALT)
    return (
        f"CASE WHEN {u} < 8.0e-1 THEN 'train' "
        f"WHEN {u} < 9.0e-1 THEN 'val' ELSE 'test' END"
    )


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tot = docs.agg(F.count("*").alias("n_total"))
    out = (
        docs.withColumn("split", F.expr(_split_expr()))
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .crossJoin(F.broadcast(tot))
        .withColumn("frac", F.col("n_docs") / F.col("n_total").cast("double"))
        .drop("n_total")
    )
    return round6(out, "frac")


_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT lang, n_chars, {_split_expr()} AS split FROM documents),
tot AS (SELECT count(*) AS n_total FROM documents)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       (round(count(*) / CAST(tot.n_total AS DOUBLE) + 1.0e-9, 6) + 0.0e0)
         AS frac
FROM assigned CROSS JOIN tot
GROUP BY split, lang, tot.n_total
"""


# --- Jaro-Winkler entity resolution ---------------------------------------
def jaro_winkler(a: str, b: str) -> float:
    """Textbook Jaro-Winkler (Winkler 1990): boost only when jaro > 0.7,
    common-prefix length capped at 4, scaling p = 0.1. Bit-compatible with
    DuckDB's jaro_winkler_similarity (probed empirically; the oracle relies
    on this)."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0  # DuckDB scores empty-vs-anything (incl. empty) as 0
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    ma = [False] * la
    mb = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and b[j] == ca:
                ma[i] = mb[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(la):
        if ma[i]:
            while not mb[j]:
                j += 1
            if a[i] != b[j]:
                transpositions += 1
            j += 1
    t = transpositions // 2
    jaro = (matches / la + matches / lb + (matches - t) / matches) / 3.0
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca != cb:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1.0 - jaro)


def name_match_jw(
    df: DataFrame,
    key: str = "p_partkey",
    name: str = "p_name",
    threshold: float = JW_THRESHOLD,
) -> DataFrame:
    """Within-block (first name token) pairs with JW similarity above the
    threshold. Returns (key_a, key_b, jw)."""
    blocked = df.select(
        F.col(key),
        F.col(name).alias("nm"),
        F.split(F.col(name), " ").getItem(0).alias("blk"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col(f"a.{key}") < F.col(f"b.{key}")),
    ).select(
        F.col(f"a.{key}").alias("key_a"),
        F.col(f"b.{key}").alias("key_b"),
        F.col("a.nm").alias("nm_a"),
        F.col("b.nm").alias("nm_b"),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # threshold on the 6dp-rounded value so a last-ulp difference vs
            # the oracle's C++ kernel can never flip pair membership
            pdf["jw"] = [
                round(jaro_winkler(x, y) + 1e-9, 6)
                for x, y in zip(pdf["nm_a"], pdf["nm_b"])
            ]
            yield pdf[pdf["jw"] > threshold][["key_a", "key_b", "jw"]]

    return pairs.mapInPandas(kernel, "key_a long, key_b long, jw double")


SNM_WINDOW = 10


def name_match_snm(
    df: DataFrame,
    key: str = "p_partkey",
    name: str = "p_name",
    threshold: float = JW_THRESHOLD,
    window: int = SNM_WINDOW,
) -> DataFrame:
    """Sorted-neighborhood fuzzy matching (Hernandez & Stolfo 1995): within
    each first-token block, records sort by name and each record pairs
    ONLY with its next `window` neighbors — candidate volume is
    O(n * window) instead of the block^2 blowup of plain blocking (at
    sf0.1 the hottest first-token block holds ~2.6k parts -> 3.3M pairs
    for blocking vs ~26k here). Near-variants sort adjacently (shared
    prefixes dominate the order, exactly what Winkler similarity
    rewards), so the recall loss is the documented SNM tradeoff. The
    window runs PARTITIONED by block — no global sort."""
    w = Window.partitionBy("blk").orderBy("nm", key)
    blocked = df.select(
        F.col(key),
        F.col(name).alias("nm"),
        F.split(F.col(name), " ").getItem(0).alias("blk"),
    )
    with_leads = blocked.select(
        F.col(key),
        "nm",
        *[F.lead(key, k).over(w).alias(f"k{k}") for k in range(1, window + 1)],
        *[F.lead("nm", k).over(w).alias(f"n{k}") for k in range(1, window + 1)],
    )
    leads = with_leads.select(
        F.col(key),
        "nm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"k{k}").alias("key_b"), F.col(f"n{k}").alias("nm_b")
                    )
                    for k in range(1, window + 1)
                ]
            )
        ).alias("p"),
    ).filter(F.col("p.key_b").isNotNull())
    pairs = leads.select(
        F.least(F.col(key), F.col("p.key_b")).alias("key_a"),
        F.greatest(F.col(key), F.col("p.key_b")).alias("key_b"),
        F.col("nm").alias("nm_a"),
        F.col("p.nm_b").alias("nm_b"),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf["jw"] = [
                round(jaro_winkler(x, y) + 1e-9, 6)
                for x, y in zip(pdf["nm_a"], pdf["nm_b"])
            ]
            yield pdf[pdf["jw"] > threshold][["key_a", "key_b", "jw"]]

    return pairs.mapInPandas(kernel, "key_a long, key_b long, jw double").distinct()


def name_match_snm_sql(threshold: float = JW_THRESHOLD, window: int = SNM_WINDOW) -> str:
    leads = ",\n         ".join(
        f"lead(p_partkey, {k}) OVER w AS k{k}, lead(p_name, {k}) OVER w AS n{k}"
        for k in range(1, window + 1)
    )
    arms = "\n    UNION ALL ".join(
        f"SELECT p_partkey AS ka, p_name AS na, k{k} AS kb, n{k} AS nb FROM leads WHERE k{k} IS NOT NULL"
        for k in range(1, window + 1)
    )
    return f"""
WITH leads AS (
  SELECT p_partkey, p_name,
         {leads}
  FROM (SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk FROM part)
  WINDOW w AS (PARTITION BY blk ORDER BY p_name, p_partkey)),
cand AS ({arms}),
scored AS (
  SELECT DISTINCT least(ka, kb) AS key_a, greatest(ka, kb) AS key_b,
         {E.round6('jaro_winkler_similarity(na, nb)')} AS jw
  FROM cand)
SELECT key_a, key_b, jw FROM scored WHERE jw > {E.NUM(threshold)}
"""


def _q_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return name_match_jw(read_table(spark, sf_dir, "part"))


_JW_SQL = f"""
WITH blocked AS (
  SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk FROM part),
scored AS (
  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
         {E.round6('jaro_winkler_similarity(a.p_name, b.p_name)')} AS jw
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.p_partkey < b.p_partkey)
SELECT key_a, key_b, jw FROM scored WHERE jw > {E.NUM(JW_THRESHOLD)}
"""


# --- weight of evidence ----------------------------------------------------
def doc_woe(docs: DataFrame, bin_w: int = WOE_BIN_W, bin_max: int = WOE_BIN_MAX) -> DataFrame:
    """Per char-length bin: smoothed WOE and IV contribution of the binary
    label lang = 'en'. woe_b = ln((pos_b / pos_tot) / (neg_b / neg_tot))
    with +0.5 Laplace smoothing on the cell counts."""
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    d = docs.withColumn(
        "bin", F.least(F.floor(F.col("n_chars") / bin_w), F.lit(bin_max)).cast("bigint")
    ).withColumn("pos", pos)
    cells = d.groupBy("bin").agg(
        F.sum("pos").alias("n_pos"),
        F.sum(1 - F.col("pos")).alias("n_neg"),
    )
    tot = d.agg(
        F.sum("pos").alias("pos_tot"), F.sum(1 - F.col("pos")).alias("neg_tot")
    )
    out = cells.crossJoin(F.broadcast(tot))
    pr = (F.col("n_pos") + 0.5) / (F.col("pos_tot") + 0.5)
    nr = (F.col("n_neg") + 0.5) / (F.col("neg_tot") + 0.5)
    woe = F.log(pr / nr)
    return out.select(
        "bin",
        "n_pos",
        "n_neg",
        woe.alias("woe"),
        ((pr - nr) * woe).alias("iv_term"),
    )


def _q_doc_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(doc_woe(read_table(spark, sf_dir, "documents")), "woe", "iv_term")


_WOE_SQL = f"""
WITH d AS (
  SELECT least(CAST(floor(n_chars / {WOE_BIN_W}) AS BIGINT), {WOE_BIN_MAX})
           AS bin,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents),
cells AS (
  SELECT bin, CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(1 - pos) AS BIGINT) AS n_neg FROM d GROUP BY bin),
tot AS (SELECT sum(pos) AS pos_tot, sum(1 - pos) AS neg_tot FROM d)
SELECT bin, n_pos, n_neg,
  {E.round6('ln(((n_pos + 5.0e-1) / (pos_tot + 5.0e-1)) '
            '/ ((n_neg + 5.0e-1) / (neg_tot + 5.0e-1)))')} AS woe,
  {E.round6('(((n_pos + 5.0e-1) / (pos_tot + 5.0e-1)) '
            '- ((n_neg + 5.0e-1) / (neg_tot + 5.0e-1))) '
            '* ln(((n_pos + 5.0e-1) / (pos_tot + 5.0e-1)) '
            '/ ((n_neg + 5.0e-1) / (neg_tot + 5.0e-1)))')} AS iv_term
FROM cells CROSS JOIN tot
"""


# --- incremental batch dedup ----------------------------------------------
def dedup_incremental(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """Dedupe a NEW batch against an existing corpus by exact text
    fingerprint, plus within-batch dedup (keep the min doc_id per
    fingerprint). Per (lang, status) counts: status in kept / dup_corpus /
    dup_within — the incremental-ingestion ledger.

    Scale: corpus reduces to its distinct fingerprint set (partial-agged);
    the membership check is an equi-join on the fingerprint; the
    within-batch min is a window partitioned by fingerprint — all hash-
    partitioned by fp, no global ops."""
    from pyspark.sql import Window

    fp = F.md5(F.col("text"))
    corpus_fp = corpus.select(fp.alias("fp")).distinct().withColumn(
        "in_corpus", F.lit(1)
    )
    b = batch.withColumn("fp", fp).join(corpus_fp, "fp", "left")
    w = Window.partitionBy("fp")
    b = b.withColumn("min_id", F.min("doc_id").over(w))
    status = (
        F.when(F.col("in_corpus") == 1, F.lit("dup_corpus"))
        .when(F.col("doc_id") != F.col("min_id"), F.lit("dup_within"))
        .otherwise(F.lit("kept"))
    )
    return b.groupBy("lang", status.alias("status")).agg(
        F.count("*").alias("n_docs")
    )


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return dedup_incremental(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
    )


_DEDUP_INC_SQL = """
WITH corpus_fp AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
b AS (
  SELECT d.doc_id, d.lang, md5(d.text) AS fp,
         min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS min_id,
         (c.fp IS NOT NULL) AS in_corpus
  FROM documents d LEFT JOIN corpus_fp c ON md5(d.text) = c.fp
  WHERE d.doc_id % 2 = 1)
SELECT lang,
       CASE WHEN in_corpus THEN 'dup_corpus'
            WHEN doc_id <> min_id THEN 'dup_within'
            ELSE 'kept' END AS status,
       count(*) AS n_docs
FROM b GROUP BY 1, 2
"""


# --- reciprocal-rank fusion -----------------------------------------------
RRF_K, RRF_NQ, RRF_TOPK = 60, 8, 5


def ann_rrf(emb: DataFrame, n_queries: int = RRF_NQ, k: int = RRF_TOPK) -> DataFrame:
    """Fuse two retrieval rankings per query — cosine similarity
    (normalized) and raw dot product (unnormalized) — with reciprocal-rank
    fusion: rrf = 1/(60 + rank_cos) + 1/(60 + rank_dot); emit the fused
    top-k. The two rankings differ exactly where corpus norms vary, which
    is what RRF is for.

    Scale: query side broadcasts (small); the two row_number windows and
    the final top-k share ONE query_id hash partitioning — a single
    shuffle of the scored pairs."""
    from pyspark.sql import Window

    from .similarity import cosine, with_norm

    v = with_norm(emb)
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_vec").alias("qv"), F.col("norm").alias("qn")
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("_vec").alias("cv"), F.col("norm").alias("cn")
    )
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn("dot", cosine("qv", "cv")).withColumn(
        "cos_sim", F.col("dot") / (F.col("qn") * F.col("cn"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    wd = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    fused = (
        scored.withColumn("r_cos", F.row_number().over(wc))
        .withColumn("r_dot", F.row_number().over(wd))
        .withColumn(
            "rrf",
            1.0 / (RRF_K + F.col("r_cos")) + 1.0 / (RRF_K + F.col("r_dot")),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "r_cos", "r_dot", "rrf", "rank")
    )


def _q_ann_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(ann_rrf(read_table(spark, sf_dir, "embeddings")), "rrf")


_RRF_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.vec, c.vec) AS dot,
         list_dot_product(q.vec, c.vec) / (q.norm * c.norm) AS cos_sim
  FROM n q JOIN n c ON q.vec_id < {RRF_NQ} AND c.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS r_cos,
         row_number() OVER (PARTITION BY query_id
             ORDER BY dot DESC, neighbor_id) AS r_dot
  FROM pairs),
fused AS (
  SELECT query_id, neighbor_id, r_cos, r_dot,
         1.0e0 / ({RRF_K} + r_cos) + 1.0e0 / ({RRF_K} + r_dot) AS rrf
  FROM ranked)
SELECT query_id, neighbor_id, r_cos, r_dot,
       {E.round6('rrf')} AS rrf, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rrf DESC, neighbor_id) AS rank FROM fused)
WHERE rank <= {RRF_TOPK}
"""


# --- gradient-boosted stumps (histogram GBM) --------------------------------
GBM_LR, GBM_ROUNDS = 0.5, 3
GBM_FEATS = ("f_hod", "f_dow", "f_user")


def gbm_stumps(ev: DataFrame, lr: float = GBM_LR, rounds: int = GBM_ROUNDS) -> DataFrame:
    """Gradient-boosted depth-1 trees on integer-binned features — the
    histogram-GBM core (Friedman 2001; the per-bin-sums trick is exactly
    LightGBM/XGBoost-hist): features are hour-of-day, day-of-week and a
    user bucket; each round aggregates residuals to (feature, bin)
    histograms — 47 rows TOTAL regardless of data size — scans the
    cumulative sums for the SSE-optimal split
        gain(c) = S_l²/n_l + S_r²/n_r   (parent term constant),
    and adds lr·(leaf mean) to the prediction. Emits the 3-row model table
    (split, leaf values, gain, training RMSE after the round).

    Scale shape: per round ONE partial-agged groupBy to the 47-row
    histogram (the stack() explode tripling rows is map-side, pre-shuffle);
    split selection is a window over those 47 rows; the chosen stump
    broadcasts back into a stateless projection. The gain argmax compares
    6dp-ROUNDED gains (tie-break: feature, bin) so engine-ulp sum drift
    cannot flip the split choice; lr = 0.5 is exact binary. Lineage is cut
    per round with a lazy localCheckpoint, so round m's scan cost does not
    compound."""
    base = ev.select(
        (F.floor(F.unix_timestamp("ts") / 3600) % 24).cast("int").alias("f_hod"),
        ((F.floor(F.unix_timestamp("ts") / 86400) + 4) % 7).cast("int").alias("f_dow"),
        (F.col("user_id") % 16).cast("int").alias("f_user"),
        F.col("value").alias("y"),
    )
    p0 = base.agg(F.avg("y").alias("p0"))
    cur = base.crossJoin(F.broadcast(p0)).withColumn("pred", F.col("p0")).drop("p0")
    wcum = Window.partitionBy("feat").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    model = None
    for rnd in range(1, rounds + 1):
        cur = cur.localCheckpoint(eager=False)
        stacked = cur.withColumn("r", F.col("y") - F.col("pred")).select(
            F.expr(
                "stack(3, 'f_dow', f_dow, 'f_hod', f_hod, 'f_user', f_user)"
                " AS (feat, bin)"
            ),
            "r",
        )
        bins = stacked.groupBy("feat", "bin").agg(
            F.count("*").alias("n"), F.sum("r").alias("s")
        )
        tot = bins.groupBy("feat").agg(F.sum("n").alias("nt"), F.sum("s").alias("st"))
        cand = (
            bins.withColumn("nl", F.sum("n").over(wcum))
            .withColumn("sl", F.sum("s").over(wcum))
            .join(F.broadcast(tot), "feat")
            .withColumn("nr", F.col("nt") - F.col("nl"))
            .withColumn("sr", F.col("st") - F.col("sl"))
            .filter((F.col("nl") > 0) & (F.col("nr") > 0))
            .withColumn(
                "gain",
                F.col("sl") * F.col("sl") / F.col("nl")
                + F.col("sr") * F.col("sr") / F.col("nr"),
            )
            .withColumn("g6", F.round(F.col("gain") + F.lit(1e-9), 6) + F.lit(0.0))
        )
        pick = (
            cand.withColumn(
                "rk",
                F.row_number().over(
                    Window.orderBy(F.desc("g6"), F.asc("feat"), F.asc("bin"))
                ),
            )
            .filter(F.col("rk") == 1)
            .select(
                F.col("feat").alias("c_feat"),
                F.col("bin").alias("c_thr"),
                (F.col("sl") / F.col("nl")).alias("lv"),
                (F.col("sr") / F.col("nr")).alias("rv"),
                F.col("g6").alias("c_gain"),
                F.col("nl").alias("c_nl"),
                F.col("nr").alias("c_nr"),
            )
        )
        fv = (
            F.when(F.col("c_feat") == "f_hod", F.col("f_hod"))
            .when(F.col("c_feat") == "f_dow", F.col("f_dow"))
            .otherwise(F.col("f_user"))
        )
        cur = (
            cur.crossJoin(F.broadcast(pick))
            .withColumn(
                "pred",
                F.col("pred")
                + lr * F.when(fv <= F.col("c_thr"), F.col("lv")).otherwise(F.col("rv")),
            )
            .drop("c_feat", "c_thr", "lv", "rv", "c_gain", "c_nl", "c_nr")
        )
        rmse = cur.agg(
            F.sqrt(F.avg((F.col("y") - F.col("pred")) * (F.col("y") - F.col("pred")))).alias(
                "rmse_after"
            )
        )
        row = pick.crossJoin(F.broadcast(rmse)).select(
            F.lit(rnd).alias("round"),
            F.col("c_feat").alias("feature"),
            F.col("c_thr").cast("bigint").alias("threshold"),
            F.col("c_gain").alias("gain"),
            F.col("lv").alias("left_val"),
            F.col("rv").alias("right_val"),
            F.col("c_nl").alias("n_left"),
            F.col("c_nr").alias("n_right"),
            "rmse_after",
        )
        model = row if model is None else model.unionByName(row)
    return model


def _q_gbm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(
        gbm_stumps(read_table(spark, sf_dir, "events")),
        "gain", "left_val", "right_val", "rmse_after",
    )


def _gbm_sql(lr: float = GBM_LR, rounds: int = GBM_ROUNDS) -> str:
    LR = E.NUM(lr)
    parts = ["""
WITH base AS MATERIALIZED (
  SELECT CAST(CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) % 24 AS INT) AS f_hod,
         CAST((CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) + 4) % 7 AS INT) AS f_dow,
         CAST(user_id % 16 AS INT) AS f_user,
         value AS y
  FROM events),
p0 AS (SELECT avg(y) AS p0 FROM base),
pred1 AS MATERIALIZED (SELECT base.*, p0.p0 AS pred FROM base CROSS JOIN p0)"""]
    for m in range(1, rounds + 1):
        parts.append(f""",
st{m} AS (
  SELECT feat, bin, y - pred AS r FROM (
    SELECT 'f_dow' AS feat, f_dow AS bin, y, pred FROM pred{m}
    UNION ALL SELECT 'f_hod', f_hod, y, pred FROM pred{m}
    UNION ALL SELECT 'f_user', f_user, y, pred FROM pred{m})),
bins{m} AS (
  SELECT feat, bin, count(*) AS n, sum(r) AS s FROM st{m} GROUP BY feat, bin),
cand{m} AS (
  SELECT feat, bin, nl, sl, nt - nl AS nr, st - sl AS sr,
         (round((sl * sl / nl + (st - sl) * (st - sl) / (nt - nl)) + 1.0e-9,6)+0.0e0) AS g6
  FROM (
    SELECT feat, bin,
           sum(n) OVER w AS nl, sum(s) OVER w AS sl,
           sum(n) OVER (PARTITION BY feat) AS nt,
           sum(s) OVER (PARTITION BY feat) AS st
    FROM bins{m}
    WINDOW w AS (PARTITION BY feat ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
  WHERE nl > 0 AND nt - nl > 0),
pick{m} AS MATERIALIZED (
  SELECT feat AS c_feat, bin AS c_thr, sl / nl AS lv, sr / nr AS rv,
         g6 AS c_gain, nl AS c_nl, nr AS c_nr
  FROM (SELECT *, row_number() OVER (ORDER BY g6 DESC, feat, bin) AS rk
        FROM cand{m}) WHERE rk = 1),
pred{m + 1} AS MATERIALIZED (
  SELECT p.f_hod, p.f_dow, p.f_user, p.y,
         p.pred + {LR} * CASE WHEN (CASE WHEN k.c_feat = 'f_hod' THEN p.f_hod
                                         WHEN k.c_feat = 'f_dow' THEN p.f_dow
                                         ELSE p.f_user END) <= k.c_thr
                               THEN k.lv ELSE k.rv END AS pred
  FROM pred{m} p CROSS JOIN pick{m} k),
rmse{m} AS (SELECT sqrt(avg((y - pred) * (y - pred))) AS rmse_after FROM pred{m + 1})""")
    emits = "\nUNION ALL\n".join(
        f"""SELECT {m} AS round, c_feat AS feature, CAST(c_thr AS BIGINT) AS threshold,
       (round((c_gain) + 1.0e-9,6)+0.0e0) AS gain,
       (round((lv) + 1.0e-9,6)+0.0e0) AS left_val,
       (round((rv) + 1.0e-9,6)+0.0e0) AS right_val,
       CAST(c_nl AS BIGINT) AS n_left, CAST(c_nr AS BIGINT) AS n_right,
       (round((rmse_after) + 1.0e-9,6)+0.0e0) AS rmse_after
FROM pick{m} CROSS JOIN rmse{m}"""
        for m in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + emits


# --- cross-split near-dup leakage ------------------------------------------
def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: near-duplicate pairs (n-gram jaccard,
    same generator as dedup_clusters) that STRADDLE split boundaries — the
    leak exact dedup can't see because the texts differ slightly. A doc in
    `test` whose near-twin sits in `train` inflates eval scores; this is the
    per-split-pair leak report (n pairs, worst and mean similarity). The
    split is a pure projection of doc_id, so tagging both pair ends costs
    zero joins on top of the pair generator."""
    from . import dedup
    from .queries_pipeline import CLUSTER_THR

    pairs = round6(
        dedup.jaccard_pairs(
            read_table(spark, sf_dir, "documents"), ["lang"], threshold=CLUSTER_THR
        ),
        "jaccard",
    )
    tagged = pairs.select(
        F.expr(_split_expr("doc_a")).alias("sa"),
        F.expr(_split_expr("doc_b")).alias("sb"),
        "jaccard",
    ).filter(F.col("sa") != F.col("sb"))
    out = (
        tagged.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "jaccard",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_leaky_pairs"),
            F.max("jaccard").alias("max_jaccard"),
            F.avg("jaccard").alias("avg_jaccard"),
        )
    )
    return round6(out, "max_jaccard", "avg_jaccard")


def _split_leakage_sql() -> str:
    from . import dedup
    from .queries_pipeline import CLUSTER_THR

    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    return f"""
WITH jp AS ({jp}),
tagged AS (
  SELECT {_split_expr('doc_a')} AS sa, {_split_expr('doc_b')} AS sb, jaccard
  FROM jp)
SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
       count(*) AS n_leaky_pairs,
       {E.round6('max(jaccard)')} AS max_jaccard,
       {E.round6('avg(jaccard)')} AS avg_jaccard
FROM tagged WHERE sa <> sb
GROUP BY least(sa, sb), greatest(sa, sb)
"""


_REGISTRY.update(
    {
        "split_assign": Query("split_assign", _q_split_assign, _SPLIT_SQL, ("pipeline",)),
        "split_leakage": Query(
            "split_leakage", _q_split_leakage, _split_leakage_sql(), ("pipeline",)
        ),
        "ev_gbm_stumps": Query(
            "ev_gbm_stumps", _q_gbm, _gbm_sql(), ("pipeline",)
        ),
        "name_match_jw": Query("name_match_jw", _q_name_match, _JW_SQL, ("pipeline",)),
        "name_match_snm": Query(
            "name_match_snm",
            lambda spark, sf_dir: name_match_snm(read_table(spark, sf_dir, "part")),
            name_match_snm_sql(),
            ("pipeline", "entity"),
        ),
        "doc_woe": Query("doc_woe", _q_doc_woe, _WOE_SQL, ("pipeline",)),
        "dedup_incremental": Query(
            "dedup_incremental", _q_dedup_incremental, _DEDUP_INC_SQL, ("pipeline",)
        ),
        "ann_rrf": Query("ann_rrf", _q_ann_rrf, _RRF_SQL, ("pipeline",)),
    }
)


# --- entity resolution: fuzzy pairs -> clusters -> golden record --------------
def _q_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over parts: Jaro-Winkler match pairs
    (first-token blocking) -> transitive closure via connected components
    -> one golden record per entity (canonical = min key, the survivorship
    rule) with the cluster size. The step real MDM pipelines run AFTER
    pairwise matching: pairs alone double-count entities that match
    transitively (a~b, b~c but a!~c).

    Scale shape: reuses the blocked JW pair generator (bounded candidates)
    and the hybrid min-label-propagation components (per-round
    localCheckpoint); the golden-record pick is one window per cluster."""
    from pyspark.sql import Window

    from . import dedup

    pairs = name_match_snm(read_table(spark, sf_dir, "part")).select(
        F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b")
    )
    lab = dedup.connected_components(pairs)
    w = Window.partitionBy("entity_id")
    return (
        lab.select(
            F.col("node").alias("p_partkey"), F.col("label").alias("entity_id")
        )
        .withColumn("cluster_size", F.count("*").over(w))
        .withColumn("is_golden", F.col("p_partkey") == F.col("entity_id"))
    )


def _entity_clusters_sql() -> str:
    return f"""
WITH RECURSIVE jw AS ({name_match_snm_sql().strip()}),
edges AS (SELECT key_a AS u, key_b AS v FROM jw
          UNION ALL SELECT key_b, key_a FROM jw),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
lab AS (SELECT node AS p_partkey, min(r) AS entity_id FROM reach GROUP BY node)
SELECT p_partkey, entity_id,
       count(*) OVER (PARTITION BY entity_id) AS cluster_size,
       p_partkey = entity_id AS is_golden
FROM lab
"""


_REGISTRY.update(
    {
        "part_entity_clusters": Query(
            "part_entity_clusters",
            _q_entity_clusters,
            _entity_clusters_sql(),
            ("pipeline", "entity"),
        ),
    }
)
