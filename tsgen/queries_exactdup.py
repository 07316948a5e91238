"""Exact substring deduplication (suffix-array-style, Lee et al. 2022).

"Deduplicating Training Data Makes Language Models Better" (Lee, Ippolito
et al., ACL 2022) removes every substring of length >= L that occurs more
than once in the corpus, using a suffix array over the concatenation. The
shuffle-friendly equivalent of the suffix-array scan is stride-1 L-gram
seeding: a substring duplicated at length >= L contains (at every
alignment) an L-gram that occurs >= 2 times corpus-wide, so

    1. explode each doc into its stride-1 character L-grams (doc_id, off,
       lgram) — O(total chars) rows, the same asymptotic cost as building
       the suffix array, but embarrassingly parallel;
    2. keep offsets whose L-gram repeats (count >= 2 over a window keyed
       on the L-gram — ONE shuffle of the gram table; a groupBy + semi-join
       back would shuffle it twice);
    3. merge surviving offsets into maximal duplicated spans per doc with
       a gaps-and-islands pass (keyed window on doc_id, never global);
    4. report per-doc span count / duplicated chars / duplicated fraction.

Scale note (100 TB): step 2 shuffles the L-gram *strings* (L bytes per
row) so the DuckDB oracle can replay it bit-for-bit. On a real cluster
swap the window key for xxhash64(lgram) — 8-byte shuffle keys, collision
odds ~2^-64 per pair — exactly the hash-seeding variant of Lee et al. §4.
Reference behavior anchor: reference/models has no dedup (it is a
generator training script); this family extends SURVEY §2 K1/K2 with the
one classic dedup mode the repo lacked (VERDICT r04 item 7).
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .queries import _REGISTRY, Query
from .io import read_table

SUBSTR_L = 40  # minimum duplicated-substring length, chars (Lee et al. use 50 BPE tokens)


def substring_dup_spans(
    docs: DataFrame, min_len: int = SUBSTR_L, text: str = "text", hash_key: bool = False
) -> DataFrame:
    """Maximal duplicated substrings of length >= min_len, summarized per
    doc; → (doc_id, n_dup_spans, dup_chars, dup_frac).

    hash_key=True keys the repeat-count window on xxhash64(lgram) instead
    of the L-char string — 8-byte shuffle keys, the cluster-scale plan
    (Lee et al. §4 hash seeding). Results are identical absent a 64-bit
    collision (~2^-64 per pair), so the string-keyed DuckDB oracle checks
    this variant too — the collision-freeness IS the assertion."""
    L = min_len
    g = _lgrams(docs, L, text)
    if hash_key:
        # project the 8-byte key BEFORE the window exchange: otherwise the
        # L-char lgram string rides through the shuffle just to be hashed
        # into the partition key (opt guide §2.3 — shuffle ~24 B/row
        # instead of ~(L+16) B/row); count semantics identical
        g = g.select("doc_id", "off", F.xxhash64("lgram").alias("k"))
        count_key = F.col("k")
    else:
        count_key = F.col("lgram")
    dup = (
        g.withColumn("c", F.count("*").over(Window.partitionBy(count_key)))
        .filter(F.col("c") >= 2)
        .select("doc_id", "off")
    )
    per_doc = _merge_spans(dup, L)
    return (
        per_doc.join(docs.select("doc_id", F.length(text).alias("n")), "doc_id")
        .select(
            "doc_id",
            "n_dup_spans",
            F.col("dup_chars").cast("bigint").alias("dup_chars"),
            (F.round(F.col("dup_chars") / F.col("n") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "dup_frac"
            ),
        )
        .orderBy("doc_id")
    )


def _lgrams(docs: DataFrame, L: int, text: str = "text") -> DataFrame:
    """Stride-1 character L-grams; → (doc_id, off, lgram), off 1-based."""
    return (
        docs.filter(F.length(text) >= L)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length({text}) - {L} + 1),"
                    f" o -> substring({text}, o, {L}))"
                )
            ).alias("pos", "lgram"),
        )
        .select("doc_id", (F.col("pos") + 1).alias("off"), "lgram")
    )


def _merge_spans(hits: DataFrame, L: int) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, off) L-gram hits into maximal
    spans; → (doc_id, n_dup_spans, dup_chars). A new span starts when this
    L-gram's window [off, off+L) does not touch the furthest end seen."""
    wd = Window.partitionBy("doc_id").orderBy("off")
    hits = (
        hits.withColumn(
            "pe",
            F.max(F.col("off") + F.lit(L)).over(wd.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "nf", F.when(F.col("pe").isNull() | (F.col("off") > F.col("pe")), 1).otherwise(0)
        )
        .withColumn("isl", F.sum("nf").over(wd.rowsBetween(Window.unboundedPreceding, 0)))
    )
    spans = hits.groupBy("doc_id", "isl").agg(
        F.min("off").alias("s"), (F.max("off") + F.lit(L)).alias("e")
    )
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_chars"),
    )


def substring_cut_keepfirst(
    docs: DataFrame, min_len: int = SUBSTR_L, text: str = "text",
    hash_key: bool = True,
) -> DataFrame:
    """The DELETION policy of Lee et al. 2022 §4.1 ("leave one intact"):
    every occurrence of a duplicated substring is removed EXCEPT the
    corpus-global leftmost one — the deterministic (doc_id, off) minimum
    per L-gram. substring_dup_spans (above) is the detector (marks every
    doc carrying a dup, including the copy you keep); this op computes
    what a dedup pass would actually cut, and the per-doc survival
    fraction that feeds token-count accounting before training.

    Shape: same stride-1 L-gram table; the keep-first rule is ONE
    row_number window keyed on the L-gram (the same single shuffle as the
    detector's count window — rank instead of count), then the identical
    per-doc gaps-and-islands merge. Cluster scale: key the window on
    xxhash64(lgram) exactly as substring_dup_spans(hash_key=True).
    -> (doc_id, n_cut_spans, cut_chars, keep_frac)."""
    L = min_len
    g = _lgrams(docs, L, text)
    # key the rank window on xxhash64(lgram), projected BEFORE the exchange
    # (the docstring's declared cluster-scale plan, now actually wired):
    # 8-byte shuffle keys instead of the L-char string, results identical
    # absent a 64-bit collision — the dedup_substr_hash adjudication; the
    # string-keyed DuckDB oracle still checks the output (opt guide §2.3).
    # At the declared 100 TB scale (~1e12 distinct L-grams) the birthday
    # expectation is ~(1e12)^2/2^65 ≈ 3e4 colliding pairs corpus-wide; a
    # collision here cuts a span that plain string keys would keep.
    # hash_key=False keeps the exact string-keyed window selectable for
    # audits (ADVICE r13), mirroring substring_dup_spans' flag.
    wl = Window.partitionBy("k").orderBy("doc_id", "off")
    cut = (
        g.select(
            "doc_id",
            "off",
            (F.xxhash64("lgram") if hash_key else F.col("lgram")).alias("k"),
        )
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "off")
    )
    per_doc = _merge_spans(cut, L)
    return (
        per_doc.join(docs.select("doc_id", F.length(text).alias("n")), "doc_id")
        .select(
            "doc_id",
            F.col("n_dup_spans").alias("n_cut_spans"),
            F.col("dup_chars").cast("bigint").alias("cut_chars"),
            (
                F.round(
                    F.lit(1.0) - F.col("dup_chars") / F.col("n") + F.lit(1e-9), 6
                )
                + F.lit(0.0)
            ).alias("keep_frac"),
        )
        .orderBy("doc_id")
    )


def substring_cut_keepfirst_sql(min_len: int = SUBSTR_L) -> str:
    L = min_len
    return f"""
WITH g AS MATERIALIZED (
  SELECT doc_id, o AS off, substr(text, o, {L}) AS lgram
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - {L} + 2)) AS o
        FROM documents WHERE length(text) >= {L})),
cut AS (
  SELECT doc_id, off FROM (
    SELECT doc_id, off,
           row_number() OVER (PARTITION BY lgram ORDER BY doc_id, off) AS rn
    FROM g)
  WHERE rn >= 2),
isl AS (
  SELECT doc_id, off,
         sum(CASE WHEN pe IS NULL OR off > pe THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY off
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM (SELECT doc_id, off,
               max(off + {L}) OVER (PARTITION BY doc_id ORDER BY off
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM cut)),
spans AS (
  SELECT doc_id, isl, min(off) AS s, max(off) + {L} AS e
  FROM isl GROUP BY doc_id, isl),
per_doc AS (
  SELECT doc_id, count(*) AS n_cut_spans, sum(e - s) AS cut_chars
  FROM spans GROUP BY doc_id)
SELECT p.doc_id, CAST(p.n_cut_spans AS BIGINT) AS n_cut_spans,
       CAST(p.cut_chars AS BIGINT) AS cut_chars,
       (round(1.0e0 - CAST(p.cut_chars AS DOUBLE) / length(d.text)
              + 1.0e-9, 6) + 0.0e0) AS keep_frac
FROM per_doc p JOIN documents d USING (doc_id)
ORDER BY doc_id
"""


def _q_dedup_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_spans(read_table(spark, sf_dir, "documents", fanout=True))


def _q_dedup_substr_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_cut_keepfirst(read_table(spark, sf_dir, "documents", fanout=True))


def _q_dedup_substr_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_spans(
        read_table(spark, sf_dir, "documents", fanout=True), hash_key=True
    )


def substring_dup_sql(min_len: int = SUBSTR_L) -> str:
    L = min_len
    return f"""
WITH g AS MATERIALIZED (
  SELECT doc_id, o AS off, substr(text, o, {L}) AS lgram
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - {L} + 2)) AS o
        FROM documents WHERE length(text) >= {L})),
dup AS (
  SELECT doc_id, off FROM (
    SELECT doc_id, off, count(*) OVER (PARTITION BY lgram) AS c FROM g)
  WHERE c >= 2),
isl AS (
  SELECT doc_id, off,
         sum(CASE WHEN pe IS NULL OR off > pe THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY off
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM (SELECT doc_id, off,
               max(off + {L}) OVER (PARTITION BY doc_id ORDER BY off
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM dup)),
spans AS (
  SELECT doc_id, isl, min(off) AS s, max(off) + {L} AS e
  FROM isl GROUP BY doc_id, isl),
per_doc AS (
  SELECT doc_id, count(*) AS n_dup_spans, sum(e - s) AS dup_chars
  FROM spans GROUP BY doc_id)
SELECT p.doc_id, CAST(p.n_dup_spans AS BIGINT) AS n_dup_spans,
       CAST(p.dup_chars AS BIGINT) AS dup_chars,
       (round(CAST(p.dup_chars AS DOUBLE) / length(d.text) + 1.0e-9, 6) + 0.0e0) AS dup_frac
FROM per_doc p JOIN documents d USING (doc_id)
ORDER BY doc_id
"""


CROSS_SALT, CROSS_TRAIN_P = 70913, 0.8


def substring_contamination(
    docs: DataFrame,
    min_len: int = SUBSTR_L,
    text: str = "text",
    train_p: float = CROSS_TRAIN_P,
    hash_key: bool = True,
) -> DataFrame:
    """Cross-split substring decontamination audit (the Lee et al. 2022 /
    GPT-3 appendix-C use case): after a deterministic train/eval hash
    split, find eval docs whose text contains a >= min_len character
    substring that ALSO appears in some train doc — exactly the leakage
    that inflates benchmark numbers. Same stride-1 L-gram seeding as
    dedup_substr, but the repeat test is a semi-join of eval grams against
    the DISTINCT train gram set instead of a corpus-wide window; spans
    merge per eval doc with the shared gaps-and-islands pass.
    → (doc_id, n_contam_spans, contam_chars, contam_frac) for
    contaminated eval docs."""
    from . import expr as E

    L = min_len
    is_train = F.expr(E.u01("doc_id", CROSS_SALT)) < F.lit(train_p)
    train = docs.filter(is_train)
    ev = docs.filter(~is_train)
    # semi-join on xxhash64(lgram) instead of the L-char string: 8-byte
    # shuffle keys on both sides of the distinct + join (opt guide §2.3),
    # the same adjudicated move as substring_dup_spans(hash_key=True) —
    # results identical absent a 64-bit collision (~2^-64 per pair; at the
    # declared 100 TB scale ~1e12 L-grams give a birthday expectation of
    # ~3e4 colliding pairs corpus-wide, each a potential false contam
    # span), and the string-keyed DuckDB oracle still checks the output,
    # so the collision-freeness IS the assertion. hash_key=False keeps the
    # exact string-keyed semi-join selectable for audits (ADVICE r13).
    key = (lambda: F.xxhash64("lgram")) if hash_key else (lambda: F.col("lgram"))
    tg = _lgrams(train, L, text).select(key().alias("k")).distinct()
    hits = (
        _lgrams(ev, L, text)
        .select("doc_id", "off", key().alias("k"))
        .join(tg, "k")
        .select("doc_id", "off")
    )
    per_doc = _merge_spans(hits, L)
    return (
        per_doc.join(ev.select("doc_id", F.length(text).alias("n")), "doc_id")
        .select(
            "doc_id",
            F.col("n_dup_spans").alias("n_contam_spans"),
            F.col("dup_chars").cast("bigint").alias("contam_chars"),
            (F.round(F.col("dup_chars") / F.col("n") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "contam_frac"
            ),
        )
        .orderBy("doc_id")
    )


def _q_dedup_substr_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_contamination(read_table(spark, sf_dir, "documents", fanout=True))


def substring_contamination_sql(
    min_len: int = SUBSTR_L, train_p: float = CROSS_TRAIN_P
) -> str:
    from . import expr as E

    L = min_len
    u = E.u01("doc_id", CROSS_SALT)
    return f"""
WITH split AS MATERIALIZED (
  SELECT doc_id, text, ({u} < {E.NUM(train_p)}) AS is_train FROM documents),
tg AS MATERIALIZED (
  SELECT DISTINCT substr(text, o, {L}) AS lgram
  FROM (SELECT text, unnest(range(1, length(text) - {L} + 2)) AS o
        FROM split WHERE is_train AND length(text) >= {L})),
eg AS (
  SELECT doc_id, o AS off, substr(text, o, {L}) AS lgram
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - {L} + 2)) AS o
        FROM split WHERE NOT is_train AND length(text) >= {L})),
hits AS (SELECT eg.doc_id, eg.off FROM eg JOIN tg USING (lgram)),
isl AS (
  SELECT doc_id, off,
         sum(CASE WHEN pe IS NULL OR off > pe THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY off
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM (SELECT doc_id, off,
               max(off + {L}) OVER (PARTITION BY doc_id ORDER BY off
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM hits)),
spans AS (
  SELECT doc_id, isl, min(off) AS s, max(off) + {L} AS e
  FROM isl GROUP BY doc_id, isl),
per_doc AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s) AS contam_chars
  FROM spans GROUP BY doc_id)
SELECT p.doc_id, CAST(p.n_spans AS BIGINT) AS n_contam_spans,
       CAST(p.contam_chars AS BIGINT) AS contam_chars,
       (round(CAST(p.contam_chars AS DOUBLE) / length(s.text) + 1.0e-9, 6) + 0.0e0)
         AS contam_frac
FROM per_doc p JOIN split s USING (doc_id)
ORDER BY p.doc_id
"""


_REGISTRY.update(
    {
        "dedup_substr": Query(
            "dedup_substr", _q_dedup_substr, substring_dup_sql(), ("dedup",)
        ),
        "dedup_substr_cross": Query(
            "dedup_substr_cross",
            _q_dedup_substr_cross,
            substring_contamination_sql(),
            ("dedup", "mlprep"),
        ),
        # same oracle on purpose: the hash-keyed plan must reproduce the
        # string-keyed result exactly (collision-freeness is the assertion)
        "dedup_substr_hash": Query(
            "dedup_substr_hash", _q_dedup_substr_hash, substring_dup_sql(), ("dedup",)
        ),
        "dedup_substr_keepfirst": Query(
            "dedup_substr_keepfirst",
            _q_dedup_substr_keepfirst,
            substring_cut_keepfirst_sql(),
            ("dedup",),
        ),
    }
)


# --- Heaps' law vocabulary-growth fit ----------------------------------------
HEAPS_GRID = 10


def heaps_law(docs: DataFrame, text: str = "text", n_grid: int = HEAPS_GRID) -> DataFrame:
    """Heaps'/Herdan's law fit: vocabulary size grows as V(n) ≈ K·n^beta
    (beta ≈ 0.4-0.6 for natural language) over the first n tokens of the
    corpus in doc_id order. The classic corpus-health diagnostic — a beta
    near 1 means unbounded vocabulary churn (garbled text), near 0 means a
    closed vocabulary (template spam); pairs with doc_zipf.

    Distributed shape: global token positions come from cumsum_exact over
    per-doc token counts (two-phase, no single-reducer sort) + the
    in-doc offset; each distinct token keeps its FIRST global position
    (one keyed agg); V(n) at the n_grid sample points is a broadcast-grid
    join (V(n) = #tokens with first_pos <= n); the log-log fit is
    closed-form least squares over n_grid rows.
    → one row (n_tokens, vocab, beta, log10_k)."""
    from .queries_scale import cumsum_exact

    # Renumber tokens AFTER the empty filter (keyed per-doc window) so gpos
    # is dense: raw posexplode indices leave gaps at empty split slots
    # (consecutive/leading spaces) that would overflow into the next doc's
    # offset range, while the oracle row_number()s the non-empty tokens.
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col(text), " ")).alias("pos0", "token"),
        )
        .filter(F.length("token") > 0)
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("pos0")),
        )
        .select("doc_id", "pos", "token")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("ntok"))
    cum = cumsum_exact(per_doc, "ntok", [F.col("doc_id").asc()], "cum_ntok")
    offs = cum.select("doc_id", (F.col("cum_ntok") - F.col("ntok")).alias("off"))
    pos = toks.join(offs, "doc_id").select(
        "token", (F.col("off") + F.col("pos")).alias("gpos")
    )
    firsts = pos.groupBy("token").agg(F.min("gpos").alias("first_pos"))
    tot = per_doc.agg(F.sum("ntok").alias("n_total"))
    spark = docs.sparkSession
    n_total = tot.collect()[0]["n_total"]
    # half-away-from-zero rounding to match DuckDB round(); Python round()
    # is banker's and diverges when n_total*(i+1)/n_grid lands on .5
    grid = spark.createDataFrame(
        [
            (int(math.floor(n_total * (i + 1) / n_grid + 0.5)),)
            for i in range(n_grid)
        ],
        "n bigint",
    )
    v = (
        firsts.crossJoin(F.broadcast(grid))
        .filter(F.col("first_pos") <= F.col("n"))
        .groupBy("n")
        .agg(F.count("*").alias("v"))
        .select(
            F.log10(F.col("n").cast("double")).alias("x"),
            F.log10(F.col("v").cast("double")).alias("y"),
        )
    )
    fit = v.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = fit.withColumn("beta", beta).withColumn(
        "log10_k", (F.col("sy") - F.col("beta") * F.col("sx")) / F.col("k")
    )
    vocab = firsts.agg(F.count("*").alias("vocab"))
    return (
        fit.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("n_total").cast("bigint").alias("n_tokens"),
            F.col("vocab").cast("bigint").alias("vocab"),
            (F.round(F.col("beta") + F.lit(1e-9), 6) + F.lit(0.0)).alias("beta"),
            (F.round(F.col("log10_k") + F.lit(1e-9), 6) + F.lit(0.0)).alias("log10_k"),
        )
    )


def _q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain read: heaps_law is a global-order vocabulary-growth window,
    # fan-out measured slower (no narrow per-row heavy phase)
    return heaps_law(read_table(spark, sf_dir, "documents"))


def heaps_law_sql(n_grid: int = HEAPS_GRID) -> str:
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, o AS pos, t.tok[o] AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM documents) t,
       unnest(range(1, len(t.tok) + 1)) r(o)
  ),
tk AS MATERIALIZED (SELECT doc_id, pos, token FROM toks WHERE token <> ''),
per_doc AS (
  SELECT doc_id, count(*) AS ntok,
         row_number() OVER (ORDER BY doc_id) AS rn
  FROM tk GROUP BY doc_id),
offs AS (
  SELECT doc_id,
         sum(ntok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) - ntok AS off
  FROM per_doc),
pos AS (
  SELECT tk.token,
         o.off + row_number() OVER (PARTITION BY tk.doc_id ORDER BY tk.pos) AS gpos
  FROM tk JOIN offs o USING (doc_id)),
firsts AS MATERIALIZED (SELECT token, min(gpos) AS first_pos FROM pos GROUP BY token),
tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS n_total FROM per_doc),
grid AS (
  SELECT CAST(round(t.n_total * g.i / {n_grid}.0e0) AS BIGINT) AS n
  FROM tot t, (SELECT unnest(range(1, {n_grid} + 1)) AS i) g),
v AS (
  SELECT log10(CAST(g.n AS DOUBLE)) AS x, log10(CAST(count(*) AS DOUBLE)) AS y
  FROM firsts f JOIN grid g ON f.first_pos <= g.n
  GROUP BY g.n),
fit AS (
  SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM v),
co AS (
  SELECT (k * sxy - sx * sy) / (k * sxx - sx * sx) AS beta,
         (sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k AS log10_k
  FROM fit)
SELECT t.n_total AS n_tokens,
       (SELECT CAST(count(*) AS BIGINT) FROM firsts) AS vocab,
       (round(co.beta + 1.0e-9, 6) + 0.0e0) AS beta,
       (round(co.log10_k + 1.0e-9, 6) + 0.0e0) AS log10_k
FROM co CROSS JOIN tot t
"""


_REGISTRY.update(
    {
        "doc_heaps_law": Query(
            "doc_heaps_law", _q_heaps_law, heaps_law_sql(), ("text", "quality")
        ),
    }
)
