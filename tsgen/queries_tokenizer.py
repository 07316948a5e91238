"""Tokenizer training and lexical retrieval over the documents table.

bpe_train: iterative byte-pair-encoding vocabulary learning (Sennrich,
Haddow & Birch, ACL 2016 §3.2) — the tokenizer-training step of an LLM
data pipeline. Uses the word-frequency-table optimization every real BPE
trainer uses: the corpus is reduced ONCE to (word, freq) — the only
corpus-sized shuffle — and all merge iterations run over that
vocabulary-sized table. Each iteration counts adjacent symbol pairs
weighted by word frequency, picks the argmax pair (ties by pair text so
both engines agree), and applies the merge with a single string replace
over a self-delimited symbol encoding: every symbol is wrapped as
\\x01sym\\x02, so the pattern \\x01a\\x02\\x01b\\x02 shares no characters
with an adjacent occurrence and plain leftmost non-overlapping replace()
(identical semantics in Spark and DuckDB) IS token-space greedy BPE merge
application — no regex lookarounds (RE2 lacks them), no per-row UDF.

doc_bm25: Okapi BM25 top-k retrieval (Robertson & Zaragoza, FnTIR 2009,
eq. 3.15) for a fixed query set — the lexical-retrieval baseline every
RAG / hard-negative-mining pipeline needs next to the embedding ANN ops
in tsgen.similarity. Scale shape: tf is one doc-keyed aggregation, df is
computed only for query terms (semi-join pushdown before the agg),
queries/stats/df are broadcast, and the per-query top-k is TWO-PHASE —
a window partitioned by (qid, input partition) takes local top-k in
parallel, then the global window per qid ranks only k·P survivors, so no
query ever funnels the full corpus through one reducer.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .io import read_table
from .queries import _REGISTRY, Query

BPE_ITERS = 8
_SA = "\x01"  # symbol open marker
_SB = "\x02"  # symbol close marker
_EOW = "</w>"

BM25_K = 5
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "spark join"),
    (2, "window merge sort"),
    (3, "customer data stream"),
    (4, "hash group agg"),
)


def bpe_train(docs: DataFrame, iters: int = BPE_ITERS, text: str = "text") -> DataFrame:
    """Learn `iters` BPE merges; → (iteration, pair, merged, n).

    Driver state is bounded: one (pair, count) row collected per
    iteration (the argmax — same shape as the diffusion schedule
    lookups), and the merge table itself (≤ iters rows). Per-iteration
    lineage is pinned with localCheckpoint so the plan stays flat.
    """
    spark = docs.sparkSession
    # ADVICE r04: the self-delimited encoding REQUIRES that no word contains
    # the marker bytes \x01/\x02 or a literal '</w>' — a violating word would
    # corrupt symbol boundaries under merge replace. Enforce the precondition
    # identically in both engines by dropping such words (none exist in the
    # test corpora; real corpora shed a vanishing tail of control-byte junk).
    words = (
        docs.select(F.explode(F.split(F.col(text), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .filter(
            ~F.col("word").contains(_SA)
            & ~F.col("word").contains(_SB)
            & ~F.col("word").contains(_EOW)
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # initial symbols: characters + an end-of-word marker, self-delimited
    seqs = words.select(
        F.concat(
            F.lit(_SA),
            F.array_join(
                F.concat(
                    F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
                    F.array(F.lit(_EOW)),
                ),
                _SB + _SA,
            ),
            F.lit(_SB),
        ).alias("s"),
        "freq",
    ).localCheckpoint(eager=False)

    pair_expr = (
        "CASE WHEN size(tk) >= 2 THEN "
        "transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1])) "
        "ELSE array() END"
    )
    merges: list[tuple[int, str, str, int]] = []
    for it in range(1, iters + 1):
        cnt = (
            seqs.withColumn(
                "tk", F.split(F.expr("substring(s, 2, length(s) - 2)"), _SB + _SA)
            )
            .select("freq", F.explode(F.expr(pair_expr)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
        )
        best = cnt.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1).collect()
        if not best:
            break
        pair, n = best[0]["pair"], int(best[0]["n"])
        a, b = pair.split(" ")
        merges.append((it, pair, a + b, n))
        seqs = seqs.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(_SA + a + _SB + _SA + b + _SB),
                F.lit(_SA + a + b + _SB),
            ),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "iteration bigint, pair string, merged string, n bigint"
    ).orderBy("iteration")


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train(read_table(spark, sf_dir, "documents"))


def _bpe_ctes(iters: int = BPE_ITERS) -> str:
    """CTE prefix shared by _bpe_sql and _bpe_encode_sql: w0/s0 plus one
    tk/c/b/s quadruple per merge iteration, WITHOUT a final SELECT — the
    callers append their own, so there is no textual splicing."""
    sa, sb = "chr(1)", "chr(2)"
    sep = f"{sb} || {sa}"
    parts = [
        f"""
WITH w0 AS MATERIALIZED (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' AND NOT contains(word, chr(1))
        AND NOT contains(word, chr(2)) AND NOT contains(word, '{_EOW}')
  GROUP BY word),
s0 AS MATERIALIZED (
  SELECT {sa} || array_to_string(
           list_transform(range(1, length(word) + 1), i -> substr(word, i, 1))
             || ['{_EOW}'],
           {sep}) || {sb} AS s, freq
  FROM w0)"""
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f""",
tk{t} AS (SELECT string_split(substr(s, 2, length(s) - 2), {sep}) AS tk, freq
          FROM s{p}),
c{t} AS MATERIALIZED (
  SELECT pair, sum(freq) AS n
  FROM (SELECT unnest(list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i + 1])) AS pair,
               freq
        FROM tk{t})
  GROUP BY pair),
b{t} AS MATERIALIZED (
  SELECT pair, replace(pair, ' ', '') AS merged, n,
         split_part(pair, ' ', 1) AS pa, split_part(pair, ' ', 2) AS pb
  FROM c{t} ORDER BY n DESC, pair LIMIT 1),
s{t} AS MATERIALIZED (
  SELECT replace(s.s, {sa} || b.pa || {sb} || {sa} || b.pb || {sb},
                 {sa} || b.merged || {sb}) AS s, s.freq
  FROM s{p} s CROSS JOIN b{t} b)""")
    return "".join(parts)


def _bpe_sql(iters: int = BPE_ITERS) -> str:
    union = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS iteration, pair, merged, CAST(n AS BIGINT) AS n FROM b{t}"
        for t in range(1, iters + 1)
    )
    return f"{_bpe_ctes(iters)}\n{union}\nORDER BY iteration"


def bpe_encode(docs: DataFrame, iters: int = BPE_ITERS, text: str = "text") -> DataFrame:
    """Tokenize the corpus with the merges bpe_train learns on it and report
    per-doc token statistics — the encode half of the tokenizer lifecycle
    (train → encode → tokens/doc), and the number an LLM data pipeline
    actually bills by. → (doc_id, n_words, n_tokens, chars_per_token).

    Scale shape: merges are learned once (bounded driver state, ≤ iters
    rows) and applied to the DISTINCT-word table — vocabulary-sized work —
    then token counts flow back to docs through one word-keyed join; the
    corpus-sized stages are only the word explode and the per-doc sum.
    Words carrying the marker bytes are dropped exactly as in training."""
    spark = docs.sparkSession
    merges = bpe_train(docs, iters=iters, text=text).collect()
    wc = (
        docs.select("doc_id", F.explode(F.split(F.col(text), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .filter(
            ~F.col("word").contains(_SA)
            & ~F.col("word").contains(_SB)
            & ~F.col("word").contains(_EOW)
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    sym = wc.select("word").distinct().withColumn(
        "s",
        F.concat(
            F.lit(_SA),
            F.array_join(
                F.concat(
                    F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
                    F.array(F.lit(_EOW)),
                ),
                _SB + _SA,
            ),
            F.lit(_SB),
        ),
    )
    for m in merges:
        a, b = m["pair"].split(" ")
        sym = sym.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(_SA + a + _SB + _SA + b + _SB),
                F.lit(_SA + a + b + _SB),
            ),
        )
    sym = sym.withColumn(
        "n_sym", F.size(F.split(F.expr("substring(s, 2, length(s) - 2)"), _SB + _SA))
    ).select("word", "n_sym")
    per_doc = (
        wc.join(sym, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).cast("bigint").alias("n_tokens"),
        )
    )
    out = per_doc.join(
        docs.select("doc_id", F.length(text).alias("chars")), "doc_id"
    ).select(
        "doc_id",
        "n_words",
        "n_tokens",
        (
            F.round(F.col("chars") / F.col("n_tokens") + F.lit(1e-9), 6) + F.lit(0.0)
        ).alias("chars_per_token"),
    )
    return out.orderBy("doc_id")


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode(read_table(spark, sf_dir, "documents"))


def _bpe_encode_ctes(iters: int = BPE_ITERS) -> str:
    """Train chain (w0/s0..s{n}/b1..b{n} from _bpe_ctes) + a word-keyed
    encode chain e0..e{n} applying each learned merge, ending at the
    per_doc (doc_id, n_words, n_tokens) CTE — no final SELECT, shared by
    _bpe_encode_sql and _tok_fertility_sql."""
    sa, sb = "chr(1)", "chr(2)"
    sep = f"{sb} || {sa}"
    parts = [_bpe_ctes(iters)]
    parts.append(f""",
wc AS MATERIALIZED (
  SELECT doc_id, word, count(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' AND NOT contains(word, chr(1))
        AND NOT contains(word, chr(2)) AND NOT contains(word, '{_EOW}')
  GROUP BY doc_id, word),
e0 AS MATERIALIZED (
  SELECT word, {sa} || array_to_string(
           list_transform(range(1, length(word) + 1), i -> substr(word, i, 1))
             || ['{_EOW}'],
           {sep}) || {sb} AS s
  FROM (SELECT DISTINCT word FROM wc))""")
    for t in range(1, iters + 1):
        parts.append(f""",
e{t} AS MATERIALIZED (
  SELECT e.word, replace(e.s, {sa} || b.pa || {sb} || {sa} || b.pb || {sb},
                 {sa} || b.merged || {sb}) AS s
  FROM e{t - 1} e CROSS JOIN b{t} b)""")
    parts.append(f""",
toks AS (
  SELECT word, len(string_split(substr(s, 2, length(s) - 2), {sep})) AS n_sym
  FROM e{iters}),
per_doc AS (
  SELECT wc.doc_id, CAST(sum(wc.cnt) AS BIGINT) AS n_words,
         CAST(sum(wc.cnt * toks.n_sym) AS BIGINT) AS n_tokens
  FROM wc JOIN toks USING (word) GROUP BY wc.doc_id)""")
    return "".join(parts)


def _bpe_encode_sql(iters: int = BPE_ITERS) -> str:
    return (
        _bpe_encode_ctes(iters)
        + """
SELECT p.doc_id, p.n_words, p.n_tokens,
       (round(CAST(length(d.text) AS DOUBLE) / p.n_tokens + 1.0e-9, 6) + 0.0e0)
         AS chars_per_token
FROM per_doc p JOIN documents d USING (doc_id)
ORDER BY p.doc_id"""
    )


def _tok_fertility_sql(iters: int = BPE_ITERS) -> str:
    return (
        _bpe_encode_ctes(iters)
        + """
SELECT d.lang, d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_words) AS BIGINT) AS n_words,
       CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
       (round(CAST(sum(p.n_tokens) AS DOUBLE) / sum(p.n_words) + 1.0e-9, 6)
        + 0.0e0) AS fertility,
       (round(CAST(sum(length(d.text)) AS DOUBLE) / sum(p.n_tokens) + 1.0e-9, 6)
        + 0.0e0) AS chars_per_token
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.lang, d.source
ORDER BY d.lang, d.source"""
    )


def tok_fertility(docs: DataFrame, iters: int = BPE_ITERS, text: str = "text") -> DataFrame:
    """Tokenizer fertility by (lang, source): tokens per word and chars per
    token under the corpus-trained BPE — the standard readout for how well
    a tokenizer serves each slice of a multilingual corpus (high fertility
    = that language pays more compute per word; cf. the fertility tables
    in XLM-R, Conneau et al. 2020, and the tokenizer sections of BLOOM,
    Scao et al. 2022). Rolls the bpe_encode per-doc billing up one keyed
    agg; all corpus-scale stages are inherited from bpe_encode (vocab-
    sized merge application, word-keyed join back).
    → (lang, source, n_docs, n_words, n_tokens, fertility, chars_per_token)."""
    per_doc = bpe_encode(docs, iters=iters, text=text).select(
        "doc_id", "n_words", "n_tokens"
    )
    out = (
        per_doc.join(docs.select("doc_id", "lang", "source", F.length(text).alias("chars")), "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            (
                F.round(F.sum("n_tokens") / F.sum("n_words") + F.lit(1e-9), 6)
                + F.lit(0.0)
            ).alias("fertility"),
            (
                F.round(F.sum("chars") / F.sum("n_tokens") + F.lit(1e-9), 6)
                + F.lit(0.0)
            ).alias("chars_per_token"),
        )
    )
    return out.orderBy("lang", "source")


def _q_tok_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tok_fertility(read_table(spark, sf_dir, "documents"))


def bm25_topk(
    docs: DataFrame,
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = BM25_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text: str = "text",
    toks: DataFrame | None = None,
) -> DataFrame:
    """Top-`k` docs per query by BM25; → (qid, rank, doc_id, score).
    `toks` lets a caller that already pinned the (doc_id, term) stream
    (bm25_ndcg) share it instead of re-tokenizing the corpus."""
    spark = docs.sparkSession
    # pin the inverted-index artifacts (token stream, tf, dl): each is
    # read by 2+ branches, and unpinned every branch re-tokenized the
    # corpus (recompute census: 4 documents scans). Materializing tf/dl
    # IS the retrieval-pipeline shape — they are the index.
    if toks is None:
        toks = docs.select(
            "doc_id", F.explode(F.split(F.col(text), " ")).alias("term")
        ).filter(F.length("term") > 0).localCheckpoint(eager=False)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).localCheckpoint(eager=False)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl")).localCheckpoint(eager=False)
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    qdf = spark.createDataFrame(
        [(qid, t) for qid, q in queries for t in q.split()],
        "qid bigint, term string",
    )
    dfreq = (
        tf.join(F.broadcast(qdf.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    cand = (
        tf.join(F.broadcast(qdf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfreq), "term")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * F.col("tf")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("w").alias("score"))
        # 6dp before ranking: term-sum association differs across engines
        .withColumn("score", F.round(F.col("score") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    # phase 1: top-k within each (query, input-partition) — parallel
    local = (
        cand.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "r", F.row_number().over(Window.partitionBy("qid", "pid").orderBy(*order))
        )
        .filter(F.col("r") <= k)
        .drop("pid", "r")
    )
    # phase 2: global rank per query over ≤ k·P survivors — bounded
    return (
        local.withColumn(
            "rank", F.row_number().over(Window.partitionBy("qid").orderBy(*order))
        )
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
        .orderBy("qid", "rank")
    )


def _q_doc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(read_table(spark, sf_dir, "documents"))


def _bm25_sql(
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = BM25_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, q in queries for t in q.split()
    )
    return f"""
WITH q(qid, term) AS (VALUES {qvals}),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dfq AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
sc AS (
  SELECT q.qid, tf.doc_id,
         (round((sum(
            ln(1.0e0 + (st.n_docs - dfq.df + 5.0e-1) / (dfq.df + 5.0e-1))
            * tf.tf * {k1 + 1.0:.1f}e0
            / (tf.tf + {k1}e0 * ({1.0 - b}e0 + {b}e0 * dl.dl / st.avgdl))
         )) + 1.0e-9, 6) + 0.0e0) AS score
  FROM tf
  JOIN q USING (term)
  JOIN dl USING (doc_id)
  JOIN dfq USING (term)
  CROSS JOIN st
  GROUP BY q.qid, tf.doc_id, st.n_docs, st.avgdl),
rk AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc)
SELECT qid, rank, doc_id, score FROM rk WHERE rank <= {k}
ORDER BY qid, rank
"""


def bm25_ndcg(
    docs: DataFrame,
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = BM25_K,
    text: str = "text",
) -> DataFrame:
    """nDCG@k of the BM25 ranking (Järvelin & Kekäläinen, TOIS 2002) —
    the graded-relevance retrieval eval that pairs with embed_map_at_k
    (VERDICT r04 item 7). Deterministic relevance labels so both engines
    agree without human judgments: rel(q, d) = number of DISTINCT query
    terms present in d (0..|q| coverage grades, the standard synthetic
    label for lexical eval).

        DCG@k  = sum_{r=1..k} (2^rel(d_r) - 1) / log2(r + 1)
        IDCG@k = the same over the rel-optimal ordering (rel desc, doc_id)
        nDCG@k = DCG/IDCG

    Scale shape: rel > 0 only for docs containing >= 1 query term, so both
    the DCG join and the IDCG window run on the semi-join-pruned candidate
    set bm25_topk already builds — per-query work, queries broadcast;
    the IDCG window ranks candidates per qid (bounded by the candidate
    set, keyed on qid). → (qid, dcg, idcg, ndcg)."""
    spark = docs.sparkSession
    # ONE pinned token stream serves both the BM25 index build and the
    # relevance labels (was: two independent corpus scans + tokenizations —
    # opt guide §1.2)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text), " ")).alias("term")
    ).filter(F.length("term") > 0).localCheckpoint(eager=False)
    ranking = bm25_topk(docs, queries, k=k, text=text, toks=toks).select(
        "qid", "rank", "doc_id"
    )
    qdf = spark.createDataFrame(
        [(qid, t) for qid, q in queries for t in q.split()],
        "qid bigint, term string",
    )
    rel = (
        toks.join(F.broadcast(qdf), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count_distinct("term").alias("rel"))
        .localCheckpoint(eager=False)  # candidate set, read by DCG + IDCG
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)
    dcg = (
        ranking.join(rel, ["qid", "doc_id"])
        .select("qid", (gain / F.log2(F.col("rank") + F.lit(1.0))).alias("g"))
        .groupBy("qid")
        .agg(F.sum("g").alias("dcg"))
    )
    wi = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    idcg = (
        rel.withColumn("r", F.row_number().over(wi))
        .filter(F.col("r") <= k)
        .select("qid", (gain / F.log2(F.col("r") + F.lit(1.0))).alias("g"))
        .groupBy("qid")
        .agg(F.sum("g").alias("idcg"))
    )
    out = dcg.join(idcg, "qid").select(
        "qid",
        (F.round(F.col("dcg") + F.lit(1e-9), 6) + F.lit(0.0)).alias("dcg"),
        (F.round(F.col("idcg") + F.lit(1e-9), 6) + F.lit(0.0)).alias("idcg"),
        (F.round(F.col("dcg") / F.col("idcg") + F.lit(1e-9), 6) + F.lit(0.0)).alias("ndcg"),
    )
    return out.orderBy("qid")


QL_MU = 50.0


def ql_dirichlet_topk(
    docs: DataFrame,
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = BM25_K,
    mu: float = QL_MU,
    text: str = "text",
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Ponte & Croft,
    SIGIR 1998; smoothing study: Zhai & Lafferty, SIGIR 2001, eq. 6) —
    the language-modeling ranking that complements doc_bm25's tf-idf
    family: score(q,d) = sum_t ln((tf + mu*p(t|C)) / (|d| + mu)),
    computed via the standard candidate-safe decomposition

        score = sum_t ln(mu*p_t) - |q|*ln(dl + mu)
                + sum_{t in d} ln(1 + tf/(mu*p_t))

    over docs containing >= 1 query term (the usual inverted-index
    candidate set; the match bonus is nonnegative, and ranking is defined
    on the candidate set). Query terms absent from the corpus are dropped
    in both engines (their p(t|C) = 0 contribution is engine-undefined).

    Scale shape: identical to bm25_topk — collection stats and the query
    table broadcast, candidates from one tf x query semi-join, per-query
    TWO-PHASE top-k (local per-partition k, then global over k*P
    survivors). -> (qid, rank, doc_id, score)."""
    spark = docs.sparkSession
    # same index pins as bm25_topk (toks read by tf/dl/tot/cf)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text), " ")).alias("term")
    ).filter(F.length("term") > 0).localCheckpoint(eager=False)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tot = toks.agg(F.count("*").alias("ctot"))
    qdf = spark.createDataFrame(
        [(qid, t) for qid, q in queries for t in q.split()],
        "qid bigint, term string",
    )
    cf = (
        toks.join(F.broadcast(qdf.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("cf"))
    )
    # corpus-present query terms with their smoothed background mass
    qv = (
        qdf.join(F.broadcast(cf), "term")  # drops cf = 0 terms
        .crossJoin(F.broadcast(tot))
        .withColumn("p_bg", F.col("cf") / F.col("ctot"))
    )
    qconst = qv.groupBy("qid").agg(
        F.count("*").alias("nq"),
        F.sum(F.log(F.lit(mu) * F.col("p_bg"))).alias("qc"),
    )
    cand = (
        tf.join(F.broadcast(qv.select("qid", "term", "p_bg")), "term")
        .withColumn("w", F.log(F.lit(1.0) + F.col("tf") / (F.lit(mu) * F.col("p_bg"))))
        .groupBy("qid", "doc_id")
        .agg(F.sum("w").alias("match"))
        .join(dl, "doc_id")
        .join(F.broadcast(qconst), "qid")
        .withColumn(
            "score",
            F.col("qc")
            - F.col("nq") * F.log(F.col("dl") + F.lit(mu))
            + F.col("match"),
        )
        .withColumn("score", F.round(F.col("score") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    local = (
        cand.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "r", F.row_number().over(Window.partitionBy("qid", "pid").orderBy(*order))
        )
        .filter(F.col("r") <= k)
        .drop("pid", "r")
    )
    return (
        local.withColumn(
            "rank", F.row_number().over(Window.partitionBy("qid").orderBy(*order))
        )
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
        .orderBy("qid", "rank")
    )


def _q_ql_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql_dirichlet_topk(read_table(spark, sf_dir, "documents"))


def _ql_sql(
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = BM25_K,
    mu: float = QL_MU,
) -> str:
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, q in queries for t in q.split()
    )
    m = f"{mu:.1f}e0"
    return f"""
WITH q(qid, term) AS (VALUES {qvals}),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tk AS MATERIALIZED (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS ctot FROM tk),
cf AS (SELECT term, count(*) AS cf FROM tk
       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
qv AS (
  SELECT q.qid, q.term, cf.cf / tot.ctot AS p_bg
  FROM q JOIN cf USING (term) CROSS JOIN tot),
qconst AS (
  SELECT qid, count(*) AS nq, sum(ln({m} * p_bg)) AS qc
  FROM qv GROUP BY qid),
sc AS (
  SELECT c.qid, c.doc_id,
         (round(qc.qc - qc.nq * ln(dl.dl + {m}) + c.match
                + 1.0e-9, 6) + 0.0e0) AS score
  FROM (
    SELECT qv.qid, tf.doc_id,
           sum(ln(1.0e0 + tf.tf / ({m} * qv.p_bg))) AS match
    FROM tf JOIN qv USING (term)
    GROUP BY qv.qid, tf.doc_id) c
  JOIN dl USING (doc_id)
  JOIN qconst qc USING (qid)),
rk AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc)
SELECT qid, rank, doc_id, score FROM rk WHERE rank <= {k}
ORDER BY qid, rank
"""


def _q_bm25_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_ndcg(read_table(spark, sf_dir, "documents"))


def _bm25_ndcg_sql(
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = BM25_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    qvals = ", ".join(f"({qid}, '{t}')" for qid, q in queries for t in q.split())
    return f"""
WITH q(qid, term) AS (VALUES {qvals}),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tk AS MATERIALIZED (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dfq AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
sc AS (
  SELECT q.qid, tf.doc_id,
         (round((sum(
            ln(1.0e0 + (st.n_docs - dfq.df + 5.0e-1) / (dfq.df + 5.0e-1))
            * tf.tf * {k1 + 1.0:.1f}e0
            / (tf.tf + {k1}e0 * ({1.0 - b}e0 + {b}e0 * dl.dl / st.avgdl))
         )) + 1.0e-9, 6) + 0.0e0) AS score
  FROM tf
  JOIN q USING (term)
  JOIN dl USING (doc_id)
  JOIN dfq USING (term)
  CROSS JOIN st
  GROUP BY q.qid, tf.doc_id, st.n_docs, st.avgdl),
rk AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc),
rel AS MATERIALIZED (
  SELECT q.qid, tf.doc_id, count(DISTINCT tf.term) AS rel
  FROM tf JOIN q USING (term) GROUP BY q.qid, tf.doc_id),
dcg AS (
  SELECT r.qid, sum((pow(2.0e0, rel.rel) - 1.0e0) / log2(r.rank + 1.0e0)) AS dcg
  FROM rk r JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
  WHERE r.rank <= {k} GROUP BY r.qid),
idcg AS (
  SELECT qid, sum((pow(2.0e0, rel) - 1.0e0) / log2(r + 1.0e0)) AS idcg
  FROM (SELECT qid, rel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, doc_id ASC) AS r
        FROM rel)
  WHERE r <= {k} GROUP BY qid)
SELECT d.qid,
       (round(d.dcg + 1.0e-9, 6) + 0.0e0) AS dcg,
       (round(i.idcg + 1.0e-9, 6) + 0.0e0) AS idcg,
       (round(d.dcg / i.idcg + 1.0e-9, 6) + 0.0e0) AS ndcg
FROM dcg d JOIN idcg i USING (qid)
ORDER BY qid
"""


# --- unigram-LM (SentencePiece-style) subword segmentation + EM -------------
#
# Kudo 2018 ("Subword Regularization") fits a unigram LM over subword
# candidates by EM with Viterbi/lattice inference; SentencePiece is its
# reference implementation. This deterministic lite variant makes the
# whole fit engine-portable and oracle-checkable:
#   * seed vocab = corpus substrings of length 1..UNI_MAXT (all single
#     chars unconditionally — keeps every word segmentable — plus longer
#     substrings with corpus frequency >= UNI_THRESH);
#   * token scores are FIXED-POINT integers round(1e6*ln(p) + 1e-9), the
#     repo's boundary-nudge protocol, so the Viterbi DP is exact integer
#     arithmetic — no cross-engine float argmax anywhere;
#   * the DP value ENCODES its own argmax: enc = (cost*16 + ntok)*4^8 +
#     path, where path appends each chosen token length as a base-4
#     digit. min(enc) is lexicographic (cost, ntok, path) — a total,
#     deterministic order — and the winning segmentation is decoded from
#     `path` by pure arithmetic (no backtrack state, no recursion);
#   * EM: E-step = Viterbi counts (hard EM, the sentencepiece --hard_em
#     variant), M-step renormalizes over used tokens; UNI_ITERS passes.
# Words longer than UNI_MAXW chars are dropped (spec'd identically in
# both engines); a word that loses all its spanning tokens in a later
# pass is dropped the same way (NULL DP value on both sides).
#
# Scale shape: corpus-sized work is ONE split+explode+groupBy to the
# distinct-word table; the substring explode, DP (mapInPandas kernel),
# and usage groupBys all run on distinct words (vocab-sized). The two
# score tables (~hundreds of rows) are the model — collected like the
# diffusion schedules / kmeans centroids.

UNI_MAXW, UNI_MAXT, UNI_THRESH, UNI_ITERS = 8, 3, 100, 2
_UNI_PATH_W = 4 ** UNI_MAXW  # 65536: path field width in the DP encoding


def _uni_words(docs: DataFrame, text: str = "text") -> DataFrame:
    return (
        docs.select(F.explode(F.split(F.col(text), " ")).alias("word"))
        .filter((F.length("word") >= 1) & (F.length("word") <= UNI_MAXW))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _uni_scores(freqs: DataFrame) -> DataFrame:
    """(token, n) -> (token, sc): fixed-point log-prob vs the table total,
    via a single-partition window sum (no joins, no collect here)."""
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    return freqs.select(
        "token",
        F.round(
            F.lit(1e6)
            * F.log(F.col("n").cast("double") / F.sum("n").over(w_all))
            + F.lit(1e-9),
            0,
        )
        .cast("bigint")
        .alias("sc"),
    )


def _uni_viterbi(word: str, sc: dict) -> list | None:
    """Exact-integer Viterbi under the enc=(cost*16+ntok)*4^8+path order —
    the Python mirror of the generated SQL DP (same argmin by design)."""
    n = len(word)
    enc: list = [0] + [None] * n
    for j in range(1, n + 1):
        best = None
        for i in range(max(0, j - UNI_MAXT), j):
            if enc[i] is None:
                continue
            s = sc.get(word[i:j])
            if s is None:
                continue
            q, r = divmod(enc[i], _UNI_PATH_W)
            cand = (q + 16 * (-s) + 1) * _UNI_PATH_W + (r * 4 + (j - i))
            if best is None or cand < best:
                best = cand
        enc[j] = best
    if enc[n] is None:
        return None
    path, end, toks = enc[n] % _UNI_PATH_W, n, []
    while end > 0:
        length = path % 4
        path //= 4
        toks.append(word[end - length : end])
        end -= length
    return toks


def _uni_usage(words: DataFrame, sc_rows: list) -> DataFrame:
    """Segment every distinct word with the frozen score dict and count
    token usage weighted by word frequency (the hard-EM E-step)."""
    sc = {r["token"]: int(r["sc"]) for r in sc_rows}

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            toks: list = []
            cnts: list = []
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                seg = _uni_viterbi(str(word), sc)
                if seg is None:
                    continue
                toks.extend(seg)
                cnts.extend([int(cnt)] * len(seg))
            yield pd.DataFrame({"token": toks, "cnt": cnts}).astype({"cnt": "int64"})

    return (
        words.mapInPandas(fn, "token string, cnt bigint")
        .groupBy("token")
        .agg(F.sum("cnt").alias("usage"))
    )


def unigram_em(docs: DataFrame, text: str = "text") -> DataFrame:
    """UNI_ITERS hard-EM passes; → (token, tok_len, usage1, usage2,
    share2) where usageK is the exact-integer Viterbi token count of pass
    K and share2 the final renormalized weight (6dp protocol)."""
    from pyspark.sql import Window

    from .queries import round6

    words = _uni_words(docs, text).localCheckpoint(eager=False)
    grid = (
        "flatten(transform(sequence(1, {T}), L -> "
        "filter(transform(sequence(1, {W}), i -> "
        "CASE WHEN i + L - 1 <= length(word) THEN substring(word, i, L) END), "
        "x -> x IS NOT NULL)))"
    ).format(T=UNI_MAXT, W=UNI_MAXW)
    subs = (
        words.select(F.explode(F.expr(grid)).alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
    )
    vocab = subs.filter(
        (F.length("token") == 1) | (F.col("n") >= UNI_THRESH)
    )
    usages = []
    sc_rows = _uni_scores(vocab).collect()
    for _ in range(UNI_ITERS):
        usage = _uni_usage(words, sc_rows).localCheckpoint(eager=False)
        usages.append(usage)
        sc_rows = _uni_scores(usage.withColumnRenamed("usage", "n")).collect()
    u1, u2 = usages[0], usages[-1]
    w_all = Window.partitionBy()
    out = (
        u1.withColumnRenamed("usage", "usage1")
        .join(
            u2.withColumnRenamed("usage", "u2").withColumn(
                "share2_raw",
                F.col("u2").cast("double") / F.sum("u2").over(w_all),
            ),
            "token",
            "left",
        )
        .select(
            "token",
            F.length("token").cast("bigint").alias("tok_len"),
            "usage1",
            F.coalesce(F.col("u2"), F.lit(0)).cast("bigint").alias("usage2"),
            F.coalesce(F.col("share2_raw"), F.lit(0.0)).alias("share2"),
        )
    )
    return round6(out, "share2").orderBy("token")


def _q_tok_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import canon_types

    return canon_types(unigram_em(read_table(spark, sf_dir, "documents")))


def _uni_dp_sql(sfx: str) -> str:
    """Generate the unrolled DP + path-decode CTEs for one Viterbi pass,
    reading token scores from map CTE m{sfx} and producing usage{sfx}.
    One CTE per DP level: lateral column aliases are macro-substituted by
    the planner, so a single-SELECT formulation expands the recurrence
    into an exponentially large expression tree — chaining CTEs keeps
    every b_j a materialized column reference."""
    pw = _UNI_PATH_W
    out = [
        f""",
dp{sfx}_0 AS (
  SELECT word, cnt, length(word) AS len, mp, CAST(0 AS BIGINT) AS b0
  FROM words CROSS JOIN m{sfx})"""
    ]
    for j in range(1, UNI_MAXW + 1):
        cands = []
        for i in range(max(0, j - UNI_MAXT), j):
            lk = (
                f"list_extract(map_extract(mp, "
                f"substring(word, {i + 1}, {j - i})), 1)"
            )
            cands.append(
                f"((b{i} // {pw}) + 16 * (0 - {lk}) + 1) * {pw}"
                f" + ((b{i} % {pw}) * 4 + {j - i})"
            )
        out.append(
            f""",
dp{sfx}_{j} AS (
  SELECT *, least({", ".join(cands)}) AS b{j} FROM dp{sfx}_{j - 1})"""
        )
    fin = (
        "CASE len "
        + " ".join(f"WHEN {j} THEN b{j}" for j in range(1, UNI_MAXW + 1))
        + " END"
    )
    out.append(
        f""",
dec{sfx}_0 AS (
  SELECT word, cnt, ({fin}) % {pw} AS path0, len AS end0
  FROM dp{sfx}_{UNI_MAXW})"""
    )
    for k in range(1, UNI_MAXW + 1):
        out.append(
            f""",
dec{sfx}_{k} AS (
  SELECT *,
         CASE WHEN end{k - 1} > 0 THEN path{k - 1} % 4 END AS l{k},
         CASE WHEN end{k - 1} > 0 THEN substring(word,
           CAST(end{k - 1} - path{k - 1} % 4 + 1 AS INT),
           CAST(path{k - 1} % 4 AS INT)) END AS tok{k},
         path{k - 1} // 4 AS path{k},
         end{k - 1} - CASE WHEN end{k - 1} > 0 THEN path{k - 1} % 4 END AS end{k}
  FROM dec{sfx}_{k - 1})"""
        )
    tok_list = "[" + ", ".join(f"tok{k}" for k in range(1, UNI_MAXW + 1)) + "]"
    out.append(
        f""",
u{sfx} AS (
  SELECT unnest(list_filter({tok_list}, t -> t IS NOT NULL)) AS token, cnt
  FROM dec{sfx}_{UNI_MAXW}),
usage{sfx} AS (
  SELECT token, CAST(sum(cnt) AS BIGINT) AS usage FROM u{sfx} GROUP BY token)"""
    )
    return "".join(out)


def _unigram_sql() -> str:
    sc_tpl = (
        "SELECT token, CAST(round(1.0e6 * ln(CAST({n} AS DOUBLE) /"
        " (SELECT sum({n}) FROM {src})) + 1.0e-9, 0) AS BIGINT) AS sc"
        " FROM {src}"
    )
    return f"""
WITH wsplit AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM wsplit
  WHERE length(w) BETWEEN 1 AND {UNI_MAXW} GROUP BY w),
subs AS (
  SELECT substring(word, CAST(i AS INT), CAST(L AS INT)) AS token,
         CAST(sum(cnt) AS BIGINT) AS n
  FROM words, range(1, {UNI_MAXT + 1}) rl(L), range(1, {UNI_MAXW + 1}) ri(i)
  WHERE i + L - 1 <= length(word) GROUP BY token),
vocab AS (SELECT token, n FROM subs WHERE length(token) = 1 OR n >= {UNI_THRESH}),
sc1 AS ({sc_tpl.format(n="n", src="vocab")}),
m1 AS (SELECT map(list(token), list(sc)) AS mp FROM sc1){_uni_dp_sql("1")},
sc2 AS ({sc_tpl.format(n="usage", src="usage1")}),
m2 AS (SELECT map(list(token), list(sc)) AS mp FROM sc2){_uni_dp_sql("2")}
SELECT u1.token AS token, CAST(length(u1.token) AS BIGINT) AS tok_len,
       u1.usage AS usage1, CAST(coalesce(u2.usage, 0) AS BIGINT) AS usage2,
       (round(coalesce(CAST(u2.usage AS DOUBLE)
          / (SELECT sum(usage) FROM usage2), 0.0e0) + 1.0e-9, 6) + 0.0e0) AS share2
FROM usage1 u1 LEFT JOIN usage2 u2 ON u2.token = u1.token
ORDER BY u1.token
"""



_REGISTRY.update(
    {
        "bpe_train": Query("bpe_train", _q_bpe_train, _bpe_sql(), ("text", "llm")),
        "bpe_encode": Query(
            "bpe_encode", _q_bpe_encode, _bpe_encode_sql(), ("text", "llm")
        ),
        "tok_fertility": Query(
            "tok_fertility", _q_tok_fertility, _tok_fertility_sql(), ("text", "llm")
        ),
        "doc_bm25": Query("doc_bm25", _q_doc_bm25, _bm25_sql(), ("text", "llm")),
        "doc_ql_dirichlet": Query(
            "doc_ql_dirichlet", _q_ql_dirichlet, _ql_sql(), ("text", "llm")
        ),
        "doc_bm25_ndcg": Query(
            "doc_bm25_ndcg", _q_bm25_ndcg, _bm25_ndcg_sql(), ("text", "llm", "eval")
        ),
        "tok_unigram_em": Query(
            "tok_unigram_em", _q_tok_unigram_em, _unigram_sql(), ("text", "llm")
        ),
    }
)
