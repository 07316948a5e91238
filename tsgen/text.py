"""Text-analysis operators over the documents table (north-star extension:
language-ID heuristic, quality scoring, token counting, fingerprinting).

All hot-path expressions are Catalyst built-ins (split/size/filter/md5 —
whole-stage codegen, no Python). The same logic is expressible in DuckDB
(string_split/len/list_filter/md5) so every operator here is oracle-checked.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Tiny deterministic stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
}
QUALITY_STOPWORDS = STOPWORDS["en"]


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def with_tokens(df: DataFrame, text: str = "text") -> DataFrame:
    return df.withColumn("tokens", F.split(F.col(text), " "))


def text_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """Token count, distinct-token ratio, mean token length, stopword ratio —
    the quality-scoring primitives of an LLM-data pipeline."""
    df = with_tokens(df, text)
    n = F.size("tokens")
    sw = F.expr(f"size(filter(tokens, w -> w IN ({_in_list(QUALITY_STOPWORDS)})))")
    return df.select(
        "doc_id",
        F.length(text).alias("n_chars"),
        n.alias("n_tokens"),
        F.size(F.array_distinct(F.col("tokens"))).alias("n_distinct"),
        (F.size(F.array_distinct(F.col("tokens"))) / n).alias("distinct_ratio"),
        ((F.length(text) - (n - 1)) / n).alias("avg_token_len"),
        (sw / n).alias("stopword_ratio"),
    )


TEXT_STATS_SQL = f"""
SELECT doc_id, length(text) AS n_chars,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       (round((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) + 1.0e-9,6)+0.0e0) AS distinct_ratio,
       (round((CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)) + 1.0e-9,6)+0.0e0) AS avg_token_len,
       (round((CAST(len(list_filter(toks, w -> w IN ({_in_list(QUALITY_STOPWORDS)}))) AS DOUBLE) / len(toks)) + 1.0e-9,6)+0.0e0) AS stopword_ratio
FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
"""


def lang_id(df: DataFrame, text: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic: score = stopword hit-rate per
    language, predict argmax (en on ties — deterministic)."""
    df = with_tokens(df, text)
    n = F.size("tokens")
    en = F.expr(f"size(filter(tokens, w -> w IN ({_in_list(STOPWORDS['en'])})))") / n
    es = F.expr(f"size(filter(tokens, w -> w IN ({_in_list(STOPWORDS['es'])})))") / n
    return df.select(
        "doc_id",
        "lang",
        en.alias("en_score"),
        es.alias("es_score"),
        F.when(en >= es, F.lit("en")).otherwise(F.lit("es")).alias("pred_lang"),
    )


LANG_ID_SQL = f"""
SELECT doc_id, lang,
       (round((en_hits / n) + 1.0e-9,6)+0.0e0) AS en_score,
       (round((es_hits / n) + 1.0e-9,6)+0.0e0) AS es_score,
       CASE WHEN en_hits / n >= es_hits / n THEN 'en' ELSE 'es' END AS pred_lang
FROM (
  SELECT doc_id, lang,
         CAST(len(toks) AS DOUBLE) AS n,
         CAST(len(list_filter(toks, w -> w IN ({_in_list(STOPWORDS['en'])}))) AS DOUBLE) AS en_hits,
         CAST(len(list_filter(toks, w -> w IN ({_in_list(STOPWORDS['es'])}))) AS DOUBLE) AS es_hits
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents))
"""


def fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 of lowercased, whitespace-collapsed
    text. md5 output is identical across engines → oracle-checkable, and a
    uniform shuffle key at scale."""
    canon = F.lower(F.regexp_replace(F.col(text), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(canon))


FINGERPRINT_SQL = """
SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def tfidf_top_terms(df: DataFrame, text: str = "text", top_n: int = 3) -> DataFrame:
    """TF-IDF scoring, Spark-native (no MLlib pipeline needed):
    tf = in-doc term count, idf = ln(N / df), score = tf·idf; returns the
    top_n terms per document. Two shuffles: token-level groupBys for df and
    tf; the doc-count N is a broadcast scalar.

    SURVEY §2.K names HashingTF+IDF — implemented directly over exact terms
    instead so the result is deterministic and oracle-checkable (HashingTF
    buckets collide by design and differ per hash impl).
    """
    from pyspark.sql import Window

    toks = df.select("doc_id", F.explode(F.split(F.col(text), " ")).alias("token"))
    # N as a broadcast 1-row aggregate, not a driver-side .count() action —
    # keeps the whole computation one lazy plan (no extra scheduled job).
    n_docs = df.select(F.count("*").cast("double").alias("n_docs"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    # No broadcast hint on dfreq: it has one row per DISTINCT TOKEN, which at
    # corpus scale does not fit in a broadcast. AQE broadcasts it when small.
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


def tfidf_sql(top_n: int = 3) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT doc_id, token, tf, df, (round((tfidf) + 1.0e-9,6)+0.0e0) AS tfidf, rank FROM (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         tf.tf * ln(n.n_docs / dfreq.df) AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * ln(n.n_docs / dfreq.df) DESC, tf.token) AS rank
  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
WHERE rank <= {top_n}
"""


def token_freq(df: DataFrame, text: str = "text", top_n: int = 20) -> DataFrame:
    """Global token frequency top-N (explode → count → rank).

    The global rank is orderBy+limit — Spark executes that as
    TakeOrderedAndProject (per-partition local top-N, merge top_n rows on the
    driver), NOT a sort. An unpartitioned row_number window here would funnel
    every distinct token through one reducer; the rank window below runs over
    only the top_n surviving rows."""
    from pyspark.sql import Window

    toks = with_tokens(df, text).select(F.explode("tokens").alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(top_n)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w))


def readability(df: DataFrame, text: str = "text") -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade per document (Flesch
    1948; Kincaid et al. 1975) — the classic text-difficulty screens a
    corpus-quality pipeline bins documents by:
        ease  = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
        grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59
    Sentences = terminal-punctuation runs (min 1); syllables = vowel-group
    runs per document — the standard dictionary-free approximation. Pure
    Catalyst regexp counting, no UDF; both engines run the same RE2/Java-
    compatible patterns."""
    words = F.size(F.split(F.col(text), " "))
    sents = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(F.col(text), F.lit("[.!?]+"), 0))
    )
    syll = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.lower(F.col(text)), F.lit("[aeiouy]+"), 0)),
    )
    wps = words.cast("double") / sents
    spw = syll.cast("double") / words
    return df.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        (F.lit(206.835) - 1.015 * wps - 84.6 * spw).alias("flesch_ease"),
        (F.lit(0.39) * wps + 11.8 * spw - 15.59).alias("fk_grade"),
    )


READABILITY_SQL = """
WITH c AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
         greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS n_syllables
  FROM documents)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       CAST(n_sentences AS INT) AS n_sentences,
       CAST(n_syllables AS INT) AS n_syllables,
       (round((206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / n_sentences)
           - 84.6e0 * (CAST(n_syllables AS DOUBLE) / n_words)) + 1.0e-9,6)+0.0e0) AS flesch_ease,
       (round((0.39e0 * (CAST(n_words AS DOUBLE) / n_sentences)
           + 11.8e0 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59e0) + 1.0e-9,6)+0.0e0) AS fk_grade
FROM c
"""


FEATURE_HASH_BUCKETS = 32


def feature_hash(
    df: DataFrame, text: str = "text", n_buckets: int = FEATURE_HASH_BUCKETS
) -> DataFrame:
    """Signed hashing-trick bag-of-words (Weinberger et al. 2009, ICML):
    each token lands in bucket h(token) mod n_buckets with sign
    (-1)^(h mod 2); per-document bucket weights are the signed occurrence
    sums. The fixed-width sparse vector a linear classifier consumes,
    without any global vocabulary build — the property that makes the
    hashing trick THE featurizer at 100 TB: one explode + one partial-agged
    groupBy, no vocab broadcast, no second pass. Emits (doc_id, bucket, w)
    for w != 0; the hash is the md5-prefix shingle hash of MinHash
    (dedup.HASH_SPARK), so DuckDB replays it exactly."""
    from .dedup import HASH_SPARK

    h = F.expr(HASH_SPARK.format(c="token"))
    toks = with_tokens(df, text).select(
        "doc_id", F.explode("tokens").alias("token")
    )
    return (
        toks.withColumn("_h", h)
        .select(
            "doc_id",
            (F.col("_h") % n_buckets).alias("bucket"),
            F.when(F.col("_h") % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("_s"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("_s").alias("w"))
        .filter(F.col("w") != 0)
    )


def feature_hash_sql(n_buckets: int = FEATURE_HASH_BUCKETS) -> str:
    from .dedup import HASH_DUCK

    h = HASH_DUCK.format(c="token")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
hashed AS (
  SELECT doc_id, {h} AS h FROM toks)
SELECT doc_id, h % {n_buckets} AS bucket,
       CAST(sum(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
FROM hashed GROUP BY doc_id, h % {n_buckets}
HAVING sum(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) <> 0
"""


def token_freq_sql(top_n: int = 20) -> str:
    return f"""
SELECT token, n, rank FROM (
  SELECT token, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, token) AS rank
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token)
WHERE rank <= {top_n}
"""


def repetition_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of all
    tokens taken by the single most frequent token, and of all bigrams by
    the most frequent bigram — high values flag boilerplate/spam that
    length- and stopword-based quality gates miss.

    Shape: two explode→groupBy chains (token level and bigram level), each
    partial-aggregated on (doc_id, term) then reduced to one row per doc —
    uniform keys, no skew (a doc contributes only its own terms). The two
    per-doc one-row tables then join on doc_id. No Python anywhere.
    """
    toks = df.select("doc_id", F.explode(F.split(F.col(text), " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("n"), F.first(F.length("token")).alias("tok_len")
    )
    tok_stats = tf.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.max("n").alias("top_token_n"),
        (F.sum(F.col("n") * F.col("tok_len")) / F.sum("n")).alias("mean_token_len"),
    )
    bigram = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN "
        "transform(sequence(0, size(_toks) - 2), i -> concat_ws(' ', _toks[i], _toks[i+1])) "
        "ELSE array() END"
    )
    bg = (
        df.withColumn("_toks", F.split(F.col(text), " "))
        .select("doc_id", F.explode(bigram).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_bigrams"), F.max("n").alias("top_bigram_n"))
    )
    out = tok_stats.join(bg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("top_token_n") / F.col("n_tokens")).alias("top_token_frac"),
        F.coalesce(F.col("top_bigram_n") / F.col("n_bigrams"), F.lit(0.0)).alias(
            "top_bigram_frac"
        ),
        "mean_token_len",
    )
    return out.withColumn(
        "repetitive",
        (F.col("top_token_frac") > 0.2) | (F.col("top_bigram_frac") > 0.18),
    )


REPETITION_SQL = """
WITH tf AS (
  SELECT doc_id, token, count(*) AS n, first(length(token)) AS tok_len
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token),
tok_stats AS (
  SELECT doc_id, sum(n) AS n_tokens, max(n) AS top_token_n,
         CAST(sum(n * tok_len) AS DOUBLE) / sum(n) AS mean_token_len
  FROM tf GROUP BY doc_id),
bg AS (
  SELECT doc_id, sum(n) AS n_bigrams, max(n) AS top_bigram_n FROM (
    SELECT doc_id, bg, count(*) AS n FROM (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END) AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
    GROUP BY doc_id, bg)
  GROUP BY doc_id)
SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       (round((CAST(t.top_token_n AS DOUBLE) / t.n_tokens) + 1.0e-9,6)+0.0e0) AS top_token_frac,
       (round((COALESCE(CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams, 0.0e0)) + 1.0e-9,6)+0.0e0) AS top_bigram_frac,
       (round((t.mean_token_len) + 1.0e-9,6)+0.0e0) AS mean_token_len,
       (CAST(t.top_token_n AS DOUBLE) / t.n_tokens > 2.0e-1
        OR COALESCE(CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams, 0.0e0) > 1.8e-1) AS repetitive
FROM tok_stats t LEFT JOIN bg b ON t.doc_id = b.doc_id
"""


def doc_entropy(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-document unigram entropy (nats) + normalized entropy — the
    information-density quality signal (low H = repetitive/boilerplate,
    complements repetition_stats' max-frequency view).

    H = −Σ (c/n)·ln(c/n); norm = H / ln(vocab) (1.0 = uniform usage).
    Same two-level (doc_id, token) → doc_id aggregation shape as
    repetition_stats: uniform keys, partial-agg'd, no Python."""
    toks = df.select("doc_id", F.explode(F.split(F.col(text), " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    out = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("vocab"),
        (
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c")
        ).alias("entropy"),
    )
    return out.withColumn(
        "norm_entropy",
        F.when(F.col("vocab") > 1, F.col("entropy") / F.log("vocab")).otherwise(0.0),
    )


# H = ln(n) − Σ c·ln(c)/n (algebraic form of −Σ (c/n)ln(c/n)) — shared shape
ENTROPY_SQL = """
WITH tf AS (
  SELECT doc_id, token, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token),
g AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS vocab,
         ln(sum(c)) - sum(c * ln(c)) / sum(c) AS entropy
  FROM tf GROUP BY doc_id)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, vocab,
       (round((entropy) + 1.0e-9,6)+0.0e0) AS entropy,
       (round((CASE WHEN vocab > 1 THEN entropy / ln(vocab) ELSE 0.0e0 END) + 1.0e-9,6)+0.0e0) AS norm_entropy
FROM g
"""


def lm_score(df: DataFrame, text: str = "text") -> DataFrame:
    """CCNet-style unigram LM quality score: train a unigram LM on the
    corpus itself (p(w) = corpus frequency), score each doc by mean
    negative log-likelihood. High score = tokens unusual for the corpus
    (boilerplate/garbled); low = stereotypical text. The classic
    perplexity-bucket filter of an LLM ingest pipeline, minus the external
    KenLM binary.

    Shape: one (token) aggregation for the LM (+1-row total broadcast),
    one token-keyed join back, one doc aggregation — the LM table is
    joined on the SAME key it was aggregated on (exchange reuse / AQE
    broadcast when the vocab is small)."""
    toks = df.select("doc_id", F.explode(F.split(F.col(text), " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = vocab.agg(F.sum("tf").alias("_total"))
    lm = vocab.crossJoin(F.broadcast(total)).select(
        "token", (F.col("tf") / F.col("_total")).alias("p")
    )
    return (
        toks.join(lm, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(-F.log("p")).alias("lm_score"),
        )
    )


LM_SCORE_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
vocab AS (SELECT token, count(*) AS tf FROM toks GROUP BY token),
lm AS (
  SELECT token, CAST(tf AS DOUBLE) / (SELECT sum(tf) FROM vocab) AS p FROM vocab)
SELECT doc_id, count(*) AS n_tokens,
       (round((avg(-ln(p))) + 1.0e-9,4)+0.0e0) AS lm_score
FROM toks JOIN lm USING (token)
GROUP BY doc_id
"""


def ccnet_buckets(df: DataFrame, text: str = "text") -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 §4.3):
    per language, rank docs by the unigram-LM score and split into
    head/middle/tail terciles — head (lowest perplexity, most
    stereotypical) feeds pretraining first, tail is usually dropped.
    Rank-based terciles instead of percentile cutoffs: bucket =
    ((rank−1)·3) div n — integer arithmetic, so no cross-engine
    percentile-interpolation semantics; the score is rounded to 6dp
    BEFORE ranking (doc_id tiebreak) so near-equal scores rank
    identically in both engines.

    Scale shape (r9): languages are LOW-cardinality, so a direct
    Window.partitionBy(lang) rank would funnel each language's whole
    corpus through one task; the rank now runs on the stratified_rank
    scaffold (range-partition on the order cols + per-(partition, lang)
    counts + per-lang prefix offsets — queries_scale.py), and n comes
    from a broadcast 1-row-per-lang aggregate. Measured trade-off: at
    sf0.1 (20k docs) the scaffold costs ~1s more than the direct window
    (0.8s → 1.9s warm; the extra range shuffle + pinned materialization)
    — the constant bought is per-language parallelism, i.e. the
    difference between working and a single-task wall on a corpus where
    one language holds billions of docs.
    → (lang, bucket, n_docs, avg_score)."""
    from .queries_scale import stratified_rank

    sc = lm_score(df, text=text).join(df.select("doc_id", "lang"), "doc_id")
    # per-doc score table, read by the rank scaffold AND the per-lang
    # totals: pin, or both re-run the whole unigram-LM scoring chain
    sc = sc.withColumn(
        "s", F.round(F.col("lm_score") + F.lit(1e-9), 6)
    ).localCheckpoint(eager=False)
    ranked = stratified_rank(sc, "lang", [F.asc("s"), F.asc("doc_id")], out="rn")
    totals = sc.groupBy("lang").agg(F.count("*").alias("n"))
    sc = ranked.join(F.broadcast(totals), "lang").withColumn(
        "b", F.expr("((rn - 1) * 3) div n")
    )
    bucket = (
        F.when(F.col("b") == 0, "head").when(F.col("b") == 1, "middle").otherwise("tail")
    )
    return (
        sc.withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            (F.round(F.avg("s") + F.lit(1e-9), 4) + F.lit(0.0)).alias("avg_score"),
        )
        .orderBy("lang", "bucket")
    )


CCNET_BUCKETS_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
vocab AS (SELECT token, count(*) AS tf FROM toks GROUP BY token),
lm AS (
  SELECT token, CAST(tf AS DOUBLE) / (SELECT sum(tf) FROM vocab) AS p FROM vocab),
sc AS (
  SELECT t.doc_id, (round(avg(-ln(lm.p)) + 1.0e-9, 6) + 0.0e0) AS s
  FROM toks t JOIN lm USING (token) GROUP BY t.doc_id),
rk AS (
  SELECT d.lang, sc.s,
         row_number() OVER (PARTITION BY d.lang ORDER BY sc.s, sc.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.lang) AS n
  FROM sc JOIN documents d USING (doc_id)),
bk AS (
  SELECT lang, s,
         CASE ((rn - 1) * 3) // n WHEN 0 THEN 'head'
                                  WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
  FROM rk)
SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       (round(avg(s) + 1.0e-9, 4) + 0.0e0) AS avg_score
FROM bk GROUP BY lang, bucket ORDER BY lang, bucket
"""


# --- training-window chunking + sequence packing (LLM pretraining preproc) --
CHUNK_LEN, CHUNK_STRIDE, PACK_BUDGET = 16, 12, 256


def doc_chunks(
    df: DataFrame, text: str = "text", size: int = CHUNK_LEN, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each document into overlapping fixed-size token windows — the
    step that turns a curated corpus into training sequences. Pure per-row
    array expressions (split → slice per window → posexplode): NO shuffle at
    all; the scan parallelism is the operator's parallelism.

    n_chunks = ceil(max(n-size, 0)/stride) + 1, so the last window may be
    short (kept, with its true token count, for the packer to use).
    """
    n = "size(_toks)"
    n_chunks = f"(CAST(ceil(greatest({n} - {size}, 0) / CAST({stride} AS DOUBLE)) AS INT) + 1)"
    chunks = (
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> slice(_toks, i * {stride} + 1, {size}))"
    )
    return (
        df.withColumn("_toks", F.split(F.col(text), " "))
        .select("doc_id", "lang", "source", F.posexplode(F.expr(chunks)).alias("chunk_id", "_c"))
        .select(
            "doc_id",
            "lang",
            "source",
            "chunk_id",
            F.size("_c").alias("n_chunk_tokens"),
            F.concat_ws(" ", "_c").alias("chunk_text"),
        )
    )


CHUNKS_SQL = f"""
WITH base AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents),
idx AS (
  SELECT doc_id, lang, source, toks,
         unnest(range(0, CAST(ceil(greatest(len(toks) - {CHUNK_LEN}, 0)
                / CAST({CHUNK_STRIDE} AS DOUBLE)) AS INT) + 1)) AS chunk_id
  FROM base)
SELECT doc_id, lang, source, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(toks[chunk_id * {CHUNK_STRIDE} + 1 : chunk_id * {CHUNK_STRIDE} + {CHUNK_LEN}]) AS INT) AS n_chunk_tokens,
       array_to_string(toks[chunk_id * {CHUNK_STRIDE} + 1 : chunk_id * {CHUNK_STRIDE} + {CHUNK_LEN}], ' ') AS chunk_text
FROM idx
"""


def pack_sequences(df: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Greedy scan-order sequence packing: assign docs to fixed token-budget
    bins via an exclusive-prefix-sum over doc_id order WITHIN each
    (lang, source) shard. Shard-local packing is the 100 TB shape — a global
    packing order would funnel the cumsum through one reducer, while real
    pipelines pack per output shard anyway. A doc may straddle its bin
    boundary (bins overflow by < one doc) — the standard streaming-pack
    approximation.
    """
    from pyspark.sql import Window

    n = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    binned = (
        df.withColumn("n_tokens", n)
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("bin_id", F.floor((F.col("cum") - F.col("n_tokens")) / budget))
    )
    return binned.groupBy("lang", "source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_packed"),
        (F.sum("n_tokens") / F.lit(float(budget))).alias("fill_ratio"),
    )


PACK_SQL = f"""
WITH binned AS (
  SELECT lang, source, n_tokens,
         (CAST(sum(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens)
           // {PACK_BUDGET} AS bin_id
  FROM (SELECT doc_id, lang, source, len(string_split(text, ' ')) AS n_tokens FROM documents))
SELECT lang, source, bin_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_packed,
       (round((CAST(sum(n_tokens) AS DOUBLE) / {PACK_BUDGET}.0e0) + 1.0e-9,6)+0.0e0) AS fill_ratio
FROM binned GROUP BY lang, source, bin_id
"""


def pack_sequences_ffd(df: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """First-fit-decreasing bin packing per (lang, source) shard (Johnson
    1973; FFD uses <= 11/9·OPT + 6/9 bins): docs sorted by token count desc
    (doc_id tiebreak), each placed in the FIRST open bin with room, else a
    new bin. Unlike pack_sequences' streaming prefix-sum approximation, no
    doc straddles a bin boundary — every bin holds whole docs within the
    budget (a doc longer than the budget gets a singleton overflow bin).
    VERDICT r04 item 7's "document or upgrade": this is the upgrade; the
    greedy variant stays registered as the zero-state streaming shape.

    Shard is the parallel axis (applyInPandas keyed on (lang, source));
    the sequential FFD state never leaves one shard — the 100 TB shape,
    since real pipelines pack per output shard anyway. Arrow-batched,
    O(docs·bins) per shard, and only (doc_id, n) enter the kernel, never
    the text. → (lang, source, bin_id, n_docs, n_tokens_packed, fill_ratio)
    """
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["n", "doc_id"], ascending=[False, True])
        loads: list[int] = []
        cnts: list[int] = []
        for nn in (int(x) for x in pdf["n"]):
            for i, ld in enumerate(loads):
                if ld + nn <= budget:
                    loads[i] += nn
                    cnts[i] += 1
                    break
            else:
                loads.append(nn)
                cnts.append(1)
        return pd.DataFrame(
            {
                "lang": pdf["lang"].iloc[0],
                "source": pdf["source"].iloc[0],
                "bin_id": range(len(loads)),
                "n_docs": cnts,
                "n_tokens_packed": loads,
            }
        )

    base = df.select(
        "lang", "source", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n")
    )
    out = base.groupBy("lang", "source").applyInPandas(
        pack,
        "lang string, source string, bin_id bigint, n_docs bigint, n_tokens_packed bigint",
    )
    return out.withColumn(
        "fill_ratio",
        F.round(F.col("n_tokens_packed") / F.lit(float(budget)) + F.lit(1e-9), 6)
        + F.lit(0.0),
    )


PACK_FFD_SQL = f"""
WITH RECURSIVE d AS (
  SELECT lang, source, doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY len(string_split(text,' ')) DESC, doc_id) AS rn
  FROM documents),
sz AS (SELECT lang, source, max(rn) AS mx FROM d GROUP BY lang, source),
ffd AS (
  SELECT lang, source, CAST(0 AS BIGINT) AS rn,
         CAST([] AS BIGINT[]) AS loads, CAST([] AS BIGINT[]) AS cnts
  FROM sz
  UNION ALL
  SELECT f.lang, f.source, f.rn + 1,
    CASE WHEN list_position(list_transform(f.loads, x -> x + d.n <= {PACK_BUDGET}), true) = 0
         THEN list_append(f.loads, d.n)
         ELSE list_transform(range(1, len(f.loads)+1),
              i -> CASE WHEN i = list_position(list_transform(f.loads, x -> x + d.n <= {PACK_BUDGET}), true)
                        THEN f.loads[i] + d.n ELSE f.loads[i] END)
    END,
    CASE WHEN list_position(list_transform(f.loads, x -> x + d.n <= {PACK_BUDGET}), true) = 0
         THEN list_append(f.cnts, CAST(1 AS BIGINT))
         ELSE list_transform(range(1, len(f.cnts)+1),
              i -> CASE WHEN i = list_position(list_transform(f.loads, x -> x + d.n <= {PACK_BUDGET}), true)
                        THEN f.cnts[i] + 1 ELSE f.cnts[i] END)
    END
  FROM ffd f JOIN d ON d.lang = f.lang AND d.source = f.source AND d.rn = f.rn + 1
),
fin AS (
  SELECT f.lang, f.source, f.loads, f.cnts
  FROM ffd f JOIN sz ON sz.lang = f.lang AND sz.source = f.source AND f.rn = sz.mx)
SELECT lang, source,
       CAST(unnest(range(1, len(loads)+1)) - 1 AS BIGINT) AS bin_id,
       unnest(cnts) AS n_docs,
       unnest(loads) AS n_tokens_packed,
       (round(CAST(unnest(loads) AS DOUBLE) / {PACK_BUDGET}.0e0 + 1.0e-9, 6) + 0.0e0) AS fill_ratio
FROM fin ORDER BY lang, source, bin_id
"""


PACK_FRONTIER_BUDGETS = (128, 256, 512, 1024)


def pack_budget_frontier(
    df: DataFrame, budgets: tuple = PACK_FRONTIER_BUDGETS
) -> DataFrame:
    """The context-length selection table: FFD-pack every (lang, source)
    shard at SEVERAL token budgets in one pass and report, per budget, the
    bin count, the waste fraction (padding you would train on), and the
    overflow-bin count (docs longer than the budget, which a real pipeline
    must chunk or drop). Packing efficiency vs context length is a real
    trade — short contexts waste little but truncate more; long contexts
    fit whole docs but pad heavily — and this is the table that decision
    reads.

    Scale shape: one applyInPandas per shard (the pack_sequences_ffd
    kernel, looped over budgets inside the shard — docs sorted once);
    only (doc_id, n) enter the kernel; the per-shard output is
    |budgets| rows of integer sums, so the global per-budget rollup is
    exact in any engine and any partitioning.
    -> (budget, n_bins, n_overflow, waste_frac) ordered by budget."""
    import pandas as pd

    blist = [int(m) for m in budgets]

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["n", "doc_id"], ascending=[False, True])
        ns = [int(x) for x in pdf["n"]]
        rows = []
        for m in blist:
            loads: list[int] = []
            for nn in ns:
                for i, ld in enumerate(loads):
                    if ld + nn <= m:
                        loads[i] += nn
                        break
                else:
                    loads.append(nn)
            rows.append(
                {
                    "budget": m,
                    "n_bins": len(loads),
                    "wasted": sum(max(m - ld, 0) for ld in loads),
                    "n_overflow": sum(1 for ld in loads if ld > m),
                }
            )
        return pd.DataFrame(rows)

    base = df.select(
        "lang", "source", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n")
    )
    shard = base.groupBy("lang", "source").applyInPandas(
        pack, "budget bigint, n_bins bigint, wasted bigint, n_overflow bigint"
    )
    return (
        shard.groupBy("budget")
        .agg(
            F.sum("n_bins").alias("n_bins"),
            F.sum("n_overflow").alias("n_overflow"),
            F.sum("wasted").alias("_wasted"),
        )
        .select(
            "budget",
            "n_bins",
            "n_overflow",
            (
                F.round(
                    F.col("_wasted") / (F.col("n_bins") * F.col("budget")).cast("double")
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("waste_frac"),
        )
        .orderBy("budget")
    )


def pack_budget_frontier_sql(budgets: tuple = PACK_FRONTIER_BUDGETS) -> str:
    """DuckDB oracle twin of pack_budget_frontier: the PACK_FFD_SQL
    recursion with the budget joined into the recursion key, then the
    same integer rollup per budget."""
    blist = ", ".join(str(int(m)) for m in budgets)
    return f"""
WITH RECURSIVE d AS (
  SELECT lang, source, doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY len(string_split(text,' ')) DESC, doc_id) AS rn
  FROM documents),
sz AS (SELECT lang, source, max(rn) AS mx FROM d GROUP BY lang, source),
ffd AS (
  SELECT lang, source, g.m, CAST(0 AS BIGINT) AS rn,
         CAST([] AS BIGINT[]) AS loads
  FROM sz CROSS JOIN (SELECT CAST(unnest([{blist}]) AS BIGINT) AS m) g
  UNION ALL
  SELECT f.lang, f.source, f.m, f.rn + 1,
    CASE WHEN list_position(list_transform(f.loads, x -> x + d.n <= f.m), true) = 0
         THEN list_append(f.loads, d.n)
         ELSE list_transform(range(1, len(f.loads)+1),
              i -> CASE WHEN i = list_position(list_transform(f.loads, x -> x + d.n <= f.m), true)
                        THEN f.loads[i] + d.n ELSE f.loads[i] END)
    END
  FROM ffd f JOIN d ON d.lang = f.lang AND d.source = f.source AND d.rn = f.rn + 1
),
fin AS (
  SELECT f.lang, f.source, f.m, f.loads
  FROM ffd f JOIN sz ON sz.lang = f.lang AND sz.source = f.source AND f.rn = sz.mx),
shard AS (
  SELECT lang, source, m,
         CAST(len(loads) AS BIGINT) AS n_bins,
         CAST(list_sum(list_transform(loads, x -> greatest(m - x, 0))) AS BIGINT) AS wasted,
         CAST(len(list_filter(loads, x -> x > m)) AS BIGINT) AS n_overflow
  FROM fin)
SELECT m AS budget,
       CAST(sum(n_bins) AS BIGINT) AS n_bins,
       CAST(sum(n_overflow) AS BIGINT) AS n_overflow,
       round(CAST(sum(wasted) AS DOUBLE) / (CAST(sum(n_bins) AS DOUBLE) * m)
             + 1.0e-9, 6) + 0.0e0 AS waste_frac
FROM shard GROUP BY m ORDER BY budget
"""


# --- BPE-ish subword token counting ---------------------------------------
# A GPT-2-style pre-tokenizer approximation: runs of letters, runs of
# digits, or single punctuation marks. Whitespace tokenization undercounts
# what an LLM tokenizer bills for; this regex is the standard cheap proxy.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-doc whitespace vs regex-subword token counts + the ratio an LLM
    data-budget estimate needs. Single codegen'd projection, no shuffle."""
    ws = F.size(F.split(F.col(text), " "))
    bpe = F.size(F.regexp_extract_all(F.col(text), F.lit(BPE_RE), 0))
    return df.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        (bpe.cast("double") / ws).alias("bpe_per_word"),
    )


TOKEN_BPE_SQL = rf"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INT) AS n_bpe_tokens,
       (round((CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS DOUBLE)
          / len(string_split(text, ' '))) + 1.0e-9,6)+0.0e0) AS bpe_per_word
FROM documents
"""


# --- winnowing: rolling k-gram fingerprints (MOSS) ------------------------
WINNOW_K, WINNOW_W = 4, 5


def winnow_fingerprints(
    df: DataFrame, text: str = "text", k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (Schleimer et al.,
    SIGMOD'03): hash every token k-gram, slide a window of w hashes, keep
    each window's minimum — guaranteed-coverage sub-linear fingerprints for
    partial-overlap detection (plagiarism/quote/near-dup at passage level).

    The k-gram "hash" is the md5 hex string and the window minimum is
    LEXICOGRAPHIC — identically ordered in Spark and DuckDB, so the operator
    is oracle-checkable (an integer rolling hash would be engine-specific).
    Pure per-row array expressions + one explode: no shuffle except the
    final distinct's, and selection density is ~2/(w+1) of k-grams.
    """
    n = "size(_toks)"
    grams = (
        f"CASE WHEN {n} >= {k} THEN "
        f"transform(sequence(0, {n} - {k}), i -> md5(concat_ws(' ', slice(_toks, i + 1, {k})))) "
        "ELSE array(md5(concat_ws(' ', _toks))) END"
    )
    sels = (
        f"array_distinct(transform(sequence(0, greatest(size(_hs) - {w}, 0)), "
        f"i -> array_min(slice(_hs, i + 1, {w}))))"
    )
    return (
        df.withColumn("_toks", F.split(F.col(text), " "))
        .withColumn("_hs", F.expr(grams))
        .select("doc_id", F.explode(F.expr(sels)).alias("fp"))
        .distinct()
    )


WINNOW_SQL = f"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
hs AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {WINNOW_K} THEN
           list_transform(range(1, len(toks) - {WINNOW_K} + 2),
                          i -> md5(array_to_string(toks[i:i+{WINNOW_K - 1}], ' ')))
         ELSE [md5(array_to_string(toks, ' '))] END AS hl
  FROM base)
SELECT DISTINCT doc_id,
       unnest(list_distinct(list_transform(
         range(0, greatest(len(hl) - {WINNOW_W}, 0) + 1),
         i -> list_min(hl[i+1:i+{WINNOW_W}])))) AS fp
FROM hs
"""


def winnow_overlap_pairs(
    df: DataFrame, min_shared: int = 2, df_cap: int = 50, text: str = "text"
) -> DataFrame:
    """Passage-overlap candidate pairs: docs sharing >= min_shared winnowing
    fingerprints. Same scalable shape as the shingle join (equi-join on the
    fingerprint itself — only docs that DO share a fingerprint ever pair),
    with the same df-cap guard: a boilerplate passage appearing in df docs
    would contribute df² pairs, so fingerprints with document frequency
    above df_cap are dropped (boilerplate is exactly what overlap detection
    does NOT want to match on)."""
    fps = winnow_fingerprints(df, text)
    fps = fps.localCheckpoint(eager=False)
    hot = (
        fps.groupBy("fp").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > df_cap)
        .select("fp")
    )
    fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_pairs_sql(min_shared: int = 2, df_cap: int = 50) -> str:
    return f"""
WITH fps AS ({WINNOW_SQL}),
keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {df_cap}),
f2 AS (SELECT fps.* FROM fps JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


def dup_ngram_coverage(
    df: DataFrame, text: str = "text", k: int = 5, min_df: int = 2
) -> DataFrame:
    """Per-document duplicated-n-gram token coverage — the exact-substring
    dedup signal (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): what fraction of a document's tokens sit inside a
    k-gram that also appears in ≥ min_df−1 OTHER documents. Pipelines drop
    or trim documents with high coverage.

    Scale shape: one explode to (doc, start, gram); corpus-wide gram
    document-frequency via partial-agged groupBy on the gram (uniform text
    keys); duplicated grams flow back over a LEFT SEMI equi-join (each
    exploded row matches at most once — no df² pair blowup, unlike a
    pair-join); covered token positions are a bounded k× expansion of the
    matched starts, deduplicated per (doc, position) then counted. No
    Python anywhere; every shuffle key is either the gram or doc_id.
    """
    toks = df.withColumn("_toks", F.split(F.col(text), " "))
    base = toks.select("doc_id", F.size("_toks").alias("n_tokens"), "_toks")
    grams = (
        base.filter(F.col("n_tokens") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, n_tokens - {k}), i -> "
                    f"struct(i AS start, concat_ws(' ', slice(_toks, i + 1, {k})) AS gram))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.start", "g.gram")
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("gram")
    )
    cov = (
        grams.join(dup, "gram", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_tokens"))
    )
    out = (
        base.select("doc_id", "n_tokens")
        .join(cov, "doc_id", "left")
        .withColumn("n_dup_tokens", F.coalesce("n_dup_tokens", F.lit(0)))
    )
    return out.withColumn("dup_frac", F.col("n_dup_tokens") / F.col("n_tokens"))


def dup_ngram_coverage_sql(k: int = 5, min_df: int = 2) -> str:
    """DuckDB twin (1-based lists; positions differ by a constant offset
    from the Spark side, which cancels in the per-doc distinct counts)."""
    return f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
base AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM tk),
gi AS (SELECT doc_id, unnest(range(1, n_tokens - {k} + 2)) AS i, toks
       FROM base WHERE n_tokens >= {k}),
g AS (SELECT doc_id, i, array_to_string(toks[i:i+{k - 1}], ' ') AS gram FROM gi),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= {min_df}),
cov AS (SELECT DISTINCT doc_id, i + o AS pos
        FROM (SELECT g.doc_id, g.i, unnest(range(0, {k})) AS o
              FROM g JOIN dup USING (gram))),
c AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       (round((CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE) / b.n_tokens) + 1.0e-9,6)+0.0e0) AS dup_frac
FROM base b LEFT JOIN c USING (doc_id)
"""


def bpe_merge_candidates(df: DataFrame, text: str = "text", top_n: int = 20) -> DataFrame:
    """One BPE-trainer merge iteration at word granularity: count adjacent
    token pairs across the corpus, rank the top merge candidates. The
    explode emits n−1 pairs per doc; the count partial-aggregates on the
    pair text (uniform-ish keys) and the rank is orderBy+limit
    (TakeOrderedAndProject — per-partition top-N merge, no global sort).
    Ties broken by pair text so the top-N set is deterministic."""
    toks = df.withColumn("_toks", F.split(F.col(text), " "))
    pairs = toks.filter(F.size("_toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(_toks) - 2), "
                "i -> concat(_toks[i], ' ', _toks[i + 1]))"
            )
        ).alias("pair")
    )
    cnt = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    return cnt.orderBy(F.desc("n"), F.asc("pair")).limit(top_n)


def bpe_merge_sql(top_n: int = 20) -> str:
    return f"""
WITH tk AS (SELECT string_split(text, ' ') AS toks FROM documents),
p AS (SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS pair
      FROM tk WHERE len(toks) >= 2)
SELECT pair, count(*) AS n FROM p GROUP BY pair
ORDER BY n DESC, pair LIMIT {top_n}
"""


def doc_split(df: DataFrame, train: int = 80, val: int = 10) -> DataFrame:
    """Deterministic train/val/test assignment by arithmetic hash of
    doc_id (stable across runs, engines, and cluster sizes — the property
    a reproducible data pipeline needs; never use rand()). Returns
    per-(split, lang) counts + length stats. Pure projection + one
    partial-agged aggregation."""
    bucket = ((F.col("doc_id") * 2654435761) % 2147483647) % 100
    split = (
        F.when(bucket < train, "train")
        .when(bucket < train + val, "val")
        .otherwise("test")
    )
    return (
        df.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.avg("n_chars").alias("avg_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def doc_split_sql(train: int = 80, val: int = 10) -> str:
    return f"""
WITH s AS (
  SELECT *, CASE WHEN ((doc_id * 2654435761) % 2147483647) % 100 < {train} THEN 'train'
                 WHEN ((doc_id * 2654435761) % 2147483647) % 100 < {train + val} THEN 'val'
                 ELSE 'test' END AS split
  FROM documents)
SELECT split, lang, count(*) AS n_docs,
       (round((avg(n_chars)) + 1.0e-9,4)+0.0e0) AS avg_chars,
       min(doc_id) AS first_doc
FROM s GROUP BY split, lang
"""


BIGRAM_K = 0.1


def bigram_lm_score(df: DataFrame, text: str = "text", k: float = BIGRAM_K) -> DataFrame:
    """Bigram LM quality score with add-k smoothing — the order-2 upgrade of
    lm_score: p(w_i | w_{i-1}) = (c(w_{i-1} w_i) + k) / (c(w_{i-1} ·) + k·V),
    score = mean −ln p over the doc's bigrams. Catches scrambled/boilerplate
    text whose unigram profile looks normal but whose transitions don't.

    Shape: bigram construction is a pure array expression per row (NO join
    to shift positions); the model is two token-keyed aggregations (bigram
    counts + history counts) joined back on their own grouping keys; V is a
    1-row broadcast. Docs with < 2 tokens have no bigrams and drop out."""
    from . import expr as E  # noqa: F401  (shared literal discipline)

    bg = (
        df.withColumn("_toks", F.split(F.col(text), " "))
        .filter(F.size("_toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_toks) - 2), "
                    "i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    bg = bg.localCheckpoint(eager=False)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = bg.select(F.col("w2").alias("token")).union(
        bg.select(F.col("w1"))
    ).agg(F.countDistinct("token").cast("double").alias("v"))
    kk = float(k)
    p = (F.col("c2") + F.lit(kk)) / (F.col("c1") + F.lit(kk) * F.col("v"))
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(-F.log(p)).alias("bigram_lm_score"),
        )
    )


def bigram_lm_sql(k: float = BIGRAM_K) -> str:
    from . import expr as E

    K = E.NUM(k)
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS b
  FROM t WHERE len(toks) >= 2),
bge AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bge GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bge GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v
      FROM (SELECT w1 AS token FROM bge UNION ALL SELECT w2 FROM bge)),
scored AS (
  SELECT bge.doc_id,
         (c2.c2 + {K}) / (c1.c1 + {K} * v.v) AS p
  FROM bge JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
SELECT doc_id, count(*) AS n_bigrams,
       (round((avg(-ln(p))) + 1.0e-9,4)+0.0e0) AS bigram_lm_score
FROM scored GROUP BY doc_id
"""


PII_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(df: DataFrame, text: str = "text") -> DataFrame:
    """PII detection + redaction — the scrub pass every LLM ingest pipeline
    runs before training. Counts and masks email/phone patterns per doc;
    pure regexp projections (codegen, zero shuffles, zero Python).

    The synthetic corpus contains no organic PII, so the query wrapper
    PLANTS deterministic addresses/numbers first (doc_id-keyed) — the
    operator is exercised end-to-end and the redaction invariant
    (scrubbed text matches nothing) is part of the output the oracle
    hashes."""
    t = F.col(text)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return df.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        (
            F.regexp_count(scrubbed, F.lit(PII_EMAIL_RE))
            + F.regexp_count(scrubbed, F.lit(PII_PHONE_RE))
        ).cast("bigint").alias("residual_pii"),
    )


def pii_scrub_sql(planted: str) -> str:
    """Oracle twin over a subquery yielding (doc_id, text). DuckDB needs the
    'g' flag for global regexp_replace (Spark replaces all by default)."""
    e, p = PII_EMAIL_RE, PII_PHONE_RE
    scrub = (
        f"regexp_replace(regexp_replace(text, '{e}', '<EMAIL>', 'g'),"
        f" '{p}', '<PHONE>', 'g')"
    )
    return f"""
WITH src AS ({planted})
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_phones,
       CAST(length({scrub}) AS BIGINT) AS scrubbed_len,
       md5({scrub}) AS scrubbed_md5,
       CAST(len(regexp_extract_all({scrub}, '{e}'))
            + len(regexp_extract_all({scrub}, '{p}')) AS BIGINT) AS residual_pii
FROM src
"""


# --- RAKE keyphrase extraction (Rose et al. 2010) --------------------------
def rake_keyphrases(
    df: DataFrame, top_n: int = 3, max_words: int = 4, text: str = "text"
) -> DataFrame:
    """Rapid Automatic Keyword Extraction: candidate phrases are maximal
    stopword-free token runs (<= max_words); word score = degree/freq where
    degree sums the lengths of phrases containing the word; phrase score =
    sum of member word scores; emit the top_n phrases per document.

    Scale shape: one posexplode + a cumulative-sum window and all groupBys
    keyed on (doc_id, ...) — per-doc work never crosses documents, and the
    per-doc ranking window is bounded by the phrase count of one doc.
    Scores are rounded to 6dp BEFORE the duplicate-phrase collapse so both
    engines merge identical phrases despite sum-order ulps."""
    from pyspark.sql import Window

    toks = df.select(
        "doc_id", F.posexplode(F.split(F.col(text), " ")).alias("pos", "tok")
    )
    is_stop = F.lower(F.col("tok")).isin(*QUALITY_STOPWORDS) | (F.col("tok") == "")
    toks = toks.withColumn("_stop", is_stop.cast("int"))
    wcum = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    )
    # pins (recompute census x5): words feeds ph + pw, ph feeds pw + out,
    # pw feeds ws + scored — unpinned, each branch re-tokenized the corpus
    words = toks.withColumn("phrase_id", F.sum("_stop").over(wcum)).filter(
        F.col("_stop") == 0
    ).localCheckpoint(eager=False)
    ph = (
        words.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("pts"),
            F.count("*").alias("n_words"),
        )
        .filter(F.col("n_words") <= max_words)
        .withColumn("phrase", F.concat_ws(" ", F.col("pts.tok")))
        .drop("pts")
        .localCheckpoint(eager=False)
    )
    pw = words.join(
        ph.select("doc_id", "phrase_id", "n_words"), ["doc_id", "phrase_id"]
    ).localCheckpoint(eager=False)
    ws = (
        pw.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("freq"), F.sum("n_words").alias("degree"))
        .withColumn("wscore", F.col("degree") / F.col("freq"))
    )
    scored = (
        pw.join(ws, ["doc_id", "tok"])
        .groupBy("doc_id", "phrase_id")
        .agg(F.round(F.sum("wscore") + F.lit(1.0e-9), 6).alias("score"))
    )
    out = (
        ph.join(scored, ["doc_id", "phrase_id"])
        .select("doc_id", "phrase", "n_words", "score")
        .distinct()
    )
    wr = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("phrase"))
    return out.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= top_n
    )


def rake_sql(top_n: int = 3, max_words: int = 4) -> str:
    """DuckDB oracle twin of rake_keyphrases."""
    return f"""
WITH toks AS (
  SELECT doc_id, u.pos, u.tok,
         CASE WHEN lower(u.tok) IN ({_in_list(QUALITY_STOPWORDS)}) OR u.tok = ''
              THEN 1 ELSE 0 END AS stop
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ts) + 1),
                                     i -> {{'pos': i - 1, 'tok': ts[i]}})) AS u
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))),
words AS (
  SELECT doc_id, pos, tok,
         sum(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
  FROM toks QUALIFY stop = 0),
ph AS (
  SELECT doc_id, phrase_id, string_agg(tok, ' ' ORDER BY pos) AS phrase,
         count(*) AS n_words
  FROM words GROUP BY doc_id, phrase_id HAVING count(*) <= {max_words}),
pw AS (
  SELECT w.doc_id, w.phrase_id, w.tok, p.n_words
  FROM words w JOIN ph p ON p.doc_id = w.doc_id AND p.phrase_id = w.phrase_id),
ws AS (
  SELECT doc_id, tok, count(*) AS freq, sum(n_words) AS degree
  FROM pw GROUP BY doc_id, tok),
scored AS (
  SELECT pw.doc_id, pw.phrase_id,
         (round((sum(ws.degree / ws.freq)) + 1.0e-9,6)+0.0e0) AS score
  FROM pw JOIN ws ON ws.doc_id = pw.doc_id AND ws.tok = pw.tok
  GROUP BY pw.doc_id, pw.phrase_id),
u AS (
  SELECT DISTINCT ph.doc_id, ph.phrase, ph.n_words, scored.score
  FROM ph JOIN scored ON scored.doc_id = ph.doc_id AND scored.phrase_id = ph.phrase_id)
SELECT doc_id, phrase, n_words, score, rank FROM (
  SELECT u.*, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, phrase ASC) AS rank
  FROM u)
WHERE rank <= {top_n}
"""


# --- PPMI co-occurrence ------------------------------------------------------
PMI_WINDOW = 2
PMI_TOPK = 50


def token_ppmi(docs: DataFrame, text: str = "text", topk: int = PMI_TOPK) -> DataFrame:
    """Positive pointwise mutual information over token co-occurrence
    (Church & Hanks 1990) — the distributional-semantics primitive behind
    count-based embeddings (PPMI-SVD, Levy & Goldberg 2014): which token
    pairs co-occur within a +/-2 window MORE than their frequencies
    predict. PPMI(i,j) = max(0, ln(c_ij * N / (c_i * c_j))) over the
    pair-event space (marginals = pair participation counts, so the
    distribution normalizes). Top-k pairs by 6dp-rounded score.

    Scale shape: windows are generated by lead(1)/lead(2) over (doc, pos)
    — exactly <=2 pairs per token, ONE window shuffle, no quadratic
    position self-join; counts/marginals are vocabulary-sized groupBys;
    N is a broadcast scalar; top-k is an ordered limit
    (TakeOrderedAndProject). Integer products stay < 2^53 (exact doubles)
    through petabyte-scale counts."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text), " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    win = Window.partitionBy("doc_id").orderBy("pos")
    with_leads = toks.select(
        "w",
        F.lead("w", 1).over(win).alias("n1"),
        F.lead("w", 2).over(win).alias("n2"),
    )
    pairs = (
        with_leads.select(F.col("w").alias("a"), F.col("n1").alias("b"))
        .unionAll(with_leads.select(F.col("w").alias("a"), F.col("n2").alias("b")))
        .filter(F.col("b").isNotNull())
        .select(
            F.least("a", "b").alias("w1"), F.greatest("a", "b").alias("w2")
        )
        # pin: cnt, both marginal legs, and N all read the pair stream —
        # unpinned, each branch re-ran tokenize + the lead window (the
        # recompute census measured 12 documents scans in this plan)
        .localCheckpoint(eager=False)
    )
    cnt = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    marg = (
        pairs.select(F.col("w1").alias("w"))
        .unionAll(pairs.select(F.col("w2").alias("w")))
        .groupBy("w")
        .agg(F.count("*").alias("cm"))
        .localCheckpoint(eager=False)  # vocab-sized, joined twice below
    )
    n_tot = pairs.agg((F.count("*") * 2).alias("n2x"))
    scored = (
        cnt.join(marg.select(F.col("w").alias("w1"), F.col("cm").alias("c1")), "w1")
        .join(marg.select(F.col("w").alias("w2"), F.col("cm").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_tot))
        .withColumn(
            "ppmi",
            F.greatest(
                F.lit(0.0),
                F.log(
                    F.col("c").cast("double") * F.col("n2x")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
            ),
        )
        .withColumn("ppmi6", F.round(F.col("ppmi") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    return (
        scored.orderBy(F.desc("ppmi6"), F.asc("w1"), F.asc("w2"))
        .limit(topk)
        .select("w1", "w2", F.col("c").alias("n_cooc"), F.col("ppmi6").alias("ppmi"))
    )


def token_ppmi_sql(topk: int = PMI_TOPK) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents)
  WHERE w <> ''),
leads AS (
  SELECT w,
         lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
  FROM toks),
pairs AS MATERIALIZED (
  SELECT least(a, b) AS w1, greatest(a, b) AS w2 FROM (
    SELECT w AS a, n1 AS b FROM leads
    UNION ALL SELECT w, n2 FROM leads)
  WHERE b IS NOT NULL),
cnt AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY w1, w2),
marg AS (
  SELECT w, count(*) AS cm FROM (
    SELECT w1 AS w FROM pairs UNION ALL SELECT w2 FROM pairs)
  GROUP BY w),
ntot AS (SELECT count(*) * 2 AS n2x FROM pairs)
SELECT w1, w2, c AS n_cooc,
       (round(greatest(0.0e0,
              ln(CAST(c AS DOUBLE) * n2x
                 / (CAST(m1.cm AS DOUBLE) * m2.cm))) + 1.0e-9, 6) + 0.0e0)
         AS ppmi
FROM cnt
JOIN marg m1 ON m1.w = cnt.w1
JOIN marg m2 ON m2.w = cnt.w2
CROSS JOIN ntot
ORDER BY ppmi DESC, w1, w2 LIMIT {topk}
"""


# --- per-source token KL divergence ------------------------------------------
KL_SMOOTH = 0.5


def source_kl(docs: DataFrame, text: str = "text") -> DataFrame:
    """Which sources are linguistically unusual: KL(source || corpus) over
    smoothed token unigram distributions — the mixture-profiling number
    that flags a source whose text distribution diverges from the blend
    it feeds (candidate for reweighting or a closer look). Laplace
    +0.5 smoothing over the corpus vocabulary keeps every cell finite,
    mirrored on both sides.

    Scale shape: one (source, token) groupBy + one token groupBy —
    both vocabulary-sized; the KL sum is a per-source reduce over its
    vocab rows. Exact integer counts throughout."""
    toks = docs.select(
        "source", F.explode(F.split(F.col(text), " ")).alias("w")
    ).filter(F.col("w") != "")
    # pins (recompute census x5): toks feeds both count tables; sw/cw are
    # vocabulary-sized and each read twice (totals + the dense grid)
    toks = toks.localCheckpoint(eager=False)
    sw = toks.groupBy("source", "w").agg(F.count("*").alias("c")).localCheckpoint(eager=False)
    cw = toks.groupBy("w").agg(F.count("*").alias("cc")).localCheckpoint(eager=False)
    vocab = cw.agg(F.count("*").alias("v"))
    stot = sw.groupBy("source").agg(F.sum("c").alias("st"))
    ctot = cw.agg(F.sum("cc").alias("ct"))
    # dense per-(source, vocab-token) grid via cross of sources x vocab,
    # left-joined counts -> smoothing handles the zeros
    grid = (
        stot.crossJoin(cw)
        .join(sw, ["source", "w"], "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ctot))
        .withColumn(
            "p",
            (F.coalesce(F.col("c"), F.lit(0)) + F.lit(KL_SMOOTH))
            / (F.col("st") + F.lit(KL_SMOOTH) * F.col("v")),
        )
        .withColumn(
            "q",
            (F.col("cc") + F.lit(KL_SMOOTH))
            / (F.col("ct") + F.lit(KL_SMOOTH) * F.col("v")),
        )
    )
    out = (
        grid.groupBy("source")
        .agg(
            F.first("st").alias("n_tokens"),
            F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))).alias("kl_nats"),
        )
        .select("source", F.col("n_tokens").cast("bigint").alias("n_tokens"), "kl_nats")
    )
    from .queries import round6

    return round6(out, "kl_nats")


def source_kl_sql() -> str:
    from . import expr as E

    sm = E.NUM(KL_SMOOTH)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT source, w FROM (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''),
sw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY source, w),
cw AS (SELECT w, count(*) AS cc FROM toks GROUP BY w),
vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM cw),
stot AS (SELECT source, sum(c) AS st FROM sw GROUP BY source),
ctot AS (SELECT CAST(sum(cc) AS DOUBLE) AS ct FROM cw),
grid AS (
  SELECT stot.source, stot.st, cw.cc,
         (CAST(coalesce(sw.c, 0) AS DOUBLE) + {sm}) / (stot.st + {sm} * vv.v) AS p,
         (CAST(cw.cc AS DOUBLE) + {sm}) / (ctot.ct + {sm} * vv.v) AS q
  FROM stot CROSS JOIN cw
  LEFT JOIN sw ON sw.source = stot.source AND sw.w = cw.w
  CROSS JOIN vv CROSS JOIN ctot)
SELECT source, CAST(any_value(st) AS BIGINT) AS n_tokens,
       (round(sum(p * ln(p / q)) + 1.0e-9, 6) + 0.0e0) AS kl_nats
FROM grid GROUP BY source
"""


# --- Gopher quality-filter rule battery --------------------------------------
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_NGRAM_CAPS = {2: 0.20, 3: 0.18, 4: 0.16}


def gopher_quality(df: DataFrame, text: str = "text") -> DataFrame:
    """Gopher quality-filter rule battery (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Appendix A1.1) — the word-level subset
    that is meaningful on a space-tokenized corpus: word count in
    [50, 100k], mean word length in [3, 10], top 2/3/4-gram fraction caps
    (0.20/0.18/0.16), and the "contains >= 2 common English stop words"
    rule. (The paper's symbol/bullet/ellipsis line rules need punctuation
    the synthetic corpus lacks; on it they are vacuously true and omitted
    rather than padded.)

    Distributed shape: ONE explode of tagged n-grams (n prefixed into the
    gram string) -> groupBy (doc_id, gram) partial count -> groupBy
    (doc_id, n) for totals/max — two shuffles on uniform doc-keyed keys,
    no skew, no Python. Per-doc scalars (word count, mean word length,
    distinct-stopword hits) ride on the base table and join back on
    doc_id. Reference anchor: complements text_stats/repetition_stats
    (SURVEY §2 K4) with the canonical published rule battery.
    → (doc_id, n_words, mean_word_len, top2_frac, top3_frac, top4_frac,
       stop_hits, pass_gopher)."""
    base = df.withColumn("_toks", F.split(F.col(text), " "))
    nw = F.size("_toks")
    scalars = base.select(
        "doc_id",
        nw.alias("n_words"),
        ((F.length(text) - (nw - F.lit(1))) / nw).alias("mean_word_len"),
        F.size(
            F.array_intersect(
                F.array_distinct("_toks"),
                F.array(*[F.lit(w) for w in GOPHER_STOPS]),
            )
        ).alias("stop_hits"),
    )
    # the n-tag is baked into the gram string inside the lambda ('2<TAB>w w')
    # so ONE explode covers all three gram sizes
    gram_arrays = [
        F.expr(
            f"CASE WHEN size(_toks) >= {n} THEN transform("
            f"sequence(0, size(_toks) - {n}), "
            f"i -> concat('{n}', char(9), concat_ws(' ', slice(_toks, i + 1, {n})))) "
            "ELSE array() END"
        )
        for n in (2, 3, 4)
    ]
    tagged = F.concat(*gram_arrays)
    grams = (
        base.select("doc_id", F.explode(tagged).alias("tg"))
        .groupBy("doc_id", "tg")
        .agg(F.count("*").alias("c"))
        .withColumn("n", F.substring("tg", 1, 1).cast("int"))
        .groupBy("doc_id", "n")
        .agg(F.sum("c").alias("total"), F.max("c").alias("top"))
    )
    fr = grams.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(F.col("n") == n, F.col("top") / F.col("total"))
            ).alias(f"f{n}")
            for n in (2, 3, 4)
        ]
    )
    out = scalars.join(fr, "doc_id", "left")
    caps = GOPHER_NGRAM_CAPS
    rules = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.coalesce(F.col("f2"), F.lit(0.0)) <= caps[2])
        & (F.coalesce(F.col("f3"), F.lit(0.0)) <= caps[3])
        & (F.coalesce(F.col("f4"), F.lit(0.0)) <= caps[4])
        & (F.col("stop_hits") >= 2)
    )
    r6 = lambda c: F.round(c + F.lit(1e-9), 6) + F.lit(0.0)  # noqa: E731
    return out.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        r6(F.col("mean_word_len")).alias("mean_word_len"),
        r6(F.coalesce(F.col("f2"), F.lit(0.0))).alias("top2_frac"),
        r6(F.coalesce(F.col("f3"), F.lit(0.0))).alias("top3_frac"),
        r6(F.coalesce(F.col("f4"), F.lit(0.0))).alias("top4_frac"),
        F.col("stop_hits").cast("bigint").alias("stop_hits"),
        rules.alias("pass_gopher"),
    )


GOPHER_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
scalars AS (
  SELECT doc_id, len(toks) AS n_words,
         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mwl,
         len(list_intersect(list_distinct(toks),
                            [{_in_list(GOPHER_STOPS)}])) AS stop_hits
  FROM base),
tg AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
        i -> '2' || chr(9) || array_to_string(toks[i:i+1], ' ')) ELSE [] END
      || CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
        i -> '3' || chr(9) || array_to_string(toks[i:i+2], ' ')) ELSE [] END
      || CASE WHEN len(toks) >= 4 THEN list_transform(range(1, len(toks) - 2),
        i -> '4' || chr(9) || array_to_string(toks[i:i+3], ' ')) ELSE [] END) AS g
    FROM base)),
gc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g),
gn AS (
  SELECT doc_id, CAST(substr(g, 1, 1) AS INT) AS n,
         sum(c) AS total, max(c) AS top
  FROM gc GROUP BY doc_id, substr(g, 1, 1)),
fr AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN CAST(top AS DOUBLE) / total END) AS f2,
         max(CASE WHEN n = 3 THEN CAST(top AS DOUBLE) / total END) AS f3,
         max(CASE WHEN n = 4 THEN CAST(top AS DOUBLE) / total END) AS f4
  FROM gn GROUP BY doc_id)
SELECT s.doc_id, CAST(s.n_words AS BIGINT) AS n_words,
       (round(s.mwl + 1.0e-9, 6) + 0.0e0) AS mean_word_len,
       (round(coalesce(f.f2, 0.0e0) + 1.0e-9, 6) + 0.0e0) AS top2_frac,
       (round(coalesce(f.f3, 0.0e0) + 1.0e-9, 6) + 0.0e0) AS top3_frac,
       (round(coalesce(f.f4, 0.0e0) + 1.0e-9, 6) + 0.0e0) AS top4_frac,
       CAST(s.stop_hits AS BIGINT) AS stop_hits,
       (s.n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND s.mwl BETWEEN 3.0e0 AND 1.0e1
        AND coalesce(f.f2, 0.0e0) <= 2.0e-1
        AND coalesce(f.f3, 0.0e0) <= 1.8e-1
        AND coalesce(f.f4, 0.0e0) <= 1.6e-1
        AND s.stop_hits >= 2) AS pass_gopher
FROM scalars s LEFT JOIN fr f ON s.doc_id = f.doc_id
"""
