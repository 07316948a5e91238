"""Queries for the LLM-data-pipeline extensions (text analysis, dedup,
similarity search, multimodal) over documents/embeddings tables."""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import dedup, mixing, multimodal, similarity, text
from .io import read_table
from .queries import _REGISTRY, Query, round6, roundn


# --- text analysis --------------------------------------------------------
def _q_text_stats(spark, sf_dir):
    out = text.text_stats(read_table(spark, sf_dir, "documents", fanout=True))
    return round6(out, "distinct_ratio", "avg_token_len", "stopword_ratio")


def _q_doc_entropy(spark, sf_dir):
    from .queries import canon_types

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return canon_types(round6(text.doc_entropy(docs), "entropy", "norm_entropy"))


def _q_embed_pca(spark, sf_dir):
    return similarity.pca_variance(read_table(spark, sf_dir, "embeddings", fanout=True))


def _q_lm_score(spark, sf_dir):
    from .queries import canon_types, roundn

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return canon_types(roundn(text.lm_score(docs), 4, "lm_score"))


FILTER_DROP_PCTS = (0, 10, 25, 50)


def _q_filter_frontier(spark, sf_dir):
    """The data-filtering budget table: rank docs worst-first by the
    4dp-rounded unigram-LM quality score (doc_lm_score's metric, doc_id
    tiebreak) and report, for each drop percentage, the docs and TOKENS
    retained plus the mean score of the survivors — tokens retained per
    quality cutoff is the number an LLM data budget actually trades
    against. Completes the frontier family: ann_ivf_frontier (probe
    cost), ann_rerank_frontier (re-rank budget), pack_budget_frontier
    (context length), this (filter aggressiveness).

    Scale shape: the global worst-first rank runs on the stratified_rank
    scaffold with a constant stratum — the scaffold range-partitions on
    the ORDER columns, so a constant stratum costs nothing and no single
    task ever sees the whole corpus (the |partitions|x1 counts table +
    prefix offsets give exact global ranks). The cutoff floor(pct·n/100)
    uses integer arithmetic — exact in both engines."""
    from pyspark.sql import functions as F

    from .queries_scale import stratified_rank

    scored = text.lm_score(read_table(spark, sf_dir, "documents", fanout=True)).select(
        "doc_id",
        "n_tokens",
        (F.round(F.col("lm_score") + F.lit(1e-9), 4) + F.lit(0.0)).alias("s4"),
    )
    ranked = stratified_rank(
        scored.withColumn("_g", F.lit(1)),
        "_g",
        [F.desc("s4"), F.asc("doc_id")],
        out="rk",
    )
    n_total = scored.agg(F.count("*").alias("_n"))
    pcts = scored.sparkSession.createDataFrame(
        [(int(p),) for p in FILTER_DROP_PCTS], "drop_pct int"
    )
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(pcts))
        .filter(F.col("rk") > F.expr("CAST(drop_pct * _n AS BIGINT) div 100"))
        .groupBy("drop_pct")
        .agg(
            F.count("*").cast("bigint").alias("docs_retained"),
            F.sum("n_tokens").cast("bigint").alias("tokens_retained"),
            (F.round(F.avg("s4") + F.lit(1e-9), 4) + F.lit(0.0)).alias(
                "mean_lm_score"
            ),
        )
        .orderBy("drop_pct")
    )


_FILTER_FRONTIER_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
vocab AS (SELECT token, count(*) AS tf FROM toks GROUP BY token),
lm AS (
  SELECT token, CAST(tf AS DOUBLE) / (SELECT sum(tf) FROM vocab) AS p FROM vocab),
s AS (
  SELECT doc_id, count(*) AS n_tokens,
         (round((avg(-ln(p))) + 1.0e-9,4)+0.0e0) AS s4
  FROM toks JOIN lm USING (token)
  GROUP BY doc_id),
r AS (
  SELECT doc_id, n_tokens, s4,
         row_number() OVER (ORDER BY s4 DESC, doc_id ASC) AS rk
  FROM s),
n AS (SELECT count(*) AS nn FROM s),
g AS (SELECT unnest([{", ".join(str(int(p)) for p in FILTER_DROP_PCTS)}]) AS drop_pct)
SELECT CAST(g.drop_pct AS INT) AS drop_pct,
       CAST(count(*) AS BIGINT) AS docs_retained,
       CAST(sum(r.n_tokens) AS BIGINT) AS tokens_retained,
       (round(avg(r.s4) + 1.0e-9, 4) + 0.0e0) AS mean_lm_score
FROM r CROSS JOIN n CROSS JOIN g
WHERE r.rk > (g.drop_pct * n.nn) // 100
GROUP BY g.drop_pct ORDER BY drop_pct
"""


def _q_bigram_lm(spark, sf_dir):
    from .queries import canon_types, roundn

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return canon_types(roundn(text.bigram_lm_score(docs), 4, "bigram_lm_score"))


def _q_source_mixture(spark, sf_dir):
    from .queries import canon_types, round6 as r6

    out = mixing.mixture_summary(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(r6(out, "keep_rate", "doc_share", "char_share"))


def _q_mix_doremi(spark, sf_dir):
    # DoReMi-lite domain reweighting (Xie et al. 2023): Group-DRO
    # multiplicative weights over a deterministic per-domain proxy excess
    # loss, trajectory-averaged. One corpus groupBy; the T-step iteration
    # runs on the k-domain table via single-partition window sums.
    from .queries import canon_types

    return canon_types(mixing.doremi_weights(read_table(spark, sf_dir, "documents", fanout=True)))


def _q_lang_id(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return round6(text.lang_id(docs), "en_score", "es_score")


def _q_fingerprint(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return text.fingerprint(docs).select("doc_id", "fingerprint")


def _q_token_freq(spark, sf_dir):
    return text.token_freq(read_table(spark, sf_dir, "documents", fanout=True), top_n=20)


def _q_feature_hash(spark, sf_dir):
    return text.feature_hash(read_table(spark, sf_dir, "documents", fanout=True))


def _q_readability(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return round6(text.readability(docs), "flesch_ease", "fk_grade")


def _q_token_bpe(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return round6(text.token_count_bpe(docs), "bpe_per_word")


def _q_winnow(spark, sf_dir):
    return text.winnow_fingerprints(read_table(spark, sf_dir, "documents", fanout=True))


def _q_repetition(spark, sf_dir):
    out = text.repetition_stats(read_table(spark, sf_dir, "documents", fanout=True))
    return round6(out, "top_token_frac", "top_bigram_frac", "mean_token_len")


# --- dedup ----------------------------------------------------------------
def _q_dedup_exact(spark, sf_dir):
    out = dedup.exact_dedup(read_table(spark, sf_dir, "documents", fanout=True))
    return out.select("doc_id", "fingerprint", "is_dup")


_DEDUP_EXACT_SQL = """
SELECT doc_id, fingerprint, (rn > 1) AS is_dup FROM (
  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
         row_number() OVER (PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
                            ORDER BY doc_id) AS rn
  FROM documents)
"""


def _q_jaccard(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    out = dedup.jaccard_pairs(docs, ["lang", "source"], threshold=0.01)
    return round6(out, "jaccard")


def _q_prefix_jaccard(spark, sf_dir):
    return round6(dedup.prefix_jaccard(read_table(spark, sf_dir, "documents", fanout=True)), "jac")


def _q_containment(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    out = dedup.jaccard_pairs(docs, ["lang", "source"], threshold=0.01, containment=True)
    return round6(out, "jaccard", "containment")


def _q_minhash(spark, sf_dir):
    # xxhash64-based → engine-specific → rows-only; recall asserted in tests
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    out = dedup.minhash_lsh_pairs(docs, verify_threshold=0.05)
    return round6(out, "jaccard")


def _q_minhash_portable(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return dedup.minhash_portable_pairs(docs, verify_threshold=0.05)


def _q_simhash_portable(spark, sf_dir):
    sim = dedup.simhash_portable(read_table(spark, sf_dir, "documents", fanout=True))
    return dedup.hamming_pairs(sim, max_dist=20)


def _q_simhash(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return dedup.simhash(docs).select("doc_id", "simhash")


def _q_simhash_pairs(spark, sf_dir):
    sim = dedup.simhash(read_table(spark, sf_dir, "documents", fanout=True))
    return dedup.hamming_pairs(sim, max_dist=20)


# --- similarity search ----------------------------------------------------
N_QUERIES = 10


def _q_cosine_topk(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", fanout=True)
    out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=5)
    return round6(out, "cos_sim")


def _q_mmr(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", fanout=True)
    return similarity.mmr_rerank(emb, emb.filter(F.col("vec_id") < N_QUERIES))


def _q_neardup(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", fanout=True)
    out = similarity.neardup_pairs(emb, threshold=0.25)
    return round6(out, "cos_sim")


def _q_ann_ivf(spark, sf_dir):
    # ANN path: recall-vs-brute-force asserted in tests; rows-only here
    out = similarity.ivf_topk(read_table(spark, sf_dir, "embeddings", fanout=True), N_QUERIES, k=5)
    return round6(out, "cos_sim")


def _q_ann_ivf_recall(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", fanout=True)
    return similarity.ivf_recall(emb, N_QUERIES, k=5)


# --- multimodal (P6 PPM decoded for real; compressed formats stubbed —
# see tsgen/multimodal.py) -------------------------------------------------
def _q_multimodal(spark, sf_dir):
    from .queries import canon_types

    media = multimodal.as_media_table(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.extract_features(media))


# DuckDB twin of the deterministic decode_stub: utf-8 bytes recovered from
# hex(encode(text)), checksum = fold (c*31 + byte) % 1000003 — the stub is
# byte arithmetic, so even the stubbed multimodal path is value-checked.
_MULTIMODAL_SQL = """
WITH b AS (
  SELECT doc_id, 'text/plain' AS kind, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
  FROM documents),
f AS (
  SELECT doc_id, kind, byte_len,
         CASE WHEN byte_len = 0 THEN -1
              ELSE (strpos('0123456789ABCDEF', substr(hx, 1, 1)) - 1) * 16
                   + strpos('0123456789ABCDEF', substr(hx, 2, 1)) - 1 END AS first_byte,
         list_reduce(
           list_prepend(0, list_transform(range(1, byte_len + 1),
             i -> (strpos('0123456789ABCDEF', substr(hx, 2 * i - 1, 1)) - 1) * 16
                  + strpos('0123456789ABCDEF', substr(hx, 2 * i, 1)) - 1)),
           (a, b) -> (a * 31 + b) % 1000003) AS checksum
  FROM b)
SELECT doc_id, kind, byte_len, CAST(first_byte AS BIGINT) AS first_byte,
       CAST(checksum AS BIGINT) AS checksum
FROM f
"""


def _q_multimodal_decode(spark, sf_dir):
    # REAL image decode (netpbm P6, pure-numpy parser — no PIL needed):
    # render deterministic PPM payloads, parse them back, emit channel
    # stats; the oracle integrates the closed-form pixel spec directly,
    # value-checking the whole render -> parse -> stats pipeline.
    from .queries import canon_types

    media = multimodal.synth_ppm_media(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.image_stats(media))


def _q_multimodal_decode_png(spark, sf_dir):
    # REAL compressed-image decode (PNG 8-bit RGB, stdlib-zlib parser — no
    # PIL needed): render deterministic PNG payloads whose scanline filter
    # type cycles 0-4, walk chunks + verify CRCs + inflate IDAT + defilter,
    # emit channel stats. Payload content is the same closed-form ramp spec
    # as the PPM path, so the oracle (image_stats_sql) integrates the spec
    # directly and any bug in the chunk walk / inflate / defilter breaks
    # the value match.
    from .queries import canon_types

    media = multimodal.synth_png_media(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.image_stats(media, decoder=multimodal.decode_png))


def _q_multimodal_decode_jpeg(spark, sf_dir):
    # REAL entropy-coded image decode (baseline JPEG, ITU-T T.81 — pure
    # numpy+struct, no codec lib): render block-constant grayscale JPEGs
    # (even sample values + Q[0,0]=16 make the DC quantize round-trip
    # exact), then marker-walk, rebuild Huffman tables from DHT, decode
    # the byte-stuffed scan, dequantize, IDCT, and emit exact-integer
    # pixel stats the oracle integrates from the closed-form block spec.
    from .queries import canon_types

    media = multimodal.synth_jpeg_media(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.jpeg_stats(media))


def _q_multimodal_decode_jpeg_ac(spark, sf_dir):
    # The JPEG AC-path certification: a coefficient-space corpus plants
    # signed DC + three AC slots (one past a 16-zero gap, forcing ZRL;
    # 371/500 payloads contain byte-stuffed 0xFF00). The query returns
    # DEQUANTIZED-coefficient stats — exact integers, so run-length, ZRL,
    # EOB, negative-magnitude and DC-prediction bugs all break the match.
    from .queries import canon_types

    media = multimodal.synth_jpeg_planted_media(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.jpeg_coeff_stats(media))


def _q_stream_jpeg_stats(spark, sf_dir):
    # Streaming twin of multimodal_decode_jpeg: the corpus arrives as a
    # file stream, the baseline-JPEG render + T.81 decode runs in
    # mapInPandas ON the stream (stateless, append mode), and the
    # availableNow replay must equal the batch result exactly — the SAME
    # closed-form oracle certifies the streaming entropy-decode path.
    from . import streaming
    from .queries import canon_types

    docs = streaming.docs_stream(spark, sf_dir)
    stats = multimodal.jpeg_stats(multimodal.synth_jpeg_media(docs))
    return canon_types(streaming.run_to_completion(stats, mode="append"))


def _q_media_cross_codec_dedup(spark, sf_dir):
    # Cross-codec content-addressed dedup: every doc's image exists as a
    # PNG master and a JPEG re-encode (a deterministic subset of PNGs is
    # perturbed); each payload decodes with ITS OWN real codec and groups
    # on the decoded-pixel content key. Byte-level dedup cannot see these
    # pairs — only the two decoders agreeing on pixels can.
    from .queries import canon_types

    media = multimodal.synth_cross_codec_media(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.cross_codec_dedup(media))


def _q_multimodal_decode_wav(spark, sf_dir):
    # REAL audio decode (RIFF/WAVE 16-bit PCM, struct-only parser): render
    # deterministic WAV payloads (incl. a junk LIST chunk so the unknown-
    # chunk skip path runs), walk the container, emit exact-integer clip
    # stats; the oracle integrates the closed-form sample spec directly.
    from .queries import canon_types

    media = multimodal.synth_wav_media(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.audio_stats(media))


def _q_multimodal_decode_y4m(spark, sf_dir):
    # REAL video decode (YUV4MPEG2 C444): header tokenize + raw plane
    # slices, one output ROW PER FRAME — the genuine 1->N video explosion
    # with exact-integer plane sums; the oracle unnests the frame range
    # and integrates the per-frame ramps.
    from .queries import canon_types

    media = multimodal.synth_y4m_media(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.video_frame_stats(media))


def _q_stream_media_stats(spark, sf_dir):
    # Streaming twin of multimodal_decode_wav: documents arrive as a file
    # stream (the production corpus-ingest shape), media renders + decodes
    # inside mapInPandas ON THE STREAM (stateless — append mode, no
    # watermark needed), and the materialized availableNow replay must
    # equal the batch result exactly, so the SAME closed-form oracle
    # checks the streaming path.
    from . import streaming
    from .queries import canon_types

    docs = streaming.docs_stream(spark, sf_dir)
    stats = multimodal.audio_stats(multimodal.synth_wav_media(docs))
    return canon_types(streaming.run_to_completion(stats, mode="append"))


def _q_video_frame_neardup(spark, sf_dir):
    # keyframe-level video dedup: decode Y4M clips, aHash every frame's
    # luma plane (exact-integer bit test), banded self-join across the
    # WHOLE corpus -> near-dup frame pairs within and across clips,
    # aggregated to the (same_clip x hamming) profile so the compared
    # result stays tiny while the full pair evaluation runs. The oracle
    # recomputes signatures from the closed-form Y ramps.
    from .queries import canon_types

    media = multimodal.synth_y4m_media(read_table(spark, sf_dir, "documents", fanout=True))
    return canon_types(multimodal.video_neardup_profile(media))


def _q_multimodal_phash(spark, sf_dir):
    # perceptual-hash near-dup pairs over stub-decoded thumbnails; the
    # aHash bit test is an exact integer inequality (no float pooling), so
    # the whole pipeline is DuckDB-replayable (multimodal.phash_pairs_sql)
    media = multimodal.as_media_table(read_table(spark, sf_dir, "documents", fanout=True))
    return multimodal.phash_pairs(media)


def _q_tfidf(spark, sf_dir):
    from .queries import round6 as _r

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return _r(text.tfidf_top_terms(docs, top_n=3), "tfidf")


# --- chunking / packing / quantization (pretraining preproc) --------------
def _q_doc_chunks(spark, sf_dir):
    return text.doc_chunks(read_table(spark, sf_dir, "documents", fanout=True))


def _q_pack_sequences(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return round6(text.pack_sequences(docs), "fill_ratio")


def _q_pack_sequences_ffd(spark, sf_dir):
    return text.pack_sequences_ffd(read_table(spark, sf_dir, "documents", fanout=True))


def _q_ann_lsh(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", fanout=True)
    return round6(similarity.lsh_pairs(emb), "cos_sim")


def _q_trunc_recall(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", fanout=True)
    return similarity.trunc_recall(emb, n_queries=N_QUERIES)


def _q_embed_top_eigen(spark, sf_dir):
    from .queries import roundn

    out = similarity.top_eigen(read_table(spark, sf_dir, "embeddings", fanout=True))
    return roundn(out, 4, "top_eigenvalue", "explained_share", "trace")


def _q_embed_pq(spark, sf_dir):
    # iterative float k-means -> engine-specific codes -> rows-only; PQ
    # recall + Lloyd-monotonicity asserted in tests
    from .queries import canon_types, roundn

    out = similarity.pq_summary(read_table(spark, sf_dir, "embeddings", fanout=True))
    return canon_types(roundn(out.drop("codes"), 4, "recon_err"))


def _q_embed_quantize(spark, sf_dir):
    from .queries import roundn

    emb = read_table(spark, sf_dir, "embeddings", fanout=True)
    return roundn(
        similarity.quantize_int8(emb), 9, "scale", "recon_mse"
    )


# --- multimodal frame sampling (oracle via ASCII string slicing) ----------
def _q_multimodal_frames(spark, sf_dir):
    media = multimodal.as_media_table(read_table(spark, sf_dir, "documents", fanout=True))
    return multimodal.frame_sample(media)


# The corpus is pure ASCII (verified: octet_length == length at every sf),
# so byte offsets == character offsets and DuckDB can replay the byte
# slicing with string substring + md5. Non-ASCII corpora would need a
# rows-only check instead.
_FRAMES_SQL = f"""
WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
f AS (
  SELECT doc_id, text, n,
         unnest(range(0, (n + {multimodal.FRAME_STRIDE} - 1)
                          // {multimodal.FRAME_STRIDE})) AS frame_idx
  FROM base)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       md5(substring(text, CAST(frame_idx * {multimodal.FRAME_STRIDE} + 1 AS BIGINT),
                     {multimodal.FRAME_SIZE})) AS frame_md5,
       CAST(least({multimodal.FRAME_SIZE}, n - frame_idx * {multimodal.FRAME_STRIDE}) AS INT) AS frame_len
FROM f
"""


# --- near-dup clustering: pairs → connected components → canonical doc ----
# The dedup step real pipelines run AFTER pair generation: group transitively
# linked near-dups into clusters, keep min doc_id as canonical. Spark side =
# dedup.connected_components (min-label propagation + pointer jumping);
# oracle = recursive CTE computing min reachable node. Threshold/blocking
# chosen so the sf graph has multi-hop chains (clusters up to ~19 docs),
# exercising >1 propagation round.
CLUSTER_THR = 0.02


def _q_dedup_clusters(spark, sf_dir):
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    lab = dedup.connected_components(pairs.select("doc_a", "doc_b"))
    w = Window.partitionBy("cluster_id")
    return (
        lab.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count("*").over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def _dedup_clusters_sql() -> str:
    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    return f"""
WITH RECURSIVE jp AS ({jp}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM jp
          UNION ALL SELECT doc_b, doc_a FROM jp),
cc_nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM cc_nodes
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
lab AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM lab
"""


# --- canonical-doc selection per near-dup cluster --------------------------
# The step AFTER clustering that actually shrinks the corpus: keep the best
# doc per cluster (longest text, ties → smallest doc_id — the usual "most
# complete variant wins" policy), report what was dropped. One window over
# the cluster assignment (partitioned by cluster_id — cluster sizes are
# bounded by the pair generator's df-cap, so no skewed reducer).
def _q_dedup_keep_best(spark, sf_dir):
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", fanout=True).select(
        "doc_id", F.length("text").alias("doc_len")
    )
    pairs = dedup.jaccard_pairs(
        read_table(spark, sf_dir, "documents", fanout=True), ["lang"], threshold=CLUSTER_THR
    )
    lab = dedup.connected_components(pairs.select("doc_a", "doc_b")).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("doc_len").desc(), F.col("doc_id").asc()
    )
    ranked = lab.join(docs, "doc_id").withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_len"))).alias("kept_len"),
            F.count("*").alias("cluster_size"),
            (F.count("*") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def _dedup_keep_best_sql() -> str:
    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    return f"""
WITH RECURSIVE jp AS MATERIALIZED ({jp}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM jp
          UNION ALL SELECT doc_b, doc_a FROM jp),
cc_nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM cc_nodes
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
lab AS MATERIALIZED (SELECT node AS doc_id, min(r) AS cluster_id
                     FROM reach GROUP BY node),
ranked AS (
  SELECT l.cluster_id, l.doc_id, len(d.text) AS doc_len,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY len(d.text) DESC, l.doc_id ASC) AS rn
  FROM lab l JOIN documents d ON d.doc_id = l.doc_id)
SELECT cluster_id,
       max(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
       max(CASE WHEN rn = 1 THEN doc_len END) AS kept_len,
       count(*) AS cluster_size,
       count(*) - 1 AS n_dropped
FROM ranked GROUP BY cluster_id ORDER BY cluster_id
"""


# --- DSIR-style importance weighting ---------------------------------------
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023): score
# every raw doc by how target-like its hashed n-gram features are —
# score(doc) = mean over tokens of log p̂_target(bucket) − log p̂_raw(bucket),
# with add-alpha smoothing over B hash buckets. The standard modern recipe
# for "give me more docs that look like this reference corpus" at 100 TB:
# the bucket LM is a B-row table (broadcast), the scan is one explode +
# two partial-agged passes — no shuffle of the corpus beyond the per-doc agg.
DSIR_B, DSIR_ALPHA = 128, 0.5
DSIR_TARGET = "lang = 'en'"   # target distribution: the corpus's en slice


def _q_dsir_scores(spark, sf_dir):
    from pyspark.sql import functions as F

    from .queries import roundn
    from .sketches import _hash48, _spark_hexparse

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    toks = docs.select(
        "doc_id",
        F.col("lang"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    )
    feats = toks.withColumn(
        "b", F.expr(f"({_hash48('tok', _spark_hexparse)}) % {DSIR_B}")
    )
    counts = feats.groupBy("b").agg(
        F.count("*").alias("n_all"),
        F.sum(F.expr(f"CAST({DSIR_TARGET} AS LONG)")).alias("n_tgt"),
    )
    tot = counts.agg(
        F.sum("n_all").alias("t_all"), F.sum("n_tgt").alias("t_tgt")
    )
    a, ab = F.lit(DSIR_ALPHA), F.lit(DSIR_ALPHA * DSIR_B)
    w = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("n_tgt") + a) / (F.col("t_tgt") + ab))
            - F.log((F.col("n_all") + a) / (F.col("t_all") + ab))
        ).alias("w"),
    )
    out = (
        feats.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.avg("w").alias("dsir_score"), F.count("*").alias("n_tokens"))
        .orderBy("doc_id")
    )
    return roundn(out, 4, "dsir_score")


def _dsir_sql() -> str:
    from .sketches import _duck_hexparse, _hash48

    h = _hash48("tok", _duck_hexparse)
    a, ab = f"{DSIR_ALPHA:.9e}", f"{DSIR_ALPHA * DSIR_B:.9e}"
    return f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents),
feats AS (SELECT doc_id, lang, ({h}) % {DSIR_B} AS b FROM toks),
counts AS (
  SELECT b, count(*) AS n_all,
         sum(CASE WHEN {DSIR_TARGET} THEN 1 ELSE 0 END) AS n_tgt
  FROM feats GROUP BY b),
tot AS (SELECT sum(n_all) AS t_all, sum(n_tgt) AS t_tgt FROM counts),
w AS (
  SELECT b, ln((n_tgt + {a}) / (t_tgt + {ab}))
            - ln((n_all + {a}) / (t_all + {ab})) AS w
  FROM counts CROSS JOIN tot)
SELECT f.doc_id, (round((avg(w.w)) + 1.0e-9,4)+0.0e0) AS dsir_score,
       count(*) AS n_tokens
FROM feats f JOIN w ON w.b = f.b
GROUP BY f.doc_id ORDER BY f.doc_id
"""


# --- end-to-end corpus curation (the LLM training-data pipeline, fused) ----
# One query composing the whole curation funnel the way a real pipeline
# runs it: exact dedup (md5 fingerprint, keeper = min doc_id) → language
# filter (heuristic pred must agree with the recorded lang) → quality
# filter (length + lexical-diversity gates) → per-(lang, source) corpus
# stats. All quality/lang signals are per-row projections computed in ONE
# codegen'd pass (no joins between the "stages"); total cost = one window
# shuffle (dedup) + one agg shuffle — at 100 TB this is the minimal-shuffle
# shape for the funnel.
CUR_MIN_TOKENS, CUR_MAX_TOKENS, CUR_MIN_DISTINCT = 8, 5000, 0.3


def _q_corpus_curation(spark, sf_dir):
    from pyspark.sql import Window

    docs = text.fingerprint(read_table(spark, sf_dir, "documents", fanout=True))
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    en_hits = F.expr(
        f"size(filter(split(text, ' '), w -> w IN ({text._in_list(text.STOPWORDS['en'])})))"
    )
    es_hits = F.expr(
        f"size(filter(split(text, ' '), w -> w IN ({text._in_list(text.STOPWORDS['es'])})))"
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    cur = (
        docs.withColumn("n_tokens", n)
        .withColumn("distinct_ratio", F.size(F.array_distinct(toks)) / n)
        .withColumn(
            "pred_lang",
            F.when(en_hits / n >= es_hits / n, F.lit("en")).otherwise(F.lit("es")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("pred_lang") == F.col("lang"))
            & F.col("n_tokens").between(CUR_MIN_TOKENS, CUR_MAX_TOKENS)
            & (F.col("distinct_ratio") >= CUR_MIN_DISTINCT)
        )
    )
    out = cur.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.avg("n_tokens").alias("avg_tokens"),
        F.min("doc_id").alias("first_doc"),
    )
    from .queries import roundn

    return roundn(out, 4, "avg_tokens")


_CORPUS_CURATION_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS distinct_ratio,
         CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ({text._in_list(text.STOPWORDS['en'])}))) AS DOUBLE) / len(string_split(text, ' '))
                >= CAST(len(list_filter(string_split(text, ' '), w -> w IN ({text._in_list(text.STOPWORDS['es'])}))) AS DOUBLE) / len(string_split(text, ' '))
              THEN 'en' ELSE 'es' END AS pred_lang,
         row_number() OVER (
           PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
           ORDER BY doc_id) AS rn
  FROM documents)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       (round((avg(n_tokens)) + 1.0e-9,4)+0.0e0) AS avg_tokens,
       min(doc_id) AS first_doc
FROM scored
WHERE rn = 1 AND pred_lang = lang
  AND n_tokens BETWEEN {CUR_MIN_TOKENS} AND {CUR_MAX_TOKENS}
  AND distinct_ratio >= {CUR_MIN_DISTINCT:.9e}
GROUP BY lang, source
"""


# --- SemDeDup: semantic dedup over the embedding space --------------------
# The embedding-space analogue of dedup_clusters (SemDeDup, Abbas et al.):
# hyperplane-LSH candidate pairs above a cosine threshold → connected
# components → one canonical vector per semantic cluster. Every stage is
# the deterministic, cross-engine-reproducible machinery already proven
# out by ann_lsh (portable-LCG hyperplanes) and dedup_clusters (hybrid CC),
# so unlike the k-means formulation of the paper, the whole pipeline is
# hash-checkable against the DuckDB oracle (recursive-CTE closure).
SEM_THR = 0.3


def _q_semdedup(spark, sf_dir):
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings", fanout=True)
    pairs = similarity.lsh_pairs(emb, threshold=SEM_THR)
    lab = dedup.connected_components(pairs, a="id_a", b="id_b")
    w = Window.partitionBy("cluster_id")
    return (
        lab.select(F.col("node").alias("vec_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count("*").over(w))
        .withColumn("is_canonical", F.col("vec_id") == F.col("cluster_id"))
    )


def _semdedup_sql() -> str:
    lp = similarity.lsh_pairs_sql(threshold=SEM_THR)
    return f"""
WITH RECURSIVE lp AS ({lp}),
edges AS (SELECT id_a AS u, id_b AS v FROM lp
          UNION ALL SELECT id_b, id_a FROM lp),
cc_nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM cc_nodes
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
lab AS (SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       vec_id = cluster_id AS is_canonical
FROM lab
"""


# --- exact-substring dup coverage (Lee et al. dedup signal) ---------------
def _q_dup_ngram_coverage(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return round6(text.dup_ngram_coverage(docs), "dup_frac")


# --- tokenizer induction / dataset split ----------------------------------
def _q_bpe_merge(spark, sf_dir):
    return text.bpe_merge_candidates(read_table(spark, sf_dir, "documents", fanout=True))


def _q_doc_split(spark, sf_dir):
    from .queries import roundn

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return roundn(text.doc_split(docs), 4, "avg_chars")


_REGISTRY.update(
    {
        "semdedup": Query("semdedup", _q_semdedup, _semdedup_sql(), ("dedup", "similarity")),
        "bpe_merge_step": Query(
            "bpe_merge_step", _q_bpe_merge, text.bpe_merge_sql(), ("text",)
        ),
        "doc_split": Query("doc_split", _q_doc_split, text.doc_split_sql(), ("text",)),
        "dup_ngram_coverage": Query(
            "dup_ngram_coverage",
            _q_dup_ngram_coverage,
            text.dup_ngram_coverage_sql(),
            ("dedup",),
        ),
        "tfidf_top_terms": Query("tfidf_top_terms", _q_tfidf, text.tfidf_sql(3), ("text",)),
        "text_stats": Query("text_stats", _q_text_stats, text.TEXT_STATS_SQL, ("text",)),
        "doc_entropy": Query("doc_entropy", _q_doc_entropy, text.ENTROPY_SQL, ("text",)),
        "doc_keyphrases": Query(
            "doc_keyphrases",
            lambda spark, sf_dir: text.rake_keyphrases(read_table(spark, sf_dir, "documents", fanout=True)),
            text.rake_sql(),
            ("text",),
        ),
        "doc_lm_score": Query("doc_lm_score", _q_lm_score, text.LM_SCORE_SQL, ("text",)),
        "doc_filter_frontier": Query(
            "doc_filter_frontier",
            _q_filter_frontier,
            _FILTER_FRONTIER_SQL,
            ("text", "eval"),
        ),
        "doc_ccnet_buckets": Query(
            "doc_ccnet_buckets",
            lambda spark, sf_dir: text.ccnet_buckets(read_table(spark, sf_dir, "documents", fanout=True)),
            text.CCNET_BUCKETS_SQL,
            ("text", "llm"),
        ),
        "doc_bigram_lm": Query(
            "doc_bigram_lm", _q_bigram_lm, text.bigram_lm_sql(), ("text",)
        ),
        "embed_pca": Query("embed_pca", _q_embed_pca, None, ("similarity",)),
        "source_mixture": Query(
            "source_mixture", _q_source_mixture, mixing.mixture_summary_sql(), ("pipeline",)
        ),
        "mix_doremi": Query(
            "mix_doremi", _q_mix_doremi, mixing.doremi_sql(), ("pipeline",)
        ),
        "lang_id": Query("lang_id", _q_lang_id, text.LANG_ID_SQL, ("text",)),
        "doc_fingerprint": Query("doc_fingerprint", _q_fingerprint, text.FINGERPRINT_SQL, ("text",)),
        "token_freq": Query("token_freq", _q_token_freq, text.token_freq_sql(20), ("text",)),
        "token_ppmi": Query(
            "token_ppmi",
            lambda spark, sf_dir: text.token_ppmi(read_table(spark, sf_dir, "documents", fanout=True)),
            text.token_ppmi_sql(),
            ("text",),
        ),
        "doc_feature_hash": Query(
            "doc_feature_hash", _q_feature_hash, text.feature_hash_sql(), ("text",)
        ),
        "doc_readability": Query(
            "doc_readability", _q_readability, text.READABILITY_SQL, ("text",)
        ),
        "repetition_stats": Query(
            "repetition_stats", _q_repetition, text.REPETITION_SQL, ("text",)
        ),
        "doc_gopher_quality": Query(
            "doc_gopher_quality",
            lambda spark, sf_dir: text.gopher_quality(read_table(spark, sf_dir, "documents", fanout=True)),
            text.GOPHER_SQL,
            ("text", "llm"),
        ),
        "token_count_bpe": Query(
            "token_count_bpe", _q_token_bpe, text.TOKEN_BPE_SQL, ("text",)
        ),
        "doc_winnow": Query("doc_winnow", _q_winnow, text.WINNOW_SQL, ("text",)),
        "winnow_overlap": Query(
            "winnow_overlap",
            lambda spark, sf_dir: text.winnow_overlap_pairs(read_table(spark, sf_dir, "documents", fanout=True)),
            text.winnow_pairs_sql(),
            ("text", "dedup"),
        ),
        "dedup_exact_docs": Query("dedup_exact_docs", _q_dedup_exact, _DEDUP_EXACT_SQL, ("dedup",)),
        "corpus_curation": Query(
            "corpus_curation", _q_corpus_curation, _CORPUS_CURATION_SQL, ("dedup", "text")
        ),
        "dedup_keep_best": Query(
            "dedup_keep_best", _q_dedup_keep_best, _dedup_keep_best_sql(), ("dedup",)
        ),
        "dsir_scores": Query(
            "dsir_scores", _q_dsir_scores, _dsir_sql(), ("text",)
        ),
        "dedup_clusters": Query(
            "dedup_clusters", _q_dedup_clusters, _dedup_clusters_sql(), ("dedup",)
        ),
        "doc_chunks": Query("doc_chunks", _q_doc_chunks, text.CHUNKS_SQL, ("text",)),
        "pack_sequences": Query(
            "pack_sequences", _q_pack_sequences, text.PACK_SQL, ("text",)
        ),
        "pack_budget_frontier": Query(
            "pack_budget_frontier",
            lambda spark, sf_dir: text.pack_budget_frontier(read_table(spark, sf_dir, "documents", fanout=True)),
            text.pack_budget_frontier_sql(),
            ("text", "eval"),
        ),
        "pack_sequences_ffd": Query(
            "pack_sequences_ffd", _q_pack_sequences_ffd, text.PACK_FFD_SQL, ("text",)
        ),
        "embed_quantize": Query(
            "embed_quantize", _q_embed_quantize, similarity.QUANTIZE_SQL, ("similarity",)
        ),
        "multimodal_frames": Query(
            "multimodal_frames", _q_multimodal_frames, _FRAMES_SQL, ("multimodal",)
        ),
        "ann_lsh": Query(
            "ann_lsh", _q_ann_lsh, similarity.lsh_pairs_sql(), ("similarity",)
        ),
        "ngram_jaccard": Query(
            "ngram_jaccard", _q_jaccard, dedup.jaccard_pairs_sql(["lang", "source"], threshold=0.01), ("dedup",)
        ),
        "doc_lsh_recall": Query(
            "doc_lsh_recall",
            lambda spark, sf_dir: dedup.lsh_recall_eval(read_table(spark, sf_dir, "documents", fanout=True)),
            dedup.lsh_recall_eval_sql(),
            ("dedup", "eval"),
        ),
        "doc_prefix_jaccard": Query(
            "doc_prefix_jaccard", _q_prefix_jaccard, dedup.prefix_jaccard_sql(), ("dedup",)
        ),
        "jaccard_containment": Query(
            "jaccard_containment",
            _q_containment,
            dedup.jaccard_pairs_sql(["lang", "source"], threshold=0.01, containment=True),
            ("dedup",),
        ),
        "minhash_lsh": Query("minhash_lsh", _q_minhash, None, ("dedup",)),
        "minhash_lsh_portable": Query(
            "minhash_lsh_portable",
            _q_minhash_portable,
            dedup.minhash_portable_sql(verify_threshold=0.05),
            ("dedup",),
        ),
        "simhash": Query("simhash", _q_simhash, None, ("dedup",)),
        "simhash_portable": Query(
            "simhash_portable",
            _q_simhash_portable,
            dedup.simhash_portable_sql(max_dist=20),
            ("dedup",),
        ),
        "simhash_pairs": Query("simhash_pairs", _q_simhash_pairs, None, ("dedup",)),
        "embed_trunc_recall": Query(
            "embed_trunc_recall",
            _q_trunc_recall,
            similarity.trunc_recall_sql(N_QUERIES),
            ("similarity", "eval"),
        ),
        "cosine_topk": Query(
            "cosine_topk", _q_cosine_topk, similarity.brute_force_topk_sql(N_QUERIES), ("similarity",)
        ),
        "embed_mmr": Query(
            "embed_mmr", _q_mmr, similarity.mmr_rerank_sql(N_QUERIES), ("similarity",)
        ),
        "embed_neardup": Query(
            "embed_neardup", _q_neardup, similarity.neardup_pairs_sql(0.25), ("similarity",)
        ),
        "ann_ivf_recall": Query(
            "ann_ivf_recall",
            _q_ann_ivf_recall,
            similarity.ivf_recall_sql(N_QUERIES),
            ("similarity", "eval"),
        ),
        "ann_ivf": Query(
            "ann_ivf", _q_ann_ivf, similarity.ivf_topk_sql(N_QUERIES), ("similarity",)
        ),
        "multimodal_features": Query(
            "multimodal_features", _q_multimodal, _MULTIMODAL_SQL, ("multimodal",)
        ),
        "multimodal_decode": Query(
            "multimodal_decode", _q_multimodal_decode, multimodal.image_stats_sql(), ("multimodal",)
        ),
        "multimodal_decode_png": Query(
            "multimodal_decode_png",
            _q_multimodal_decode_png,
            multimodal.image_stats_sql(),
            ("multimodal",),
        ),
        "multimodal_decode_jpeg": Query(
            "multimodal_decode_jpeg",
            _q_multimodal_decode_jpeg,
            multimodal.jpeg_stats_sql(),
            ("multimodal",),
        ),
        "multimodal_decode_jpeg_ac": Query(
            "multimodal_decode_jpeg_ac",
            _q_multimodal_decode_jpeg_ac,
            multimodal.jpeg_coeff_stats_sql(),
            ("multimodal",),
        ),
        "media_cross_codec_dedup": Query(
            "media_cross_codec_dedup",
            _q_media_cross_codec_dedup,
            multimodal.cross_codec_dedup_sql(),
            ("multimodal",),
        ),
        "multimodal_decode_wav": Query(
            "multimodal_decode_wav",
            _q_multimodal_decode_wav,
            multimodal.audio_stats_sql(),
            ("multimodal",),
        ),
        "multimodal_decode_y4m": Query(
            "multimodal_decode_y4m",
            _q_multimodal_decode_y4m,
            multimodal.video_frame_stats_sql(),
            ("multimodal",),
        ),
        "stream_media_stats": Query(
            "stream_media_stats",
            _q_stream_media_stats,
            multimodal.audio_stats_sql(),
            ("multimodal", "streaming"),
        ),
        "stream_jpeg_stats": Query(
            "stream_jpeg_stats",
            _q_stream_jpeg_stats,
            multimodal.jpeg_stats_sql(),
            ("multimodal", "streaming"),
        ),
        "video_frame_neardup": Query(
            "video_frame_neardup",
            _q_video_frame_neardup,
            multimodal.video_frame_neardup_sql(),
            ("multimodal", "dedup"),
        ),
        "multimodal_phash": Query(
            "multimodal_phash", _q_multimodal_phash, multimodal.phash_pairs_sql(), ("multimodal",)
        ),
        "embed_pq": Query(
            "embed_pq", _q_embed_pq, similarity.pq_summary_sql(), ("similarity",)
        ),
        "embed_map_at_k": Query(
            "embed_map_at_k",
            lambda spark, sf_dir: similarity.map_at_k(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.map_at_k_sql(),
            ("similarity", "eval"),
        ),
        "embed_pca_power": Query(
            "embed_pca_power",
            lambda spark, sf_dir: roundn(
                similarity.pca_power(read_table(spark, sf_dir, "embeddings")),
                4, "eigenvalue", "cum_explained",
            ),
            similarity.pca_power_sql(),
            ("similarity",),
        ),
        "embed_top_eigen": Query(
            "embed_top_eigen",
            _q_embed_top_eigen,
            similarity.top_eigen_sql(),
            ("similarity",),
        ),
        "embed_abtt": Query(
            "embed_abtt",
            lambda spark, sf_dir: similarity.abtt_postprocess(read_table(spark, sf_dir, "embeddings")),
            similarity.abtt_sql(),
            ("similarity", "llm"),
        ),
        "embed_abtt_recall": Query(
            "embed_abtt_recall",
            lambda spark, sf_dir: similarity.abtt_recall(read_table(spark, sf_dir, "embeddings")),
            similarity.abtt_recall_sql(),
            ("similarity", "llm", "eval"),
        ),
        "ann_pq_recall": Query(
            "ann_pq_recall",
            lambda spark, sf_dir: similarity.pq_recall(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.pq_recall_sql(),
            ("similarity", "eval"),
        ),
        "ann_ivfpq_recall": Query(
            "ann_ivfpq_recall",
            lambda spark, sf_dir: similarity.ivfpq_recall(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.ivfpq_recall_sql(),
            ("similarity", "eval"),
        ),
        "ann_rerank_frontier": Query(
            "ann_rerank_frontier",
            lambda spark, sf_dir: similarity.rerank_frontier(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.rerank_frontier_sql(),
            ("similarity", "eval"),
        ),
        "ann_int8_recall": Query(
            "ann_int8_recall",
            lambda spark, sf_dir: similarity.int8_recall(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.int8_recall_sql(),
            ("similarity", "eval"),
        ),
        "ann_ivf_frontier": Query(
            "ann_ivf_frontier",
            lambda spark, sf_dir: similarity.ivf_probe_frontier(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.ivf_probe_frontier_sql(),
            ("similarity", "eval"),
        ),
        "embed_hard_negatives": Query(
            "embed_hard_negatives",
            lambda spark, sf_dir: similarity.hard_negatives(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.hard_negatives_sql(),
            ("similarity", "llm"),
        ),
        "doc_lang_rebalance": Query(
            "doc_lang_rebalance",
            lambda spark, sf_dir: mixing.lang_rebalance(read_table(spark, sf_dir, "documents", fanout=True)),
            mixing.lang_rebalance_sql(),
            ("pipeline", "mixing"),
        ),
        "doc_lang_temperature": Query(
            "doc_lang_temperature",
            lambda spark, sf_dir: mixing.lang_temperature_mix(read_table(spark, sf_dir, "documents", fanout=True)),
            mixing.lang_temperature_sql(),
            ("pipeline", "mixing"),
        ),
        "embed_cluster_purity": Query(
            "embed_cluster_purity",
            lambda spark, sf_dir: similarity.cluster_purity(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.cluster_purity_sql(),
            ("similarity", "eval"),
        ),
        "embed_kmeans": Query(
            "embed_kmeans",
            lambda spark, sf_dir: similarity.kmeans_l2(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.kmeans_l2_sql(),
            ("similarity",),
        ),
    }
)


def _plant_pii(docs: DataFrame) -> DataFrame:
    # deterministic synthetic PII: every 7th doc gains an email, every 11th
    # a phone number (doc_id-derived, so both engines plant identical text)
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(t, F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(t, F.lit(" call 555-010-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
    ).otherwise(t)
    return docs.withColumn("text", t)


def _q_pii_scrub(spark, sf_dir):
    from .queries import canon_types

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    return canon_types(text.pii_scrub(_plant_pii(docs)))


_PII_PLANTED_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0
            THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE text END ||
       CASE WHEN doc_id % 11 = 0
            THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END AS text
FROM documents
"""


_REGISTRY.update(
    {
        "pii_scrub": Query(
            "pii_scrub", _q_pii_scrub, text.pii_scrub_sql(_PII_PLANTED_SQL), ("text",)
        ),
    }
)


def _q_dup_by_source(spark, sf_dir):
    """Where the duplicate mass lives: per source, exact-dup counts and
    the bytes a dedup pass would reclaim — the targeting table for
    corpus curation (dedup effort goes where the duplication is). One
    fingerprint window + one groupBy."""
    out = dedup.exact_dedup(read_table(spark, sf_dir, "documents", fanout=True))
    g = out.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("is_dup").cast("int")).cast("bigint").alias("n_dups"),
        F.sum(F.when(F.col("is_dup"), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_reclaimable"),
    )
    from .queries import round6

    return round6(
        g.withColumn(
            "dup_rate", F.col("n_dups").cast("double") / F.col("n_docs")
        ),
        "dup_rate",
    )


_DUP_BY_SOURCE_SQL = """
WITH fp AS (
  SELECT source, n_chars,
         row_number() OVER (
           PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
           ORDER BY doc_id) > 1 AS is_dup
  FROM documents)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(sum(CASE WHEN is_dup THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_reclaimable,
       (round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) + 1.0e-9, 6) + 0.0e0) AS dup_rate
FROM fp GROUP BY source
"""

_REGISTRY.update(
    {
        "doc_source_kl": Query(
            "doc_source_kl",
            lambda spark, sf_dir: text.source_kl(read_table(spark, sf_dir, "documents", fanout=True)),
            text.source_kl_sql(),
            ("text", "mixing"),
        ),
        "doc_dup_by_source": Query(
            "doc_dup_by_source", _q_dup_by_source, _DUP_BY_SOURCE_SQL, ("dedup",)
        ),
    }
)


# --- round-10: dedup operating-point frontiers -----------------------------
# The dedup/semantic-dedup analogues of the r9 ANN frontiers: one bounded
# pair evaluation, every operating point an operator would consider before
# committing a 100 TB dedup run (Jaccard threshold, LSH banding, SemDeDup
# epsilon). Each pins exact agreement with its certified single-point
# sibling (doc_prefix_jaccard / lsh_recall_eval / semdedup-family lsh_pairs)
# in tests/test_dedup_frontiers.py.
_REGISTRY.update(
    {
        "dedup_threshold_frontier": Query(
            "dedup_threshold_frontier",
            lambda spark, sf_dir: dedup.dedup_threshold_frontier(read_table(spark, sf_dir, "documents", fanout=True)),
            dedup.dedup_threshold_frontier_sql(),
            ("dedup", "eval"),
        ),
        "minhash_band_frontier": Query(
            "minhash_band_frontier",
            lambda spark, sf_dir: dedup.minhash_band_frontier(read_table(spark, sf_dir, "documents", fanout=True)),
            dedup.minhash_band_frontier_sql(),
            ("dedup", "eval"),
        ),
        "semdedup_eps_frontier": Query(
            "semdedup_eps_frontier",
            lambda spark, sf_dir: similarity.semdedup_eps_frontier(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.semdedup_eps_frontier_sql(),
            ("dedup", "similarity", "eval"),
        ),
    }
)


# --- round-10: end-to-end curation funnel readout ---------------------------
# The per-stage survival table for the whole curation pipeline — the number
# a 100 TB run reports after each gate, where corpus_curation reports only
# the final survivors. Stages apply cumulatively in pipeline order:
#   0 raw corpus
#   1 language-id agreement (stopword-ratio heuristic = recorded lang)
#   2 quality gates (token-count bounds + lexical diversity)
#   3 exact dedup keep-first (md5 fingerprint, keeper = min doc_id)
#   4 near-dup keep-first (PPJoin at Jaccard >= 0.5; drop the higher id)
# Stage predicates are per-doc flags computed on the RAW corpus (one
# codegen'd pass + one window shuffle + the bounded PPJoin pipeline), then
# ONE aggregate emits all five cumulative rows — no per-stage rescans.
#
# SEMANTICS NOTE (ADVICE r10): raw-corpus flags are NOT a truly sequential
# pipeline. The dedup keep-first keeper and the near-dup doc_b set are
# decided on the raw corpus, so a doc can be dropped at exact_dedup even
# though its keeper was already removed by the quality gate — the funnel
# UNDERCOUNTS survivors relative to re-running keep-first on each stage's
# survivors. This is deliberate (it is the one-pass shape a 100 TB run
# can afford, and both engines agree), but readers of the table should
# know the convention. Same note in the README's frontier-family row.


def _q_curation_funnel(spark, sf_dir):
    from pyspark.sql import Window

    docs = text.fingerprint(read_table(spark, sf_dir, "documents", fanout=True))
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    en_hits = F.expr(
        f"size(filter(split(text, ' '), w -> w IN ({text._in_list(text.STOPWORDS['en'])})))"
    )
    es_hits = F.expr(
        f"size(filter(split(text, ' '), w -> w IN ({text._in_list(text.STOPWORDS['es'])})))"
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    neardup = (
        dedup.prefix_jaccard(
            read_table(spark, sf_dir, "documents", fanout=True), threshold=dedup.PREFIX_T
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_nd", F.lit(True))
    )
    flags = (
        docs.withColumn("n_tokens", n.cast("long"))
        .withColumn(
            "p1",
            F.when(en_hits / n >= es_hits / n, F.lit("en")).otherwise(F.lit("es"))
            == F.col("lang"),
        )
        .withColumn(
            "p2",
            F.col("n_tokens").between(CUR_MIN_TOKENS, CUR_MAX_TOKENS)
            & (F.size(F.array_distinct(toks)) / n >= CUR_MIN_DISTINCT),
        )
        .withColumn("p3", F.row_number().over(w) == 1)
        .join(neardup, "doc_id", "left")
        .withColumn("p4", F.col("_nd").isNull())
    )
    conds = [
        F.lit(True),
        F.col("p1"),
        F.col("p1") & F.col("p2"),
        F.col("p1") & F.col("p2") & F.col("p3"),
        F.col("p1") & F.col("p2") & F.col("p3") & F.col("p4"),
    ]
    aggs = []
    for i, c in enumerate(conds):
        aggs.append(F.sum(F.when(c, 1).otherwise(0)).alias(f"d{i}"))
        aggs.append(F.sum(F.when(c, F.col("n_tokens")).otherwise(0)).alias(f"t{i}"))
    one = flags.agg(*aggs)
    names = ["raw", "lang_id", "quality", "exact_dedup", "near_dedup"]
    stack = ", ".join(
        f"{i}L, '{names[i]}', d{i}, t{i}" for i in range(5)
    )
    out = one.selectExpr(
        f"stack(5, {stack}) AS (stage, stage_name, n_docs, n_tokens)"
    )
    out = out.select(
        F.col("stage").cast("bigint").alias("stage"),
        "stage_name",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (
            F.round(
                F.col("n_docs").cast("double")
                / F.first("n_docs").over(
                    Window.orderBy("stage").rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("frac_docs"),
    )
    return out


def _curation_funnel_sql() -> str:
    nd = dedup.prefix_jaccard_sql(threshold=dedup.PREFIX_T)
    en = text._in_list(text.STOPWORDS["en"])
    es = text._in_list(text.STOPWORDS["es"])
    return f"""
WITH ndp AS MATERIALIZED ({nd}),
nd AS (SELECT DISTINCT doc_b AS doc_id FROM ndp),
flags AS (
  SELECT d.doc_id,
         len(string_split(d.text, ' ')) AS n_tokens,
         (CASE WHEN CAST(len(list_filter(string_split(d.text, ' '), w -> w IN ({en}))) AS DOUBLE) / len(string_split(d.text, ' '))
                >= CAST(len(list_filter(string_split(d.text, ' '), w -> w IN ({es}))) AS DOUBLE) / len(string_split(d.text, ' '))
               THEN 'en' ELSE 'es' END) = d.lang AS p1,
         len(string_split(d.text, ' ')) BETWEEN {CUR_MIN_TOKENS} AND {CUR_MAX_TOKENS}
           AND CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
               / len(string_split(d.text, ' ')) >= {CUR_MIN_DISTINCT:.9e} AS p2,
         row_number() OVER (
           PARTITION BY md5(lower(regexp_replace(d.text, '\\s+', ' ', 'g')))
           ORDER BY d.doc_id) = 1 AS p3,
         n.doc_id IS NULL AS p4
  FROM documents d LEFT JOIN nd n ON n.doc_id = d.doc_id),
agg AS (
  SELECT count(*) AS d0, sum(n_tokens) AS t0,
         sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS d1,
         sum(CASE WHEN p1 THEN n_tokens ELSE 0 END) AS t1,
         sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS d2,
         sum(CASE WHEN p1 AND p2 THEN n_tokens ELSE 0 END) AS t2,
         sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS d3,
         sum(CASE WHEN p1 AND p2 AND p3 THEN n_tokens ELSE 0 END) AS t3,
         sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS d4,
         sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN n_tokens ELSE 0 END) AS t4
  FROM flags),
stages AS (
  SELECT 0 AS stage, 'raw' AS stage_name, d0 AS n_docs, t0 AS n_tokens, d0 FROM agg
  UNION ALL SELECT 1, 'lang_id', d1, t1, d0 FROM agg
  UNION ALL SELECT 2, 'quality', d2, t2, d0 FROM agg
  UNION ALL SELECT 3, 'exact_dedup', d3, t3, d0 FROM agg
  UNION ALL SELECT 4, 'near_dedup', d4, t4, d0 FROM agg)
SELECT CAST(stage AS BIGINT) AS stage, stage_name,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       (round(CAST(n_docs AS DOUBLE) / d0 + 1.0e-9, 6) + 0.0e0) AS frac_docs
FROM stages
"""


_REGISTRY.update(
    {
        "curation_funnel": Query(
            "curation_funnel",
            _q_curation_funnel,
            _curation_funnel_sql(),
            ("pipeline", "llm"),
        ),
    }
)


# --- round-10: incremental dedup + IVF index maintenance --------------------
_REGISTRY.update(
    {
        "dedup_incremental_lsh": Query(
            "dedup_incremental_lsh",
            lambda spark, sf_dir: dedup.dedup_incremental_lsh(read_table(spark, sf_dir, "documents", fanout=True)),
            dedup.dedup_incremental_lsh_sql(),
            ("dedup", "pipeline"),
        ),
        "ivf_cell_profile": Query(
            "ivf_cell_profile",
            lambda spark, sf_dir: similarity.ivf_cell_profile(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.ivf_cell_profile_sql(),
            ("similarity", "eval"),
        ),
    }
)


# --- round-10: storage frontiers (ANN prefix width, minhash signature len) --
_REGISTRY.update(
    {
        "ann_dims_frontier": Query(
            "ann_dims_frontier",
            lambda spark, sf_dir: similarity.dims_frontier(read_table(spark, sf_dir, "embeddings", fanout=True), n_queries=N_QUERIES),
            similarity.dims_frontier_sql(N_QUERIES),
            ("similarity", "eval"),
        ),
        "minhash_size_frontier": Query(
            "minhash_size_frontier",
            lambda spark, sf_dir: dedup.minhash_size_frontier(read_table(spark, sf_dir, "documents", fanout=True)),
            dedup.minhash_size_frontier_sql(),
            ("dedup", "eval"),
        ),
    }
)


# --- round-10: cross-method ANN storage decision table -----------------------
_REGISTRY.update(
    {
        "ann_storage_frontier": Query(
            "ann_storage_frontier",
            lambda spark, sf_dir: similarity.storage_frontier(read_table(spark, sf_dir, "embeddings", fanout=True)),
            similarity.storage_frontier_sql(),
            ("similarity", "eval"),
        ),
    }
)
