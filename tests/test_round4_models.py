"""Round-4 ops: BPE trainer, BM25, HMM decode, AR(2) — each checked
against an independent in-test reference implementation, not just the
SQL oracle."""
import math

import numpy as np
from pyspark.sql import functions as F

from tsgen import generators
from tsgen.queries_statemodels import (
    HMM_A, HMM_B, HMM_CUT_HI, HMM_CUT_LO, HMM_PI, ar2_forecast, hmm_decode,
)
from tsgen.queries_tokenizer import BM25_QUERIES, bm25_topk, bpe_train


def _ref_bpe(word_freqs, iters):
    """Reference BPE trainer (Sennrich et al. 2016, fig. 1 shape)."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for it in range(1, iters + 1):
        counts = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((it, f"{a} {b}", a + b, n))
        nv = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + f
        vocab = nv
    return merges


def test_bpe_matches_reference_trainer(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = [tuple(r) for r in bpe_train(docs, iters=6).collect()]
    wf = {}
    for (text,) in docs.select("text").collect():
        for w in text.split(" "):
            if w:
                wf[w] = wf.get(w, 0) + 1
    assert got == _ref_bpe(wf, 6)


def test_bpe_max_count_non_increasing(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ns = [r.n for r in bpe_train(docs, iters=8).collect()]
    assert all(a >= b for a, b in zip(ns, ns[1:]))


def test_bm25_matches_reference(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select("doc_id", "text").collect()
    toks = {r.doc_id: [t for t in r.text.split(" ") if t] for r in rows}
    dl = {d: len(ts) for d, ts in toks.items()}
    n_docs, avgdl = len(dl), sum(dl.values()) / len(dl)
    k1, b = 1.2, 0.75
    got = bm25_topk(docs).collect()
    for qid, q in BM25_QUERIES:
        scores = {}
        for term in q.split():
            df = sum(1 for ts in toks.values() if term in ts)
            if df == 0:
                continue
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            for d, ts in toks.items():
                tf = ts.count(term)
                if tf:
                    scores[d] = scores.get(d, 0.0) + idf * tf * (k1 + 1) / (
                        tf + k1 * (1 - b + b * dl[d] / avgdl)
                    )
            scores = {d: s for d, s in scores.items()}
        want = sorted(
            ((round(s + 1e-9, 6), d) for d, s in scores.items()),
            key=lambda x: (-x[0], x[1]),
        )[:5]
        mine = [(r.score, r.doc_id) for r in got if r.qid == qid]
        assert mine == want, (qid, mine, want)


def test_bm25_two_phase_equals_single_window(spark):
    # the (qid, partition)-local pre-filter must not change the global top-k
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    two = {(r.qid, r.rank): r.doc_id for r in bm25_topk(docs).collect()}
    assert len(two) == len(BM25_QUERIES) * 5
    ranks = sorted(r for (_, r) in two)
    assert ranks == sorted(list(range(1, 6)) * len(BM25_QUERIES))


def _ref_hmm(obs):
    la = np.log(np.array(HMM_A))
    lb = np.log(np.array(HMM_B))
    delta = np.log(np.array(HMM_PI))
    alpha = delta.copy()
    for o in obs:
        e = lb[:, o]
        delta = np.round(
            (delta[:, None] + la).max(axis=0) + e + 1e-12, 9
        )
        alpha = np.round(
            np.log(np.exp(alpha[:, None] + la).sum(axis=0)) + e + 1e-12, 9
        )
    return delta, np.log(np.exp(alpha).sum())


def test_hmm_matches_numpy_and_bounds(spark):
    df = generators.generate(spark, 8, 64, "mixed")
    vals = (
        df.withColumn("v", F.round(F.col("value") + F.lit(1e-9), 6))
        .orderBy("series_id", "t")
        .collect()
    )
    series = {}
    for r in vals:
        series.setdefault(r.series_id, []).append(r.v)
    got = {r.series_id: r for r in hmm_decode(df).collect()}
    for sid, vs in series.items():
        obs = [0 if v < HMM_CUT_LO else (1 if v < HMM_CUT_HI else 2) for v in vs]
        delta, fwd = _ref_hmm(obs)
        r = got[sid]
        assert abs(r.viterbi_ll - round(delta.max() + 1e-9, 6)) < 2e-6
        assert abs(r.forward_ll - round(fwd + 1e-9, 6)) < 2e-6
        assert r.end_state == int(np.argmax(delta)) + 1
        # Viterbi path prob is one term of the forward sum
        assert r.viterbi_ll <= r.forward_ll + 1e-9


def test_ar2_matches_yule_walker(spark):
    df = generators.generate(spark, 8, 256, "mixed")
    out = ar2_forecast(df).collect()
    vals = (
        df.withColumn("v", F.round(F.col("value") + F.lit(1e-9), 6))
        .orderBy("series_id", "t")
        .collect()
    )
    series = {}
    for r in vals:
        series.setdefault(r.series_id, []).append(r.v)
    for sid, vs in series.items():
        x = np.array(vs)
        mu = x.mean()
        c = x - mu
        n = len(c)
        c0 = round((c * c).sum() / n + 1e-12, 9)
        c1 = round((c[:-1] * c[1:]).sum() / n + 1e-12, 9)
        c2 = round((c[:-2] * c[2:]).sum() / n + 1e-12, 9)
        r1, r2 = round(c1 / c0 + 1e-12, 9), round(c2 / c0 + 1e-12, 9)
        phi1 = round(r1 * (1 - r2) / (1 - r1 * r1) + 1e-12, 9)
        phi2 = round((r2 - r1 * r1) / (1 - r1 * r1) + 1e-12, 9)
        y2, y1 = round(c[-2] + 1e-12, 9), round(c[-1] + 1e-12, 9)
        fs = []
        p2, p1 = y2, y1
        for _ in range(6):
            f = round(phi1 * p1 + phi2 * p2 + 1e-12, 9)
            fs.append(f)
            p2, p1 = p1, f
        mine = [r.yhat for r in out if r.series_id == sid]
        want = [round(f + mu + 1e-9, 6) for f in fs]
        assert np.allclose(mine, want, atol=2e-6), (sid, mine, want)
