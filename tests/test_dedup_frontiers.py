"""Property tests for the round-10 dedup operating-point frontiers.

Each frontier must (a) agree exactly with its certified single-point
sibling at the shared operating point and (b) be monotone along its
axis — the two invariants the oracle gate alone can't phrase. Values
are certified by tools/check_oracle.py against the DuckDB twins.

The first two tests gate the md5-prefix shingle/token hash itself: both
engines must compute it bit-for-bit, and the MinHash form must spread over
[0, HASH_P).

The last test gates the exact string-keyed path (hash_key=False) of the
substring dedup ops, which no registry query runs, against their oracles.
"""
from __future__ import annotations

from pathlib import Path

import pytest

SF = "/root/testdata/sf0.001"
SF_GATE = str(Path(SF).with_name("sf0.01"))  # the oracle gate's scale
SF_BENCH = str(Path(SF).with_name("sf0.1"))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def hashed(spark):
    """Both md5-prefix hash forms of every distinct sf0.1 word and word
    3-shingle plus edge strings, as (s, x, x63) rows from Spark and from
    DuckDB."""
    import duckdb

    from tsgen.dedup import HASH63_DUCK, HASH63_SPARK, HASH_DUCK, HASH_SPARK, _shingles_sql

    with duckdb.connect() as con:
        strings = con.execute(
            f"""
            SELECT DISTINCT s FROM (
              SELECT unnest(list_concat(toks, {_shingles_sql(3)})) AS s
              FROM (SELECT string_split(text, ' ') AS toks
                    FROM read_parquet('{SF_BENCH}/documents.parquet')))
            UNION SELECT unnest(['', 'é', '日本語', '😀x'])"""
        ).df()
        con.register("strings", strings)
        duck = con.execute(
            f"SELECT s, {HASH_DUCK.format(c='s')} AS x, {HASH63_DUCK.format(c='s')} AS x63 "
            "FROM strings"
        ).fetchall()
    got = spark.createDataFrame(strings).selectExpr(
        "s", f"{HASH_SPARK.format(c='s')} AS x", f"{HASH63_SPARK.format(c='s')} AS x63"
    )
    return sorted(tuple(r) for r in got.collect()), sorted(duck)


def test_md5_hash_spark_matches_duckdb(hashed):
    # the one shingle/token hash must be bit-identical on both engines, in
    # both forms, including the empty string and multi-byte UTF-8
    spark_rows, duck_rows = hashed
    assert len(spark_rows) >= 2000
    assert {"", "é", "日本語", "😀x"} <= {r[0] for r in spark_rows}
    assert spark_rows == duck_rows


def test_minhash_input_spans_hash_p(hashed):
    # _mins_sql's small odd multipliers only give independent minimizers
    # when (x * (2i+1) + b_i) wraps mod HASH_P, i.e. when x spreads over
    # [0, HASH_P); a narrow hash (e.g. 28 bits, no pmod) never wraps and
    # h0..h3 then share one minimizer
    from tsgen.dedup import HASH_P

    xs = [r[1] for r in hashed[0]]
    assert min(xs) >= 0 and max(xs) < HASH_P
    assert max(xs) > 1 << 30
    assert all(0 <= r[2] < 1 << 63 for r in hashed[0])


def test_threshold_frontier_agrees_with_ppjoin_at_base(docs):
    from tsgen.dedup import PREFIX_T, dedup_threshold_frontier, prefix_jaccard

    rows = {r.thr_pct: r for r in dedup_threshold_frontier(docs).collect()}
    assert sorted(rows) == [50, 60, 70, 80, 90]
    # thr_pct=50 is the base PPJoin run itself: identical pair count, and
    # the removed-doc count equals the distinct higher ids of those pairs
    base = prefix_jaccard(docs, threshold=PREFIX_T).collect()
    assert rows[50].n_pairs == len(base)
    assert rows[50].n_docs_removed == len({r.doc_b for r in base})


def test_threshold_frontier_monotone(docs):
    from tsgen.dedup import dedup_threshold_frontier

    rows = sorted(dedup_threshold_frontier(docs).collect(), key=lambda r: r.thr_pct)
    for a, b in zip(rows, rows[1:]):
        # raising the threshold can only shrink the dup set
        assert a.n_pairs >= b.n_pairs
        assert a.n_docs_removed >= b.n_docs_removed
        assert a.shingles_removed >= b.shingles_removed


def test_band_frontier_agrees_with_single_point_eval(docs):
    from tsgen.dedup import lsh_recall_eval, minhash_band_frontier

    rows = {r.bands: r for r in minhash_band_frontier(docs).collect()}
    assert sorted(rows) == [2, 4, 8, 16]
    # the bands=4 row IS lsh_recall_eval (same 16-hash signature,
    # same 4x4 banding, same exact-PPJoin truth at the eval threshold)
    single = lsh_recall_eval(docs).collect()[0]
    r4 = rows[4]
    assert (r4.n_cand, r4.n_hits, r4.n_truth) == (
        single.n_cand,
        single.n_hits,
        single.n_truth,
    )
    assert r4.recall == single.recall
    assert r4.precision == single.precision


def test_lsh_recall_eval_builds_without_a_job(spark, docs):
    # the eval is one lazy plan: building it runs no Spark job, so its cost
    # is paid once, by the caller's action
    from tsgen.dedup import lsh_recall_eval

    sc = spark.sparkContext
    group = "lsh_recall_eval.build"
    sc.setJobGroup(group, group)
    try:
        lsh_recall_eval(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_band_frontier_candidate_sets_nested(docs):
    from tsgen.dedup import minhash_band_frontier

    rows = {r.bands: r for r in minhash_band_frontier(docs).collect()}
    # an r-row band collision implies collisions of all its sub-bands, so
    # candidates (and hits, and therefore recall) shrink as rows/band grows
    for coarse, fine in [(16, 8), (8, 4), (4, 2)]:
        assert rows[coarse].n_cand >= rows[fine].n_cand
        assert rows[coarse].n_hits >= rows[fine].n_hits
    # truth is banding-independent
    assert len({r.n_truth for r in rows.values()}) == 1
    for r in rows.values():
        assert r.rows_per_band == 16 // r.bands


def test_semdedup_eps_frontier_agrees_with_lsh_pairs(emb):
    from tsgen.similarity import lsh_pairs, semdedup_eps_frontier

    rows = {r.eps_pct: r for r in semdedup_eps_frontier(emb).collect()}
    assert sorted(rows) == [20, 30, 40, 50]
    # eps=0.2 is the base LSH evaluation: every base pair has raw cos >= 0.2,
    # so its 6dp-rounded score also clears 0.2 — identical pair set
    base = lsh_pairs(emb, threshold=0.2).collect()
    assert rows[20].n_pairs == len(base)
    assert rows[20].n_removed == len({r.id_b for r in base})
    assert rows[20].n_vectors == emb.count()


def test_semdedup_eps_frontier_monotone(emb):
    from tsgen.similarity import semdedup_eps_frontier

    rows = sorted(semdedup_eps_frontier(emb).collect(), key=lambda r: r.eps_pct)
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_removed >= b.n_removed
        assert a.frac_removed >= b.frac_removed


def test_curation_funnel_monotone_and_pinned_to_corpus_curation(spark, docs):
    from tsgen.queries import registry

    reg = registry()
    rows = sorted(
        reg["curation_funnel"].spark_fn(spark, SF).collect(), key=lambda r: r.stage
    )
    assert [r.stage_name for r in rows] == [
        "raw", "lang_id", "quality", "exact_dedup", "near_dedup",
    ]
    assert rows[0].n_docs == docs.count()
    assert rows[0].frac_docs == 1.0
    for a, b in zip(rows, rows[1:]):
        # each gate can only shrink the corpus
        assert a.n_docs >= b.n_docs
        assert a.n_tokens >= b.n_tokens
    # corpus_curation's survivors are exactly the stage-3 cut (lang +
    # quality + exact-dedup; it applies no near-dup gate)
    cur = reg["corpus_curation"].spark_fn(spark, SF).collect()
    assert rows[3].n_docs == sum(r.n_docs for r in cur)
    assert rows[3].n_tokens == sum(r.total_tokens for r in cur)


def test_dedup_incremental_planted_shard(spark):
    from tsgen.dedup import dedup_incremental_lsh

    base_text = "alpha beta gamma delta epsilon zeta eta theta"
    uniq = "iota kappa lambda mu nu xi omicron pi"
    rows = [
        # new shard = doc_id % 10 == 0
        (0, "web", base_text),      # dup of base doc 3
        (10, "web", base_text),     # dup of base doc 3 AND of earlier new doc 0
        (20, "web", uniq),          # unique
        (3, "web", base_text),      # base copy
        (5, "web", "rho sigma tau upsilon phi chi psi omega"),
        (7, "books", "one two three four five six seven eight"),
        (30, "books", "nine ten eleven twelve thirteen fourteen fifteen sixteen"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {r.source: r for r in dedup_incremental_lsh(docs).collect()}
    assert out["web"].n_new == 3
    assert out["web"].dup_vs_base == 2        # docs 0 and 10 both match base 3
    assert out["web"].dup_within_new == 1     # doc 10 matches earlier new doc 0
    assert abs(out["web"].dup_frac - 2 / 3) < 1e-6
    assert out["books"].n_new == 1
    assert out["books"].dup_vs_base == 0
    assert out["books"].dup_within_new == 0
    assert out["books"].dup_frac == 0.0


def test_dedup_incremental_matches_full_lsh_restriction(spark, docs):
    from tsgen.dedup import INCR_MOD, dedup_incremental_lsh, minhash_lsh_pairs

    # The incremental run must equal the FULL 16x4 LSH run (same
    # banding, same verify threshold) restricted to pairs involving a new
    # doc: dup_vs_base docs = new docs with any base partner in the full
    # pair set; dup_within_new docs = new docs with an earlier new partner.
    out = dedup_incremental_lsh(docs).collect()
    full = minhash_lsh_pairs(docs, n_hashes=16, bands=4).collect()
    vs_base, within = set(), set()
    for r in full:
        for new, other in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if new % INCR_MOD != 0:
                continue
            if other % INCR_MOD != 0:
                vs_base.add(new)
            elif other < new:
                within.add(new)
    assert sum(r.dup_vs_base for r in out) == len(vs_base)
    assert sum(r.dup_within_new for r in out) == len(within)


def test_ivf_cell_profile_partitions_the_corpus(spark, emb):
    from tsgen.similarity import ivf_cell_profile

    rows = ivf_cell_profile(emb).collect()
    assert 1 <= len(rows) <= 8
    assert sum(r.n_vecs for r in rows) == emb.count()
    assert abs(sum(r.frac_vecs for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert -1.0 <= r.mean_cent_sim <= 1.0 + 1e-9


def test_dims_frontier_anchor_and_trunc_recall_agreement(spark, emb):
    from tsgen.similarity import dims_frontier, trunc_recall

    rows = {r.dims: r for r in dims_frontier(emb).collect()}
    assert sorted(rows) == [8, 16, 32, 64]
    # the full-width row is the truth metric itself
    assert rows[64].mean_recall == 1.0
    for r in rows.values():
        assert r.bytes_per_vec == 4 * r.dims
        assert 0.0 <= r.mean_recall <= 1.0
    # the dims=16 row is embed_trunc_recall's protocol: per-query overlap/k
    # is an exact rational, so the mean of its rounded per-query recalls
    # equals the frontier's pooled hits/(k*n) exactly
    tr = trunc_recall(emb).collect()
    assert abs(rows[16].mean_recall - sum(r.recall_at_k for r in tr) / len(tr)) < 1e-9


def test_minhash_size_frontier_shared_pairs_and_bounds(spark, docs):
    from tsgen.dedup import minhash_lsh_pairs, minhash_size_frontier

    rows = {r.sig_len: r for r in minhash_size_frontier(docs).collect()}
    assert sorted(rows) == [4, 8, 16]
    # all three estimators are evaluated on the SAME candidate pair set —
    # the certified (4x4) banding with verify threshold 0
    n_cand = minhash_lsh_pairs(docs, n_hashes=16, bands=4, verify_threshold=0.0).count()
    assert {r.n_pairs for r in rows.values()} == {n_cand}
    for r in rows.values():
        assert 0.0 <= r.mean_abs_err <= 1.0
        assert -1.0 <= r.mean_bias <= 1.0
        # |bias| can never exceed the mean absolute error
        assert abs(r.mean_bias) <= r.mean_abs_err + 1e-9


def test_storage_frontier_rows_pin_to_certified_evals(spark, emb):
    from tsgen.similarity import (
        EMB_DIM,
        int8_recall,
        pq_recall,
        storage_frontier,
        trunc_recall,
    )

    rows = {r.method: r for r in storage_frontier(emb).collect()}
    assert set(rows) == {"float32_full", "float32_trunc16", "int8_asym", "pq4x16_adc"}
    # the anchor is the truth metric against itself — computed, not asserted
    assert rows["float32_full"].mean_recall == 1.0
    assert rows["float32_full"].bytes_per_vec == EMB_DIM * 4

    def mean6(df):
        vals = [r.recall_at_k for r in df.collect()]
        return round(sum(vals) / len(vals) + 1e-9, 6)

    assert abs(rows["float32_trunc16"].mean_recall - mean6(trunc_recall(emb))) < 1e-9
    assert abs(rows["int8_asym"].mean_recall - mean6(int8_recall(emb))) < 1e-6
    assert abs(rows["pq4x16_adc"].mean_recall - mean6(pq_recall(emb))) < 1e-6
    # storage axis is strictly ordered: full > trunc16 >= int8-ish > pq
    assert rows["float32_full"].bytes_per_vec > rows["float32_trunc16"].bytes_per_vec
    assert rows["int8_asym"].bytes_per_vec > rows["pq4x16_adc"].bytes_per_vec


def test_frontiers_partition_invariant(spark, docs, emb):
    # The 100 TB contract: a frontier table must not depend on how the
    # corpus happens to be partitioned (1000 executors will never see the
    # local[32] layout). Every pipeline below is built from portable
    # integer hashes, exact integer re-filters, and 6dp-rounded floats, so
    # repartitioning the input must reproduce the SAME rows bit-for-bit.
    from tsgen.dedup import (
        dedup_incremental_lsh,
        dedup_threshold_frontier,
        minhash_band_frontier,
        minhash_size_frontier,
    )
    from tsgen.similarity import (
        dims_frontier,
        ivf_cell_profile,
        semdedup_eps_frontier,
        storage_frontier,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for fn, src, parts in (
        (dedup_threshold_frontier, docs, 7),
        (minhash_band_frontier, docs, 11),
        (minhash_size_frontier, docs, 5),
        (semdedup_eps_frontier, emb, 13),
        (storage_frontier, emb, 17),
        (dims_frontier, emb, 3),
        (ivf_cell_profile, emb, 19),
    ):
        a = rows(fn(src))
        b = rows(fn(src.repartition(parts)))
        assert a == b, f"{fn.__name__} changed under repartition({parts})"
    # the incremental shape takes the docs table internally
    a = rows(dedup_incremental_lsh(docs))
    b = rows(dedup_incremental_lsh(docs.repartition(9)))
    assert a == b, "dedup_incremental_lsh changed under repartition(9)"


@pytest.mark.parametrize("fn_name", ["substring_cut_keepfirst", "substring_contamination"])
def test_exact_key_substring_dedup_matches_oracle(spark, fn_name):
    # the registry queries run the default xxhash64-keyed plans; the exact
    # string-keyed one must reproduce the same string-keyed DuckDB oracle
    from tools.check_oracle import compare, duck_con
    from tsgen import queries_exactdup
    from tsgen.io import fanout_scan
    from tsgen.queries import canon_types

    docs = fanout_scan(spark, f"{SF_GATE}/documents.parquet")
    fn = getattr(queries_exactdup, fn_name)
    got = canon_types(fn(docs, hash_key=False)).toPandas()
    want = duck_con(SF_GATE).execute(getattr(queries_exactdup, f"{fn_name}_sql")()).df()
    assert len(got) > 0
    assert compare(fn_name, got, want) == []
