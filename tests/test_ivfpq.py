"""IVF-PQ (IVFADC) recall eval — property tests.

The oracle gate (tools/check_oracle.py, ann_ivfpq_recall) certifies the
values against the DuckDB twin; these tests pin the semantics that the
hash-compare can't express: exactness when the index is lossless, and
partition invariance of the rounded-before-rank pipeline.
"""
from __future__ import annotations

import numpy as np


def test_ivfpq_recall_exact_when_lossless(spark):
    # Corpus drawn from exactly n_cent prototypes, all present among the
    # deterministic PQ seeds. Each distinct prototype lands in one coarse
    # cell, so the residual set also has n_cent distinct values and the
    # refined codebooks reproduce them exactly (mean of identical values).
    # For a candidate in a probed cell, ADC then telescopes:
    # ||(q - c) - (v - c)||^2 = ||q - v||^2 — exact L2. Probing every cell
    # makes the scan exhaustive, so recall@k must be 1 for every query.
    from tsgen.similarity import ivfpq_recall

    rng = np.random.default_rng(7)
    protos = rng.normal(size=(8, 16))
    rows = [(i, [float(x) for x in protos[i % 8]]) for i in range(48)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivfpq_recall(
        emb, n_queries=6, k=4, n_cells=4, nprobe=4, n_sub=4, n_cent=8, refine_iters=1
    ).collect()
    assert len(out) == 6
    assert all(r.hits == 4 and r.recall_at_k == 1.0 for r in out)


def test_ivfpq_recall_bounded_and_partition_invariant(spark):
    # 100TB-readiness: recall in [0, 1], hits <= k, and results identical
    # under repartition (every rank is on a rounded value, so partial-agg
    # association noise cannot flip a row).
    from tsgen.similarity import ivfpq_recall

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = [tuple(r) for r in ivfpq_recall(emb).collect()]
    assert len(a) == 16
    for _, hits, rec in a:
        assert 0 <= hits <= 8
        assert 0.0 <= rec <= 1.0
    b = [tuple(r) for r in ivfpq_recall(emb.repartition(19)).collect()]
    assert a == b


def test_ivfpq_probe_set_restricts_candidates(spark):
    # nprobe=1 must never return a neighbor from outside the query's single
    # probed cell: verify via the index internals (the returned neighbors'
    # cells all equal the query's top probe cell).
    from pyspark.sql import functions as F

    from tsgen import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned, cents = similarity.ivf_assign(emb, n_cells=6)
    cellmap = {r.vec_id: r.cell_id for r in assigned.select("vec_id", "cell_id").collect()}

    # recompute each query's top probe cell exactly as the operator does
    q = assigned.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    probes = (
        q.crossJoin(
            F.broadcast(cents.select(F.col("cell_id").alias("probe_cell"), "svec", "snorm"))
        )
        .withColumn(
            "cs",
            F.round(
                similarity.cosine("qvec", "svec") / (F.col("qnorm") * F.col("snorm"))
                + F.lit(1e-12),
                9,
            ),
        )
    )
    from pyspark.sql import Window

    top_probe = {
        r.query_id: r.probe_cell
        for r in probes.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("probe_cell"))
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    }

    # run the eval at nprobe=1 and pull the approx side's neighbors by
    # re-deriving them: any hit counted must come from the probed cell
    out = similarity.ivfpq_recall(emb, n_queries=4, k=3, n_cells=6, nprobe=1).collect()
    assert len(out) == 4
    # hits can only come from truth ∩ approx; approx ⊆ probed cell, so a
    # query whose true neighbors all live elsewhere must have hits == 0
    for r in out:
        true_nbrs = [
            v for v in cellmap if v != r.query_id and cellmap[v] == top_probe[r.query_id]
        ]
        if not true_nbrs:
            assert r.hits == 0


def test_int8_recall_exact_when_integers_representable(spark):
    # Vectors with integer entries and max|v| = 127 have scale exactly 1,
    # so floor(v/scale + 0.5)*scale reconstructs every entry exactly and
    # asymmetric int8 search must equal exact search: recall@k == 1.
    import numpy as np

    from tsgen.similarity import int8_recall

    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        v = rng.integers(-126, 127, size=16).astype(float)
        v[int(rng.integers(0, 16))] = 127.0
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = int8_recall(emb, n_queries=5, k=4).collect()
    assert len(out) == 5
    assert all(r.hits == 4 and r.recall_at_k == 1.0 for r in out)


def test_int8_recall_bounded_and_partition_invariant(spark):
    from tsgen.similarity import int8_recall

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = [tuple(r) for r in int8_recall(emb).collect()]
    assert len(a) == 16
    for _, hits, rec in a:
        assert 0 <= hits <= 8
        assert 0.0 <= rec <= 1.0
    # int8 is mild quantization: on real embeddings recall should be high
    assert sum(rec for _, _, rec in a) / len(a) >= 0.75
    b = [tuple(r) for r in int8_recall(emb.repartition(23)).collect()]
    assert a == b


def test_ivf_frontier_monotone_and_exhaustive(spark):
    # With exact-cosine candidate scoring, a candidate that displaces a
    # true top-k member from a larger candidate set must outscore it and
    # is therefore itself in the true top-k — so per-query hits (and hence
    # mean recall) are nondecreasing in nprobe, and probing every cell is
    # exhaustive: recall exactly 1. avg_candidates grows with nprobe by
    # construction (cells are disjoint).
    from tsgen.similarity import ivf_probe_frontier

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = ivf_probe_frontier(emb).collect()
    assert [r.nprobe for r in rows] == list(range(1, 9))
    rec = [r.mean_recall_at_k for r in rows]
    cand = [r.avg_candidates for r in rows]
    assert all(a <= b for a, b in zip(rec, rec[1:]))
    assert all(a <= b for a, b in zip(cand, cand[1:]))
    assert rec[-1] == 1.0


def test_rerank_frontier_monotone_and_matches_ivfpq_at_k(spark):
    # m = k re-ranks exactly the ADC top-k set — reordering a set does not
    # change it, so the first frontier row's mean recall must equal the
    # mean of ivfpq_recall (same index parameters). Larger budgets only
    # grow the candidate set under the truth metric, so mean recall is
    # nondecreasing in m, as is the exact-eval cost.
    from tsgen.similarity import ivfpq_recall, rerank_frontier

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = rerank_frontier(emb).collect()
    assert [r.rerank_m for r in rows] == [8, 16, 32, 64]
    rec = [r.mean_recall_at_k for r in rows]
    cost = [r.avg_exact_evals for r in rows]
    assert all(a <= b for a, b in zip(rec, rec[1:]))
    assert all(a <= b for a, b in zip(cost, cost[1:]))
    per_q = ivfpq_recall(emb).collect()
    adc_mean = sum(r.hits for r in per_q) / (8.0 * len(per_q))
    assert abs(rec[0] - adc_mean) < 1e-6
