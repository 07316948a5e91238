"""Round-4 depth ops: PLSA topics, matrix-profile motifs/discords."""
import numpy as np

from tsgen import generators
from tsgen.queries_seasonal import MOTIF_K, MP_M, matrix_profile, motif_topk
from tsgen.queries_topics import TOPIC_K, TOPIC_TOP, plsa_topics


def test_plsa_recovers_planted_topic_split(spark):
    # two disjoint vocabularies -> after EM, each learned topic's top terms
    # come from ONE of the planted vocabularies (up to topic permutation)
    va = ["apple", "banana", "cherry"]
    vb = ["table", "chair", "lamp"]
    rows = []
    for d in range(40):
        voc = va if d % 2 == 0 else vb
        rows.append((d, " ".join(voc[(d + i) % 3] for i in range(30))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = plsa_topics(docs, k=2, iters=8, top=3).collect()
    by_topic = {}
    for r in out:
        by_topic.setdefault(r.z, set()).add(r.token)
    for terms in by_topic.values():
        assert terms <= set(va) or terms <= set(vb), terms
    # the two topics must cover both planted vocabularies
    assert {frozenset(t) for t in by_topic.values()} == {
        frozenset(va), frozenset(vb)
    }


def test_plsa_output_shape_and_probabilities(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = plsa_topics(docs).collect()
    assert len(out) == TOPIC_K * TOPIC_TOP
    assert all(0.0 <= r.phi <= 1.0 for r in out)
    shares = {r.z: r.topic_share for r in out}
    assert abs(sum(shares.values()) - 1.0) < 1e-3


def test_motif_pair_is_symmetric_best_of_profile(spark):
    # the rank-1 motif distance equals the global min of the matrix profile
    df = generators.generate(spark, 4, 64, "mixed")
    mp = matrix_profile(df).toPandas()
    motifs = motif_topk(df).toPandas()
    for sid in mp["series_id"].unique():
        best_mp = mp[mp.series_id == sid]["mp"].min()
        best_pair = motifs[(motifs.series_id == sid) & (motifs["rank"] == 1)][
            "dist"
        ].iloc[0]
        assert abs(best_mp - best_pair) < 1e-9


def test_motif_ranks_are_sorted_and_excluded(spark):
    df = generators.generate(spark, 4, 64, "mixed")
    m = motif_topk(df).toPandas()
    for sid, g in m.groupby("series_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, MOTIF_K + 1))
        assert (np.diff(np.round(g["dist"] + 1e-9, 6)) >= 0).all()
        assert ((g["j"] - g["i"]) >= MP_M // 2).all()
