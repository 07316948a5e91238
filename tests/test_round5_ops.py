"""Round-5 operators: exact substring dedup (Lee et al. 2022 style),
BM25 nDCG@k eval, LPA early-exit equivalence."""
import math

from tsgen.queries_exactdup import substring_dup_spans
from tsgen.queries_tokenizer import bm25_ndcg


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_substr_dup_basic(spark):
    # doc 1 and 2 share an exact 12-char substring; doc 3 is unique
    shared = "abcdefghijkl"  # 12 chars
    rows = [
        (1, "xx" + shared + "yy"),
        (2, "qq" + shared + "zz"),
        (3, "entirely unique text!"),
    ]
    out = substring_dup_spans(_docs_df(spark, rows), min_len=12).collect()
    got = {r.doc_id: r for r in out}
    assert set(got) == {1, 2}
    # the shared run is 12 chars at offset 3..14; only the aligned L-gram
    # repeats, so the merged span is exactly [3, 15) = 12 chars
    for d in (1, 2):
        assert got[d].n_dup_spans == 1
        assert got[d].dup_chars == 12


def test_substr_dup_merges_overlapping_spans(spark):
    # a 16-char shared run yields 5 overlapping 12-gram seeds per doc that
    # must merge into ONE maximal span covering all 16 chars
    shared = "abcdefghijklmnop"  # 16 chars
    rows = [(1, shared + "##"), (2, "##" + shared)]
    out = {r.doc_id: r for r in substring_dup_spans(_docs_df(spark, rows), min_len=12).collect()}
    assert out[1].n_dup_spans == 1 and out[1].dup_chars == 16
    assert out[2].n_dup_spans == 1 and out[2].dup_chars == 16


def test_substr_dup_within_one_doc(spark):
    # Lee et al. count ANY repeat, including within a single document
    rep = "0123456789ab"  # 12 chars
    rows = [(7, rep + "-----" + rep)]
    out = substring_dup_spans(_docs_df(spark, rows), min_len=12).collect()
    assert len(out) == 1
    assert out[0].n_dup_spans == 2
    assert out[0].dup_chars == 24


def test_substr_dup_short_docs_skipped(spark):
    rows = [(1, "tiny"), (2, "tiny")]
    assert substring_dup_spans(_docs_df(spark, rows), min_len=12).count() == 0


def test_bm25_ndcg_hand_computed(spark):
    # one query, two terms; doc 10 contains both (rel 2), doc 20 one (rel 1)
    rows = [
        (10, "spark join spark"),
        (20, "join other words here"),
        (30, "nothing relevant at all"),
    ]
    out = bm25_ndcg(_docs_df(spark, rows), queries=((1, "spark join"),), k=5).collect()
    assert len(out) == 1
    r = out[0]
    # ideal ordering IS rel-desc = (2, 1): idcg = 3/log2(2) + 1/log2(3)
    idcg = 3.0 / 1.0 + 1.0 / math.log2(3.0)
    assert abs(r.idcg - idcg) < 1e-5
    assert 0.0 < r.ndcg <= 1.0
    # doc 10 has higher tf on 'spark' and both terms => BM25 ranks it first,
    # so the ranking is rel-optimal and ndcg == 1
    assert r.ndcg == 1.0


def test_lpa_early_exit_matches_fixed_rounds(spark):
    from tsgen.queries_experiments import label_propagation

    # two cliques bridged by nothing: converges in <4 rounds, so early_exit
    # must return the identical label table the fixed-round variant does
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "doc_a bigint, doc_b bigint",
    )
    fixed = {
        (r.node, r.community)
        for r in label_propagation(edges, n_iter=4, early_exit=False).collect()
    }
    early = {
        (r.node, r.community)
        for r in label_propagation(edges, n_iter=4, early_exit=True).collect()
    }
    assert fixed == early
    # each clique collapses to its smallest id
    assert {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)} == early


def test_pack_ffd_respects_budget_and_beats_greedy(spark):
    from tsgen.text import pack_sequences, pack_sequences_ffd

    rows = [
        (i, " ".join(["tok"] * n), "en", "src")
        for i, n in enumerate([200, 200, 100, 56, 56, 30, 10, 10])
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")
    ffd = pack_sequences_ffd(docs, budget=256).collect()
    # no bin exceeds the budget (the property greedy straddling violates)
    assert all(r.n_tokens_packed <= 256 for r in ffd)
    assert sum(r.n_docs for r in ffd) == 8
    # FFD: 200+56, 200+56, 100+30+10+10 → 3 bins (greedy prefix would need 3+
    # with straddling); exact layout is deterministic
    assert sorted(r.n_tokens_packed for r in ffd) == [150, 256, 256]
    g = pack_sequences(docs, budget=256).collect()
    assert len(ffd) <= len(g) + 1  # FFD never wildly worse than streaming


def test_pack_ffd_oversized_doc_gets_own_bin(spark):
    from tsgen.text import pack_sequences_ffd

    rows = [(1, " ".join(["t"] * 300), "en", "s"), (2, " ".join(["t"] * 10), "en", "s")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")
    out = sorted(pack_sequences_ffd(docs, budget=256).collect(), key=lambda r: r.bin_id)
    assert [r.n_tokens_packed for r in out] == [300, 10]
    assert [r.n_docs for r in out] == [1, 1]


def test_trunc_recall_perfect_when_tail_is_zero(spark):
    from tsgen.similarity import trunc_recall

    # tail dims all zero => truncated ranking == full ranking => recall 1
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.5, 0.5, 0.0, 0.0]),
        (3, [0.1, 0.9, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = trunc_recall(emb, n_queries=1, k=2, dims=2).collect()
    assert len(out) == 1 and out[0].recall_at_k == 1.0


def test_trunc_recall_detects_tail_dependence(spark):
    from tsgen.similarity import trunc_recall

    # neighbor 1 is trunc-closest but full-farthest (big orthogonal tail);
    # neighbor 3 is full-closest. top-1 sets are disjoint => recall 0
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, -5.0, 5.0]),
        (2, [0.8, 0.6, 0.0, 0.0]),
        (3, [0.9, 0.436, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = trunc_recall(emb, n_queries=1, k=1, dims=2).collect()
    assert len(out) == 1 and out[0].overlap == 0 and out[0].recall_at_k == 0.0


def test_lang_temperature_mix_flattens_and_keeps_rare_lang(spark):
    from tsgen.mixing import lang_temperature_mix

    rows = [(i, f"text {i}", "aa" if i < 100 else "bb", "s") for i in range(110)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")
    out = {r.lang: r for r in lang_temperature_mix(docs, alpha=0.5).collect()}
    # the rarest language is the anchor: keeps everything
    assert out["bb"].keep_prob == 1.0
    assert out["bb"].n_kept == 10
    # temperature pulls the target between the raw share and uniform
    assert 0.5 < out["aa"].target_share < out["aa"].share_before
    # downsample-only: nobody keeps more than they had
    assert all(r.n_kept <= r.n_docs for r in out.values())
    # realized mixture moved toward the target: majority share shrank
    assert out["aa"].share_after < out["aa"].share_before


def test_ts_features_separates_trend_from_seasonal(spark):
    import math

    from tsgen.queries_seasonal import ts_features

    # deterministic small noise so no variance is exactly zero
    def noise(t):
        return ((t * 37) % 11 - 5) / 50.0

    rows = [(1, t, 0.5 * t + noise(t)) for t in range(96)] + [
        (2, t, 5.0 * math.sin(2 * math.pi * t / 12) + noise(t)) for t in range(96)
    ]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = {r.series_id: r for r in ts_features(df).collect()}
    assert out[1].trend_strength > 0.95
    assert out[2].seasonal_strength > 0.95
    # the trending series is more linear than the seasonal one
    assert abs(out[1].linearity) > abs(out[2].linearity)
    # strengths live in [0, 1]
    for r in out.values():
        assert 0.0 <= r.trend_strength <= 1.0
        assert 0.0 <= r.seasonal_strength <= 1.0
        assert r.spikiness >= 0.0


def test_harmonic_centrality_path_graph(spark):
    from tsgen.queries_experiments import harmonic_centrality

    # path 0-1-2-3; only node 0 is a seed (0 % 1000 == 0)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "doc_a bigint, doc_b bigint"
    )
    out = harmonic_centrality(edges, seed_mod=1000, max_depth=6).collect()
    assert len(out) == 1
    r = out[0]
    assert r.src == 0 and r.n_reached == 3
    assert abs(r.harmonic - (1.0 + 0.5 + 1.0 / 3.0)) < 1e-5


def test_harmonic_centrality_depth_cap(spark):
    from tsgen.queries_experiments import harmonic_centrality

    # path of length 4 but depth capped at 2: node 3+ unreachable
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "doc_a bigint, doc_b bigint"
    )
    out = harmonic_centrality(edges, seed_mod=1000, max_depth=2).collect()
    assert out[0].n_reached == 2
    assert abs(out[0].harmonic - 1.5) < 1e-6


def test_forecast_combo_properties(spark):
    from tsgen.forecast import forecast_combo

    # noisy upward trend; both combos must land inside the component range,
    # and the Holt forecast must grow linearly in h
    rows = [
        (1, t, 1.0 * t + ((t * 7) % 5 - 2) / 10.0) for t in range(32)
    ]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = sorted(forecast_combo(df).collect(), key=lambda r: r.h)
    assert [r.h for r in out] == [1, 2, 3, 4]
    for r in out:
        lo, hi = min(r.f_ses, r.f_holt, r.f_naive), max(r.f_ses, r.f_holt, r.f_naive)
        assert lo <= r.combo_eq <= hi
        assert lo <= r.combo_imae <= hi
    # linear growth of Holt: second differences vanish
    fh = [r.f_holt for r in out]
    assert abs((fh[1] - fh[0]) - (fh[3] - fh[2])) < 1e-9
    # trending series: Holt has the smallest backtest error, so the
    # inverse-MAE combo should sit closer to Holt than the equal-weight one
    assert abs(out[3].combo_imae - out[3].f_holt) <= abs(out[3].combo_eq - out[3].f_holt)


def test_bpe_encode_compresses_repetitive_corpus(spark):
    from tsgen.queries_tokenizer import bpe_encode

    rows = [(1, "hello hello hello world"), (2, "hello world world")]
    docs = _docs_df(spark, rows)
    # zero merges: every word costs len(word)+1 symbols (chars + </w>)
    base = {r.doc_id: r for r in bpe_encode(docs, iters=0).collect()}
    assert base[1].n_words == 4 and base[1].n_tokens == 3 * 6 + 6
    assert base[2].n_tokens == 6 + 2 * 6
    # with merges learned on this corpus, the repeated words compress
    enc = {r.doc_id: r for r in bpe_encode(docs, iters=8).collect()}
    for d in (1, 2):
        assert enc[d].n_tokens < base[d].n_tokens
        assert enc[d].n_words == base[d].n_words
        assert enc[d].chars_per_token > 0


def test_demand_classes_all_four_quadrants(spark):
    import datetime

    from tsgen.queries_retail import demand_classes

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # part 1 smooth: daily, constant size; part 2 intermittent: every 3 days
    # part 3 erratic: daily, wild sizes; part 4 lumpy: sparse + wild
    for i in range(12):
        rows.append((1, base + datetime.timedelta(days=i), 10.0))
        rows.append((2, base + datetime.timedelta(days=3 * i), 10.0))
        rows.append((3, base + datetime.timedelta(days=i), 1.0 if i % 2 else 100.0))
        rows.append((4, base + datetime.timedelta(days=3 * i), 1.0 if i % 2 else 100.0))
    li = spark.createDataFrame(
        rows, "l_partkey bigint, l_shipdate timestamp, l_quantity double"
    )
    out = {r.demand_class: r for r in demand_classes(li).collect()}
    assert set(out) == {"smooth", "intermittent", "erratic", "lumpy"}
    assert all(r.n_parts == 1 for r in out.values())
    assert out["smooth"].avg_adi == 1.0 and out["intermittent"].avg_adi == 3.0
    assert out["erratic"].avg_cv2 > 0.49 and out["lumpy"].avg_cv2 > 0.49


def test_ccnet_buckets_tercile_structure(spark):
    from tsgen.text import ccnet_buckets

    # 9 docs in one lang: rank-based terciles are exactly 3/3/3, and the
    # docs full of the corpus-common token land in head (lowest score)
    rows = []
    for i in range(6):
        rows.append((i, "common common common common", "en", "s"))
    rows.append((6, "rare1 rare2 rare3 rare4", "en", "s"))
    rows.append((7, "rare5 rare6 rare7 rare8", "en", "s"))
    rows.append((8, "rare9 rareA rareB rareC", "en", "s"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")
    out = {r.bucket: r for r in ccnet_buckets(docs).collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert all(r.n_docs == 3 for r in out.values())
    # head = most stereotypical = lowest mean NLL
    assert out["head"].avg_score < out["tail"].avg_score


def test_sba_corrects_croston_bias(spark):
    from tsgen.queries import registry

    reg = registry()
    rows = reg["forecast_sba"].spark_fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # SBA = (1 - alpha/2) * rate with alpha = 0.3 -> 0.85x, within 6dp
        assert abs(r.sba_rate - 0.85 * r.rate) < 1e-4
        assert r.sba_rate < r.rate


def test_substring_contamination_respects_split(spark):
    from tsgen.queries_exactdup import substring_contamination

    shared = "abcdefghijklmnop"  # 16 chars
    # force the split: train_p=1.0 would put everything in train; instead
    # pick doc ids empirically by running with default and checking output
    # discipline — so use a planted pair and train_p=0.5 over many ids, then
    # just assert structural properties: only eval docs appear, frac in (0,1]
    rows = [(i, shared + f" filler {i}") for i in range(20)]
    rows += [(100 + i, f"unique text number {i} nothing shared") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = substring_contamination(docs, min_len=16, train_p=0.5).collect()
    assert out, "the shared 16-char run must leak across any nontrivial split"
    for r in out:
        assert r.n_contam_spans >= 1
        assert 0.0 < r.contam_frac <= 1.0
        # the span covers at least the planted shared prefix — it extends
        # further because ' filler ' after it is also common to every doc
        assert r.contam_chars >= 16


def test_ivf_recall_perfect_when_probing_all_cells(spark):
    from tsgen.similarity import ivf_recall

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # probing EVERY cell makes IVF exhaustive => recall == 1 for all queries
    out = ivf_recall(emb, n_queries=4, k=3, n_cells=4, nprobe=4).collect()
    assert len(out) == 4
    assert all(r.recall_at_k == 1.0 and r.hits == 3 for r in out)


def test_qini_detects_planted_uplift(spark):
    import datetime

    from tsgen.queries_causal import qini_curve

    # 200 users; high-score users (many views) convert ONLY when treated
    # (odd user_id) => top deciles show positive uplift, Qini grows there
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(200):
        views = 10 if u < 100 else 1
        for v in range(views):
            rows.append((eid, base, u, "view", 1.0, "{}")); eid += 1
        treated, high_score = u % 2 == 1, u < 100
        if (high_score and treated) or (not high_score and u % 7 == 0):
            rows.append((eid, base, u, "purchase", 1.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    out = sorted(qini_curve(ev).collect(), key=lambda r: r.decile)
    assert len(out) == 10
    # top-half deciles hold the responsive users: positive uplift there
    assert all(r.uplift > 0.9 for r in out[:5])
    # final Qini approximates total incremental conversions (≈50 treated
    # high-score converters minus the small background rate, scaled)
    assert out[-1].qini > 30
    # Qini is (weakly) increasing while the responsive deciles accumulate
    assert out[4].qini >= out[0].qini


def test_markov_stationary_two_state_chain(spark):
    import datetime

    from tsgen.queries_paths import markov_stationary

    # deterministic alternating chain a->b->a->... : pi = (0.5, 0.5)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(4):
        for i in range(20):
            rows.append(
                (u * 100 + i, base + datetime.timedelta(minutes=i), u,
                 "a" if i % 2 == 0 else "b", 1.0, "{}")
            )
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    out = {r.state: r.pi for r in markov_stationary(ev).collect()}
    assert abs(out["a"] - 0.5) < 1e-6 and abs(out["b"] - 0.5) < 1e-6


def test_path_ngrams_counts_sliding_trigrams(spark):
    import datetime

    from tsgen.queries_paths import path_ngrams

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, t, 1.0, "{}")
        for i, t in enumerate(["a", "b", "c", "a", "b", "c"])
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    out = {r.ngram: r.n for r in path_ngrams(ev).collect()}
    # sequence abcabc has sliding trigrams: abc, bca, cab, abc
    assert out == {"a>b>c": 2, "b>c>a": 1, "c>a>b": 1}


def test_retention_fit_recovers_planted_decay(spark):
    import datetime
    import math

    from tsgen.queries_training import retention_fit

    # one big cohort on day 0; user u stays active for ceil(-ln(U_u)/lam)
    # days with a deterministic per-user lifetime: retention(k) = exp(-lam k)
    base = datetime.datetime(2024, 1, 1)
    lam = 0.3
    rows = []
    eid = 0
    for u in range(400):
        # deterministic "uniform" in (0,1): golden-ratio low-discrepancy seq
        uu = ((u + 1) * 0.6180339887498949) % 1.0
        life = max(1, int(-math.log(1.0 - uu) / lam))
        for k in range(min(life + 1, 20)):
            rows.append((eid, base + datetime.timedelta(days=k), u, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    out = retention_fit(ev).collect()
    assert len(out) == 1
    r = out[0]
    # the fitted decay slope should be near -lam and retention must decay
    assert r.slope < -0.1
    assert abs(r.slope - (-lam)) < 0.15
    assert 0.0 < r.r30 < 0.2
    assert r.half_life_days > 0


def test_heaps_law_bounds(spark):
    from tsgen.queries_exactdup import heaps_law

    # closed vocabulary (every doc reuses 3 words) => beta near 0;
    # all-unique tokens => beta = 1 exactly (V(n) = n)
    closed = _docs_df(spark, [(i, "a b c a b c a b c") for i in range(30)])
    out_c = heaps_law(closed).collect()[0]
    assert out_c.vocab == 3
    assert out_c.beta < 0.2
    uniq = _docs_df(spark, [(i, f"w{i}a w{i}b w{i}c") for i in range(30)])
    out_u = heaps_law(uniq).collect()[0]
    assert out_u.vocab == 90
    assert abs(out_u.beta - 1.0) < 1e-6


def test_bpe_train_strips_marker_bytes(spark):
    # ADVICE r04: words containing \x01/\x02/'</w>' would corrupt the
    # self-delimited symbol encoding — they must be dropped, not corrupted
    from tsgen.queries_tokenizer import bpe_train

    rows = [
        (1, "aa ab aa ab aa \x01bad\x02 we</w>ird"),
        (2, "aa ab aa aa ab"),
    ]
    out = bpe_train(_docs_df(spark, rows), iters=1).collect()
    assert len(out) == 1
    # over the CLEAN words only: aa×6 ab×4 → 'a a'=6 ties 'a </w>'=6,
    # tie-break by pair text ('<' sorts before 'a') → ('a </w>', 6).
    # Were the \x01/\x02 word kept, it would corrupt symbol boundaries.
    assert out[0].pair == "a </w>"
    assert out[0].n == 6
