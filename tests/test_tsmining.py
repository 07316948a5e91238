"""Semantic tests for the TS-mining operators (queries_tsmining.py):
Lomb-Scargle peak recovery, technical-indicator invariants, Hurst exponent
regimes, Engle-Granger cointegration detection, and portable-hash parity for
the oracle-checkable dedup variants."""
import datetime
import math

import numpy as np
from pyspark.sql import functions as F

from tsgen import dedup
from tsgen.queries_tsmining import (
    coint_sweep,
    hurst_rs,
    lombscargle,
    technical_indicators,
)


def _ts_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )


def test_lombscargle_recovers_planted_period(spark):
    """A 6-hour sinusoid sampled at IRREGULAR times must put the global
    periodogram peak at period_hours=6."""
    rng = np.random.RandomState(7)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    t = 0.0
    for i in range(2000):
        t += rng.exponential(120.0)  # irregular: mean 2-minute gaps
        v = math.sin(2 * math.pi * t / (6 * 3600.0)) + 0.1 * rng.randn()
        rows.append((i, t0 + datetime.timedelta(seconds=t), 1, "a", float(v)))
    out = lombscargle(_ts_df(spark, rows)).collect()
    best = max(out, key=lambda r: r.power)
    assert best.period_hours == 6
    # the planted tone should dominate: normalized power near n/2 scale
    others = [r.power for r in out if r.period_hours not in (6, 12, 18, 24)]
    assert best.power > 5 * max(others)


def test_technical_indicator_invariants(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rng = np.random.RandomState(3)
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, "a", float(v))
        for i, v in enumerate(np.cumsum(rng.randn(120)))
    ]
    out = technical_indicators(_ts_df(spark, rows)).orderBy("event_id").collect()
    for r in out[:13]:  # windows not yet full
        assert r.rsi14 is None
    for r in out[:19]:
        assert r.sma20 is None and r.bb_pctb is None and r.sma_cross is None
    full = out[25:]
    assert all(0.0 <= r.rsi14 <= 100.0 for r in full)
    assert all(r.sma_cross in (0, 1) for r in full)
    # monotone rising tail drives RSI high and %B above mid
    rows2 = [
        (i, t0 + datetime.timedelta(minutes=i), 2, "a", float(i) + 0.001 * rng.randn())
        for i in range(60)
    ]
    out2 = technical_indicators(_ts_df(spark, rows2)).orderBy("event_id").collect()
    assert out2[-1].rsi14 > 95
    assert out2[-1].bb_pctb > 0.7


def test_hurst_regimes(spark):
    """White noise → H ≈ 0.5-0.6 (small-sample R/S bias is upward);
    integrated noise (random walk) → H near 1."""
    rng = np.random.RandomState(11)
    rows = []
    for sid, series in enumerate([rng.randn(512), np.cumsum(rng.randn(512))]):
        rows += [(sid, int(t), float(v)) for t, v in enumerate(series)]
    df = spark.createDataFrame(rows, "series_id int, t int, value double")
    h = {r.series_id: r.hurst for r in hurst_rs(df).collect()}
    assert 0.4 < h[0] < 0.75
    assert h[1] > 0.85
    assert h[1] > h[0] + 0.2


def test_coint_detects_cointegrated_pair(spark):
    """y = 2x + stationary noise cointegrates with x (df_t deeply negative);
    two independent random walks do not."""
    rng = np.random.RandomState(5)
    n = 400
    x = np.cumsum(rng.randn(n))
    y = 2.0 * x + 0.5 * rng.randn(n)  # shares x's stochastic trend
    w = np.cumsum(rng.randn(n))  # independent walk
    rows = []
    for sid, series in enumerate([x, y, w]):
        rows += [(sid, int(t), float(v)) for t, v in enumerate(series)]
    df = spark.createDataFrame(rows, "series_id int, t int, value double")
    out = {(r.sa, r.sb): r for r in coint_sweep(df).collect()}
    pair = out[(0, 1)]
    assert abs(pair.beta - 2.0) < 0.05
    assert pair.df_t < -5.0  # strongly rejects unit root in the residual
    indep = out[(0, 2)]
    assert indep.df_t > -3.0  # cannot reject: not cointegrated


def test_portable_hash_matches_polynomial_fold(spark):
    """The Spark-side portable fold must equal the reference polynomial
    31x+codepoint mod 2^31-1 (the DuckDB twin computes the same closed
    form; cross-engine parity is the oracle gate's job)."""
    df = spark.createDataFrame([("abc",), ("hello world",), ("",)], "s string")
    got = df.select(
        F.expr(dedup._FOLD_SPARK.format(c="s")).alias("h")
    ).collect()

    def fold(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 2147483647
        return h

    for row, (s,) in zip(got, [("abc",), ("hello world",), ("",)]):
        assert row.h == fold(s)


def test_simhash_portable_bands_consistent(spark):
    """Band columns must be exact 16-bit slices of the signature, and
    identical docs must collide on every band."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "completely different text here")],
        "doc_id bigint, text string",
    )
    sim = {r.doc_id: r for r in dedup.simhash_portable(df).collect()}
    for r in sim.values():
        for b in range(4):
            assert getattr(r, f"band{b}") == (r.simhash >> (16 * b)) & 0xFFFF
    assert sim[1].simhash == sim[2].simhash
    assert sim[1].simhash != sim[3].simhash


def test_bfs_distances_path_graph(spark):
    """Hop distances on a path 0-1-2-3-4-5-6-7 seeded at node 0 (0 % 13 == 0):
    dist = node index, capped at max_depth; unreached nodes omitted."""
    from tsgen.queries_experiments import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)] + [(100, 101)],  # plus an unseeded component
        "doc_a bigint, doc_b bigint",
    )
    out = {r.node: r.dist for r in bfs_distances(edges, seed_mod=13, max_depth=4).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # depth cap stops at 4


def test_pacf_ar1_cuts_off_after_lag1(spark):
    """For an AR(1) process (phi=0.6), PACF(1) ~= 0.6 and PACF(k>=2) ~= 0 —
    the defining cutoff property Durbin-Levinson must reproduce."""
    from tsgen.queries_tsmining import pacf_durbin_levinson

    rng = np.random.RandomState(21)
    n = 4000
    x = np.zeros(n)
    for t in range(1, n):
        x[t] = 0.6 * x[t - 1] + rng.randn()
    x = (x - x.mean()) / x.std()
    df = spark.createDataFrame(
        [(1, int(t), float(v)) for t, v in enumerate(x)],
        "series_id bigint, t bigint, value double",
    )
    p = {r.lag: r.pacf for r in pacf_durbin_levinson(df).collect()}
    assert abs(p[1] - 0.6) < 0.05
    for k in range(2, 9):
        assert abs(p[k]) < 0.08, (k, p[k])


def test_gap_stats_burstiness_regimes(spark):
    """Periodic arrivals → burstiness ~ -1; exponential (Poisson) → ~0."""
    from tsgen.queries_tsmining import gap_stats

    t0 = datetime.datetime(2024, 1, 1)
    rng = np.random.RandomState(2)
    rows = [(i, t0 + datetime.timedelta(seconds=60 * i), 1, "periodic", 0.0) for i in range(500)]
    t = 0.0
    for i in range(500):
        t += rng.exponential(60.0)
        rows.append((1000 + i, t0 + datetime.timedelta(seconds=t), 1, "poisson", 0.0))
    out = {r.event_type: r for r in gap_stats(_ts_df(spark, rows)).collect()}
    assert out["periodic"].burstiness < -0.95
    assert abs(out["poisson"].burstiness) < 0.15
    assert abs(out["poisson"].mean_gap_s - 60.0) < 10.0


def test_gap_stats_matches_direct_window_form(spark):
    """The r9 scale-true form (range-partitioned lag + boundary recovery,
    rank-based interpolated p95) must reproduce the direct
    full-stratum-window + percentile() computation exactly."""
    from pyspark.sql import Window

    from tsgen.queries_tsmining import _stratified_gaps, gap_stats

    t0 = datetime.datetime(2024, 1, 1)
    rng = np.random.RandomState(7)
    rows = []
    eid = 0
    for et_i, et in enumerate(["a", "b", "c"]):
        t = 0.0
        for _ in range(400):
            t += rng.exponential(10.0 * (et_i + 1))
            rows.append((eid, t0 + datetime.timedelta(seconds=t), 1, et, 0.0))
            eid += 1
    df = _ts_df(spark, rows).repartition(16)  # force multi-partition strata
    # gaps multiset identical to the direct lag form
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    direct = (
        df.withColumn("_prev", F.lag(F.unix_micros("ts")).over(w))
        .where(F.col("_prev").isNotNull())
        .select(
            "event_type",
            ((F.unix_micros("ts") - F.col("_prev")) / F.lit(1e6)).alias("gap_s"),
        )
        .toPandas()
    )
    got_gaps = _stratified_gaps(df).toPandas()
    for et in ["a", "b", "c"]:
        a = sorted(direct[direct.event_type == et].gap_s)
        g = sorted(got_gaps[got_gaps.event_type == et].gap_s)
        assert len(a) == len(g) == 399
        assert max(abs(x - y) for x, y in zip(a, g)) == 0.0
    # full stats (incl. rank-based p95) match the built-in percentile()
    want = (
        spark.createDataFrame(direct)
        .groupBy("event_type")
        .agg(F.expr("percentile(gap_s, 0.95)").alias("p95"))
        .toPandas()
        .set_index("event_type")
    )
    out = gap_stats(df).toPandas().set_index("event_type")
    for et in ["a", "b", "c"]:
        assert abs(out.loc[et].p95_gap_s - want.loc[et].p95) < 1e-9
        assert out.loc[et].n_gaps == 399


def test_rake_keyphrases_scores_multiword_runs(spark):
    """RAKE favors longer stopword-free runs: in a doc where 'deep neural
    network' always co-occurs, that phrase must outrank single words, and
    stopwords must never appear inside any emitted phrase."""
    from tsgen.text import QUALITY_STOPWORDS, rake_keyphrases

    text = "the deep neural network of the deep neural network and a "\
           "simple baseline in the deep neural network"
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    out = rake_keyphrases(df, top_n=3).orderBy("rank").collect()
    assert out[0].phrase == "deep neural network"
    assert out[0].n_words == 3
    for r in out:
        for w in r.phrase.split(" "):
            assert w not in QUALITY_STOPWORDS
    assert out[0].score > out[-1].score or len(out) == 1


def test_kmeans_l2_separates_planted_clusters(spark):
    """Three well-separated Gaussian blobs with k=3 → each blob lands in one
    cluster and inertia is far below the one-cluster baseline."""
    from tsgen.similarity import kmeans_l2

    rng = np.random.RandomState(4)
    rows = []
    centers = [np.zeros(8), np.full(8, 10.0), np.full(8, -10.0)]
    for i in range(300):
        c = i % 3
        rows.append((i, (centers[c] + 0.5 * rng.randn(8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = kmeans_l2(df, k=3, iters=3).collect()
    sizes = sorted(r.n for r in out)
    assert sizes == [100, 100, 100]
    total_inertia = sum(r.inertia for r in out)
    assert total_inertia < 300 * 8 * 1.0  # ~n*dim*sigma^2 scale, not blob-distance scale


def test_stream_lombscargle_matches_batch_peak(spark, tmp_path):
    """The streaming periodogram (uncentered mergeable sums, algebraic
    centering) must find the same dominant period as the batch operator,
    with power equal to ~1e-6 despite the different float path."""
    import os

    from tsgen import streaming
    from tsgen.queries_tsmining import lombscargle

    rng = np.random.RandomState(13)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    t = 0.0
    for i in range(1500):
        t += rng.exponential(180.0)
        v = math.sin(2 * math.pi * t / (8 * 3600.0)) + 0.2 * rng.randn()
        rows.append((i, t0 + datetime.timedelta(seconds=t), 1, "a", float(v)))
    df = _ts_df(spark, rows)
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf_dir, "_tmp"))
    # events_stream expects {sf_dir}/events.parquet as a single file path glob
    import glob
    import shutil

    part = glob.glob(os.path.join(sf_dir, "_tmp", "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(sf_dir, "events.parquet"))
    s = streaming.events_stream(spark, sf_dir)
    got = streaming.run_to_completion(streaming.lombscargle_stream(s), mode="complete")
    stream_rows = {r.period_hours: r for r in got.collect()}
    batch_rows = {r.period_hours: r for r in lombscargle(df).collect()}
    best_stream = max(stream_rows.values(), key=lambda r: r.power).period_hours
    best_batch = max(batch_rows.values(), key=lambda r: r.power).period_hours
    assert best_stream == best_batch == 8
    for k in batch_rows:
        assert abs(stream_rows[k].power - batch_rows[k].power) < 1e-5 * max(
            1.0, batch_rows[k].power
        )


def test_ljung_box_separates_noise_from_ar(spark):
    """White noise → Q near dof (chi2 mean); strongly autocorrelated AR(1)
    → Q orders of magnitude larger."""
    from tsgen.queries_tsmining import ljung_box

    rng = np.random.RandomState(8)
    noise = rng.randn(512)
    ar = np.zeros(512)
    for t in range(1, 512):
        ar[t] = 0.8 * ar[t - 1] + rng.randn()
    rows = []
    for sid, series in enumerate([noise, ar]):
        z = (series - series.mean()) / series.std()
        rows += [(sid, int(t), float(v)) for t, v in enumerate(z)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    q = {r.series_id: r.q_stat for r in ljung_box(df).collect()}
    assert q[0] < 30  # chi2(10) 99th pctile ~23.2
    assert q[1] > 500


def test_mann_kendall_detects_monotone_trend(spark):
    """Strictly increasing series → S = n(n-1)/2 and large positive Z;
    pure alternating series → S near 0."""
    from tsgen.queries_tsmining import mann_kendall

    n = 100
    rows = [(0, t, float(t)) for t in range(n)]
    rows += [(1, t, float(1 if t % 2 else -1) * (1 + 0.001 * t)) for t in range(n)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = {r.series_id: r for r in mann_kendall(df).collect()}
    assert out[0].s == n * (n - 1) // 2
    assert out[0].z > 10
    assert abs(out[1].z) < 2


def test_abc_analysis_shares_sum_to_one(spark):
    """Classes partition the parts; revenue shares sum to 1 and A-class
    parts are fewer than C-class (Pareto concentration on skewed data)."""
    from tsgen.queries_warehouse2 import abc_analysis

    rng = np.random.RandomState(6)
    rows = []
    rid = 0
    for pk in range(200):
        rev = float(np.exp(rng.randn() + (5 if pk < 20 else 0)))  # head-heavy
        rows.append((pk, rev, 0.0))
        rid += 1
    df = spark.createDataFrame(rows, "l_partkey bigint, l_extendedprice double, l_discount double")
    out = {r.abc_class: r for r in abc_analysis(df).collect()}
    assert set(out) == {"A", "B", "C"}
    assert abs(sum(r.rev_share for r in out.values()) - 1.0) < 1e-9
    assert all(r.revenue_m > 0 for r in out.values())
    assert sum(r.n_parts for r in out.values()) == 200
    assert out["A"].n_parts < out["C"].n_parts


def test_arma11_matches_scalar_recursion(spark):
    from tsgen.forecast import arma11_filter

    rng = np.random.default_rng(17)
    ys = rng.normal(size=60)
    rows = [(1, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    phi, th = 0.6, 0.3
    out = {r.t: r for r in arma11_filter(df, phi=phi, theta=th).collect()}
    e = 0.0
    assert out[0].innovation == 0.0
    for t in range(1, 60):
        e = ys[t] - phi * ys[t - 1] - th * e
        assert abs(out[t].innovation - e) < 1e-12, t
        assert abs(out[t].fc_next - (phi * ys[t] + th * e)) < 1e-12, t


def test_transition_entropy_regimes(spark):
    """Deterministic a→b→a→b chain → zero conditional entropy; uniform
    random transitions over 2 states → ~1 bit."""
    from tsgen.queries_paths import transition_entropy

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), 1, "ab"[i % 2], 0.0) for i in range(400)
    ]
    rng = np.random.RandomState(3)
    rows += [
        (1000 + i, t0 + datetime.timedelta(seconds=i), 2, "cd"[rng.randint(2)], 0.0)
        for i in range(4000)
    ]
    out = {r.prev_type: r for r in transition_entropy(_ts_df(spark, rows)).collect()}
    assert out["a"].h_cond < 1e-9 and out["b"].h_cond < 1e-9
    assert abs(out["c"].h_cond - 1.0) < 0.05
    assert abs(out["d"].h_cond - 1.0) < 0.05


def test_welch_psd_recovers_planted_tone(spark):
    """A pure tone at DFT bin k0 of the segment length must dominate the
    Welch PSD at k=k0, and Parseval-style mass must follow the tone."""
    from tsgen.queries_tsmining import welch_psd

    k0, m = 8, 64
    n = 512
    rows = [
        (1, t, float(math.sin(2 * math.pi * k0 * t / m)))
        for t in range(n)
    ]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = {r.k: r.psd for r in welch_psd(df).collect()}
    assert len(out) == m // 2 + 1
    peak = max(out, key=out.get)
    assert peak == k0
    others = max(v for k, v in out.items() if abs(k - k0) > 2)
    assert out[k0] > 100 * others


def test_apdex_and_seasonal_profile_basics(spark):
    from tsgen.queries_tsmining import apdex, seasonal_profile

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(hours=i % 48), 1, "a", float(v))
        for i, v in enumerate([10.0] * 50 + [100.0] * 30 + [500.0] * 20)
    ]
    df = _ts_df(spark, rows)
    a = apdex(df, t=50.0).collect()[0]
    assert a.n_satisfied == 50 and a.n_tolerating == 30
    assert abs(a.apdex - (50 + 15) / 100) < 1e-12
    prof = seasonal_profile(df).collect()
    assert all(1 <= r.dow <= 7 and 0 <= r.hour <= 23 for r in prof)
    assert sum(r.n_events for r in prof) == 100


def test_tsmining_plan_shapes(spark):
    """Plan assertions for the session's scale claims: small sides
    broadcast; the big-side aggregations stay partial (no unexpected
    unpartitioned window over data-sized input)."""
    from tsgen.io import read_table
    from tsgen.queries_tsmining import lombscargle, welch_psd
    from tsgen.similarity import kmeans_l2

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events")
    # lombscargle: per-type stats broadcast back; no WindowExec at all
    plan = lombscargle(ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    # kmeans: Lloyd rounds run as separate driver-paced jobs (centroids
    # pinned between rounds), so the FINAL plan is exactly one broadcast
    # of the pinned centroid table (Scan ExistingRDD) against the corpus —
    # not the old unrolled-lineage shape where every earlier round's
    # crossJoin re-appeared (and re-scanned the corpus) in the final plan
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    plan = kmeans_l2(emb)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") == 1
    assert "Scan ExistingRDD" in plan  # centroids are pinned, not lineage
    assert plan.count("Scan parquet") == 1  # corpus scanned exactly once
    # welch: no join at all — explode + two hash aggregations
    df = spark.createDataFrame(
        [(1, t, float(t % 7)) for t in range(512)],
        "series_id bigint, t bigint, value double",
    )
    plan = welch_psd(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Window" not in plan


def test_peak_detect_finds_planted_spikes_only(spark):
    """Flat-noise series with two large planted spikes → exactly those two
    events emitted; a plateau (two equal maxima) emits nothing."""
    from tsgen.queries_tsmining import peak_detect

    t0 = datetime.datetime(2024, 1, 1)
    rng = np.random.RandomState(14)
    vals = (0.1 * rng.randn(200)).tolist()
    vals[50] = 10.0
    vals[150] = 8.0
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, "a", float(v))
        for i, v in enumerate(vals)
    ]
    # user 2: plateau of two equal spikes side by side → strict > fails
    vals2 = (0.1 * rng.randn(100)).tolist()
    vals2[40] = vals2[41] = 5.0
    rows += [
        (1000 + i, t0 + datetime.timedelta(minutes=i), 2, "a", float(v))
        for i, v in enumerate(vals2)
    ]
    out = peak_detect(_ts_df(spark, rows)).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    got1 = {r.event_id for r in by_user.get(1, [])}
    assert {50, 150} <= got1  # planted spikes found
    # planted spikes carry by far the largest z-scores; incidental noise
    # peaks (z barely > 2) are expected and stay small
    top2 = sorted(by_user[1], key=lambda r: -r.zscore)[:2]
    assert {r.event_id for r in top2} == {50, 150}
    assert all(r.value < 1.0 for r in by_user[1] if r.event_id not in (50, 150))
    # the plateau rows themselves are suppressed (strict > on both sides);
    # incidental small noise peaks for user 2 are fine
    got2 = {r.event_id for r in by_user.get(2, [])}
    assert 1040 not in got2 and 1041 not in got2


def test_m4_and_cdc_semantics(spark):
    """M4 keeps exactly the bucket envelope (min/max/first/last); CDC apply
    yields last-write state and drops tombstoned users."""
    from tsgen.queries_tsmining import cdc_apply, m4_downsample

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(minutes=10 * i), 1, "click", float(v))
        for i, v in enumerate([5.0, 1.0, 9.0, 3.0])  # one 1h bucket (0,10,20,30min)
    ]
    m4 = m4_downsample(_ts_df(spark, rows)).collect()
    cell = [r for r in m4 if r.n == 4][0]
    assert (cell.v_min, cell.v_max, cell.v_first, cell.v_last) == (1.0, 9.0, 5.0, 3.0)

    rows = [
        (1, t0, 1, "click", 1.0),
        (2, t0 + datetime.timedelta(hours=1), 1, "purchase", 2.0),
        (3, t0, 2, "click", 7.0),
        (4, t0 + datetime.timedelta(hours=1), 2, "error", 0.0),  # tombstone last
    ]
    out = {r.user_id: r for r in cdc_apply(_ts_df(spark, rows)).collect()}
    assert out[1].final_value == 2.0 and out[1].final_op == "purchase"
    assert out[1].n_changes == 2
    assert 2 not in out  # tombstoned


def test_stream_cdc_apply_state_carries_across_microbatches(spark, tmp_path):
    """4-chunk replay must end at the same final state as the batch CDC
    apply: the LAST emission per user (update mode re-emits current state
    each batch) equals the single-batch result."""
    from tsgen import streaming
    from tsgen.queries_tsmining import cdc_apply
    from tsgen.io import read_table

    sf = "/root/testdata/sf0.001"
    chunked_src = streaming.replay_chunked(spark, sf, 4, str(tmp_path / "chunks"))
    got = streaming.run_to_completion(
        streaming.cdc_stateful(chunked_src), mode="update"
    )
    # memory sink appends one row per (user, batch) — keep the latest
    last = {}
    for r in got.collect():
        cur = last.get(r.user_id)
        if cur is None or r.n_changes > cur.n_changes:
            last[r.user_id] = r
    want = {r.user_id: r for r in cdc_apply(read_table(spark, sf, "events")).collect()}
    # users whose final op is the tombstone may have earlier-batch emissions
    # (documented update-stream contract) — compare the surviving keys
    for uid, w in want.items():
        g = last[uid]
        assert g.final_value == w.final_value
        assert g.final_op == w.final_op
        assert g.updated_us == w.updated_us
        assert g.n_changes == w.n_changes


def test_ses_backtest_prefers_predictable_series(spark):
    """Noise around a stable level is SES's sweet spot: smoothing beats the
    naive last-value scale (MASE < 1); errors match a scalar replay. (On a
    near-random-walk naive wins — that regime is what MASE>1 flags.)"""
    from tsgen.forecast import ses_backtest

    rng = np.random.RandomState(31)
    x = 5.0 + rng.randn(300)
    rows = [(1, t, float(v)) for t, v in enumerate(x)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    r = ses_backtest(df, alpha=0.3).collect()[0]
    lvl, errs = x[0], []
    for t in range(1, 300):
        errs.append(x[t] - lvl)
        lvl = lvl + 0.3 * (x[t] - lvl)
    e = np.array(errs)
    assert r.n_origins == 299
    assert abs(r.mae - np.abs(e).mean()) < 1e-12
    assert abs(r.rmse - np.sqrt((e * e).mean())) < 1e-12
    assert r.mase < 1.0  # SES beats the naive scale on a smooth series


def test_drawdown_zipf_rate_anomaly_semantics(spark):
    from tsgen.queries_tsmining import max_drawdown, rate_anomaly, zipf_fit

    t0 = datetime.datetime(2024, 1, 1)
    # user curve: +1 x5, -1 x3, +1 x4 → cum peaks at 5, trough at 2 → mdd 3
    vals = [1.0] * 5 + [-1.0] * 3 + [1.0] * 4
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, "click", v)
        for i, v in enumerate(vals)
    ]
    r = max_drawdown(_ts_df(spark, rows)).collect()[0]
    assert r.max_drawdown == 3.0

    # Zipf: token k appears ~C/k times → exponent ≈ -1
    words = []
    for k in range(1, 101):
        words += [f"w{k:03d}"] * (1000 // k)
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id bigint, text string")
    z = zipf_fit(df, max_rank=100).collect()[0]
    assert abs(z.zipf_exponent - (-1.0)) < 0.05
    assert z.loglog_corr < -0.99

    # rate anomaly: steady 10/hour for 72 hours, one 100-event hour spikes
    rows2 = []
    rid = 0
    for h in range(72):
        cnt = 100 if h == 36 else 10
        for j in range(cnt):
            rows2.append((rid, t0 + datetime.timedelta(hours=h, seconds=j), 1, "view", 0.0))
            rid += 1
    out = rate_anomaly(_ts_df(spark, rows2)).collect()
    assert len(out) == 1 and out[0].n == 100


def test_ks_test_separates_shifted_distributions(spark):
    """Identical distributions → D near 0; a location-shifted pair → large D
    matching the scipy-style direct computation."""
    from tsgen.queries_tsmining import ks_test

    t0 = datetime.datetime(2024, 1, 1)
    rng = np.random.RandomState(19)
    a = rng.randn(2000)
    b_same = rng.randn(2000)
    b_shift = rng.randn(2000) + 1.0
    rows = []
    rid = 0
    for arr, ty in ((a, "click"), (b_same, "view")):
        for v in arr:
            rows.append((rid, t0, 1, ty, float(v)))
            rid += 1
    d_same = ks_test(_ts_df(spark, rows)).collect()[0]
    assert d_same.ks_d < 0.06  # same distribution
    assert d_same.n_a == 2000 and d_same.n_b == 2000

    rows = []
    rid = 0
    for arr, ty in ((a, "click"), (b_shift, "view")):
        for v in arr:
            rows.append((rid, t0, 1, ty, float(v)))
            rid += 1
    d_shift = ks_test(_ts_df(spark, rows)).collect()[0]
    # direct reference: max ECDF gap
    xs = np.sort(np.concatenate([a, b_shift]))
    ecdf_a = np.searchsorted(np.sort(a), xs, side="right") / 2000
    ecdf_b = np.searchsorted(np.sort(b_shift), xs, side="right") / 2000
    want = np.abs(ecdf_a - ecdf_b).max()
    assert abs(d_shift.ks_d - want) < 1e-9
    assert d_shift.ks_scaled > 1.36  # rejects at 5%


def test_chi_square_independence_regimes(spark):
    """Types spread uniformly over days → chi2 ~ dof scale; a type locked to
    one weekday → huge chi2."""
    from tsgen.queries_tsmining import chi_square

    t0 = datetime.datetime(2024, 1, 1)  # a Monday
    rng = np.random.RandomState(23)
    rows = [
        (i, t0 + datetime.timedelta(days=int(rng.randint(14))), 1, "ab"[rng.randint(2)], 0.0)
        for i in range(4000)
    ]
    c_indep = chi_square(_ts_df(spark, rows)).collect()[0]
    assert c_indep.dof == 6
    assert c_indep.chi2 < 30

    rows += [
        (10_000 + i, t0 + datetime.timedelta(days=7 * int(rng.randint(2))), 1, "c", 0.0)
        for i in range(1000)
    ]  # type c only ever on Mondays
    c_dep = chi_square(_ts_df(spark, rows)).collect()[0]
    assert c_dep.chi2 > 1000


def test_permutation_entropy_regimes(spark):
    """Monotone ramp → entropy 0 (one pattern); white noise → near 1."""
    from tsgen.queries_tsmining import permutation_entropy

    rng = np.random.RandomState(27)
    rows = [(0, t, float(t)) for t in range(500)]
    rows += [(1, t, float(v)) for t, v in enumerate(rng.randn(500))]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = {r.series_id: r for r in permutation_entropy(df).collect()}
    assert out[0].perm_entropy == 0.0 and out[0].n_patterns == 1
    assert out[1].perm_entropy > 0.95 and out[1].n_patterns == 6


def test_multi_touch_attribution_credit_conservation(spark):
    """Credits sum to the conversion value under both schemes; U-shape puts
    0.4/0.2/0.4 on a 3-touch path."""
    from tsgen.queries_experiments import multi_touch_attribution

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 9, "click", 0.0),
        (2, t0 + datetime.timedelta(hours=1), 9, "view", 0.0),
        (3, t0 + datetime.timedelta(hours=2), 9, "click", 0.0),
        (4, t0 + datetime.timedelta(hours=3), 9, "purchase", 30.0),
    ]
    out = {r.touch_event_id: r for r in multi_touch_attribution(_ts_df(spark, rows)).collect()}
    assert set(out) == {1, 2, 3}
    assert all(abs(r.credit_linear - 10.0) < 1e-9 for r in out.values())
    assert abs(out[1].credit_u - 12.0) < 1e-9   # 0.4 * 30
    assert abs(out[2].credit_u - 6.0) < 1e-9    # 0.2 * 30
    assert abs(out[3].credit_u - 12.0) < 1e-9
    total_l = sum(r.credit_linear for r in out.values())
    total_u = sum(r.credit_u for r in out.values())
    assert abs(total_l - 30.0) < 1e-9 and abs(total_u - 30.0) < 1e-9


def test_time_decay_attribution_weights_and_conservation(spark):
    """A touch 1 day (= half-life) before conversion earns exactly half the
    weight of one 0h before; credits are normalized so they conserve the
    conversion value."""
    from tsgen.queries_experiments import time_decay_attribution

    conv_t = datetime.datetime(2024, 1, 2)
    rows = [
        (1, conv_t - datetime.timedelta(days=1), 9, "click", 0.0),
        (2, conv_t - datetime.timedelta(hours=1), 9, "view", 0.0),
        (3, conv_t, 9, "purchase", 30.0),
    ]
    out = {r.touch_event_id: r for r in time_decay_attribution(_ts_df(spark, rows)).collect()}
    assert set(out) == {1, 2}
    w1, w2 = 2.0 ** (-1.0), 2.0 ** (-1.0 / 24.0)
    assert abs(out[1].credit_decay - 30.0 * w1 / (w1 + w2)) < 1e-9
    assert abs(out[2].credit_decay - 30.0 * w2 / (w1 + w2)) < 1e-9
    assert abs(sum(r.credit_decay for r in out.values()) - 30.0) < 1e-9
    # lookback: a touch 8 days out earns nothing
    rows2 = rows + [(0, conv_t - datetime.timedelta(days=8), 9, "click", 0.0)]
    out2 = {r.touch_event_id for r in time_decay_attribution(_ts_df(spark, rows2)).collect()}
    assert out2 == {1, 2}


def test_adf_rejects_unit_root_for_stationary_only(spark):
    """Stationary AR(1) → deeply negative t; random walk → t near 0."""
    from tsgen.queries_tsmining import df_unitroot

    rng = np.random.RandomState(29)
    ar = np.zeros(500)
    for t in range(1, 500):
        ar[t] = 0.5 * ar[t - 1] + rng.randn()
    walk = np.cumsum(rng.randn(500))
    rows = [(0, t, float(v)) for t, v in enumerate(ar)]
    rows += [(1, t, float(v)) for t, v in enumerate(walk)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = {r.series_id: r for r in df_unitroot(df).collect()}
    assert out[0].adf_t < -5.0
    assert out[1].adf_t > -1.95


def test_ssa_spectrum_properties(spark):
    """Frobenius identity, non-increasing values, and tone-vs-noise energy
    concentration."""
    from tsgen.queries_tsmining import ssa_spectrum

    rng = np.random.RandomState(33)
    tone = np.sin(2 * np.pi * np.arange(256) / 16)
    noise = rng.randn(256)
    rows = [(0, t, float(v)) for t, v in enumerate(tone)]
    rows += [(1, t, float(v)) for t, v in enumerate(noise)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = ssa_spectrum(df, window=32, top=8).collect()
    by = {}
    for r in out:
        by.setdefault(r.series_id, []).append(r)
    for sid, rs in by.items():
        rs.sort(key=lambda r: r.comp)
        svs = [r.sv for r in rs]
        assert all(a >= b for a, b in zip(svs, svs[1:]))  # non-increasing
    tone_rs = sorted(by[0], key=lambda r: r.comp)
    assert tone_rs[1].cum_share > 0.99  # 2 components carry a pure tone
    noise_rs = sorted(by[1], key=lambda r: r.comp)
    assert noise_rs[1].cum_share < 0.5  # noise energy spreads
    # Frobenius: sum of ALL sigma^2 = ||X||_F^2 — check via share sum <= 1
    assert 0 < tone_rs[-1].cum_share <= 1.0 + 1e-9
    # direct Frobenius identity on the tone series
    L, n = 32, 256
    X = np.lib.stride_tricks.sliding_window_view(tone, L)[: n - L + 1].T
    s = np.linalg.svd(X, compute_uv=False)
    assert abs(tone_rs[0].sv - s[0]) < 1e-6


def test_optimal_segmentation_recovers_planted_shifts(spark):
    """Three flat levels with big jumps → exactly 3 segments at the planted
    boundaries; a flat series yields a single segment."""
    from tsgen.queries_tsmining import optimal_segmentation

    rng = np.random.RandomState(41)
    y = np.concatenate([
        0.2 * rng.randn(40),
        6.0 + 0.2 * rng.randn(30),
        -5.0 + 0.2 * rng.randn(50),
    ])
    rows = [(0, t, float(v)) for t, v in enumerate(y)]
    rows += [(1, t, float(v)) for t, v in enumerate(0.2 * rng.randn(120))]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = optimal_segmentation(df, beta=8.0).collect()
    segs0 = sorted([r for r in out if r.series_id == 0], key=lambda r: r.seg_start)
    assert [(r.seg_start, r.seg_end) for r in segs0] == [(0, 39), (40, 69), (70, 119)]
    assert abs(segs0[1].seg_mean - 6.0) < 0.2
    assert abs(segs0[2].seg_mean - (-5.0)) < 0.2
    segs1 = [r for r in out if r.series_id == 1]
    assert len(segs1) == 1 and segs1[0].n_points == 120


def test_pelt_matches_unpruned_dp_exactly(spark):
    """PELT's prune is lossless: on mixed synthetic series with planted
    shifts it must emit the EXACT same segment table as the unpruned DP
    (same boundaries, same means — not just the same count)."""
    from tsgen.queries_tsmining import optimal_segmentation, pelt_segmentation

    rng = np.random.RandomState(17)
    rows = []
    for sid in range(6):
        parts = [rng.randn(30) * 0.3 + lvl for lvl in rng.randn(4) * 4]
        y = np.concatenate(parts)
        rows += [(sid, t, float(v)) for t, v in enumerate(y)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    key = lambda r: (r.series_id, r.seg_start)
    a = sorted(optimal_segmentation(df, beta=8.0).collect(), key=key)
    b = sorted(pelt_segmentation(df, beta=8.0).collect(), key=key)
    assert [(r.series_id, r.seg_start, r.seg_end) for r in a] == [
        (r.series_id, r.seg_start, r.seg_end) for r in b
    ]
    assert all(abs(x.seg_mean - y.seg_mean) < 1e-12 for x, y in zip(a, b))


def test_pelt_prunes_under_frequent_changepoints():
    """The candidate set must stay small (O(1)-ish) on a shift-heavy series
    — the property that makes PELT linear-time on long series."""
    import numpy as np

    rng = np.random.RandomState(7)
    y = np.concatenate([rng.randn(25) * 0.2 + lvl for lvl in rng.randn(16) * 5])
    n = len(y)
    s1 = np.concatenate([[0.0], np.cumsum(y)])
    s2 = np.concatenate([[0.0], np.cumsum(y * y)])
    beta = 8.0
    fv = np.empty(n + 1)
    fv[0] = -beta
    cand_set = np.array([0], dtype=int)
    sizes = []
    for t in range(1, n + 1):
        d1 = s1[t] - s1[cand_set]
        base = fv[cand_set] + (s2[t] - s2[cand_set]) - d1 * d1 / (t - cand_set)
        j = int(np.argmin(base + beta))
        fv[t] = base[j] + beta
        cand_set = np.append(cand_set[base <= fv[t]], t)
        sizes.append(len(cand_set))
    assert np.mean(sizes) < 0.25 * n  # far below the unpruned t candidates
    assert max(sizes) < 0.5 * n


def test_bocpd_flags_planted_shift(spark):
    """A hard mean shift at t=60 → the run-length posterior collapses: both
    the MAP and expected run length reset right at the shift, then grow
    again; on the stable stretches they track t (no false alarm)."""
    from tsgen.queries_tsmining import bocpd

    rng = np.random.RandomState(11)
    y = np.concatenate([0.3 * rng.randn(60), 5.0 + 0.3 * rng.randn(60)])
    rows = [(0, t, float(v)) for t, v in enumerate(y)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = {r.t: r for r in bocpd(df).collect()}
    assert len(out) == 120
    # MAP run length grows with t before the shift, resets at it
    assert out[59].map_runlen > 50
    assert out[60].map_runlen <= 2 and out[61].map_runlen <= 3
    assert out[119].map_runlen > 50
    # expected run length drops by an order of magnitude at the shift
    assert out[59].e_runlen > 40
    assert out[60].e_runlen < 5
    assert out[119].e_runlen > 40
    # no false collapse mid-regime
    assert min(out[t].map_runlen for t in range(30, 60)) > 20


def test_isotonic_matches_sklearn_style_pava(spark):
    """Minimax fit == PAVA: monotone, idempotent on sorted input, and the
    known pooled solution on a textbook violator sequence."""
    from tsgen.queries_tsmining import isotonic_fit

    rows = [(0, t, v) for t, v in enumerate([1.0, 3.0, 2.0, 4.0, 3.0, 5.0])]
    rows += [(1, t, float(t)) for t in range(6)]  # already monotone
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = {(r.series_id, r.t): r.iso for r in isotonic_fit(df).collect()}
    s0 = [out[(0, t)] for t in range(6)]
    # PAVA pools (3,2)->2.5 and (4,3)->3.5
    assert s0 == [1.0, 2.5, 2.5, 3.5, 3.5, 5.0]
    assert all(a <= b + 1e-12 for a, b in zip(s0, s0[1:]))
    s1 = [out[(1, t)] for t in range(6)]
    assert s1 == [float(t) for t in range(6)]  # identity on monotone input
    # L2-projection property: pooling preserves the sum
    assert abs(sum(s0) - sum([1.0, 3.0, 2.0, 4.0, 3.0, 5.0])) < 1e-9


def test_ewma_chart_flags_sustained_small_shift(spark):
    """A 1.5σ sustained shift after hour 100 — too small for a 3σ Shewhart
    point test — must push the EWMA statistic out of control within the
    shifted stretch, while the stable prefix stays in control."""
    from tsgen.queries_tsmining import ewma_chart

    rng = np.random.RandomState(23)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for h in range(200):
        shift = 1.5 if h >= 100 else 0.0
        rows.append((h, t0 + datetime.timedelta(hours=h), 1, "m", float(rng.randn() + shift)))
    out = sorted(
        ewma_chart(_ts_df(spark, rows)).collect(), key=lambda r: r.bucket_s
    )
    assert len(out) == 200
    pre, post = out[10:100], out[100:160]
    assert not any(r.out_of_control for r in pre)
    assert any(r.out_of_control for r in post)
    # limits widen with t toward the asymptote, never beyond it
    asym = max(r.ucl for r in out)
    assert out[1].ucl < out[50].ucl <= asym


def test_counter_rate_reset_semantics(spark):
    """A counter 10,20,5,15 in one bucket: increases 10(first=0)+10, reset
    contributes 5, then +10 → increase 25, one reset."""
    from tsgen.queries_tsmining import counter_rate

    t0 = datetime.datetime(2024, 1, 1)
    vals = [10.0, 20.0, 5.0, 15.0]
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, "tick", v)
        for i, v in enumerate(vals)
    ]
    r = counter_rate(_ts_df(spark, rows)).collect()[0]
    assert r.n_samples == 4
    assert abs(r.increase - (0 + 10 + 5 + 10)) < 1e-9
    assert r.n_resets == 1
    assert abs(r.rate_per_s - 25.0 / 3600.0) < 1e-9


def test_top_eigen_matches_numpy_eigh(spark):
    """Power-iteration top eigenvalue matches the exact eigensolve on a
    cloud with one dominant direction."""
    from tsgen.similarity import top_eigen

    rng = np.random.RandomState(43)
    base = rng.randn(300, 8) * 0.3
    base[:, 2] += 5.0 * rng.randn(300)  # dominant axis
    rows = [(i, base[i].tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    r = top_eigen(df).collect()[0]
    C = np.cov(base.T)
    lam = float(np.linalg.eigvalsh(C)[-1])
    assert abs(r.top_eigenvalue - lam) < 1e-6 * max(1.0, lam)
    assert abs(r.trace - float(np.trace(C))) < 1e-9
    assert 0.5 < r.explained_share < 1.0


def test_haar_energy_parseval_and_scale_localization(spark):
    """Parseval: level energies sum to total energy; a slow sine puts its
    energy in coarse levels, white noise spreads ~half per level."""
    from tsgen.queries_tsmining import haar_energy

    rng = np.random.RandomState(47)
    slow = np.sin(2 * np.pi * np.arange(256) / 128.0)
    noise = rng.randn(256)
    rows = [(0, t, float(v)) for t, v in enumerate(slow)]
    rows += [(1, t, float(v)) for t, v in enumerate(noise)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = haar_energy(df).collect()
    for sid, y in ((0, slow), (1, noise)):
        tot = sum(r.energy for r in out if r.series_id == sid)
        assert abs(tot - float((y * y).sum())) < 1e-8
    # slow sine: fine-detail levels (1-3) carry almost nothing
    fine = sum(r.energy for r in out if r.series_id == 0 and 1 <= r.level <= 3)
    tot0 = sum(r.energy for r in out if r.series_id == 0)
    assert fine / tot0 < 0.05
    # noise: finest level alone carries roughly half the energy
    lvl1 = [r.energy for r in out if r.series_id == 1 and r.level == 1][0]
    tot1 = sum(r.energy for r in out if r.series_id == 1)
    assert 0.3 < lvl1 / tot1 < 0.7


def test_stream_counter_rate_state_across_batches(spark, tmp_path):
    """4-chunk replay: per-bucket partials MERGE (increase adds) to the
    batch result, with deltas correct across chunk boundaries."""
    from tsgen import streaming
    from tsgen.queries_tsmining import counter_rate
    from tsgen.io import read_table

    sf = "/root/testdata/sf0.001"
    chunked = streaming.replay_chunked(spark, sf, 4, str(tmp_path / "chunks"))
    got = streaming.run_to_completion(
        streaming.counter_rate_stateful(chunked), mode="update"
    ).collect()
    acc = {}
    for r in got:
        k = (r.user_id, r.bucket_s)
        n, inc, res = acc.get(k, (0, 0.0, 0))
        acc[k] = (n + r.n_samples, inc + r.increase, res + r.n_resets)
    want = {
        (r.user_id, r.bucket_s): (r.n_samples, r.increase, r.n_resets)
        for r in counter_rate(read_table(spark, sf, "events")).collect()
    }
    assert set(acc) == set(want)
    for k, (n, inc, res) in acc.items():
        wn, winc, wres = want[k]
        assert n == wn and res == wres and abs(inc - winc) < 1e-9, k


def test_zone_map_and_funnel_latency_semantics(spark):
    from tsgen.queries_warehouse2 import funnel_latency, zone_map_skipping

    # zone maps: orderkeys 0..63 -> one bucket each; only buckets whose date
    # range intersects 1995Q1 survive
    import datetime as dt
    rows = []
    for k in range(64):
        d = dt.datetime(1994, 1, 1) + dt.timedelta(days=7 * k)
        rows.append((k, d, d))
    li = spark.createDataFrame(rows, "l_orderkey bigint, l_shipdate timestamp, _x timestamp")
    out = zone_map_skipping(li.select("l_orderkey", "l_shipdate")).collect()[0]
    assert out.n_files == 64
    in_q1 = sum(
        1 for k in range(64)
        if dt.datetime(1995, 1, 1) <= dt.datetime(1994, 1, 1) + dt.timedelta(days=7 * k) <= dt.datetime(1995, 3, 31, 23, 59)
    )
    assert out.files_skipped == 64 - in_q1
    assert abs(out.skip_ratio - (64 - in_q1) / 64) < 1e-9

    # funnel latency: 2 users start; one converts after 600s
    t0 = dt.datetime(2024, 1, 1)
    ev = [
        (1, t0, 1, "view", 0.0),
        (2, t0 + dt.timedelta(seconds=600), 1, "purchase", 0.0),
        (3, t0, 2, "view", 0.0),
        (4, t0 - dt.timedelta(seconds=60), 3, "purchase", 0.0),  # purchase w/o view
    ]
    r = funnel_latency(_ts_df(spark, ev)).collect()[0]
    assert r.n_started == 2 and r.n_converted == 1
    assert abs(r.p50_s - 600.0) < 1e-9
    assert abs(r.conversion_rate - 0.5) < 1e-9


def test_did_detects_planted_treatment_effect(spark):
    """Planted +5 lift on the treated cohort post-cutoff → did ≈ 5 with a
    large t; no-effect data → did ≈ 0."""
    from tsgen.queries_causal import did_readout

    t0 = datetime.datetime(2024, 1, 1)
    rng = np.random.RandomState(51)
    rows = []
    rid = 0
    for u in range(1, 201):
        treated = ((u * 2654435761) % 2147483647) % 2
        for k in range(20):
            post = k >= 10
            v = rng.randn() + (5.0 if treated and post else 0.0)
            rows.append((rid, t0 + datetime.timedelta(hours=k), u, "m", float(v)))
            rid += 1
    r = did_readout(_ts_df(spark, rows)).collect()[0]
    assert abs(r.did - 5.0) < 0.3
    assert r.t_stat > 20


def test_model_select_prefers_matching_model(spark):
    """Trending series → Holt wins; level+noise → SES wins; random walk →
    naive (MASE >= 1 for both)."""
    from tsgen.forecast import model_select

    rng = np.random.RandomState(53)
    trend = 0.5 * np.arange(300) + 0.3 * rng.randn(300)
    level = 5.0 + rng.randn(300)
    walk = np.cumsum(rng.randn(300))
    rows = []
    for sid, series in enumerate([trend, level, walk]):
        rows += [(sid, int(t), float(v)) for t, v in enumerate(series)]
    df = spark.createDataFrame(rows, "series_id bigint, t bigint, value double")
    out = {r.series_id: r for r in model_select(df).collect()}
    assert out[0].best_model == "holt"
    assert out[0].mase_holt < out[0].mase_ses
    assert out[1].best_model == "ses"
    assert out[2].best_model == "naive"


def test_k_anonymity_risk_detection(spark):
    """A QI class of size 2 (< k=5) drives k_anonymity=2 and puts exactly
    those rows at risk."""
    from tsgen.queries_quality import k_anonymity

    t0 = datetime.datetime(2024, 1, 1, 10)
    rows = [(i, t0, 1, "common", 0.0) for i in range(100)]
    rows += [(1000 + i, t0 + datetime.timedelta(hours=3), 1, "rare", 0.0) for i in range(2)]
    r = k_anonymity(_ts_df(spark, rows)).collect()[0]
    assert r.k_anonymity == 2
    assert r.n_at_risk == 2
    assert abs(r.risk_share - 2 / 102) < 1e-9


def test_sesd_finds_planted_spikes_in_order(spark):
    from pyspark.sql import functions as F

    from tsgen.queries_tsmining import sesd_anomalies

    # 14 days x 24h of mildly varying counts, two planted spikes: the ESD
    # removal step must find BOTH (one-shot z-tests mask the smaller one),
    # largest first.
    rows = []
    eid = 0
    for day in range(1, 15):
        for hour in range(24):
            n = 4 + (day + hour) % 3
            if day == 5 and hour == 12:
                n += 40
            if day == 9 and hour == 3:
                n += 25
            for _ in range(n):
                rows.append(
                    (eid, f"2024-01-{day:02d} {hour:02d}:30:00", eid % 7,
                     "view", 1.0, "{}")
                )
                eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sorted(sesd_anomalies(ev).collect(), key=lambda r: r.k)
    assert len(out) >= 2
    import calendar
    import datetime as dt

    def bucket(day, hour):
        t = dt.datetime(2024, 1, day, hour, tzinfo=dt.timezone.utc)
        return int(calendar.timegm(t.timetuple()))

    assert out[0].bucket_s == bucket(5, 12)  # biggest spike first
    assert out[1].bucket_s == bucket(9, 3)
    assert out[0].z > out[1].z > 3.0


def test_ssa_power_matches_numpy_svd(spark):
    import numpy as np

    from tsgen.queries_tsmining import SSAP_WINDOW, ssa_power

    # pure tone: top-2 SSA components carry ~all energy, and the power
    # eigenvalues match the exact SVD of the trajectory matrix
    t = np.arange(256)
    v = np.sin(2 * np.pi * 5 * t / 256)
    rows = [(0, int(i), float(x)) for i, x in enumerate(v)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    got = {r.component: r for r in ssa_power(df).collect()}
    L = SSAP_WINDOW
    K = len(v) - L + 1
    X = np.stack([v[i : i + K] for i in range(L)])
    w = np.sort(np.linalg.eigvalsh(X @ X.T))[::-1]
    tr = np.trace(X @ X.T)
    assert abs(got[1].sigma2 - w[0]) < 1e-2 * w[0]
    assert abs(got[2].sigma2 - w[1]) < 1e-2 * w[0]
    assert got[1].energy_share + got[2].energy_share > 0.99
