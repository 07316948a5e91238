"""Tests for warehouse-maintenance operators (queries_warehouse)."""
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tsgen.queries_warehouse import (
    forward_fill,
    key_skew,
    scd2_intervals,
    table_profile,
    zorder_key,
)


def _ev(spark):
    rows = [
        # user 1: a a b b a  (3 changes)
        (1, 1, "a", 10.0), (2, 1, "a", 11.0), (3, 1, "b", 12.0),
        (4, 1, "b", 13.0), (5, 1, "a", 14.0),
        # user 2: x  (1 interval)
        (6, 2, "x", 20.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, value double")
    return df.withColumn("ts", F.timestamp_seconds(F.col("event_id") * 100))


def test_scd2_intervals(spark):
    out = scd2_intervals(_ev(spark)).orderBy("user_id", "version").collect()
    u1 = [r for r in out if r.user_id == 1]
    assert [r.event_type for r in u1] == ["a", "b", "a"]
    # contiguous: valid_to of version v == valid_from of v+1
    for prev, nxt in zip(u1, u1[1:]):
        assert prev.valid_to_s == nxt.valid_from_s
    # exactly one open interval per user
    assert sum(r.is_current for r in u1) == 1
    assert u1[-1].is_current and u1[-1].valid_to_s is None
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current


def test_forward_fill_matches_pandas(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "k": np.repeat([1, 2], 50),
            "t": np.tile(np.arange(50), 2),
            "v": rng.normal(size=100),
        }
    )
    pdf.loc[pdf.index % 3 == 0, "v"] = None
    df = spark.createDataFrame(pdf)
    got = (
        forward_fill(df, "k", ["t"], "v")
        .orderBy("k", "t")
        .toPandas()["v_filled"]
        .to_numpy()
    )
    want = pdf.sort_values(["k", "t"]).groupby("k")["v"].ffill().to_numpy()
    mask = ~np.isnan(want)
    assert np.allclose(got[mask], want[mask])
    assert np.isnan(got[~mask]).all()  # leading nulls stay null


def _morton_ref(a: int, b: int) -> int:
    z = 0
    for i in range(16):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (1234, 4321), (40000, 7)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {(r.a, r.b): r.zkey for r in zorder_key(df, "a", "b").collect()}
    for a, b in rows:
        assert got[(a, b)] == _morton_ref(a, b), (a, b)


def test_zorder_locality(spark):
    # a full 2-dim grid: every bucket must span a bounded sub-rectangle,
    # far smaller than the global range in BOTH dims
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    from tsgen.queries_warehouse import zorder_cluster_stats

    st = zorder_cluster_stats(grid, "a", "b", shift=8).collect()
    assert len(st) == 16
    for r in st:
        assert r.a_max - r.a_min <= 15
        assert r.b_max - r.b_min <= 15


def test_table_profile_one_row_per_col(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (2, 30.0)], "k long, v double"
    )
    out = {r.col_name: r for r in table_profile(df, ["k", "v"]).collect()}
    assert out["k"].n_vals == 3 and out["k"].n_distinct == 2 and out["k"].n_null == 0
    assert out["v"].n_vals == 2 and out["v"].n_null == 1
    assert out["v"].min_v == 10.0 and out["v"].max_v == 30.0


def test_key_skew_orders_and_shares(spark):
    df = spark.createDataFrame(
        [(k,) for k in [1] * 10 + [2] * 5 + [3] * 2 + [4]], "k long"
    )
    rows = key_skew(df, "k", top_n=3).orderBy(F.desc("cnt")).collect()
    assert [r.k for r in rows] == [1, 2, 3]
    assert abs(rows[0].share - 10 / 18) < 1e-12


def test_dup_ngram_coverage_planted(spark):
    from tsgen.text import dup_ngram_coverage

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens: two 5-gram windows
    docs = [
        (0, shared + " unique0 filler0 morefill0 tail0"),
        (1, shared + " unique1 filler1 morefill1 tail1"),
        (2, "totally distinct words nothing here matches anything else at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in dup_ngram_coverage(df, k=5).collect()}
    # the shared 6-token passage is covered in both docs 0 and 1
    assert out[0].n_dup_tokens == 6 and out[1].n_dup_tokens == 6
    assert out[2].n_dup_tokens == 0 and out[2].dup_frac == 0.0
    assert abs(out[0].dup_frac - 6 / 10) < 1e-12


def test_holt_matches_scalar_reference(spark):
    from tsgen.forecast import holt_forecast

    rng = np.random.default_rng(11)
    rows = []
    lens = {1: 30, 2: 17, 3: 5}
    series = {}
    for sid, n in lens.items():
        ys = rng.normal(size=n).cumsum()
        series[sid] = ys
        rows += [(sid, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    out = {r.series_id: r for r in holt_forecast(df, alpha=0.4, beta=0.1, horizon=3).collect()}
    for sid, ys in series.items():
        l, b = ys[0], ys[1] - ys[0]
        for t in range(1, len(ys)):
            ln = 0.4 * ys[t] + 0.6 * (l + b)
            b = 0.1 * (ln - l) + 0.9 * b
            l = ln
        assert abs(out[sid].level - l) < 1e-12, sid
        assert abs(out[sid].trend - b) < 1e-12, sid
        assert abs(out[sid].fc - (l + 3 * b)) < 1e-12, sid


def test_conformal_ses_coverage_guarantee(spark):
    # finite-sample guarantee: calibration coverage >= 1 - miscoverage;
    # the half-width equals the k-th smallest |one-step error| exactly
    from tsgen.forecast import conformal_ses

    rng = np.random.default_rng(7)
    rows = []
    for sid in range(4):
        ys = (10.0 + rng.normal(size=60)).tolist()
        rows += [(sid, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    out = conformal_ses(df, miscoverage=0.1).collect()
    assert len(out) == 4
    for r in out:
        assert r.n_cal == 52                       # 60 - burn(8)
        assert r.coverage >= 0.9
        assert abs((r.hi - r.lo) - 2 * r.qhat) < 1e-9
        assert r.lo < r.fc < r.hi
        # noise sd 1 → the 90% band half-width is near the |N(0,~1)| q90
        assert 1.0 < r.qhat < 3.0


def test_holt_damped_matches_scalar_reference_and_flattens(spark):
    from tsgen.forecast import holt_damped_forecast, holt_forecast

    rng = np.random.default_rng(13)
    ys = (0.5 * np.arange(40) + rng.normal(size=40)).tolist()  # steady uptrend
    df = spark.createDataFrame(
        [(1, t, float(y)) for t, y in enumerate(ys)], "series_id long, t long, value double"
    )
    a, b_, phi, h = 0.4, 0.1, 0.8, 10
    out = holt_damped_forecast(df, alpha=a, beta=b_, phi=phi, horizon=h).collect()[0]
    l, b = ys[0], ys[1] - ys[0]
    for t in range(1, len(ys)):
        ln = a * ys[t] + (1 - a) * (l + phi * b)
        b = b_ * (ln - l) + (1 - b_) * phi * b
        l = ln
    ps = sum(phi ** i for i in range(1, h + 1))
    assert abs(out.level - l) < 1e-12
    assert abs(out.trend - b) < 1e-12
    assert abs(out.fc - (l + ps * b)) < 1e-10
    # damping: the long-horizon forecast sits BELOW the undamped Holt line
    und = holt_forecast(df, alpha=a, beta=b_, horizon=h).collect()[0]
    assert out.fc < und.fc


def test_attribution_last_touch(spark):
    rows = [
        (1, 1, "view", 100), (2, 1, "click", 200), (3, 1, "purchase", 300),
        (4, 2, "purchase", 400),                      # no touch -> direct
        (5, 3, "click", 100), (6, 3, "purchase", 100 + 8 * 24 * 3600),  # outside window
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, sec long")
    df = df.withColumn("ts", F.timestamp_seconds("sec")).withColumn("value", F.lit(1.0))
    from tsgen.queries_experiments import last_touch_attribution

    out = {r.user_id: r for r in last_touch_attribution(df).collect()}
    assert out[1].touch_type == "click" and out[1].touch_event_id == 2
    assert out[1].touch_age_s == 100
    assert out[2].touch_type == "direct" and out[2].touch_event_id is None
    assert out[3].touch_type == "direct"  # touch exists but outside lookback


def test_triangle_stats_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles) plus a pendant edge 4-5 (no new triangle)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    from tsgen.queries_experiments import triangle_stats

    r = triangle_stats(df).collect()[0]
    assert r.n_triangles == 4
    assert r.n_nodes == 5 and r.n_edges == 7
    # wedges: degrees 3,3,3,4,1 -> 3+3+3+6+0 = 15
    assert r.n_wedges == 15
    assert abs(r.clustering_coeff - 12 / 15) < 1e-12


def test_ab_readout_balanced_and_deterministic(spark):
    from tsgen.queries_experiments import ab_readout

    ev = spark.range(1000).select(
        F.col("id").alias("user_id"),
        F.lit("purchase").alias("event_type"),
        (F.col("id") % 10).cast("double").alias("value"),
    )
    r1 = ab_readout(ev).collect()[0]
    r2 = ab_readout(ev).collect()[0]
    assert r1 == r2  # deterministic assignment
    assert 300 < r1.n_a < 700 and r1.n_a + r1.n_b == 1000


def test_winsorize_clamps(spark):
    from tsgen.queries_experiments import winsorize

    vals = [float(i) for i in range(1, 100)] + [10000.0]  # one huge outlier
    df = spark.createDataFrame(
        [("t", v) for v in vals], "event_type string, value double"
    )
    r = winsorize(df).collect()[0]
    assert r.n_clamped_hi >= 1 and r.mean_winsorized < r.mean_raw


def test_pagerank_matches_numpy(spark):
    from tsgen.queries_experiments import pagerank

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]  # 4-cycle + chord
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.pr for r in pagerank(df, n_iter=8).collect()}

    import numpy as np

    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((4, 4))
    for u, v in edges:
        A[idx[v], idx[u]] = 1.0
        A[idx[u], idx[v]] = 1.0
    deg = A.sum(axis=0)
    pr = np.full(4, 0.25)
    for _ in range(8):
        pr = 0.15 / 4 + 0.85 * (A @ (pr / deg))
    for n in nodes:
        assert abs(got[n] - pr[idx[n]]) < 1e-12, n
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_running_balance_matches_scalar_loop(spark):
    from tsgen.queries_tsdb import running_balance

    rng = np.random.default_rng(3)
    deltas = rng.normal(scale=5, size=60)
    rows = [(1, t, float(d)) for t, d in enumerate(deltas)]
    df = spark.createDataFrame(rows, "user_id long, t long, delta double")
    got = [
        r.balance
        for r in running_balance(df, "user_id", ["t"], "delta").orderBy("t").collect()
    ]
    bal, want = 0.0, []
    for d in deltas:
        bal = max(0.0, bal + d)
        want.append(bal)
    assert np.allclose(got, want, atol=1e-9)


def test_ohlc_first_last(spark):
    from tsgen.queries_tsdb import ohlc_bars

    rows = [
        (1, "t", 0, 5.0), (2, "t", 60, 9.0), (3, "t", 120, 1.0), (4, "t", 180, 7.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, sec long, value double")
    df = df.withColumn("ts", F.timestamp_seconds("sec"))
    r = ohlc_bars(df).collect()[0]
    assert (r.open, r.high, r.low, r.close) == (5.0, 9.0, 1.0, 7.0)
    assert r.n_trades == 4 and r.volume == 22.0


def test_time_features_monday(spark):
    from tsgen.queries_tsdb import time_features

    df = spark.createDataFrame([(1, 100)], "event_id long, x long").select(
        "event_id", F.lit("2026-08-10 10:00:00").cast("timestamp").alias("ts")
    )
    r = time_features(df).collect()[0]
    assert r.dow == 0 and r.hour == 10 and not r.is_weekend
    assert abs(r.hour_sin - np.sin(10 * 2 * np.pi / 24)) < 1e-12


def test_interval_union_merges_overlaps(spark):
    from tsgen.queries_tsdb import interval_union

    # user 1: events at 0s and 100s (overlapping with hold=300) and 1000s
    rows = [(1, 1, 0), (2, 1, 100), (3, 1, 1000)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, sec long")
    df = df.withColumn("ts", F.timestamp_seconds("sec"))
    r = interval_union(df).collect()[0]
    assert r.n_islands == 2
    assert r.covered_s == (100 + 300) + 300  # [0,400) + [1000,1300)


def test_bpe_merge_counts_adjacent_pairs(spark):
    from tsgen.text import bpe_merge_candidates

    docs = [(0, "a b a b c"), (1, "a b x")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = bpe_merge_candidates(df, top_n=3).collect()
    assert rows[0].pair == "a b" and rows[0].n == 3
    counts = {r.pair: r.n for r in rows}
    assert counts["b a"] == 1


def test_doc_split_deterministic_and_partitions(spark):
    from tsgen.text import doc_split

    df = spark.createDataFrame(
        [(i, "en", 100 + i) for i in range(1000)], "doc_id long, lang string, n_chars long"
    )
    r1 = {r.split: r.n_docs for r in doc_split(df).collect()}
    r2 = {r.split: r.n_docs for r in doc_split(df).collect()}
    assert r1 == r2
    assert sum(r1.values()) == 1000
    assert r1["train"] > r1["val"] and r1["train"] > r1["test"]


def test_checksum_flips_on_single_row_change(spark):
    from tsgen.queries_warehouse import table_checksum

    base = spark.createDataFrame(
        [(i, i * 7, "O", 100.0 + i, "P1") for i in range(50)],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderpriority string",
    ).withColumn("o_orderdate", F.lit("1996-01-01").cast("timestamp"))
    c1 = table_checksum(base).collect()[0].checksum
    mutated = base.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 25, 999.99).otherwise(F.col("o_totalprice")),
    )
    c2 = table_checksum(mutated).collect()[0].checksum
    assert c1 != c2
    # XOR is order-independent: a shuffled layout gives the same checksum
    c3 = table_checksum(base.repartition(7)).collect()[0].checksum
    assert c1 == c3


def test_snapshot_diff_statuses(spark):
    from tsgen.queries_warehouse import snapshot_diff

    old = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double")
    new = spark.createDataFrame([(2, 20.0), (3, 99.0), (4, 40.0)], "k long, v double")
    got = {r.status: r.n_rows for r in snapshot_diff(old, new, "k", "v").collect()}
    assert got == {"removed": 1, "unchanged": 1, "changed": 1, "added": 1}


def test_rolling_beta_exact_on_linear_series(spark):
    from tsgen.queries_warehouse import rolling_beta

    rows = [(i, 1, i, 3.0 * i + 7.0) for i in range(40)]  # value = 3x + 7
    df = spark.createDataFrame(rows, "event_id long, user_id long, sec long, value double")
    df = df.withColumn("ts", F.timestamp_seconds("sec"))
    out = rolling_beta(df).orderBy("event_id").collect()
    assert out[0].beta is None  # single-point window
    for r in out[1:]:
        assert abs(r.beta - 3.0) < 1e-9


def test_kalman_matches_scalar_reference(spark):
    from tsgen.forecast import kalman_filter

    rng = np.random.default_rng(5)
    ys = (np.sin(np.arange(50) / 5.0) + 0.3 * rng.normal(size=50)).tolist()
    rows = [(1, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    out = {r.t: r for r in kalman_filter(df, q=0.01, r=0.5).collect()}
    l, v = ys[0], 1.0
    assert out[0].level == ys[0] and out[0].gain == 0.0
    for t in range(1, 50):
        pv = v + 0.01
        k = pv / (pv + 0.5)
        l = l + k * (ys[t] - l)
        v = (1 - k) * pv
        assert abs(out[t].level - l) < 1e-12, t
        assert abs(out[t].gain - k) < 1e-12, t
    # gain converges to the steady-state Riccati fixed point
    assert abs(out[49].gain - out[48].gain) < 1e-6


def test_sql_api_matches_dataframe_path(spark):
    from tsgen import sqlapi

    sf = "/root/testdata/sf0.001"
    got = sqlapi.sql(
        spark,
        sf,
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
    )
    rows = {(r.l_returnflag, r.l_linestatus): r for r in got.collect()}
    # same aggregate through the DataFrame path
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    want = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"), F.count("*").alias("n"))
    )
    for r in want.collect():
        g = rows[(r.l_returnflag, r.l_linestatus)]
        assert g.sum_qty == r.sum_qty and g.n == r.n


def test_sql_api_events_normalized(spark):
    from tsgen import sqlapi

    sf = "/root/testdata/sf0.001"
    sqlapi.register_tables(spark, sf)
    r = spark.sql("SELECT count(*) AS n, min(ts) AS lo FROM events").collect()[0]
    assert r.n > 0 and str(r.lo.year) >= "1995"


def test_running_balance_identity_hypothesis(spark):
    """Property: the window form equals the sequential clamp loop for ANY
    delta sequence (hypothesis-driven)."""
    from hypothesis import given, settings, strategies as st

    from tsgen.queries_tsdb import running_balance

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
            min_size=1,
            max_size=30,
        )
    )
    def check(deltas):
        rows = [(1, t, float(d)) for t, d in enumerate(deltas)]
        df = spark.createDataFrame(rows, "user_id long, t long, delta double")
        got = [
            r.balance
            for r in running_balance(df, "user_id", ["t"], "delta")
            .orderBy("t")
            .collect()
        ]
        bal = 0.0
        for d, g in zip(deltas, got):
            bal = max(0.0, bal + float(np.float32(d)))
            assert abs(g - bal) < 1e-6

    check()


def test_hll_accuracy(spark):
    from tsgen.sketches import hll_distinct

    # m=256 registers -> standard error 1.04/sqrt(256) ~ 6.5%; allow 3 sigma
    for n, tol in ((150, 0.2), (5000, 0.2)):
        df = spark.range(n).select(F.col("id").alias("k"))
        # duplicate every row: cardinality unchanged
        df = df.union(df)
        est = hll_distinct(df, "k").collect()[0].est
        assert abs(est - n) / n < tol, (n, est)


def test_cms_overestimates_only_and_tight_for_heavy_hitters(spark):
    from tsgen.sketches import cms_estimate_tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = cms_estimate_tokens(docs).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.cms_n >= r.exact_n  # CMS never undercounts
        # width 1024 on a small vocab: overcount should be tiny
        assert r.overcount <= 0.05 * r.exact_n + 50, r


def test_hll_set_ops_inclusion_exclusion(spark):
    from tsgen.sketches import hll_set_ops

    # A = users 0..99, B = users 50..149 -> |A|=|B|=100, |A∪B|=150, |A∩B|=50
    rows = [(u, "a") for u in range(100)] + [(u, "b") for u in range(50, 150)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = hll_set_ops(df, "user_id", "event_type", "a", "b").collect()[0]
    assert abs(r.est_a - 100) / 100 < 0.2
    assert abs(r.est_union - 150) / 150 < 0.2
    assert abs(r.est_intersection - 50) < 0.3 * 150  # I-E compounds error


def test_kmv_set_ops_accuracy_and_exact_small_side(spark):
    from tsgen.sketches import kmv_set_ops

    # A = 0..999, B = 500..1499 → |A|=|B|=1000, ∪=1500, ∩=500; k=64
    rows = [(u, "a") for u in range(1000)] + [(u, "b") for u in range(500, 1500)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = kmv_set_ops(df, "user_id", "event_type", "a", "b").collect()[0]
    assert abs(r.est_a - 1000) / 1000 < 0.3
    assert abs(r.est_b - 1000) / 1000 < 0.3
    assert abs(r.est_union - 1500) / 1500 < 0.3
    # theta intersection is DIRECT (no inclusion-exclusion compounding)
    assert abs(r.est_intersection - 500) / 500 < 0.5
    # a side smaller than k is reported exactly
    rows2 = [(u, "a") for u in range(40)] + [(u, "b") for u in range(20, 60)]
    df2 = spark.createDataFrame(rows2, "user_id long, event_type string")
    r2 = kmv_set_ops(df2, "user_id", "event_type", "a", "b").collect()[0]
    assert r2.est_a == 40.0 and r2.est_b == 40.0 and r2.est_union == 60.0


def test_dd_quantiles_relative_error_bound(spark):
    from tsgen.sketches import DD_ALPHA, dd_quantiles_with_exact

    df = spark.range(1, 20001).selectExpr(
        "CAST(id AS DOUBLE) * 0.37 + 0.01 AS value"
    )
    rows = dd_quantiles_with_exact(df, "value").collect()
    assert len(rows) == 4
    for r in rows:
        # DDSketch guarantee: relative error within alpha of the true quantile
        assert abs(r.rel_err) <= DD_ALPHA + 1e-9, (r.q, r.rel_err)


def test_dd_sketch_merges(spark):
    # bucket counts ADD: sketch(A ∪ B) == merge(sketch(A), sketch(B)).
    import pyspark.sql.functions as F

    from tsgen.sketches import _dd_bucket

    full = spark.range(1, 5001).selectExpr("CAST(id AS DOUBLE) * 1.3 AS value")
    a = full.filter(F.col("value") < 3000)
    b = full.filter(F.col("value") >= 3000)

    def sketch(df):
        return (
            df.select(F.expr(_dd_bucket("value")).alias("b"))
            .groupBy("b").count()
        )

    merged = (
        sketch(a).unionByName(sketch(b))
        .groupBy("b").agg(F.sum("count").alias("count"))
    )
    got = {r.b: r["count"] for r in merged.collect()}
    want = {r.b: r["count"] for r in sketch(full).collect()}
    assert got == want


def test_bloom_no_false_negatives(spark):
    import pyspark.sql.functions as F

    from tsgen.sketches import bloom_prune

    build = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    r = bloom_prune(build, probe, "k", "k").collect()[0]
    # every true member passes the bloom (no false negatives, by construction)
    assert r.bloom_pass_rows >= r.true_match_rows
    assert r.n_probe_rows == 5000
    # m=16384 bits, k=4, n=500 inserted: fp rate should be well under 5%
    fp_rate = r.false_positive_rows / (r.n_probe_rows - r.true_match_rows)
    assert fp_rate < 0.05, fp_rate


def test_kalman_smoother_matches_scalar_reference_and_beats_filter(spark):
    from tsgen.forecast import kalman_smoother

    rng = np.random.default_rng(11)
    truth = np.cumsum(0.05 * rng.normal(size=60))  # local-level random walk
    ys = truth + 0.5 * rng.normal(size=60)
    rows = [(1, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    out = {r.t: r for r in kalman_smoother(df, q=0.01, r=0.5).collect()}
    # scalar forward pass
    q, r = 0.01, 0.5
    L, V = [ys[0]], [1.0]
    for t in range(1, 60):
        pv = V[-1] + q
        k = pv / (pv + r)
        L.append(L[-1] + k * (ys[t] - L[-1]))
        V.append((1 - k) * pv)
    # scalar RTS backward pass
    SL, SV = L[:], V[:]
    for t in range(58, -1, -1):
        c = V[t] / (V[t] + q)
        SL[t] = L[t] + c * (SL[t + 1] - L[t])
        SV[t] = V[t] + c * c * (SV[t + 1] - (V[t] + q))
    for t in range(60):
        assert abs(out[t].level - L[t]) < 1e-12, t
        assert abs(out[t].smoothed - SL[t]) < 1e-12, t
    # the smoother (conditions on the whole series) beats the filter on MSE
    mse_f = float(np.mean((np.array(L) - truth) ** 2))
    mse_s = float(np.mean((np.array(SL) - truth) ** 2))
    assert mse_s < mse_f


def test_kalman_em_matches_scalar_reference_and_moves_toward_truth(spark):
    from tsgen.forecast import kalman_em

    rng = np.random.default_rng(21)
    q_true, r_true = 0.04, 0.25
    truth = np.cumsum(np.sqrt(q_true) * rng.normal(size=200))
    ys = truth + np.sqrt(r_true) * rng.normal(size=200)
    rows = [(1, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    q0, r0 = 0.01, 1.0  # deliberately wrong initial guess
    got = kalman_em(df, q=q0, r=r0).collect()[0]

    # scalar replay of E-step + M-step
    T = len(ys)
    L, V = [ys[0]], [1.0]
    for t in range(1, T):
        pv = V[-1] + q0
        k = pv / (pv + r0)
        L.append(L[-1] + k * (ys[t] - L[-1]))
        V.append((1 - k) * pv)
    SL, SV = L[:], V[:]
    C = [v / (v + q0) for v in V]
    for t in range(T - 2, -1, -1):
        SL[t] = L[t] + C[t] * (SL[t + 1] - L[t])
        SV[t] = V[t] + C[t] * C[t] * (SV[t + 1] - (V[t] + q0))
    qh = np.mean(
        [
            (SL[t] - SL[t - 1]) ** 2 + SV[t] + SV[t - 1] - 2 * C[t - 1] * SV[t]
            for t in range(1, T)
        ]
    )
    rh = np.mean([(ys[t] - SL[t]) ** 2 + SV[t] for t in range(T)])
    assert abs(got.q_hat - qh) < 1e-10
    assert abs(got.r_hat - rh) < 1e-10
    # one EM step from a bad guess moves BOTH parameters toward the truth
    assert abs(got.r_hat - r_true) < abs(r0 - r_true)
    assert abs(got.q_hat - q_true) < abs(q0 - q_true)


def test_sketch_deciles_balanced(spark):
    # equi-depth binning from DDSketch boundaries: each decile holds ~10%
    # of rows, within the sketch's relative-error tolerance
    from tsgen.queries_warehouse import _q_value_deciles

    out = _q_value_deciles(spark, "/root/testdata/sf0.001").collect()
    total = sum(r.n_events for r in out)
    for r in out:
        assert abs(r.n_events / total - 0.1) < 0.05, (r.decile, r.n_events)


def test_holt_winters_matches_scalar_and_learns_seasonality(spark):
    from tsgen.forecast import holt_winters

    m, T = 8, 64
    seas = [3.0, 1.0, -2.0, 0.5, -1.0, 2.0, -3.0, -0.5]
    ys = [0.05 * t + seas[t % m] for t in range(T)]
    rows = [(1, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    out = {r.h: r.forecast for r in holt_winters(df, season=m, horizon=8).collect()}

    # scalar replay
    a, b, g = 0.3, 0.1, 0.2
    L = ys[0]
    B = (ys[m] - ys[0]) / m
    S = [ys[i] - ys[0] for i in range(m)]
    for t in range(m, T):
        s_old = S[t % m]
        l_new = a * (ys[t] - s_old) + (1 - a) * (L + B)
        B = g_b = b * (l_new - L) + (1 - b) * B
        S[t % m] = g * (ys[t] - l_new) + (1 - g) * s_old
        L = l_new
    for h in range(1, 9):
        want = L + h * B + S[(T + h - 1) % m]
        assert abs(out[h] - want) < 1e-12, h
    # the h-step forecasts track the true seasonal+trend signal closely
    errs = [abs(out[h] - (0.05 * (T - 1 + h) + seas[(T - 1 + h) % m])) for h in range(1, 9)]
    assert max(errs) < 0.6, errs


def test_theta_matches_scalar_and_has_no_python_stage(spark):
    from tsgen.forecast import theta_forecast

    a, T = 0.3, 50
    ys = [2.0 * t + 5.0 + ((-1) ** t) * 0.3 for t in range(T)]
    rows = [(1, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    out = {r.h: r.forecast for r in theta_forecast(df, alpha=a, horizon=4).collect()}
    # scalar closed form
    oma = 1 - a
    level = oma ** (T - 1) * ys[0] + sum(
        a * oma ** (T - 1 - t) * ys[t] for t in range(1, T)
    )
    n = float(T)
    sx = sum(range(T)); sy = sum(ys)
    sxy = sum(t * y for t, y in enumerate(ys)); sxx = sum(t * t for t in range(T))
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    for h in range(1, 5):
        want = level + b / 2 * (h - 1 + 1 / a - oma ** T / a)
        assert abs(out[h] - want) < 1e-9, h
    # pure-trend series: slope recovered exactly -> forecasts track 2t+5
    assert abs(b - 2.0) < 0.01
    # the whole forecaster is Catalyst-only: no Python workers in the plan
    plan = theta_forecast(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_hll_daily_merge_dominates_and_tracks_exact(spark):
    from tsgen.queries_warehouse import _q_hll_daily
    from tsgen.io import read_table

    sf = "/root/testdata/sf0.001"
    rows = {r.day: r.est for r in _q_hll_daily(spark, sf).collect()}
    merged = rows.pop("__all__")
    # union of days ⊇ any single day (register max can only grow)
    assert merged >= max(rows.values()) - 1e-6
    exact = read_table(spark, sf, "events").agg(F.countDistinct("user_id")).collect()[0][0]
    assert abs(merged - exact) / exact < 0.15  # m=256 registers ≈ 6.5% σ


def test_embed_drift_identical_halves_give_cos_1(spark):
    from tsgen.queries_warehouse import _q_embed_drift
    import tempfile, os

    # corpus where half 0 and half 1 are the SAME vectors per label
    rows = []
    for label in range(3):
        for i in range(10):
            vec = [float(label * 10 + (i % 5)) + j * 0.1 for j in range(8)]
            rows.append((2 * (label * 10 + i), vec, label))       # even: half 0
            rows.append((2 * (label * 10 + i) + 1, vec, label))   # odd: half 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = _q_embed_drift(spark, d).collect()
    assert len(out) == 3
    for r in out:
        assert abs(r.centroid_cos - 1.0) < 1e-9


def test_funnel_stages_monotone(spark):
    from tsgen.queries_training import _q_funnel_stages

    rows = {r.stage: r.n_users for r in
            _q_funnel_stages(spark, "/root/testdata/sf0.001").collect()}
    assert rows["1_view"] >= rows["2_click_after_view"] >= rows["3_purchase_after_click"]
    assert rows["1_view"] > 0


def test_dd_sketch_error_bound_hypothesis(spark):
    """Property: DDSketch quantile estimates respect the alpha relative-
    error bound for ANY positive value distribution (heavy-tailed, tiny,
    clustered — hypothesis picks)."""
    from hypothesis import given, settings, strategies as st

    from tsgen.sketches import DD_ALPHA, dd_quantiles_with_exact

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=1e-3, max_value=1e6, allow_nan=False,
                      allow_infinity=False),
            min_size=50,
            max_size=200,
        )
    )
    def check(vals):
        df = spark.createDataFrame([(float(v),) for v in vals], "value double")
        for r in dd_quantiles_with_exact(df, "value").collect():
            assert abs(r.rel_err) <= DD_ALPHA + 1e-9, (r.q, r.rel_err)

    check()


def test_km_survival_monotone_and_gini_in_range(spark):
    from tsgen.queries_experiments import _q_revenue_gini, _q_user_survival

    sf = "/root/testdata/sf0.01"
    surv = [r.survival for r in _q_user_survival(spark, sf).collect()]
    assert len(surv) > 0
    assert all(0.0 < s <= 1.0 for s in surv)
    assert all(a >= b for a, b in zip(surv, surv[1:]))  # non-increasing
    g = _q_revenue_gini(spark, sf).collect()[0].gini
    assert 0.0 <= g <= 1.0


def test_new_sketch_ops_plan_shapes(spark):
    """Plan assertions for the scale claims: small sides broadcast, no
    unexpected shuffles of the big side."""
    from tsgen.queries_scale import global_row_ids
    from tsgen.sketches import bloom_prune, dd_quantiles

    big = spark.range(0, 100000).selectExpr("id AS k", "CAST(id % 997 AS DOUBLE) + 1.0 AS value")

    # dd_quantiles: the q-probe table is broadcast against the tiny sketch
    plan = dd_quantiles(big, "value")._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    # bloom_prune: the bit table joins broadcast — the probe side's rows are
    # filtered without a shuffle of the probe table itself
    build = spark.range(0, 500).select((F.col("id") * 3).alias("k"))
    bp = bloom_prune(build, big, "k", "k")
    plan = bp._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # global_row_ids: offsets (one row per partition) broadcast back
    # (the range partitioning itself sits behind the localCheckpoint, so
    # the visible plan starts at Scan ExistingRDD — density is asserted
    # behaviorally in test_global_row_ids_dense_and_ordered)
    plan = global_row_ids(big, "k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cms_join_size_never_underestimates_and_is_tight(spark):
    from tsgen.queries_warehouse import _q_cms_join_size

    from tsgen.io import read_table
    from tsgen.sketches import CMS_W

    sf = "/root/testdata/sf0.01"
    r = _q_cms_join_size(spark, sf).collect()[0]
    assert r.est_join_size >= r.exact_join_size      # CMS inner product ≥ truth
    # the guarantee is overcount ≤ ~N_A·N_B/w (collision mass), not a fixed
    # multiple of the (possibly small) exact size
    n_a = read_table(spark, sf, "events").count()
    n_b = read_table(spark, sf, "orders").count()
    assert r.overcount <= 2 * n_a * n_b / CMS_W, r


def test_garch_matches_scalar_reference_and_clusters_volatility(spark):
    from tsgen.forecast import garch_filter

    rng = np.random.default_rng(9)
    # calm first half, turbulent second half
    rets = np.concatenate([0.1 * rng.normal(size=40), 2.0 * rng.normal(size=40)])
    ys = np.concatenate([[0.0], np.cumsum(rets)])
    rows = [(1, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    w, a, b = 0.05, 0.1, 0.85
    out = {r.t: r for r in garch_filter(df, omega=w, alpha=a, beta=b).collect()}
    s2 = w / (1 - a - b)
    for t in range(1, len(ys)):
        if t > 1:
            rp = ys[t - 1] - ys[t - 2]
            s2 = w + a * (rp * rp) + b * s2
        assert abs(out[t].ret - (ys[t] - ys[t - 1])) < 1e-12, t
        assert abs(out[t].sigma2 - s2) < 1e-10, t
        assert out[t].sigma2 > 0
    # volatility clustering: filtered variance in the turbulent regime is higher
    calm = np.mean([out[t].sigma2 for t in range(10, 40)])
    turb = np.mean([out[t].sigma2 for t in range(55, 80)])
    assert turb > 3 * calm
