"""Classical decomposition / interpolation / LTTB downsampling properties."""
import math

from pyspark.sql import Row, Window, functions as F

from tsgen.queries_seasonal import (
    classical_decompose,
    interpolate_linear,
    lttb_downsample,
)


def _series(spark, n=48, period=12):
    # exact additive construction: trend 0.5·t + seasonal sin(2πp/12)
    rows = [
        Row(series_id=0, t=t, value=0.5 * t + math.sin(2 * math.pi * (t % period) / period))
        for t in range(n)
    ]
    return spark.createDataFrame(rows)


def test_classical_decompose_additive_and_recovers_linear_trend(spark):
    out = classical_decompose(_series(spark), period=12, half=6).toPandas()
    inner = out[out.trend.notna()]
    assert len(inner) > 0
    # additivity is exact by construction: value = trend + seasonal + residual
    err = (inner.value - (inner.trend + inner.seasonal + inner.residual)).abs().max()
    assert err < 1e-9
    # a 13-point centered MA of (linear trend + zero-sum-ish seasonal)
    # recovers the line up to the seasonal leakage of the odd window
    mid = inner[(inner.t >= 12) & (inner.t < 36)]
    assert (mid.trend - 0.5 * mid.t).abs().max() < 0.15


def test_robust_decompose_downweights_planted_outlier(spark):
    from tsgen.queries_seasonal import robust_decompose

    rows = [
        Row(
            series_id=0,
            t=t,
            value=0.5 * t
            + math.sin(2 * math.pi * (t % 12) / 12)
            + (25.0 if t == 24 else 0.0),  # planted spike
        )
        for t in range(48)
    ]
    df = spark.createDataFrame(rows)
    rob = robust_decompose(df, period=12, half=6).toPandas().set_index("t")
    cla = classical_decompose(df, period=12, half=6).toPandas().set_index("t")
    # the spike row itself gets ~zero robustness weight
    assert rob.loc[24, "rweight"] < 0.05
    assert rob.rweight.median() > 0.8  # clean rows keep their weight
    # robust trend near the spike is much less polluted than classical:
    # classical's 13-pt MA absorbs 25/13 ≈ 1.9 at neighboring points
    near = [t for t in range(19, 30) if t != 24]
    rob_err = max(abs(rob.loc[t, "trend"] - 0.5 * t) for t in near)
    cla_err = max(abs(cla.loc[t, "trend"] - 0.5 * t) for t in near)
    assert cla_err > 1.0 and rob_err < 0.5 * cla_err
    # additivity still exact where components are defined
    inner = rob[rob.trend.notna()]
    err = (inner.value - (inner.trend + inner.seasonal + inner.residual)).abs().max()
    assert err < 1e-9


def test_interpolate_exact_on_linear_series(spark):
    # linear series with interior gaps: interpolation must be exact
    rows = [
        Row(user_id=1, rn=i, v=None if i in (3, 4, 7) else 2.0 * i + 1.0)
        for i in range(1, 11)
    ]
    df = spark.createDataFrame(rows, "user_id long, rn long, v double")
    out = interpolate_linear(df, "user_id", "rn", "v").toPandas().set_index("rn")
    for i in range(1, 11):
        assert abs(out.loc[i, "filled"] - (2.0 * i + 1.0)) < 1e-9
    assert not out.loc[3, "was_observed"] and out.loc[5, "was_observed"]


def test_interpolate_edge_gaps_take_nearest(spark):
    rows = [
        Row(user_id=1, rn=1, v=None),
        Row(user_id=1, rn=2, v=5.0),
        Row(user_id=1, rn=3, v=None),
    ]
    df = spark.createDataFrame(rows, "user_id long, rn long, v double")
    out = interpolate_linear(df, "user_id", "rn", "v").toPandas().set_index("rn")
    assert out.loc[1, "filled"] == 5.0 and out.loc[3, "filled"] == 5.0


def test_lttb_keeps_the_spike(spark):
    # three hourly buckets; middle bucket has a flat line plus one spike —
    # the spike is the largest-triangle point and must be the survivor
    base = "2024-01-01 10:{m:02d}:00"
    rows = []
    for h, vals in ((9, [1.0] * 4), (10, [1.0, 9.0, 1.0, 1.0]), (11, [1.0] * 4)):
        for m, v in enumerate(vals):
            rows.append(
                Row(event_type="a", ts=f"2024-01-01 {h:02d}:{m * 10:02d}:00", value=v)
            )
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    out = lttb_downsample(df).toPandas()
    assert len(out) == 1  # only the interior bucket has both anchors
    assert out.iloc[0]["value"] == 9.0


def test_sax_ramp_gives_sorted_word(spark):
    from tsgen.queries_seasonal import sax_words

    # a z-normalized ramp: PAA means increase monotonically, so the SAX
    # word must be non-decreasing letters spanning 'a'..'d'
    import numpy as np

    y = np.linspace(0, 1, 64)
    y = (y - y.mean()) / y.std()
    rows = [(0, t, float(v)) for t, v in enumerate(y)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    word = sax_words(df, n_segments=8).collect()[0].sax_word
    assert len(word) == 8
    assert list(word) == sorted(word)
    assert word[0] == "a" and word[-1] == "d"


def test_matrix_profile_finds_planted_motif(spark):
    from tsgen.queries_seasonal import matrix_profile

    # noise series with the SAME shape planted at i=10 and i=40: those two
    # windows must be each other's nearest neighbors with mp ~ 0, and far
    # below the profile's median
    import numpy as np

    rng = np.random.RandomState(7)
    y = rng.randn(64)
    motif = np.sin(np.linspace(0, 2 * np.pi, 8)) * 3
    y[10:18] = motif
    y[40:48] = motif
    rows = [(0, t, float(v)) for t, v in enumerate(y)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    out = {r.i: r for r in matrix_profile(df, m=8).collect()}
    assert out[10].nn == 40 and out[40].nn == 10
    assert out[10].mp < 1e-6
    med = float(np.median([r.mp for r in out.values()]))
    assert out[10].mp < med / 10


def test_changepoint_finds_planted_mean_shift(spark):
    from tsgen.queries_seasonal import changepoint

    # level shift at k=30 (1-based row 31): constant 0 then constant 5,
    # tiny deterministic ripple so means aren't degenerate
    rows = [
        ("a", t, (0.0 if t < 30 else 5.0) + 0.01 * (t % 3)) for t in range(60)
    ]
    df = spark.createDataFrame(rows, "k string, o long, v double")
    r = changepoint(df, "k", "o", "v").collect()[0]
    assert r.split_k == 30
    assert abs(r.mean_left - 0.01) < 0.02
    assert abs(r.mean_right - 5.01) < 0.02


def test_spectral_entropy_tone_below_noise(spark):
    # a pure tone concentrates the spectrum (entropy ~ 0); a broadband
    # pseudo-noise series spreads it (entropy_norm near 1)
    import numpy as np

    from tsgen import spectral
    from pyspark.sql import functions as F

    t = np.arange(64)
    tone = np.sin(2 * np.pi * 4 * t / 64)
    rng = np.random.RandomState(3)
    noise = rng.randn(64)
    rows = [(0, int(i), float(v)) for i, v in enumerate(tone)] + [
        (1, int(i), float(v)) for i, v in enumerate(noise)
    ]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    spec = spectral.rfft(df).filter(F.col("freq_idx") > 0)
    pw = spec.select("series_id", (F.col("magnitude") ** 2).alias("p"))
    tot = pw.groupBy("series_id").agg(F.sum("p").alias("tot"))
    ent = (
        pw.join(tot, "series_id")
        .withColumn("pn", F.col("p") / F.col("tot"))
        .groupBy("series_id")
        .agg((-F.sum(F.when(F.col("pn") > 0, F.col("pn") * F.log("pn")).otherwise(0.0))).alias("h"))
    )
    h = {r.series_id: r.h for r in ent.collect()}
    assert h[0] < 0.1          # tone: all mass in one bin
    assert h[1] > 2.0          # broadband: spread over ~32 bins (ln 32 ≈ 3.5)


def test_dtw_aligns_phase_shift(spark):
    from tsgen.queries_seasonal import dtw_pairs

    # DTW must align a phase-shifted copy almost perfectly (only edge
    # cells pay), while a different-frequency series stays far away
    import numpy as np

    t = np.arange(48)
    base = np.sin(2 * np.pi * t / 16)
    shifted = np.sin(2 * np.pi * (t - 2) / 16)
    other = np.sin(2 * np.pi * t / 5)
    rows = (
        [(0, int(i), float(v)) for i, v in enumerate(base)]
        + [(1, int(i), float(v)) for i, v in enumerate(shifted)]
        + [(2, int(i), float(v)) for i, v in enumerate(other)]
    )
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    d = {(r.series_a, r.series_b): r.dtw for r in dtw_pairs(df).collect()}
    # only the 2-sample edge pays (~1.0); lock-step euclidean is ~3.7
    assert d[(0, 1)] < 1.2
    assert d[(0, 2)] > 3 * d[(0, 1)]
    assert d[(0, 1)] < 0.5 * float(np.sqrt(((base - shifted) ** 2).sum()))


def test_period_detects_planted_cycle(spark):
    from tsgen.queries_seasonal import ACF_MAX_LAG, ACF_MIN_LAG  # noqa: F401
    import numpy as np
    from pyspark.sql import functions as F, Window

    # direct check on a constructed series: period-12 sawtooth + tiny ripple
    t = np.arange(96)
    y = np.sin(2 * np.pi * t / 12)
    rows = [(0, int(i), float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    w = Window.partitionBy("series_id").orderBy("t")
    lag_cols = [F.lag("value", lg).over(w).alias(f"lag{lg}") for lg in range(2, 25)]
    stack = "stack(23, " + ", ".join(
        f"CAST({lg} AS BIGINT), value * lag{lg}" for lg in range(2, 25)
    ) + ") AS (l, prod)"
    pr = df.select("series_id", "t", "value", *lag_cols).selectExpr("series_id", stack)
    ss = df.groupBy("series_id").agg(F.sum(F.col("value") * F.col("value")).alias("ss"))
    acf = (
        pr.filter(F.col("prod").isNotNull())
        .groupBy("series_id", "l").agg(F.sum("prod").alias("num"))
        .join(ss, "series_id").withColumn("acf", F.col("num") / F.col("ss"))
    )
    best = acf.orderBy(F.desc("acf"), F.asc("l")).collect()[0]
    assert best.l == 12


def _robust_decompose_via_joins(df, period=12, half=6, key="series_id", value="value"):
    # The pre-r10 join-back formulation of robust_decompose, kept verbatim
    # as the semantic reference for the linear window rewrite (the diamond
    # DAG re-evaluated its base ~8x per action; the production form is now
    # one linear lineage). Any divergence between the two is a bug in the
    # rewrite, not a tolerated drift.
    w = Window.partitionBy(key).orderBy("t").rowsBetween(-half, half)
    wk = Window.partitionBy(key)
    full = 2 * half + 1
    dec = df.withColumn(
        "trend0",
        F.when(F.count("*").over(w) == full, F.avg(value).over(w)),
    ).withColumn("phase", F.col("t") % period)
    ph = dec.filter(F.col("trend0").isNotNull()).groupBy(key, "phase").agg(
        F.avg(F.col(value) - F.col("trend0")).alias("s_raw")
    )
    ph = ph.withColumn("seasonal0", F.col("s_raw") - F.avg("s_raw").over(wk)).drop("s_raw")
    d0 = dec.join(ph, [key, "phase"]).withColumn(
        "r0", F.col(value) - F.col("trend0") - F.col("seasonal0")
    )
    sc = d0.filter(F.col("r0").isNotNull()).groupBy(key).agg(
        (F.lit(6.0) * F.avg(F.abs("r0"))).alias("scale")
    )
    u = F.abs(F.col("r0")) / F.col("scale")
    d1 = d0.join(F.broadcast(sc), key).withColumn(
        "rweight",
        F.coalesce(
            F.when(u < 1.0, (1.0 - u * u) * (1.0 - u * u)).otherwise(F.lit(0.0)),
            F.lit(1.0),
        ),
    )
    swin = F.sum(F.col("rweight") * F.col(value)).over(w)
    swei = F.sum("rweight").over(w)
    d1 = d1.withColumn(
        "trend",
        F.when((F.count("*").over(w) == full) & (swei > 0), swin / swei),
    )
    ph1 = (
        d1.filter(F.col("trend").isNotNull())
        .groupBy(key, "phase")
        .agg(
            F.sum(F.col("rweight") * (F.col(value) - F.col("trend"))).alias("_n"),
            F.sum("rweight").alias("_d"),
        )
        .withColumn("sw_raw", F.when(F.col("_d") > 0, F.col("_n") / F.col("_d")))
        .drop("_n", "_d")
    )
    ph1 = ph1.withColumn("seasonal", F.col("sw_raw") - F.avg("sw_raw").over(wk)).drop("sw_raw")
    return (
        d1.join(ph1, [key, "phase"])
        .withColumn("residual", F.col(value) - F.col("trend") - F.col("seasonal"))
        .select(key, "t", value, "trend", "seasonal", "residual", "rweight")
    )


def test_robust_decompose_linear_rewrite_matches_join_form(spark):
    from tsgen.queries_seasonal import robust_decompose

    # two normal series (one with a planted spike) + one short series
    # (n=10 < window 13: no valid pass-0 trend anywhere, so the join form
    # drops every row via the inner join to an empty phase-mean table —
    # the rewrite's s_raw/_present filters must drop them identically).
    # Every series carries aperiodic deterministic "noise": an EXACTLY
    # additive trend+seasonal input has pass-0 residuals of pure float
    # round-off (~1e-15), making the bisquare weights ratios of noise
    # terms — unstable under any change of summation order and useless
    # for parity comparison.
    rows = [
        Row(series_id=s, t=t,
            value=0.5 * t + math.sin(2 * math.pi * (t % 12) / 12)
            + 0.05 * math.sin(2.1 * t)
            + (25.0 if (s, t) == (0, 24) else 0.0) + 0.3 * s)
        for s in (0, 1) for t in range(48)
    ] + [Row(series_id=2, t=t, value=float(t)) for t in range(10)]
    df = spark.createDataFrame(rows)
    new = robust_decompose(df).toPandas().sort_values(["series_id", "t"]).reset_index(drop=True)
    old = _robust_decompose_via_joins(df).toPandas().sort_values(["series_id", "t"]).reset_index(drop=True)
    assert list(new.series_id) == list(old.series_id)
    assert list(new.t) == list(old.t)
    assert 2 not in set(new.series_id)  # short series dropped by both
    for col in ("value", "trend", "seasonal", "residual", "rweight"):
        a, b = new[col], old[col]
        assert (a.isna() == b.isna()).all(), col
        assert (a.fillna(0.0) - b.fillna(0.0)).abs().max() < 1e-9, col
