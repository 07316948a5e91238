"""Property-based self-oracles for the FFT/decomposition family
(FIXTURES.md §95-100 — the reference's closed-form test corpus idea)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from tsgen import decompose, generators, spectral
from tsgen import expr as E


def test_parseval(spark):
    # sum(x^2) == (|X0|^2 + 2*sum(|Xk|^2, 0<k<N/2) + |XN/2|^2)/N for even N
    n = 64
    df = generators.generate(spark, 3, n, "sine")
    time_energy = {
        r.series_id: r.e
        for r in df.groupBy("series_id").agg(F.sum(F.pow("value", 2)).alias("e")).collect()
    }
    spec = spectral.rfft(df).toPandas()
    for sid, g in spec.groupby("series_id"):
        g = g.sort_values("freq_idx")
        mags = g.magnitude.to_numpy() ** 2
        freq_energy = (mags[0] + 2 * mags[1:-1].sum() + mags[-1]) / n
        assert abs(freq_energy - time_energy[sid]) < 1e-8 * max(1, time_energy[sid])


def test_seasonality_all_bins_is_identity(spark):
    # top_k = all bins → seasonality == input
    n = 32
    df = generators.generate(spark, 3, n, "mixed")
    seas = decompose.extract_seasonality(df, top_k=n // 2 + 1)
    j = df.join(seas, ["series_id", "t"])
    err = j.agg(F.max(F.abs(F.col("value") - F.col("seasonality")))).collect()[0][0]
    assert err < 1e-10


def test_seasonality_recovers_pure_tone(spark):
    # a pure integer-frequency sinusoid is a single rfft bin → top_k=1 recovers it
    n = 64
    df = generators.base_grid(spark, 2, n).withColumn(
        "value", F.expr(f"sin(2 * {E.NUM(E.PI)} * 5 * t / {n})")
    )
    seas = decompose.extract_seasonality(df, top_k=1)
    j = df.join(seas, ["series_id", "t"])
    err = j.agg(F.max(F.abs(F.col("value") - F.col("seasonality")))).collect()[0][0]
    assert err < 1e-9


# value = Σ coef_i·c^i, c = t/n, per fitted degree
EXACT_POLYS = {1: [1.0, 2.0], 2: [1.0, -2.0, 0.5], 3: [2.0, 3.0, -1.0, 0.5]}


@pytest.mark.parametrize("degree", [1, 2, 3])
def test_trend_poly_recovers_exact_polynomial(spark, degree):
    # an exact polynomial of the fitted degree → the closed-form Cramer fit
    # recovers its coefficients
    n = 40
    coef = EXACT_POLYS[degree]
    value = " + ".join(f"{E.NUM(a)} * pow(CAST(t AS DOUBLE)/{n}, {i})" for i, a in enumerate(coef))
    df = generators.base_grid(spark, 3, n).withColumn("value", F.expr(value))
    pdf = decompose.trend_poly(df, degree).toPandas()
    assert list(pdf.columns) == ["series_id", *[f"c{i}" for i in range(degree + 1)]]
    for i, a in enumerate(coef):
        assert np.allclose(pdf[f"c{i}"], a, rtol=0, atol=1e-10), (i, pdf[f"c{i}"].tolist())


def test_decompose_additivity(spark):
    df = generators.generate(spark, 4, 64, "linear_sum")
    out = decompose.decompose(df)
    err = out.agg(
        F.max(F.abs(F.col("value") - F.col("trend") - F.col("seasonality") - F.col("residual")))
    ).collect()[0][0]
    assert err < 1e-12


def test_decompose_seasonality_orthogonal_to_kept_bins(spark):
    # residual after removing top-k bins has those bins zeroed
    df = generators.generate(spark, 2, 32, "mixed")
    out = decompose.decompose(df, top_k=4)
    res_spec = spectral.rfft(out.select("series_id", "t", F.col("residual").alias("value"))).toPandas()
    seas_spec = spectral.rfft(out.select("series_id", "t", F.col("seasonality").alias("value"))).toPandas()
    for sid in res_spec.series_id.unique():
        r = res_spec[res_spec.series_id == sid].sort_values("freq_idx").magnitude.to_numpy()
        s = seas_spec[seas_spec.series_id == sid].sort_values("freq_idx").magnitude.to_numpy()
        kept = s > 1e-9
        assert r[kept].max() < 1e-9  # no overlap between kept bins and residual


def test_decompose_multichannel_additive_and_independent(spark):
    # composite-key decomposition: additivity holds per (series, channel),
    # and each channel's decomposition equals what that channel decomposes
    # to in isolation (channel independence)
    df = generators.generate_multichannel(spark, 3, 32, 2, "mixed")
    dec = decompose.decompose(df, key=["series_id", "channel"])
    err = dec.agg(
        F.max(F.abs(F.col("value") - F.col("trend") - F.col("seasonality") - F.col("residual")))
    ).collect()[0][0]
    assert err < 1e-10
    one = df.filter(F.col("channel") == 1).select("series_id", "t", "value")
    dec_one = decompose.decompose(one).select(
        "series_id", "t", F.col("trend").alias("trend_solo")
    )
    j = dec.filter(F.col("channel") == 1).join(dec_one, ["series_id", "t"])
    diff = j.agg(F.max(F.abs(F.col("trend") - F.col("trend_solo")))).collect()[0][0]
    assert diff < 1e-10


@pytest.mark.parametrize("degree", [1, 2, 3])
def test_trend_poly_closed_form_matches_lstsq(spark, degree):
    # Cramer closed form (pure Catalyst) vs a numpy least-squares fit of the
    # same design, solved on the driver: compare fitted values
    n = 48
    df = generators.generate(spark, 6, n, "linear_sum")
    A = np.vander(np.arange(n) / n, degree + 1, increasing=True)
    coeffs = decompose.trend_poly(df, degree).toPandas().set_index("series_id")
    for sid, g in df.toPandas().groupby("series_id"):
        ref = np.linalg.lstsq(A, g.sort_values("t")["value"].to_numpy(), rcond=None)[0]
        cf = coeffs.loc[sid, [f"c{i}" for i in range(degree + 1)]].to_numpy(dtype=float)
        assert np.allclose(A @ cf, A @ ref, rtol=0, atol=1e-7), sid


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_cramer_exprs_matches_numpy_solve(n):
    # the shared Cramer text on a random well-conditioned (diagonally
    # dominant) n×n system, evaluated in DuckDB, equals np.linalg.solve
    import duckdb

    rng = np.random.default_rng(n)
    A = rng.uniform(-1, 1, (n, n)) + n * np.eye(n)
    b = rng.uniform(-1, 1, n)
    syms = [[f"a{i}{j}" for j in range(n)] for i in range(n)]
    rhs = [f"r{i}" for i in range(n)]
    e = decompose.cramer_exprs(syms, rhs)
    inputs = ", ".join(
        f"{E.NUM(v)} AS {name}" for v, name in zip([*A.ravel(), *b], [*sum(syms, []), *rhs])
    )
    coefs = ", ".join(e[f"c{i}"] for i in range(n))
    got = duckdb.sql(f"SELECT {coefs} FROM (SELECT {inputs})").fetchone()
    assert np.allclose(got, np.linalg.solve(A, b), rtol=0, atol=1e-9)


def test_theilsen_robust_to_outliers_where_ols_is_not(spark):
    from tsgen.decompose import trend_poly, trend_theilsen

    # clean line y = 2t + 1 with ONE massive outlier
    ys = [2.0 * t + 1.0 for t in range(40)]
    ys[20] = 1e5
    rows = [(1, t, float(y)) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    ts = trend_theilsen(df).collect()[0]
    assert abs(ts.ts_slope - 2.0) < 0.05       # Theil-Sen shrugs it off
    ols = trend_poly(df, 1).collect()[0]
    # OLS slope is dragged far from 2 by the outlier (robustness contrast);
    # c1 is per unit of c = t/40, so c1 / 40 is the slope per unit t (11.38)
    assert abs(ols.c1 / 40 - 2.0) > 1.0


def test_ts_strength_separates_trend_from_seasonal_series(spark):
    from tsgen.decompose import decompose as dec_fn
    import pyspark.sql.functions as F

    # series 1: pure steep trend; series 2: pure seasonal tone
    rows = [(1, t, 3.0 * t + 0.01 * ((t * 7) % 5)) for t in range(64)]
    rows += [(2, t, 5.0 * np.sin(2 * np.pi * 4 * t / 64)) for t in range(64)]
    df = spark.createDataFrame([(s, t, float(v)) for s, t, v in rows],
                               "series_id long, t long, value double")
    d = dec_fn(df)
    agg = d.groupBy("series_id").agg(
        F.var_samp(F.col("trend") + F.col("residual")).alias("v_tr"),
        F.var_samp(F.col("seasonality") + F.col("residual")).alias("v_sr"),
        F.var_samp("residual").alias("v_r"),
    ).collect()
    s = {r.series_id: (max(0, 1 - r.v_r / r.v_tr), max(0, 1 - r.v_r / r.v_sr)) for r in agg}
    assert s[1][0] > 0.95          # trended series: high trend strength
    assert s[2][1] > 0.95          # seasonal series: high seasonal strength
    assert s[2][0] < s[2][1]       # and its seasonal strength dominates
