"""Schedule invariants + diffusion algebra properties (FIXTURES.md §95-100)."""
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsgen import diffusion, generators
from tsgen.schedules import schedule_table


def test_schedule_invariants(spark):
    for kind in ("linear", "cosine"):
        pdf = schedule_table(spark, 64, kind).toPandas().sort_values("t_step")
        assert ((pdf.beta > 0) & (pdf.beta < 1)).all()
        # alpha_cumprod strictly decreasing, in (0,1)
        assert (np.diff(pdf.alpha_cumprod) < 0).all()
        assert ((pdf.alpha_cumprod > 0) & (pdf.alpha_cumprod <= 1)).all()
        # prev = lag with default 1.0
        assert pdf.alpha_cumprod_prev.iloc[0] == 1.0
        assert np.allclose(pdf.alpha_cumprod_prev.values[1:], pdf.alpha_cumprod.values[:-1])
        # posterior variance at t=0 is 0 (beta * (1-1) / ...)
        assert pdf.posterior_variance.iloc[0] == 0.0


def test_schedule_matches_torch_formula(spark):
    # linear: linspace(1e-4, 0.02, T) — diffusion_ts_model.py:77-79
    pdf = schedule_table(spark, 50, "linear").toPandas().sort_values("t_step")
    expect = np.linspace(1e-4, 0.02, 50)
    assert np.allclose(pdf.beta.values, expect, atol=1e-12)
    # cumprod vs direct product
    assert np.allclose(pdf.alpha_cumprod.values, np.cumprod(1 - expect), rtol=1e-10)
    # cosine: replicate diffusion_ts_model.py:82-89
    pdf = schedule_table(spark, 50, "cosine").toPandas().sort_values("t_step")
    x = np.arange(51)
    ac = np.cos(((x / 50) + 0.008) / 1.008 * np.pi / 2) ** 2
    ac = ac / ac[0]
    betas = np.clip(1 - ac[1:] / ac[:-1], 1e-4, 0.9999)
    assert np.allclose(pdf.beta.values, betas, atol=1e-12)


def test_qsample_roundtrip(spark):
    # predict_start_from_noise(q_sample(x)) == x  (B14 ∘ B15 = id)
    df = generators.generate(spark, 6, 32, "sine")
    sched = schedule_table(spark, 20, "cosine")
    noisy = diffusion.q_sample(df, sched, 20)
    rec = diffusion.predict_start_from_noise(noisy, sched)
    err = rec.agg(F.max(F.abs(F.col("x0_pred") - F.col("value")))).collect()[0][0]
    assert err < 1e-9


def test_qsample_broadcast_join(spark):
    df = generators.generate(spark, 6, 32, "sine")
    sched = schedule_table(spark, 20, "cosine")
    plan = diffusion.q_sample(df, sched, 20)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # schedule lookup must never shuffle the big side


def test_qsample_t0_near_identity(spark):
    # at t_step=0, x_t = sqrt(1-beta0)*x + sqrt(beta0)*eps ≈ x
    df = generators.generate(spark, 32, 16, "sine")
    sched = schedule_table(spark, 20, "linear")
    noisy = diffusion.q_sample(df, sched, 20).filter(F.col("t_step") == 0)
    pdf = noisy.toPandas()
    if len(pdf):
        assert np.abs(pdf.x_t - pdf.value).max() < 0.05  # beta0=1e-4 → tiny noise


@pytest.mark.parametrize(
    "name", ["sample_fused", "sample_forecast", "sample_conditional_label"]
)
def test_fused_samplers_match_unrolled_loop_oracle(spark, name):
    # the fused samplers against the DuckDB unrolled loop (Cramer cubic
    # trend, brute-force DFT): an independent reference, hash-compared
    # exactly as the oracle gate does. These queries read no tables.
    import duckdb

    from tools.check_oracle import compare
    from tsgen.queries import oracle_sql, queries

    got = queries()[name](spark, "").toPandas()
    want = duckdb.connect().execute(oracle_sql()[name]).df()
    assert len(got) > 0
    assert compare(name, got, want) == []


def test_sample_fused_independent_of_arrow_batching(spark):
    # one series per Arrow batch vs the default batching: the per-batch
    # kernel must not couple series, so results agree to fp noise
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def run():
        out = diffusion.sample_fused(spark, 8, 64, timesteps=20).toPandas()
        return out.sort_values(["series_id", "t"]).x.to_numpy()

    default = run()
    before = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        one_per_batch = run()
    finally:
        spark.conf.set(conf, before)
    assert len(default) == 8 * 64
    assert np.abs(default - one_per_batch).max() < 1e-12


def test_label_conditional_guidance1_recovers_family_signal(spark):
    # with w=1 the CFG blend x0 = cond at every step, so the t=0 replace
    # returns exactly the labeled family's clean signal — the conditional
    # sampler is pinned to the A2 label contract
    import numpy as np
    from pyspark.sql import functions as F

    from tsgen import diffusion, generators

    out = diffusion.sample_conditional_label(spark, 16, 32, timesteps=4, guidance=1.0)
    clean = generators.generate_labeled(
        spark, 16, 32, noise=False, normalize=False
    ).select("series_id", "label", "t", F.col("value").alias("expect"))
    j = out.join(clean, ["series_id", "label", "t"], "inner").toPandas()
    # labels must agree (inner join keeps all rows) and values match to ulp
    assert len(j) == 16 * 32
    assert np.allclose(j["x"], j["expect"], rtol=0, atol=1e-9)


def test_label_conditional_guidance_blends(spark):
    # 0 < w < 1 must differ from both the unconditional sampler and the
    # clean signal (it's a genuine blend, not a constant)
    from pyspark.sql import functions as F

    from tsgen import diffusion

    half = diffusion.sample_conditional_label(spark, 4, 32, timesteps=4, guidance=0.5)
    uncond = diffusion.sample_fused(spark, 4, 32, timesteps=4)
    j = half.join(
        uncond.select("series_id", "t", F.col("x").alias("x_uncond")), ["series_id", "t"]
    )
    n_diff = j.filter(F.abs(F.col("x") - F.col("x_uncond")) > 1e-12).count()
    assert n_diff > 0


def test_sample_return_intermediates_stride_capture(spark):
    """The reference sample()'s return_intermediates contract
    (utils/visualisation.py:74-76): captures every max(1, T//5)-th step,
    each a full snapshot of the evolving grid, last capture == final state,
    and the final state is bit-equal to a run without the flag."""

    def xs(df):
        return df.toPandas().sort_values(["series_id", "t"]).x.to_numpy()

    final, caps = diffusion.sample_fused(spark, 3, 16, timesteps=10, return_intermediates=True)
    assert [s for s, _ in caps] == [2, 4, 6, 8, 10]
    for _, df in caps:
        assert df.columns == ["series_id", "t", "x"]
        pdf = df.toPandas()
        assert len(pdf) == 3 * 16
        assert np.isfinite(pdf.x).all()
    assert (xs(final) == xs(caps[-1][1])).all()
    assert (xs(final) == xs(diffusion.sample_fused(spark, 3, 16, timesteps=10))).all()
    # snapshots are distinct states of the loop, not copies of the final one
    assert not (xs(caps[0][1]) == xs(final)).all()


def test_visualize_diffusion_process_headless_guard(spark):
    # container has no matplotlib: the PNG sink must fail loudly, not wrongly
    from tsgen import viz

    if viz.HAVE_MPL:  # pragma: no cover - env-dependent branch
        import tempfile

        _, caps = diffusion.sample_fused(
            spark, 2, 16, timesteps=5, return_intermediates=True
        )
        with tempfile.NamedTemporaryFile(suffix=".png") as f:
            viz.visualize_diffusion_process(caps, f.name, n_samples=2)
            assert os.path.getsize(f.name) > 0
    else:
        with pytest.raises(NotImplementedError):
            viz.visualize_diffusion_process([], "/tmp/x.png")


def test_sampler_build_collects_each_schedule_once(spark):
    # the schedule rows are memoized per (T, kind): a second build with the
    # same pair runs no Spark job, and a different T collects its own rows
    sc = spark.sparkContext

    def jobs_of_build(group, timesteps):
        sc.setJobGroup(group, group)
        try:
            diffusion.sample_fused(spark, 2, 8, timesteps=timesteps, kind="linear")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_of_build("schedule_memo.first", 11) > 0
    assert jobs_of_build("schedule_memo.again", 11) == 0
    assert jobs_of_build("schedule_memo.other_t", 13) > 0
    for T in (11, 13):
        want = {r.t_step: r.asDict() for r in schedule_table(spark, T, "linear").collect()}
        assert diffusion._SCHEDULE_ROWS[(T, "linear")] == want
