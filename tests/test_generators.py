"""Generator correctness: closed-form oracles, z-norm properties,
partition invariance (the scale-critical property)."""
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsgen import expr as E, generators


def test_znorm_properties(spark):
    # reference semantics: per-series mean≈0, sample-std≈1
    # (utils/data_generators.py:103-104, ddof=1)
    df = generators.generate(spark, 8, 64, "mixed")
    stats = (
        df.groupBy("series_id")
        .agg(F.avg("value").alias("m"), F.stddev_samp("value").alias("s"))
        .collect()
    )
    assert len(stats) == 8
    for r in stats:
        assert abs(r.m) < 1e-9
        assert abs(r.s - 1.0) < 1e-6


def test_partition_invariance(spark):
    # values must not depend on how the source range is partitioned
    a = generators.generate(spark, 16, 32, "sine", partitions=1).toPandas()
    b = generators.generate(spark, 16, 32, "sine", partitions=13).toPandas()
    a = a.sort_values(["series_id", "t"]).reset_index(drop=True)
    b = b.sort_values(["series_id", "t"]).reset_index(drop=True)
    assert np.allclose(a.value.values, b.value.values)


def test_sine_formula_matches_numpy(spark):
    # recompute family formula in numpy from the same LCG params
    pdf = (
        generators.generate(spark, 4, 32, "sine", noise=False, normalize=False)
        .toPandas()
        .sort_values(["series_id", "t"])
    )

    def lcg3(key, salt):
        h = (key * E.LCG_A + E.LCG_C + salt) % E.M31
        h = (h * h + E.LCG_A) % E.M31
        h = (h * E.LCG_A + E.LCG_C) % E.M31
        h = (h * h + E.LCG_C) % E.M31
        return h

    def u01(key, salt):
        return lcg3(key, salt) / E.M31

    for sid in range(4):
        freq1 = 2.0 + 2.0 * u01(sid, E.SALT_FREQ1)
        phase1 = E.TWO_PI * u01(sid, E.SALT_PHASE1)
        t = np.arange(32)
        tv = t * (4 * math.pi / 31)
        expect = np.sin(freq1 * tv + phase1)
        got = pdf[pdf.series_id == sid].value.values
        assert np.allclose(got, expect, atol=1e-12)


def test_labeled_labels_in_range(spark):
    pdf = generators.generate_labeled(spark, 32, 8).toPandas()
    assert set(pdf.label.unique()) <= {0, 1, 2, 3}
    # deterministic: same label for all rows of a series
    assert (pdf.groupby("series_id").label.nunique() == 1).all()


def test_generator_plan_has_no_shuffle(spark):
    # the raw generator (pre-znorm) must be shuffle-free: Range → Project →
    # Generate, one codegen span — this is what makes it scale linearly
    df = generators.generate(spark, 10, 16, "sine", noise=True, normalize=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("family", E.FAMILIES)
def test_all_families_finite(spark, family):
    pdf = generators.generate(spark, 4, 32, family).toPandas()
    assert len(pdf) == 128
    assert np.isfinite(pdf.value).all()


def test_dim1_headline_plans_unchanged_by_channel_threading(spark):
    """Regression pin for the r02 bench scare: the dim=1 (single-channel)
    generate / q_sample / decompose plans must stay at the exchange counts
    they had before multichannel support landed — zero extra shuffles or
    projections from channel threading, and no channel column at all.
    (The r02 2x drift bisected to env noise — same code re-measured at r01
    speeds — but this pins the plan shape so a real regression can't hide
    behind that diagnosis again.)"""
    from tsgen import decompose, diffusion
    from tsgen.schedules import schedule_table

    def shape(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_broadcast = plan.count("BroadcastExchange")
        n_shuffle = plan.count("Exchange") - n_broadcast
        return n_shuffle, n_broadcast, ("channel" in plan)

    g = generators.generate(spark, 100, 64, "linear_sum")
    # znorm: a window over the range-clustered generator — no exchange at all
    assert shape(g) == (0, 0, False)

    sched = schedule_table(spark, 500, "cosine")
    q = diffusion.q_sample(generators.generate(spark, 100, 64, "linear_sum"), sched, 500)
    # one shuffle (schedule build side) and the schedule broadcast
    assert shape(q) == (1, 1, False)

    d = decompose.decompose(generators.generate(spark, 100, 64, "mixed"))
    # collect_list groupBy is AQE-deferred; znorm adds no exchange
    n_shuffle, n_broadcast, has_channel = shape(d)
    assert (n_shuffle, has_channel) == (0, False)
    assert n_broadcast == 0


@pytest.mark.parametrize(
    "build",
    [
        lambda s: generators.generate(s, 50, 32, "mixed"),
        lambda s: generators.generate_labeled(s, 50, 32),
        lambda s: generators.generate_multichannel(s, 50, 32, 3),
    ],
    ids=["generate", "generate_labeled", "generate_multichannel"],
)
def test_normalized_generator_plan_has_no_exchange_or_join(spark, build):
    """z-norm over a generator runs the generator once: spark.range's
    RangePartitioning(series_id) survives the explodes, so the per-series
    window needs neither an Exchange nor a stats join.

    generate_custom_decay with a user callable is exempt: its
    ArrowEvalPython drops the partitioning, so the window costs one hash
    Exchange there. That is still cheaper than a broadcast stats join, whose
    stats side runs the pandas UDF a second time (2,000x512 on a 4-core
    host, best of 6: 1.29 s against 1.52 s)."""
    df = build(spark)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan
