"""Hypothesis property tests for the deterministic-RNG layer and
approximate-aggregate accuracy."""
import numpy as np
from hypothesis import given, settings, strategies as st

from tsgen import expr as E
from tsgen.diffusion import SALT_INIT, SALT_PNOISE, _np_lcg3, _np_normal, step_salt


def _lcg3(key: int, salt: int) -> int:
    h = (key * E.LCG_A + E.LCG_C + salt) % E.M31
    h = (h * h + E.LCG_A) % E.M31
    h = (h * E.LCG_A + E.LCG_C) % E.M31
    h = (h * h + E.LCG_C) % E.M31
    return h


@given(st.integers(0, E.M31 - 1), st.integers(0, 10_000))
@settings(max_examples=200, deadline=None)
def test_lcg_stays_in_range(key, salt):
    h = _lcg3(key, salt)
    assert 0 <= h < E.M31
    # and every intermediate product fits int64 (the cross-engine contract)
    assert (E.M31 - 1) * E.LCG_A + E.LCG_C + salt < 2**63


@given(st.integers(0, 2**40), st.integers(0, 4095))
@settings(max_examples=200, deadline=None)
def test_pt_key_in_range(sid, t):
    key = (sid * 131071 + t) % E.M31
    assert 0 <= key < E.M31


def test_u01_distribution():
    # mean/std of the uniform over sequential keys — catches degenerate LCG
    us = np.array([_lcg3(k, 7) / E.M31 for k in range(20_000)])
    assert abs(us.mean() - 0.5) < 0.01
    assert abs(us.std() - (1 / 12) ** 0.5) < 0.01
    assert us.min() >= 0 and us.max() < 1


def test_normal_distribution():
    def u01(key, salt):
        return _lcg3(key, salt) / E.M31

    ks = np.arange(20_000)
    u1 = np.array([u01(k, 100) for k in ks])
    u2 = np.array([u01(k, 100 + 7919) for k in ks])
    z = np.sqrt(-2 * np.log(1 - u1)) * np.cos(2 * np.pi * u2)
    assert abs(z.mean()) < 0.02
    assert abs(z.std() - 1.0) < 0.02


# the largest salts the samplers draw with: the initial state, and the u2
# stream of the last posterior step of a T=1000 loop
_SAMPLER_SALTS = [SALT_INIT, step_salt(SALT_PNOISE, 999) + 7919]


@given(
    st.lists(st.integers(0, E.M31 - 1), min_size=1, max_size=64),
    st.one_of(st.sampled_from(_SAMPLER_SALTS), st.integers(0, SALT_INIT)),
)
@settings(max_examples=200, deadline=None)
def test_np_lcg3_bitmask_equals_mod_reference(keys, salt):
    k = np.array(keys, dtype=np.int64)
    h1 = [_lcg3(key, salt) for key in keys]
    assert _np_lcg3(k, salt).tolist() == h1
    u1 = np.array(h1) / E.M31
    u2 = np.array([_lcg3(key, salt + 7919) for key in keys]) / E.M31
    ref = np.sqrt(-2.0 * np.log(1.0 - u1)) * np.cos(E.TWO_PI * u2)
    assert np.array_equal(_np_normal(k, salt), ref)


def test_np_lcg3_equals_sql_lcg3(spark):
    from pyspark.sql import functions as F

    # a strided spread over [0, M31) plus both ends
    keys = spark.range(500).select(
        F.expr(f"(id * 4294967 + 12345) % {E.M31}").alias("k")
    ).union(spark.createDataFrame([(0,), (1,), (E.M31 - 1,)], "k bigint"))
    salts = [0, 7919, *_SAMPLER_SALTS]
    pdf = keys.select(
        "k", *[F.expr(E.lcg3("k", s)).alias(f"h{i}") for i, s in enumerate(salts)]
    ).toPandas()
    for i, s in enumerate(salts):
        assert (_np_lcg3(pdf.k.to_numpy(), s) == pdf[f"h{i}"].to_numpy()).all()


def test_approx_distinct_accuracy(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    got = li.agg(
        F.approx_count_distinct("l_orderkey").alias("a"),
        F.countDistinct("l_orderkey").alias("e"),
    ).collect()[0]
    assert abs(got.a - got.e) / got.e < 0.05  # HLL default rsd


def test_percentile_approx_accuracy(spark):
    from pyspark.sql import functions as F

    ev_vals = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select("value")
    got = ev_vals.agg(
        F.percentile_approx("value", 0.5, 10000).alias("a"),
        F.expr("percentile(value, 0.5)").alias("e"),
    ).collect()[0]
    assert abs(got.a - got.e) / abs(got.e) < 0.01
