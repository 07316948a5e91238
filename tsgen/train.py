"""Deterministic "training step" for a linear denoiser (SURVEY §2 I2/I3 analog).

The reference's training epoch (models/train_diffusion_ts.py:34-64,
test_training.py:144-176) draws per-sample timesteps, noises the batch with
q_sample, predicts the noise, and gradient-steps toward lower MSE. Gradient
descent itself is out of deterministic scope (SURVEY §7), but for a LINEAR
denoiser the loss minimum has a closed form — so one "epoch" becomes one
EXACT least-squares solve, fully distributed and DuckDB-oracle-checkable:

    ε̂ = w0 + w1·x_t + w2·s_t + w3·x_t·s_t,   s_t = √(1−ᾱ_t)

1. One aggregation pass computes the 4×4 normal matrix A = Σ φφᵀ, the RHS
   b = Σ φε, and Σε² — 15 partial-aggregated sums, ONE shuffle of a single
   row regardless of input size (100 TB of training points still reduce to
   15 doubles).
2. w = A⁻¹b via Cramer's rule as shared SQL text (decompose.cramer_exprs —
   the identical expression tree runs in both engines).
3. train MSE comes from a second pass over the residuals ε − ε̂ with the
   solved weights. The algebraic identity Σ(ε−ε̂)² = Σε² − 2wᵀb + wᵀAw
   needs no second pass, but near an exact fit it cancels catastrophically
   and its low bits follow the summation order; the DuckDB oracles still
   use it (solver_exprs), rounded to 4 decimals.

This is the idiomatic Spark shape for closed-form model fitting: the data
never moves, only sufficient statistics and the four weights do.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .decompose import cramer_exprs

# A = Σ φφᵀ with φ = [1, x, s, x·s], written over the aggregate aliases:
#   a01=Σx a02=Σs a03=Σxs a11=Σx² a12=Σxs a13=Σx²s a22=Σs² a23=Σxs² a33=Σx²s²
# (a03 and a12 are the same sum; both names kept so each matrix slot reads
# as its own product)
_A_SYMS = [
    ["a00", "a01", "a02", "a03"],
    ["a01", "a11", "a12", "a13"],
    ["a02", "a12", "a22", "a23"],
    ["a03", "a13", "a23", "a33"],
]
_RHS_SYMS = ["b0", "b1", "b2", "b3"]


def solver_exprs() -> dict[str, str]:
    """Shared Spark/DuckDB expression text: w0..w3 over the aggregate
    aliases, plus the no-second-pass MSE over (syy, b*, a*, w*) that the
    oracle SQL uses."""
    e = cramer_exprs(_A_SYMS, _RHS_SYMS)
    out = {f"w{i}": e[f"c{i}"] for i in range(4)}
    quad = (
        "(w0*w0*a00 + w1*w1*a11 + w2*w2*a22 + w3*w3*a33"
        " + 2.0e0*(w0*w1*a01 + w0*w2*a02 + w0*w3*a03"
        " + w1*w2*a12 + w1*w3*a13 + w2*w3*a23))"
    )
    cross = "(w0*b0 + w1*b1 + w2*b2 + w3*b3)"
    out["train_mse"] = f"((syy - 2.0e0*{cross} + {quad}) / a00)"
    out["baseline_mse"] = "(syy / a00)"
    return out


def sums_select_sql(x: str, s: str, y: str) -> str:
    """The 15 sufficient-statistic aggregates as SQL select-list text
    (shared between engines; `x`/`s`/`y` are source column names)."""
    return (
        f"CAST(count(*) AS DOUBLE) AS a00, sum({x}) AS a01, sum({s}) AS a02, "
        f"sum({x}*{s}) AS a03, sum({x}*{x}) AS a11, sum({x}*{s}) AS a12, "
        f"sum({x}*{x}*{s}) AS a13, sum({s}*{s}) AS a22, sum({x}*{s}*{s}) AS a23, "
        f"sum({x}*{x}*{s}*{s}) AS a33, sum({y}) AS b0, sum({x}*{y}) AS b1, "
        f"sum({s}*{y}) AS b2, sum({x}*{s}*{y}) AS b3, sum({y}*{y}) AS syy"
    )


def sums_select_sql_feats(feats: list[str], y: str) -> str:
    """Generalized sufficient statistics for an arbitrary 4-feature basis:
    the upper triangle of A = Σ φφᵀ (10 sums), b = Σ φy (4), and Σy² — as
    shared Spark/DuckDB select-list text. Feature expressions must be
    comma-free (single-arg functions only) and use E-notation float
    literals (tsgen/expr.py docstring)."""
    assert len(feats) == 4
    parts = []
    for i in range(4):
        for j in range(i, 4):
            parts.append(f"sum(({feats[i]})*({feats[j]})) AS a{i}{j}")
    for i in range(4):
        parts.append(f"sum(({feats[i]})*({y})) AS b{i}")
    parts.append(f"sum(({y})*({y})) AS syy")
    return ", ".join(parts)


def fourier_feats(timesteps: int) -> list[str]:
    """Fourier time-embedding basis for the denoiser: φ = [1, x,
    x·sin(ωt), x·cos(ωt)] with ω = 2π/T over the diffusion step t_step —
    the closed-form analog of the reference's sinusoidal timestep embedding
    feeding a linear head (models/diffusion_ts_model.py:101-150 sinusoidal
    PE of t conditions the denoiser)."""
    import math

    w = 2.0 * math.pi / timesteps
    return ["1.0e0", "x", f"(x*sin({w:.17e}*t_step))", f"(x*cos({w:.17e}*t_step))"]


def _fit(
    base: DataFrame, aggs: list[str], feats: list[str], group: list[str] | None
) -> DataFrame:
    """Solve the normal equations from the sufficient statistics `aggs`
    (SQL select-list items over `base`), then take train_mse from a pass
    over the residuals y − Σ wᵢφᵢ (module docstring, step 3)."""
    group = group or []
    # pinned: the solve and the residual pass both read base, and its
    # lineage (generate → q_sample) would otherwise run once per pass
    base = base.localCheckpoint(eager=False)
    e = solver_exprs()
    sums = [F.expr(a.rsplit(" AS ", 1)[0]).alias(a.rsplit(" AS ", 1)[1]) for a in aggs]
    cols = ["n", "w0", "w1", "w2", "w3", "baseline_mse"]
    w = base.groupBy(*group).agg(*sums).select(
        *group,
        F.col("a00").cast("bigint").alias("n"),
        *[F.expr(e[f"w{i}"]).alias(f"w{i}") for i in range(4)],
        F.expr(e["baseline_mse"]).alias("baseline_mse"),
    )
    if group:
        rows = base.join(F.broadcast(w), group)
    else:
        # one row: read it as a scalar subquery, not a nested-loop join
        ws = w.select(F.struct(*cols)).scalar()
        rows = base.select("*", *[ws[c].alias(c) for c in cols])
    terms = [F.col(f"w{i}") * F.expr(f) for i, f in enumerate(feats)]
    resid = F.col("y") - sum(terms[1:], terms[0])
    return (
        rows.groupBy(*group, *cols)
        .agg(F.avg(resid * resid).alias("train_mse"))
        .select(*group, "n", "w0", "w1", "w2", "w3", "train_mse", "baseline_mse")
    )


def fit_feature_denoiser(
    base: DataFrame, feats: list[str], group: list[str] | None = None
) -> DataFrame:
    """Closed-form least-squares fit of ε̂ = Σ wᵢφᵢ for an arbitrary
    4-feature basis. `base` must expose every column the feature
    expressions reference (e.g. x, t_step) plus `y`; same
    sufficient-statistics solve and residual pass as fit_linear_denoiser."""
    return _fit(base, sums_select_sql_feats(feats, "y").split(", "), feats, group)


def fit_linear_denoiser(noisy: DataFrame, group: list[str] | None = None) -> DataFrame:
    """One exact training "epoch": expects q_sample output re-joined with
    sqrt_1m_ac (columns x_t, sqrt_1m_ac, noise); returns one row per group
    (or a single global row): (n, w0..w3, train_mse, baseline_mse).
    baseline_mse = Σε²/n is the loss of the zero predictor — train_mse <
    baseline_mse is the 'loss went down' signal the reference checks
    (test_training.py:157-159).

    With group=['epoch'] this is the whole multi-epoch training loop as one
    aggregation plus one residual pass: each epoch's 15 sums
    partial-aggregate in the same shuffle and each output row solves its
    own normal equations."""
    base = noisy.selectExpr(
        *(group or []), "x_t AS x", "sqrt_1m_ac AS s", "noise AS y"
    )
    aggs = sums_select_sql("x", "s", "y").split(", ")
    return _fit(base, aggs, ["1.0e0", "x", "s", "(x*s)"], group)
