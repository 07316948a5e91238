"""The benchmark's workloads: what one pass of each runs, at which sizes.

A workload is a list of ops. An op is one call a user of the library makes:
`build()` returns the DataFrame (driver-side planning), `force(df)` runs it
with the noop sink or its real write. One pass runs every op once; the seed
orders the ops of each pass and picks input slices, never the amount of work.
"""
from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

import datagen

# Fixed seed of the generated tables, so the recorded checksums stay valid.
DATA_SEED = 20240101


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str
    build: Callable[[], DataFrame]
    force: Callable[[DataFrame], None] = noop


# ---------------------------------------------------------------- synth_cycle
# The reference config.json (runner.run_config's schema) at scale 0.2: train
# and validation sets, T=500 cosine schedule, combined loss, 32-series
# decomposition; sample_fused at 100 series.
SYNTH_SIZES = {
    "full": dict(n_train=2000, n_val=200, n_dec=32, n_sample=100, seq_len=512, timesteps=500),
    "tiny": dict(n_train=64, n_val=32, n_dec=8, n_sample=8, seq_len=64, timesteps=50),
}
SYNTH_FAMILY = "linear_sum"
SYNTH_LAMBDA = 1.0


class SynthCycle:
    """One pass = one train-then-sample cycle of four ops."""

    name = "synth_cycle"
    build_layer = "op"
    warm_passes = 1

    def __init__(self, spark: SparkSession, scale: str, tmp: str):
        from tsgen import decompose, diffusion, generators, io, metrics, schedules

        self.spark, self.tmp = spark, tmp
        self.s = s = SYNTH_SIZES[scale]
        self.run_dir = os.path.join(tmp, "synth_run")
        self.config = {
            "function_type": SYNTH_FAMILY, "n_train": s["n_train"], "n_val": s["n_val"],
            "seq_len": s["seq_len"], "timesteps": s["timesteps"], "beta_schedule": "cosine",
            "loss_type": "combined", "lambda_decay": SYNTH_LAMBDA,
        }
        self.m = dict(
            generators=generators, io=io, diffusion=diffusion, metrics=metrics,
            decompose=decompose, schedules=schedules,
        )

    def generate(self, n: int, normalize: bool = True) -> DataFrame:
        return self.m["generators"].generate(
            self.spark, n, self.s["seq_len"], SYNTH_FAMILY,
            lambda_decay=SYNTH_LAMBDA, normalize=normalize,
        )

    def noisy(self) -> DataFrame:
        s, m = self.s, self.m
        sched = m["schedules"].schedule_table(self.spark, s["timesteps"], "cosine")
        return m["diffusion"].q_sample(self.generate(s["n_val"]), sched, s["timesteps"])

    def loss(self) -> DataFrame:
        return self.m["metrics"].combined_loss(self.noisy(), "x_t", "value", self.s["seq_len"])

    def save(self, df: DataFrame) -> None:
        self.m["io"].save_run(df, self.run_dir, self.config)

    def pass_ops(self, rng: np.random.Generator) -> list[Op]:
        s, m = self.s, self.m
        lo = int(rng.integers(0, s["n_val"] - s["n_dec"] + 1))
        ops = [
            Op("gen_write", lambda: self.generate(s["n_train"]), self.save),
            Op("qsample_loss", self.loss),
            Op(
                "decompose",
                lambda: m["decompose"].decompose(
                    self.generate(s["n_val"]).filter(F.col("series_id").between(lo, lo + s["n_dec"] - 1))
                ),
            ),
            Op(
                "sample_fused",
                lambda: m["diffusion"].sample_fused(self.spark, s["n_sample"], s["seq_len"], s["timesteps"]),
            ),
        ]
        return [ops[i] for i in rng.permutation(len(ops))]

    def warm_force(self, op: Op, df: DataFrame) -> None:
        """Warm pass: run the op as timed; its output is checked afterwards
        by `check_written`."""
        op.force(df)

    def check_written(self) -> str | None:
        import checks

        return checks.check_synth(self.spark, self.run_dir, self.s, SYNTH_FAMILY, SYNTH_LAMBDA)


# -------------------------------------------------------- interactive_session
# An analyst's session of short registry queries over the event stream and
# the document / embedding corpora the LLM-data operators serve.
SESSION_QUERIES = (
    # analytics / tsdb over events.parquet
    "ev_rolling", "ev_asof", "ev_tumbling", "ts_changepoint",
    # dedup, similarity and text over documents / embeddings
    "minhash_lsh", "cosine_topk", "text_stats",
)
SESSION_SIZES = {
    "full": dict(events=20_000, documents=1_000, embeddings=500),
    "tiny": dict(events=2_000, documents=200, embeddings=100),
}


class InteractiveSession:
    """One pass = every query of SESSION_QUERIES once, in seeded order."""

    name = "interactive_session"
    build_layer = "queries"
    # Catalyst planning code is still being JIT-compiled on the second run of
    # a query (three timed passes of one run: 20.9, 15.5, 14.1 s), so the
    # timed pass follows two warm passes.
    warm_passes = 2

    def __init__(self, spark: SparkSession, scale: str, tmp: str):
        from tsgen import queries

        self.spark = spark
        self.sf_dir = os.path.join(tmp, "tables")
        self.fns = queries.queries()
        self.oracles = queries.oracle_sql()

    @staticmethod
    def write_inputs(scale: str, tmp: str) -> None:
        datagen.write_tables(os.path.join(tmp, "tables"), SESSION_SIZES[scale], DATA_SEED)

    def warm_force(self, op: Op, df: DataFrame):
        """Warm pass: force the query by collecting what its check needs."""
        import checks

        return checks.collect(df, op.name in self.oracles)

    def op(self, name: str) -> Op:
        return Op(name, lambda: self.fns[name](self.spark, self.sf_dir))

    def pass_ops(self, rng: np.random.Generator) -> list[Op]:
        return [self.op(SESSION_QUERIES[i]) for i in rng.permutation(len(SESSION_QUERIES))]


WORKLOADS = {w.name: w for w in (SynthCycle, InteractiveSession)}
