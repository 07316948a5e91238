"""Output checks. They run outside the timed region.

- A registry query with a DuckDB oracle: `tools/check_oracle.compare`, the
  repository's own correctness gate (row count, column names, dtypes and
  exact order-insensitive values).
- A registry query without an oracle: row count and Spark's
  `bit_xor(xxhash64(*))` must equal the values in `golden.json`.
- synth_cycle: the written dataset has n_train × seq_len rows, and a fixed
  4-series slice equals `tsgen.oracle.generate_sql` run on DuckDB.
"""
from __future__ import annotations

import json
import os

import duckdb
from pyspark.sql import DataFrame, functions as F

from tools.check_oracle import compare

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")
TABLES = ("events", "documents", "embeddings")


def duck(sf_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES if sf_dir else ():
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def spark_checksum(df: DataFrame) -> list[int]:
    """[row count, bit_xor of xxhash64 over all columns]."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).first()
    return [int(row.n), int(row.h or 0)]


def load_golden() -> dict:
    with open(GOLDEN_PATH) as fh:
        return json.load(fh)


def collect(df: DataFrame, has_oracle: bool):
    """Force `df` the way its check needs: the whole result when an oracle
    will be compared with it, else only its checksum."""
    return df.toPandas() if has_oracle else spark_checksum(df)


def verify(name: str, got, oracle_sql: str | None, con, golden: dict) -> str | None:
    """None when `got` (from `collect`) is correct, else a one-line reason."""
    if oracle_sql is not None:
        return "; ".join(compare(name, got, con.execute(oracle_sql).df())) or None
    want = golden.get(name)
    if want is None:
        return f"no golden checksum (got {got})"
    return None if got == want else f"checksum {got} != golden {want}"


def check_synth(spark, run_dir: str, sizes: dict, family: str, lambda_decay: float) -> str | None:
    """Check the dataset the last gen_write op wrote."""
    from tsgen import oracle
    from tsgen.queries import round6

    written = spark.read.parquet(os.path.join(run_dir, "data"))
    n = written.count()
    if n != sizes["n_train"] * sizes["seq_len"]:
        return f"written rows {n} != {sizes['n_train'] * sizes['seq_len']}"
    got = round6(written.filter(F.col("series_id") < 4), "value").toPandas()
    want = duck().execute(
        oracle.generate_sql(4, sizes["seq_len"], family, lambda_decay=lambda_decay)
    ).df()
    return "; ".join(compare("synth slice", got, want)) or None
