"""Raw-SQL surface: register the warehouse tables as temp views so users
can drive the whole engine with `spark.sql(...)` instead of the DataFrame
API. Catalyst compiles both to the same plans — the point of building on
Spark SQL is that the ANSI-SQL front door comes for free (predicate
pushdown, column pruning, AQE all apply identically).

`sql()` is the one-call entry: register + query. The views are the
tables `io.read_table` returns, the same reader every registry query uses.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .io import read_table

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Expose every parquet table as a temp view named like the file. Each
    is read through `io.read_table`, so SQL and DataFrame users see the same
    tables (`events` with the same normalized `ts`)."""
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(query)
