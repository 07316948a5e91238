"""SparkSession builder tuned for this engine.

Local mode for tests; the configs are chosen to also be sane defaults on a
real cluster (AQE on, Arrow on, shuffle partitions sized explicitly).
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "tsgen", shuffle_partitions: int | None = None) -> SparkSession:
    # SPARK_GRAFT_CPUS overrides; otherwise use the cores this process may run on
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("TSGEN_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # stage progress bars would interleave with callers' stderr lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/tsgen-warehouse")
        # events.parquet is TIMESTAMP(NANOS). Where Spark <= 4.0 honours this
        # conf, nanos read as long (io.read_table converts ts DIV 1000 →
        # timestamp); Spark 4.1 ignores it and reads TIMESTAMP_NTZ. Set at
        # build time so no code path can touch the file before the conf exists.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
