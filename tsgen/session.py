"""SparkSession builder tuned for this engine.

Local mode for tests; the configs are chosen to also be sane defaults on a
real cluster (AQE on, Arrow on, shuffle partitions sized explicitly).

Python workers start from `tsgen.worker_daemon` (`spark.python.daemon.module`)
instead of `pyspark.daemon`. pyspark's worker runs
`importlib.invalidate_caches()` before every task, and on CPython < 3.13 that
makes each cached zip importer re-read its archive's directory: 16 importers
over pyspark.zip (1,328 entries) and 2 over the spark-core jar. Timed inside
the workers of a 4-task session (CPython 3.11.7, 4 vCPUs), one invalidate
cost 159-405 ms per task; with the daemon module it costs 0.15-2.1 ms, and a
trivial 4-task mapInPandas job fell from 0.555 to 0.270 s (median of 10;
PLANS §5).
CPython 3.13 reads a zip directory lazily (16 importers: about 0.01 ms per
invalidate against 100-180 ms on 3.11.7 and 3.12.1, timed outside Spark), so
there the daemon module is redundant but harmless. Every Python worker now
imports `tsgen`, so the directory that holds it goes on the workers'
PYTHONPATH, and a UDF works from any working directory.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the tsgen package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config("spark.python.daemon.module", "tsgen.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
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
