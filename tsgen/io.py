"""Dataset persistence (SURVEY §2 A5 — the reference's checkpoint save/load,
test_training.py:162-171 / test_trained_model.py:50-65, re-expressed as
parquet round-trips of the series/component tables).

Scale notes: writes are partitioned by a bucketing key when provided so
downstream per-series operators (decompose, FFT) read co-located data and
joins on series_id can skip the shuffle (bucket pruning)."""
from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events `ts` column to session-zoned TIMESTAMP across
    Spark versions. events.parquet stores TIMESTAMP(NANOS):
    - with spark.sql.legacy.parquet.nanosAsLong honored (<= Spark 4.0) the
      column arrives as BIGINT nanos -> integer-divide to micros (a double
      division would lose precision at 1e18);
    - Spark 4.1 reads parquet nanos natively as TIMESTAMP_NTZ (truncated to
      micros, legacy conf ignored) -> cast re-zones it (session tz is UTC);
    - already TIMESTAMP -> unchanged.
    Schema-driven, not value-driven, so the choice is deterministic."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    """The one batch reader of a testdata table `{sf_dir}/<name>.parquet`.

    `events` gets `normalize_event_ts`, so every consumer sees `ts` as
    session-zoned TIMESTAMP. `fanout=True` reads through `fanout_scan`; the
    text and per-row embedding queries pass it. Aggregation-only embedding
    queries (gram sufficient stats, eigen power iterations) stay plain: the
    repartition exchange and its extra tasks measured about 2x slower than
    the serial scan at the test size (isolated min of 3: embed_abtt 0.9 →
    1.9 s, embed_pca_power 0.7 → 1.5 s), since there is no narrow per-row
    math to parallelize, only partial-aggregated sums."""
    path = f"{sf_dir}/{name}.parquet"
    df = fanout_scan(spark, path) if fanout else spark.read.parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def fanout_scan(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table and, when the file layout cannot yield enough
    input splits (the test corpus is one row group per table, i.e. ONE
    split), round-robin repartition to default parallelism — opt guide
    §2.5's "one huge unsplittable file → repartition immediately after the
    read". Otherwise the whole narrow phase of a query (explodes,
    shingling, per-row HOF math) runs on a single core. On a real
    multi-file / large dataset the gate never fires, so nothing is tuned
    to local mode. Results are unaffected: round-robin repartition is
    deterministic (sortBeforeRepartition) and no consumer of this helper
    derives values from physical layout.

    The gate is decided from cheap file stats (few files AND small total
    bytes), NOT from df.rdd.getNumPartitions(): converting to an RDD
    compiles the physical plan on the driver, which measurably taxed every
    query build (~0.2-0.5 s × 3 bench reps). The stat walks nested part
    dirs too, so a partitioned local dataset does not silently skip the
    gate. It is taken on every call, so a table rewritten at the same path
    gets a fresh verdict."""
    import glob
    import os

    df = spark.read.parquet(path)
    cpus = spark.sparkContext.defaultParallelism
    try:
        files = (
            [path]
            if os.path.isfile(path)
            else glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        total = sum(os.path.getsize(f) for f in files)
        fan = bool(files) and len(files) <= cpus and total <= 256 * 1024 * 1024
    except OSError:
        fan = False  # non-local storage: real deployments have real splits
    return df.repartition(cpus) if fan else df


def save_series(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def load_series(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "series_id",
    n_buckets: int = 32,
    sort_col: str | None = "t",
) -> None:
    """Persist bucketed (and optionally sorted) by key — the layout that
    makes every subsequent join/groupBy on `bucket_col` shuffle-free
    (SortMergeJoin without Exchange). At 100 TB this is how the series
    tables should live: bucket count ≈ cluster cores, sorted within bucket
    by t so per-series windows need no re-sort."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a dropped in-memory-catalog table leaves its files behind; a stale
    # location blocks re-creation with LOCATION_ALREADY_EXISTS
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = Path(warehouse.removeprefix("file:")) / table
    if loc.exists():
        shutil.rmtree(loc)
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(bucket_col, sort_col)
    w.saveAsTable(table)


def save_run(
    df: DataFrame,
    path: str,
    config: dict,
) -> None:
    """Checkpoint = data + the config that produced it (the reference stores
    {model_state, config}; our deterministic analog stores the generated
    table as parquet under `{path}/data` plus a sidecar
    `{path}/config/part-00000.json`: one JSON line `{"config": "<json>"}`
    written on the driver through the path's Hadoop FileSystem, with no
    Spark job. `spark.read.json` reads it as the one-row table that older
    checkpoints wrote with a Spark job."""
    import json

    save_series(df, f"{path}/data")
    fs, part = _hadoop_fs(df.sparkSession, f"{path}/config/part-00000.json")
    fs.delete(part.getParent(), True)
    out = fs.create(part)
    try:
        line = json.dumps({"config": json.dumps(config)}, separators=(",", ":")) + "\n"
        out.write(bytearray(line.encode()))
    finally:
        out.close()


def load_run(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Read a `save_run` checkpoint. The sidecar is read on the driver: the
    first line of the first non-empty `part-*.json` under `{path}/config`
    (a config written by a Spark json job may leave empty part files of
    empty partitions ahead of it)."""
    import json

    df = load_series(spark, f"{path}/data")
    fs, pattern = _hadoop_fs(spark, f"{path}/config/part-*.json")
    jvm = spark._jvm
    for part in sorted((st.getPath() for st in fs.globStatus(pattern)), key=lambda p: p.getName()):
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(part), "UTF-8"))
        try:
            line = reader.readLine()
        finally:
            reader.close()
        if line:
            return df, json.loads(json.loads(line)["config"])
    raise FileNotFoundError(f"no config line under {path}/config")


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem of `path`, its Path object)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


# --- generic source/sink formats (engine extension) ------------------------
_FMT_OPTS = {
    "csv": {"header": "true", "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"},
    "json": {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"},
    "parquet": {},
}


def save_table(df: DataFrame, path: str, fmt: str = "parquet", **options) -> None:
    """Write in any Spark batch format (parquet/csv/json/orc). Text formats
    are for interchange only — at scale parquet/orc keep column pruning,
    predicate pushdown, and compression that csv/json lose."""
    df.write.mode("overwrite").options(**{**_FMT_OPTS.get(fmt, {}), **options}).format(
        fmt
    ).save(path)


def load_table(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options):
    """Read any Spark batch format. Pass an explicit schema for csv/json —
    schema inference costs an extra full scan and can mistype columns."""
    r = spark.read.options(**{**_FMT_OPTS.get(fmt, {}), **options})
    if schema is not None:
        r = r.schema(schema)
    elif fmt == "csv":
        r = r.option("inferSchema", "true")
    return r.format(fmt).load(path)


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
) -> None:
    """MERGE-style upsert into a parquet dataset: union the update batch
    with the base, keep the newest row per key (largest `order_col`), and
    atomically swap the result in (write to a sibling temp dir, then
    rename). This is the portable emulation of MERGE INTO for plain
    parquet; on a real deployment the same latest_by_key plan runs behind
    a table format's transaction log instead of a directory swap.

    Scale shape: ONE window shuffle on the merge keys over base ∪ updates;
    nothing is collected. The rewrite cost is the whole dataset — the known
    plain-parquet limitation (a table format turns that into file-level
    replacement, same plan otherwise)."""
    import uuid

    from pyspark.sql import Window, functions as F

    base = spark.read.parquet(path)
    merged = base.unionByName(updates)
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    latest.write.mode("overwrite").parquet(tmp)
    dst = Path(path)
    shutil.rmtree(dst)
    Path(tmp).rename(dst)


def compact_parquet(
    spark: SparkSession, path: str, target_files: int | None = None
) -> int:
    """Small-file compaction: rewrite a parquet dataset into `target_files`
    files (default: sized by `spark.sql.files.maxPartitionBytes`-ish row
    estimate — here simply the current parallelism). The streaming
    foreachBatch sink and incremental upserts both accrete small files;
    scan cost at 100 TB is dominated by file-open overhead unless a
    compaction job runs. Atomic swap like upsert_parquet. Returns the new
    file count."""
    import uuid

    df = spark.read.parquet(path)
    n = target_files or max(1, df.rdd.getNumPartitions() // 4)
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    # coalesce (no shuffle) is correct for merging small files; repartition
    # would add an Exchange for nothing
    df.coalesce(n).write.mode("overwrite").parquet(tmp)
    dst = Path(path)
    shutil.rmtree(dst)
    Path(tmp).rename(dst)
    return len([p for p in Path(path).glob("*.parquet")])


def merge_agg_state(
    state: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """Incremental aggregation-state maintenance: combine a persisted
    (key, cnt, total) state table with a new batch's partial state WITHOUT
    rescanning history — the sum/count algebra every incremental
    materialized view relies on (avg = total/cnt stays derivable).
    One union + one partial-agged groupBy on the keys."""
    from pyspark.sql import functions as F

    return (
        state.unionByName(delta)
        .groupBy(*keys)
        .agg(F.sum("cnt").alias("cnt"), F.sum("total").alias("total"))
    )


def agg_state(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Build the mergeable (cnt, total) state for a batch."""
    from pyspark.sql import functions as F

    return df.groupBy(*keys).agg(
        F.count(value).alias("cnt"), F.sum(value).alias("total")
    )

