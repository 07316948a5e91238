"""Structured Streaming twins of the batch windowed operators (SURVEY §2.H).

The reference is batch-only; the north star mandates a streaming surface.
Design: every streaming op has a batch twin with identical semantics
(F.window ≡ date_trunc bucketing, F.session_window ≡ gap sessionization),
so the DuckDB oracle checks the streaming results too — the stream is run
to completion with the availableNow trigger into a memory sink and the
materialized result is returned as a regular DataFrame.

Production notes (real clusters):
- sources become Kafka/files with schema + watermark `withWatermark(ts, …)`
  for late data; here watermarks are declared but output mode is `complete`
  so a single replayed batch emits every window (append mode would hold
  back windows newer than max(ts) − watermark forever on a finite source).
- state store: session/sliding windows keep per-key state bounded by the
  watermark delay.
"""
from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import normalize_event_ts, read_table


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one-file replay).

    The stream schema is taken from a batch read of the same file, NOT a
    hardcoded one: how the TIMESTAMP(NANOS) ts column arrives (bigint nanos
    vs TIMESTAMP_NTZ) depends on the Spark version, and forcing LongType on
    a reader that resolves nanos to NTZ silently yields micros — a 1000×
    timestamp corruption. Inferring then normalizing is version-proof.

    The schema read stays a raw `spark.read.parquet`, not `io.read_table`:
    the file stream needs the on-disk schema, and normalization is applied
    to the stream itself."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (one-file replay) — the
    ingest shape of a production corpus feed (files land, get decoded).
    Like `events_stream`, it takes the on-disk schema for the file stream."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def run_to_completion(stream_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Execute a streaming aggregation on all available data and return the
    materialized result (memory sink, availableNow trigger)."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def tumbling_counts(stream: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window aggregate (twin of analytics.tumbling)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("bucket_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(stream: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window aggregate: each event lands in width/slide windows."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.unix_timestamp("w.start").alias("start_s"), "n_events", "sum_value")
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session-window aggregate (twin of analytics.sessionize): events of a
    user with gaps < `gap` merge into one session."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("start_s"),
            "n_events",
            "sum_value",
        )
    )


def ewma_stateful(stream: DataFrame, alpha: float = 0.1) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user exponentially-weighted moving average of `value`, state = the
    running EWMA + count, carried across micro-batches.

    This is the engine's template for operators Structured Streaming lacks
    natively (the 'custom stateful operator' path). Batch twin equivalence
    is asserted in tests/test_streaming.py.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, ewma double"
    state_schema = "ewma double, n bigint"

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            ewma, n = state.get
        else:
            ewma, n = 0.0, 0
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for v in pdf["value"]:
                ewma = float(v) if n == 0 else alpha * float(v) + (1 - alpha) * ewma
                n += 1
        state.update((ewma, n))
        import pandas as pd

        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma": [ewma]})

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def anomalies_stateful(stream: DataFrame, z_thresh: float = 3.0) -> DataFrame:
    """Online anomaly detector via applyInPandasWithState: per-user Welford
    running (n, mean, M2); a point is flagged when its z-score against the
    stats of all PRIOR points exceeds `z_thresh`. State is three doubles
    per user regardless of stream length; arithmetic is numpy-vectorized
    per batch with an O(batch) python loop only over the (tiny) candidate
    updates — the Welford recursion is inherently sequential per key, which
    is exactly why this is a custom stateful operator and not a window.

    Emits one row per flagged point (update mode). Prefix semantics (each
    point judged only against its past) are asserted against a pandas
    replay in tests."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, event_id bigint, ts_s bigint, value double, z double"
    state_schema = "n bigint, mean double, m2 double"

    def fn(key, pdf_iter, state: GroupState):
        import math

        import pandas as pd

        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        rows = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for eid, ts, v in zip(pdf["event_id"], pdf["ts"], pdf["value"]):
                v = float(v)
                if n >= 2:
                    sd = math.sqrt(m2 / (n - 1))
                    if sd > 0 and abs(v - mean) / sd > z_thresh:
                        rows.append(
                            (int(key[0]), int(eid), int(ts.timestamp()), v, (v - mean) / sd)
                        )
                n += 1
                d = v - mean
                mean += d / n
                m2 += d * (v - mean)
        state.update((n, mean, m2))
        yield pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts_s", "value", "z"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def replay_chunked(
    spark: SparkSession, sf_dir: str, n_chunks: int, chunk_dir: str
) -> DataFrame:
    """Kafka-style rate-limited replay: split the events table into
    `n_chunks` time-ordered parquet files and stream them one file per
    micro-batch (maxFilesPerTrigger=1), so windowed/stateful operators are
    exercised across REAL micro-batch boundaries (state carry, watermark
    advance) instead of a single replayed batch.

    Test harness only — the ntile chunking is a global sort, fine for test
    data, not a production path (production = an actual Kafka source with
    `.readStream.format("kafka")`, same downstream code).
    """
    from pyspark.sql import Window

    # read_table normalizes ts BEFORE the chunks are written, so the re-read
    # schema is a plain TIMESTAMP on every Spark version (see events_stream)
    ev = read_table(spark, sf_dir, "events")
    chunked = ev.withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, n_chunks + 1):
        (
            chunked.filter(F.col("_chunk") == i)
            .drop("_chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{chunk_dir}/chunk={i}")
        )
    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(chunk_dir)
    )
    return raw


def replay_rate(
    spark: SparkSession, sf_dir: str, rows_per_batch: int
) -> DataFrame:
    """Deterministic rows-per-micro-batch replay — the file twin of a Kafka
    consumer with `maxOffsetsPerTrigger`: a `rate-micro-batch` tick stream
    (EXACTLY `rows_per_batch` ticks per micro-batch, deterministic values
    0,1,2,…) is stream-static joined on a precomputed per-event sequence
    number, so micro-batch k carries events [k·n, (k+1)·n) in time order.

    Complements replay_chunked (file-per-trigger): this one controls the
    ROW rate, the knob you actually turn on a production Kafka source. The
    static side is materialized once (localCheckpoint) so each micro-batch
    joins against the indexed table instead of re-sorting the source; the
    global row_number is test-harness-only (production = Kafka offsets,
    which arrive pre-ordered per partition).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    indexed = ev.withColumn(
        "_seq",
        F.row_number().over(Window.orderBy("ts", "event_id")).cast("bigint") - 1,
    ).localCheckpoint()
    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
        .select(F.col("value").alias("_seq"))
    )
    return ticks.join(indexed, "_seq").drop("_seq")


def run_rate_replay_until(
    stream_df: DataFrame, n_rows: int, timeout_s: float = 120.0
) -> tuple[DataFrame, int]:
    """Run an (unbounded) rate-replay stream into a memory sink until
    `n_rows` rows have been emitted, then stop. Returns (materialized
    result, number of non-empty micro-batches)."""
    import time

    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    spark = stream_df.sparkSession
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if spark.table(name).count() >= n_rows:
            break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return spark.table(name), n_batches


def foreach_batch_parquet_sink(stream_df: DataFrame, out_dir: str) -> DataFrame:
    """foreachBatch sink example: append each micro-batch to a parquet
    dataset (the generic escape hatch for sinks Structured Streaming lacks —
    JDBC upserts, multi-table writes, MERGE INTO). Runs to completion with
    availableNow and returns the materialized dataset."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.read.parquet(out_dir)


def stream_dedup(stream: DataFrame) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) within the
    watermark (dropDuplicatesWithinWatermark)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stream_stream_join(stream: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream inner join with watermarks + a time-range condition:
    purchases joined to the same user's clicks from the preceding `horizon`.
    Both sides are filters of the same source stream (a supported streaming
    self-join); the watermark bounds the join state — click state older
    than watermark+horizon is evicted, so state size is O(rate × horizon),
    not O(stream length). Append mode: pairs emit once their window closes.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_val"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_val"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        F.expr(
            f"user_id = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL {horizon}"
        ),
    ).select("user_id", "c_ts", "p_ts", "c_val", "p_val")


def stream_stream_join_outer(stream: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: like stream_stream_join,
    but clicks that never see a purchase within `horizon` still emit — with
    nulls — once the watermark proves no match can arrive. That proof is
    the semantic under test: a click row null-emits only when
        c_ts + horizon < watermark,  watermark = min(max c_ts, max p_ts) − 2h
    (the global watermark is the MIN over both sides' per-column watermarks;
    verified empirically at two SFs — the boundary is the join-condition
    value watermark, not the raw 2 h input watermark). Unmatched clicks
    younger than that stay in state, so a finite replay emits matched pairs
    for the whole stream but unmatched rows only for the watermark-closed
    prefix — exactly what a production job would have emitted by now.
    State is still O(rate × horizon): eviction and null-emission share the
    same predicate."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_val"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_val"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        F.expr(
            f"user_id = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL {horizon}"
        ),
        "leftOuter",
    ).select("user_id", "c_ts", "p_ts", "c_val", "p_val")


def ohlc_stream(stream: DataFrame, width: str = "1 hour") -> DataFrame:
    """Streaming OHLC bars (twin of queries_tsdb.ohlc_bars): per event_type
    and tumbling window, open/close via min_by/max_by on the event time —
    declarative aggregates whose partial state (value, argmin key) merges
    across micro-batches exactly like sum/count, so the incremental result
    equals the batch computation."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width), F.col("event_type"))
        .agg(
            F.expr("min_by(value, ts)").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, ts)").alias("close"),
            F.count("*").alias("n_trades"),
            F.sum("value").alias("volume"),
        )
        .select(
            F.unix_timestamp("window.start").alias("bucket_s"),
            "event_type", "open", "high", "low", "close", "n_trades", "volume",
        )
    )


def hll_register_stream(stream: DataFrame, key: str = "user_id") -> DataFrame:
    """Streaming HLL register build: the (bucket, max rank) state is a
    plain streaming max aggregation, so sketch state merges across
    micro-batches exactly like it merges across partitions — the same
    property that makes HLL the right distinct-count structure for both
    axes. Finalize with sketches-side estimate over the materialized
    registers (two-level aggs aren't allowed inside one streaming query)."""
    from .sketches import HASH_BITS, HLL_M, HLL_P, _hash48, _rank_case, _spark_hexparse

    vbits = HASH_BITS - HLL_P
    h = _hash48(key, _spark_hexparse)
    d = stream.select(F.expr(h).alias("hh"))
    rank = F.expr(_rank_case(f"CAST((hh - (hh % {HLL_M})) / {HLL_M} AS BIGINT)", vbits))
    return (
        d.select((F.col("hh") % HLL_M).alias("bucket"), rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("rank"))
    )


def scd2_stateful(stream: DataFrame, key: str = "user_id", attr: str = "event_type") -> DataFrame:
    """Streaming type-2 SCD build via applyInPandasWithState: per entity the
    state is the OPEN dimension row (current attr value, its valid_from,
    version counter); every arriving change CLOSES the previous interval and
    emits it. The streaming output is therefore exactly the closed-interval
    subset of the batch scd2_intervals build (asserted in tests and by the
    driver oracle), with state carried across micro-batch boundaries —
    O(1) state per entity regardless of stream length.

    Production shape: change-data-capture events land on Kafka, this
    operator maintains the dimension; a foreachBatch MERGE (io.upsert_parquet)
    persists emitted rows. Late data caveat: rows are applied in arrival
    order per micro-batch (no watermark reordering across batches) — same
    contract as any CDC-ordered consumer.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} bigint, {attr} string, valid_from_s bigint, "
        "valid_to_s bigint, version bigint"
    )
    state_schema = "cur string, from_ns bigint, version bigint"

    def fn(k, pdf_iter, state: GroupState):
        import pandas as pd

        cur, from_ns, version = state.get if state.exists else (None, 0, 0)
        out = {c: [] for c in (key, attr, "from_ns", "to_ns", "version")}
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            # normalize to ns explicitly: a pandas/pyarrow combo that keeps
            # the Arrow us unit would make a bare astype(int64) emit micros
            # and the //1e9 epoch-seconds below off by 1000x
            ts_ns = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
            vals = pdf[attr].to_numpy()
            for v, t in zip(vals, ts_ns):
                if cur is None:
                    cur, from_ns, version = str(v), int(t), 1
                elif v != cur:
                    out[key].append(k[0])
                    out[attr].append(cur)
                    out["from_ns"].append(from_ns)
                    out["to_ns"].append(int(t))
                    out["version"].append(version)
                    cur, from_ns, version = str(v), int(t), version + 1
        state.update((cur, from_ns, version))
        if not out[key]:
            yield pd.DataFrame(
                columns=[key, attr, "valid_from_s", "valid_to_s", "version"]
            )
            return
        yield pd.DataFrame(
            {
                key: out[key],
                attr: out[attr],
                "valid_from_s": [t // 1_000_000_000 for t in out["from_ns"]],
                "valid_to_s": [t // 1_000_000_000 for t in out["to_ns"]],
                "version": out["version"],
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def asof_stateful(stream: DataFrame) -> DataFrame:
    """Streaming as-of join via applyInPandasWithState: every click emits
    the latest purchase value at-or-before its timestamp for the same user
    (the streaming twin of analytics.asof_join / DuckDB ASOF LEFT JOIN).
    State per user is O(1): the (ts, value) of the most recent purchase —
    an as-of join's entire right side compresses to one row per key once
    events arrive in time order. Equal timestamps follow the batch twin's
    contract: a purchase at the click's exact ts IS visible (ASOF >=), and
    concurrent same-ts purchases resolve to the max value (the batch side's
    latest_by_key desc-value dedup). Same ordering contract as
    scd2_stateful: rows are applied in (ts, event_id) order per micro-batch,
    state carries across batches."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_id bigint, user_id bigint, ts_s bigint, last_purchase double"
    state_schema = "p_ts_ns bigint, p_val double, has boolean"

    def fn(k, pdf_iter, state: GroupState):
        import pandas as pd

        p_ts, p_val, has = state.get if state.exists else (0, 0.0, False)
        out = {c: [] for c in ("event_id", "user_id", "ts_s", "last_purchase")}
        for pdf in pdf_iter:
            pdf = pdf[pdf["event_type"].isin(("click", "purchase"))]
            if not len(pdf):
                continue
            pdf = pdf.assign(_c=(pdf["event_type"] == "click").astype(int))
            pdf = pdf.sort_values(["ts", "_c", "event_id"])
            ts_ns = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
            for eid, et, v, t in zip(
                pdf["event_id"].to_numpy(), pdf["event_type"].to_numpy(),
                pdf["value"].to_numpy(), ts_ns,
            ):
                if et == "purchase":
                    if has and int(t) == p_ts:
                        p_val = max(p_val, float(v))
                    else:
                        p_ts, p_val, has = int(t), float(v), True
                else:
                    out["event_id"].append(int(eid))
                    out["user_id"].append(k[0])
                    out["ts_s"].append(int(t) // 1_000_000_000)
                    out["last_purchase"].append(p_val if has else None)
        state.update((p_ts, p_val, has))
        yield pd.DataFrame(out) if out["event_id"] else pd.DataFrame(
            columns=["event_id", "user_id", "ts_s", "last_purchase"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def dd_bucket_stream(stream: DataFrame, value: str = "value") -> DataFrame:
    """Streaming DDSketch bucket build: the (bucket, count) state is a plain
    streaming count aggregation, so sketch state merges across micro-batches
    exactly as bucket counts add across partitions — the DDSketch
    mergeability property on the time axis. Finalize with
    sketches.dd_probe_buckets over the materialized bucket table."""
    from .sketches import _dd_bucket

    return (
        stream.filter(F.col(value) > 0)
        .select(F.expr(_dd_bucket(value)).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
    )


def cms_counter_stream(stream: DataFrame, key: str = "user_id") -> DataFrame:
    """Streaming count-min sketch build over `key`: the (row, cell) counter
    table is a plain streaming count aggregation — CMS counters ADD, so the
    sketch accumulates across micro-batches exactly as it partial-aggregates
    across partitions. d·w counters of state regardless of stream length."""
    from .sketches import CMS_D, _cms_cell, _hash48, _spark_hexparse

    x = _hash48(key, _spark_hexparse)
    return (
        stream.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row"),
                            F.expr(_cms_cell(i, x)).alias("cell"),
                        )
                        for i in range(CMS_D)
                    ]
                )
            ).alias("rc")
        )
        .select("rc.row", "rc.cell")
        .groupBy("row", "cell")
        .agg(F.count("*").alias("cnt"))
    )


def lombscargle_stream(stream: DataFrame, max_hours: int = 24) -> DataFrame:
    """Streaming Lomb-Scargle periodogram: the power at each candidate
    period reduces to NINE mergeable sums per (event_type, period) —
    uncentered trig moments — so the whole spectral estimate runs as one
    standard streaming aggregation whose state is constant-size per group
    and ADDS across micro-batches exactly as it partial-aggregates across
    partitions. Mean-centering is applied ALGEBRAICALLY after aggregation
    (svc' = sc − v̄·c1 etc.), and the phase anchor is absolute epoch
    microseconds: LS power is time-shift invariant through tau, and the
    integer modulo keeps cos/sin arguments exact in [0, 2π).

    The final power is a stateless projection of the aggregate row
    (queries_tsmining.ls_power over the centered statistics)."""
    from .queries_tsmining import TWO_PI, ls_power

    periods = [(k, k * 3600 * 1_000_000) for k in range(1, max_hours + 1)]
    grid = F.explode(
        F.array(
            *[
                F.struct(F.lit(k).alias("period_hours"), F.lit(pus).alias("period_us"))
                for k, pus in periods
            ]
        )
    ).alias("g")
    e = stream.select("event_type", F.col("value").alias("v"), F.unix_micros("ts").alias("us"), grid)
    theta = (F.col("us") % F.col("g.period_us")).cast("double") * (
        F.lit(TWO_PI) / F.col("g.period_us").cast("double")
    )
    e = e.select("event_type", F.col("g.period_hours").alias("period_hours"), "v", theta.alias("theta"))
    agg = e.groupBy("event_type", "period_hours").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("sv2"),
        F.sum(F.col("v") * F.cos("theta")).alias("sc"),
        F.sum(F.col("v") * F.sin("theta")).alias("sn"),
        F.sum(F.cos("theta")).alias("c1"),
        F.sum(F.sin("theta")).alias("s1"),
        F.sum(F.cos(F.col("theta") * 2)).alias("c2"),
        F.sum(F.sin(F.col("theta") * 2)).alias("s2"),
    )
    vbar = F.col("sv") / F.col("n")
    svc = F.col("sc") - vbar * F.col("c1")
    svs = F.col("sn") - vbar * F.col("s1")
    sv2c = F.col("sv2") - F.col("n") * vbar * vbar
    power = ls_power(F.col("n"), svc, svs, F.col("c2"), F.col("s2"))
    return agg.select(
        "event_type",
        "period_hours",
        "n",
        power.alias("power"),
        (power / (sv2c / (F.col("n") - 1))).alias("power_norm"),
    )


def cdc_stateful(
    stream: DataFrame, key: str = "user_id", delete_type: str = "error"
) -> DataFrame:
    """Streaming CDC apply (last-write-wins upsert materialization) via
    applyInPandasWithState: per entity the state is the CURRENT row
    (value, op, updated time, change count) — O(1) regardless of stream
    length — updated in (ts, event_id) order within each micro-batch and
    carried across batches. Each batch emits the entity's current state;
    entities whose latest op is the tombstone emit nothing (a consumer
    MERGE deletes on absence — retraction rows are out of scope, same
    contract as scd2_stateful's arrival-order CDC).

    Single-file replay (the driver oracle) = one batch, so the output is
    exactly the batch cdc_apply result."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} bigint, final_value double, final_op string, "
        "updated_us bigint, n_changes bigint"
    )
    state_schema = "v double, op string, us bigint, n bigint"

    def fn(k, pdf_iter, state: GroupState):
        import pandas as pd

        v, op, us, n = state.get if state.exists else (0.0, None, 0, 0)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_us = (
                pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1_000
            )
            for val, o, t in zip(pdf["value"], pdf["event_type"], ts_us):
                v, op, us, n = float(val), str(o), int(t), n + 1
        state.update((v, op, us, n))
        if op is None or op == delete_type:
            yield pd.DataFrame(
                columns=[key, "final_value", "final_op", "updated_us", "n_changes"]
            )
            return
        yield pd.DataFrame(
            {
                key: [k[0]],
                "final_value": [v],
                "final_op": [op],
                "updated_us": [us],
                "n_changes": [n],
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def m4_stream(stream: DataFrame, bucket_s: int = 3600) -> DataFrame:
    """Streaming M4 downsampling: min/max/first/last per (type, bucket) are
    ALL mergeable aggregates (first/last ride deterministic struct min/max
    over (ts, event_id, value)), so the pixel-perfect envelope maintains
    itself as a plain streaming aggregation with constant state per bucket
    — the live-dashboard form of ev_m4_downsample."""
    b = (F.unix_micros("ts") / F.lit(1_000_000 * bucket_s)).cast("bigint")
    g = stream.withColumn("bucket", b).groupBy("event_type", "bucket").agg(
        F.count("*").alias("n"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min(F.struct("ts", "event_id", "value"))["value"].alias("v_first"),
        F.max(F.struct("ts", "event_id", "value"))["value"].alias("v_last"),
    )
    return g.withColumn("bucket_s", F.col("bucket") * bucket_s).drop("bucket")


def counter_rate_stateful(stream: DataFrame, bucket_s: int = 3600) -> DataFrame:
    """Streaming PromQL-style counter increase()/rate() per (user, bucket):
    applyInPandasWithState carries the LAST counter value per user across
    micro-batches (O(1) state), so deltas — and reset detection — are
    correct even when a bucket's samples span batches. Emits per-batch
    partial bucket rows; a consumer MERGE adds them (increase is additive).
    Single-file replay = one batch = exactly the batch ev_counter_rate."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, bucket_s bigint, n_samples bigint, increase double, "
        "rate_per_s double, n_resets bigint"
    )
    state_schema = "last double, has double"

    def fn(k, pdf_iter, state: GroupState):
        import pandas as pd

        last, has = state.get if state.exists else (0.0, 0.0)
        acc: dict = {}
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_us = (
                pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1_000
            )
            for v, t in zip(pdf["value"], ts_us):
                b = int(t // (bucket_s * 1_000_000)) * bucket_s
                n, inc, res = acc.get(b, (0, 0.0, 0))
                if has == 0.0:
                    step, r = 0.0, 0
                else:
                    d = float(v) - last
                    step, r = (d, 0) if d >= 0 else (float(v), 1)
                acc[b] = (n + 1, inc + step, res + r)
                last, has = float(v), 1.0
        state.update((last, has))
        if not acc:
            yield pd.DataFrame(
                columns=["user_id", "bucket_s", "n_samples", "increase", "rate_per_s", "n_resets"]
            )
            return
        rows = [
            (k[0], b, n, inc, inc / float(bucket_s), res)
            for b, (n, inc, res) in sorted(acc.items())
        ]
        yield pd.DataFrame(
            rows,
            columns=["user_id", "bucket_s", "n_samples", "increase", "rate_per_s", "n_resets"],
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


HAWKES_MU, HAWKES_BETA_S, HAWKES_ALPHA = 2.0e-3, 1.0 / 300.0, 0.5 / 300.0


def hawkes_stateful(
    stream: DataFrame,
    mu: float = HAWKES_MU,
    alpha: float = HAWKES_ALPHA,
    beta: float = HAWKES_BETA_S,
) -> DataFrame:
    """Online Hawkes intensity monitor via applyInPandasWithState: per
    event type the state is (R, sum_log_intensity, last_ts, n) — the
    Ozaki O(1)-per-event recursion R_i = exp(-beta*(t_i - t_{i-1}))(1 +
    R_{i-1}) carried across micro-batches, with FIXED (mu, alpha, beta)
    because an online monitor cannot know the full-stream empirical rate
    (that is the batch twin ev_hawkes_loglik's job). Emits the running
    self-excitation summary per type; the R recursion is contractive
    (exp(-beta*gap) < 1), so per-step float noise cannot accumulate in
    r_end — but sum_log_intensity is a pure running sum whose cross-engine
    ulp drift grows linearly with event count, so every slog increment is
    rounded at 9dp (half-away-from-zero, the SQL _r9 idiom) in BOTH the
    Python state update and the oracle fold (ADVICE r06).
    """
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def r9(x: float) -> float:
        # half-away-from-zero to match DuckDB/Spark round(); Python
        # round() is banker's. The trailing "+ 0.0" normalizes -0.0 to
        # +0.0, matching the SQL fold's "+ 0.0e0" — a bare copysign can
        # return -0.0 for increments rounding to zero from below, which
        # a sign-bit-sensitive value hash would flag (ADVICE r07).
        y = x + 1e-12
        return math.copysign(math.floor(abs(y) * 1e9 + 0.5), y) / 1e9 + 0.0

    out_schema = (
        "event_type string, n_events bigint, r_end double, sum_log_intensity double"
    )
    state_schema = "r double, slog double, last_s bigint, n bigint"

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            r, slog, last_s, n = state.get
        else:
            r, slog, last_s, n = 0.0, 0.0, -1, 0
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for t in pdf["ts"]:
                es = int(t.timestamp())  # integer epoch seconds (repo idiom)
                if n == 0:
                    slog = r9(math.log(mu))
                else:
                    r = math.exp(-beta * (es - last_s)) * (1.0 + r)
                    slog = r9(slog + math.log(mu + alpha * r))
                last_s = es
                n += 1
        state.update((r, slog, last_s, n))
        import pandas as pd

        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "r_end": [r],
                "sum_log_intensity": [slog],
            }
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
