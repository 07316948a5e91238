"""Streaming twins must agree with their batch counterparts on replay."""
from pyspark.sql import functions as F

from tsgen import analytics, streaming

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_equals_batch(spark):
    s = streaming.events_stream(spark, SF)
    got = streaming.run_to_completion(streaming.tumbling_counts(s)).toPandas()

    from tsgen.io import read_table

    ev = read_table(spark, SF, "events")
    want = (
        analytics.tumbling(ev, "ts", "hour", ["event_type"], "value")
        .select(
            F.unix_timestamp("bucket").alias("bucket_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .toPandas()
    )
    key = ["bucket_s", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got[key + ["n_events"]].equals(want[key + ["n_events"]])
    assert (got.sum_value - want.sum_value).abs().max() < 1e-9


def test_stream_session_counts_match_batch_sessionize(spark):
    s = streaming.events_stream(spark, SF)
    got = streaming.run_to_completion(streaming.session_counts(s)).toPandas()

    from tsgen.io import read_table

    ev = read_table(spark, SF, "events")
    sess = analytics.sessionize(ev, "user_id", "ts", 30)
    want = sess.groupBy("user_id", "session_id").count().toPandas()
    assert len(got) == len(want)  # same number of sessions
    assert got.n_events.sum() == want["count"].sum()


def test_chunked_replay_tumbling_matches_single_batch(tmp_path, spark):
    # 4 micro-batches (time-ordered chunks, one file per trigger): the
    # windowed aggregate must converge to the same result as one-shot replay
    s = streaming.replay_chunked(spark, SF, 4, str(tmp_path / "chunks"))
    got = streaming.run_to_completion(streaming.tumbling_counts(s)).toPandas()

    one = streaming.events_stream(spark, SF)
    want = streaming.run_to_completion(streaming.tumbling_counts(one)).toPandas()
    key = ["bucket_s", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got[key + ["n_events"]].equals(want[key + ["n_events"]])
    assert (got.sum_value - want.sum_value).abs().max() < 1e-9


def test_chunked_replay_ewma_state_carries(tmp_path, spark):
    # the stateful EWMA must carry state across micro-batch boundaries: the
    # LAST emitted row per user after a 3-chunk replay equals the single-
    # batch result
    s3 = streaming.replay_chunked(spark, SF, 3, str(tmp_path / "chunks3"))
    multi = streaming.run_to_completion(streaming.ewma_stateful(s3), mode="update").toPandas()
    # update mode emits one row per (user, batch); keep the final emit
    multi = multi.loc[multi.groupby("user_id")["n_events"].idxmax()]

    one = streaming.events_stream(spark, SF)
    single = streaming.run_to_completion(streaming.ewma_stateful(one), mode="update").toPandas()
    single = single.loc[single.groupby("user_id")["n_events"].idxmax()]
    j = multi.set_index("user_id").join(
        single.set_index("user_id"), lsuffix="_m", rsuffix="_s"
    )
    assert (j["n_events_m"] == j["n_events_s"]).all()
    assert (j["ewma_m"] - j["ewma_s"]).abs().max() < 1e-9


def test_foreach_batch_sink_roundtrip(tmp_path, spark):
    s = streaming.replay_chunked(spark, SF, 3, str(tmp_path / "chunks_fb"))
    out = streaming.foreach_batch_parquet_sink(
        s.select("event_id", "user_id", "value"), str(tmp_path / "sink")
    )
    from tsgen.io import read_table

    ev = read_table(spark, SF, "events")
    assert out.count() == ev.count()
    # multiple micro-batches actually happened
    assert out.select("_batch_id").distinct().count() == 3
    # content identical (not just cardinality)
    assert out.select(F.sum("value")).collect()[0][0] is not None
    diff = (
        out.select("event_id").exceptAll(ev.select("event_id")).count()
        + ev.select("event_id").exceptAll(out.select("event_id")).count()
    )
    assert diff == 0


def test_stream_stream_join_state_spans_microbatches(tmp_path, spark):
    # pairs whose click and purchase arrive in DIFFERENT micro-batches must
    # still join (buffered state); chunked replay == single-batch replay
    s3 = streaming.replay_chunked(spark, SF, 3, str(tmp_path / "chunks_j"))
    multi = streaming.run_to_completion(
        streaming.stream_stream_join(s3), mode="append"
    ).toPandas()

    one = streaming.events_stream(spark, SF)
    single = streaming.run_to_completion(
        streaming.stream_stream_join(one), mode="append"
    ).toPandas()
    key = ["user_id", "c_ts", "p_ts"]
    multi = multi.sort_values(key).reset_index(drop=True)
    single = single.sort_values(key).reset_index(drop=True)
    assert len(multi) == len(single) and len(single) > 0
    assert multi[key].equals(single[key])


def test_stream_outer_join_null_emission_follows_watermark(spark):
    # left-outer: every matched pair emits; an unmatched click emits (with
    # null purchase columns) iff the watermark PROVES no match can arrive:
    # c_ts + 1h < min(max c_ts, max p_ts) - 2h. Clicks younger than that
    # must NOT produce a null row in a finite replay.
    import pandas as pd
    from pyspark.sql import functions as F

    s = streaming.events_stream(spark, SF)
    out = streaming.run_to_completion(
        streaming.stream_stream_join_outer(s), mode="append"
    ).toPandas()
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    clicks = ev[ev.event_type == "click"][["user_id", "ts"]].rename(columns={"ts": "c_ts"})
    purch = ev[ev.event_type == "purchase"][["user_id", "ts", "value"]].rename(columns={"ts": "p_ts"})
    m = clicks.merge(purch, on="user_id")
    m = m[(m.p_ts >= m.c_ts) & (m.p_ts <= m.c_ts + pd.Timedelta(hours=1))]
    matched_keys = set(zip(m.user_id, m.c_ts))
    wm = min(clicks.c_ts.max(), purch.p_ts.max()) - pd.Timedelta(hours=2)
    un = clicks[~clicks.apply(lambda r: (r.user_id, r.c_ts) in matched_keys, axis=1)]
    expect_null = un[un.c_ts + pd.Timedelta(hours=1) < wm]
    got_null = out[out.p_ts.isna()]
    assert len(got_null) == len(expect_null) > 0
    assert set(zip(got_null.user_id, got_null.c_ts)) == set(
        zip(expect_null.user_id, expect_null.c_ts)
    )
    got_pairs = out[out.p_ts.notna()]
    assert len(got_pairs) == len(m) > 0


def test_chunked_replay_asof_state_carries(tmp_path, spark):
    # a click whose latest purchase arrived in an EARLIER micro-batch must
    # still see it (O(1) per-user state carry); chunked == single-batch
    s3 = streaming.replay_chunked(spark, SF, 3, str(tmp_path / "chunks_asof"))
    multi = streaming.run_to_completion(
        streaming.asof_stateful(s3), mode="update"
    ).toPandas()
    one = streaming.events_stream(spark, SF)
    single = streaming.run_to_completion(
        streaming.asof_stateful(one), mode="update"
    ).toPandas()
    key = ["event_id"]
    multi = multi.sort_values(key).reset_index(drop=True)
    single = single.sort_values(key).reset_index(drop=True)
    assert len(multi) == len(single) > 0
    assert multi.equals(single)
    # and the join is genuinely as-of: some clicks have a purchase, some not
    assert single.last_purchase.notna().any() and single.last_purchase.isna().any()


def test_rate_replay_exact_rows_per_batch(spark):
    # rate-micro-batch ticks x stream-static join: every event arrives
    # exactly once, in deterministic batches of `rows_per_batch`
    sf = "/root/testdata/sf0.001"
    total = spark.read.parquet(f"{sf}/events.parquet").count()
    stream = streaming.replay_rate(spark, sf, rows_per_batch=500)
    out, n_batches = streaming.run_rate_replay_until(stream, total)
    assert out.count() == total
    assert out.select("event_id").distinct().count() == total
    assert n_batches >= 2  # real micro-batch boundaries, not one replay


def test_chunked_replay_ohlc_argmin_state_carries(tmp_path, spark):
    # min_by/max_by partial state (open/close) must merge across micro-batch
    # boundaries: 4-chunk replay equals the single-batch result exactly
    s4 = streaming.replay_chunked(spark, SF, 4, str(tmp_path / "chunks_ohlc"))
    multi = streaming.run_to_completion(streaming.ohlc_stream(s4)).toPandas()
    one = streaming.events_stream(spark, SF)
    single = streaming.run_to_completion(streaming.ohlc_stream(one)).toPandas()
    key = ["bucket_s", "event_type"]
    multi = multi.sort_values(key).reset_index(drop=True)
    single = single.sort_values(key).reset_index(drop=True)
    assert len(multi) == len(single)
    for c in ["open", "high", "low", "close", "volume"]:
        assert (multi[c] - single[c]).abs().max() < 1e-9, c
    assert multi["n_trades"].equals(single["n_trades"])


def test_chunked_replay_hll_state_merges(tmp_path, spark):
    # HLL max-register state must merge across micro-batches: 3-chunk
    # replay produces the identical register table as a single batch
    s3 = streaming.replay_chunked(spark, SF, 3, str(tmp_path / "chunks_hll"))
    multi = streaming.run_to_completion(streaming.hll_register_stream(s3)).toPandas()
    one = streaming.events_stream(spark, SF)
    single = streaming.run_to_completion(streaming.hll_register_stream(one)).toPandas()
    multi = multi.sort_values("bucket").reset_index(drop=True)
    single = single.sort_values("bucket").reset_index(drop=True)
    assert multi.equals(single)


def test_chunked_replay_scd2_state_carries(tmp_path, spark):
    # intervals that SPAN a micro-batch boundary (opened in chunk k, closed
    # in chunk k+1) must still come out exactly as in the one-batch build —
    # the open row lives in the state store between triggers
    from tsgen.queries_warehouse import scd2_intervals
    from tsgen.io import read_table

    s4 = streaming.replay_chunked(spark, SF, 4, str(tmp_path / "chunks_scd2"))
    multi = (
        streaming.run_to_completion(streaming.scd2_stateful(s4), mode="update")
        .toPandas()
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )
    batch = (
        scd2_intervals(read_table(spark, SF, "events"))
        .filter("NOT is_current")
        .select("user_id", "event_type", "valid_from_s", "valid_to_s", "version")
        .toPandas()
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )
    assert len(multi) == len(batch)
    assert (multi["event_type"].values == batch["event_type"].values).all()
    assert (multi["valid_from_s"].values == batch["valid_from_s"].values).all()
    assert (multi["valid_to_s"].values == batch["valid_to_s"].values).all()


def test_chunked_replay_dd_sketch_state_merges(tmp_path, spark):
    # DDSketch bucket counts must ADD across micro-batches: a 3-chunk replay
    # yields the identical bucket table as one batch pass
    from tsgen.sketches import _dd_bucket
    from tsgen.io import read_table
    import pyspark.sql.functions as F

    s3 = streaming.replay_chunked(spark, SF, 3, str(tmp_path / "chunks_dd"))
    multi = {
        r.b: r.cnt
        for r in streaming.run_to_completion(
            streaming.dd_bucket_stream(s3, "value")
        ).collect()
    }
    batch = {
        r.b: r.cnt
        for r in read_table(spark, SF, "events")
        .filter(F.col("value") > 0)
        .select(F.expr(_dd_bucket("value")).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert multi == batch


def test_chunked_replay_cms_counters_add(tmp_path, spark):
    # CMS counters must ADD across micro-batches: 3-chunk replay counter
    # table == single-pass counter table, cell for cell
    s3 = streaming.replay_chunked(spark, SF, 3, str(tmp_path / "chunks_cms"))
    multi = {
        (r.row, r.cell): r.cnt
        for r in streaming.run_to_completion(
            streaming.cms_counter_stream(s3, "user_id")
        ).collect()
    }
    one = streaming.events_stream(spark, SF)
    single = {
        (r.row, r.cell): r.cnt
        for r in streaming.run_to_completion(
            streaming.cms_counter_stream(one, "user_id")
        ).collect()
    }
    assert multi == single


def test_watermark_drops_late_event_across_restart(tmp_path, spark):
    """The late-data contract, in its production shape: a checkpointed
    append-mode aggregation is stopped after emitting a finalized window;
    on restart, a straggler aimed at that window arrives. The PERSISTED
    watermark must drop it (numRowsDroppedByWatermark), and the window
    must never be re-emitted.

    (Caveat discovered here: WITHIN one availableNow run, Spark 4.1 plans
    the late-row filter with the query-start watermark, so a mid-run
    watermark advance evicts state but does not filter input — the
    restart path below is where the drop is guaranteed.)"""
    import pyspark.sql.functions as F

    base, ck = str(tmp_path / "wm_data"), str(tmp_path / "wm_ck")

    def add(rows):
        spark.createDataFrame(
            rows, "event_id long, ts string, value double"
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(base)

    add([
        (1, "2024-01-01 10:00:00", 1.0),
        (2, "2024-01-01 10:30:00", 1.0),
        (3, "2024-01-01 13:30:00", 1.0),  # watermark -> 11:30 > window end
    ])
    schema = spark.read.parquet(base).schema
    emitted, dropped = [], []

    def run_once():
        stream = spark.readStream.schema(schema).parquet(base)
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
            .select(F.unix_timestamp("window.start").alias("s"), "n")
        )

        def fb(df, bid):
            emitted.extend((r.s, r.n) for r in df.collect())

        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(fb)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        for p in q.recentProgress:
            for so in p.get("stateOperators", []):
                dropped.append(so.get("numRowsDroppedByWatermark", 0))

    run_once()
    import calendar

    w10 = calendar.timegm((2024, 1, 1, 10, 0, 0))
    assert emitted == [(w10, 2)]  # finalized with its two on-time rows
    # restart with a straggler aimed at the finalized window
    add([(9, "2024-01-01 10:45:00", 1.0), (4, "2024-01-01 14:00:00", 1.0)])
    run_once()
    assert sum(dropped) == 1               # the straggler was DROPPED
    assert emitted == [(w10, 2)]           # and the window never re-emitted
