"""Stateful streaming EWMA vs batch twin; range/salted join equivalence."""
from pyspark.sql import Row, functions as F

from tsgen import analytics, streaming

SF = "/root/testdata/sf0.001"


def test_ewma_stateful_matches_pandas(spark):
    s = streaming.events_stream(spark, SF)
    got = (
        streaming.run_to_completion(streaming.ewma_stateful(s, alpha=0.1), mode="update")
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )

    from tsgen.io import read_table

    pdf = read_table(spark, SF, "events").toPandas().sort_values(["user_id", "ts", "event_id"])
    for uid, g in pdf.groupby("user_id"):
        ewma = None
        for v in g.value:
            ewma = v if ewma is None else 0.1 * v + 0.9 * ewma
        assert abs(got.loc[uid, "ewma"] - ewma) < 1e-9
        assert got.loc[uid, "n_events"] == len(g)


def test_bucketed_range_join_matches_naive(spark):
    from tsgen.io import read_table

    ev = read_table(spark, SF, "events")
    intervals = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("w_start"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 90 MINUTES"))
        .select("w_start", "w_end")
    )
    fast = analytics.bucketed_range_join(ev, intervals, "ts", "w_start", "w_end")
    naive = ev.join(
        intervals, (ev.ts >= intervals.w_start) & (ev.ts < intervals.w_end)
    )
    assert fast.count() == naive.count()
    a = fast.groupBy("event_type").count().toPandas().set_index("event_type").sort_index()
    b = naive.groupBy("event_type").count().toPandas().set_index("event_type").sort_index()
    assert a.equals(b)


def test_salted_join_matches_plain(spark):
    rows = [Row(k=("hot" if i % 10 else f"c{i}"), v=float(i)) for i in range(1000)]
    left = spark.createDataFrame(rows).repartition(8)
    right = spark.createDataFrame([Row(k="hot", w=1.0)] + [Row(k=f"c{i}", w=2.0) for i in range(0, 1000, 10)])
    got = analytics.salted_join(left, right, "k")
    want = left.join(right, "k")
    assert got.count() == want.count()
    gs = got.agg(F.sum(F.col("v") * F.col("w"))).collect()[0][0]
    ws = want.agg(F.sum(F.col("v") * F.col("w"))).collect()[0][0]
    assert abs(gs - ws) < 1e-6


def test_anomalies_state_carries_across_microbatches(tmp_path, spark):
    # chunked replay (4 real micro-batches) must produce the same flagged
    # set as a single-batch replay: Welford state carries across batches
    sf = "/root/testdata/sf0.001"
    single = streaming.run_to_completion(
        streaming.anomalies_stateful(streaming.events_stream(spark, sf)), mode="update"
    )
    chunked_src = streaming.replay_chunked(spark, sf, 4, str(tmp_path / "chunks"))
    chunked = streaming.run_to_completion(
        streaming.anomalies_stateful(chunked_src), mode="update"
    )
    a = {(r.user_id, r.event_id): round(r.z, 9) for r in single.collect()}
    b = {(r.user_id, r.event_id): round(r.z, 9) for r in chunked.collect()}
    assert a == b and len(a) > 0


def test_hawkes_r9_helper_matches_duckdb_round():
    # the stream_hawkes Python state update rounds each slog increment with
    # a hand-rolled half-away-from-zero helper; it must agree with the
    # DuckDB fold's round(x + 1e-12, 9) on negatives and near-half values
    import math

    import duckdb

    def r9(x: float) -> float:  # mirror of streaming.hawkes_stateful::r9
        y = x + 1e-12
        return math.copysign(math.floor(abs(y) * 1e9 + 0.5), y) / 1e9

    vals = [
        0.0, 1.0, -1.0, -6.2146080984222,  # typical ln(mu)-scale values
        0.1234567895, -0.1234567895,       # exactly at the 9dp half grid
        0.12345678949, -0.12345678949,
        1e-10, -1e-10, 12345.000000000499, -62000.123456789,
        math.log(2.0e-3),                  # the actual stream_hawkes init
    ]
    con = duckdb.connect()
    for v in vals:
        got = con.execute(
            "SELECT round(CAST(? AS DOUBLE) + 1.0e-12, 9) + 0.0e0", [v]
        ).fetchone()[0]
        assert r9(v) == got, (v, r9(v), got)
