"""Analytics operator properties, incl. the skew-salting utility."""
from pyspark.sql import Row, functions as F

from tsgen import analytics


def test_salted_agg_matches_plain(spark):
    # heavily skewed: 90% of rows on one key
    rows = [Row(k="hot", v=float(i)) for i in range(900)] + [
        Row(k=f"cold{i}", v=float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows).repartition(8)
    got = (
        analytics.salted_agg(df, ["k"], {"v": "sum", "n": "count"})
        .toPandas()
        .set_index("k")
        .sort_index()
    )
    want = (
        df.groupBy("k")
        .agg(F.sum("v").alias("v"), F.count("*").alias("n"))
        .toPandas()
        .set_index("k")
        .sort_index()
    )
    assert (got.n == want.n).all()
    assert (got.v - want.v).abs().max() < 1e-9


def test_asof_join_equal_ts_visible(spark):
    # a right row at exactly left.ts must be matched (DuckDB ASOF >= parity)
    left = spark.createDataFrame([Row(event_id=1, user_id=1, ts="2024-01-01 10:00:00")]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    right = spark.createDataFrame(
        [
            Row(user_id=1, ts="2024-01-01 09:00:00", value=1.0),
            Row(user_id=1, ts="2024-01-01 10:00:00", value=2.0),
            Row(user_id=1, ts="2024-01-01 11:00:00", value=3.0),
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    out = analytics.asof_join(left, right, "user_id", "ts", "value").collect()
    assert out[0].asof_value == 2.0


def test_asof_join_no_prior_is_null(spark):
    left = spark.createDataFrame([Row(event_id=1, user_id=1, ts="2024-01-01 08:00:00")]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    right = spark.createDataFrame([Row(user_id=1, ts="2024-01-01 09:00:00", value=1.0)]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = analytics.asof_join(left, right, "user_id", "ts", "value").collect()
    assert out[0].asof_value is None


def test_sql_surface(spark):
    from tsgen import generators, sqlapi

    sqlapi.register_tables(spark, "/root/testdata/sf0.001")
    generators.generate(spark, 4, 16, "sine").createOrReplaceTempView("syn")
    out = spark.sql(
        """
        SELECT (SELECT count(*) FROM events) AS n_events,
               (SELECT count(*) FROM lineitem) AS n_li,
               (SELECT count(*) FROM syn) AS n_syn
        """
    ).collect()[0]
    assert out.n_events > 0 and out.n_li > 0 and out.n_syn == 64


def test_resample_interpolate_linear(spark):
    # three points: (0s, 0.0), (100s, 10.0), (200s, 30.0); grid step 50s
    rows = [
        Row(k=1, ts="2024-01-01 00:00:00", v=0.0),
        Row(k=1, ts="2024-01-01 00:01:40", v=10.0),
        Row(k=1, ts="2024-01-01 00:03:20", v=30.0),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    out = (
        analytics.resample_interpolate(df, "k", "ts", "v", 50)
        .toPandas()
        .sort_values("grid_s")
        .reset_index(drop=True)
    )
    assert len(out) == 5  # 0, 50, 100, 150, 200
    assert list(out.value_interp) == [0.0, 5.0, 10.0, 20.0, 30.0]


def test_zscore_outliers(spark):
    rows = [Row(g="a", v=float(i % 10)) for i in range(200)] + [Row(g="a", v=500.0)]
    df = spark.createDataFrame(rows)
    out = analytics.zscore_outliers(df, "g", "v", threshold=3.0).collect()
    assert len(out) == 1 and out[0].v == 500.0


def test_ses_forecast_matches_pandas(spark):
    from tsgen import forecast, generators

    df = generators.generate(spark, 4, 32, "mixed")
    got = forecast.ses_forecast(df, alpha=0.2).toPandas().set_index("series_id").sort_index()
    pdf = df.toPandas().sort_values(["series_id", "t"])
    for sid, g in pdf.groupby("series_id"):
        level = None
        for v in g.value:
            level = v if level is None else 0.2 * v + 0.8 * level
        assert abs(got.loc[sid, "level"] - level) < 1e-12


def test_seasonal_naive_repeats_last_season(spark):
    from tsgen import forecast, generators

    df = generators.generate(spark, 2, 32, "sine")
    out = forecast.seasonal_naive(df, season=8, horizon=16).toPandas()
    src = df.toPandas().set_index(["series_id", "t"]).value
    for _, r in out.iterrows():
        want = src.loc[(r.series_id, 31 + 1 + (r.h - 1) % 8 - 8)]
        assert abs(r.forecast - want) < 1e-12


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both join sides on the join key co-locates matching rows at
    WRITE time, so the join needs no Exchange at READ time — the 100 TB
    recipe for repeated large-large joins (pay one shuffle once, reuse it
    every query)."""
    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
    )
    od = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_totalprice")
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("li_bkt")
    od.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("od_bkt")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        j = spark.table("li_bkt").join(
            spark.table("od_bkt"), F.expr("l_orderkey = o_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the same join on the raw parquet DOES shuffle both sides
        raw = li.join(od, F.expr("l_orderkey = o_orderkey"))
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert raw_plan.count("Exchange") == 2
        assert j.count() == raw.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS od_bkt")


def test_rank_funcs_two_phase_matches_direct_window(spark, tmp_path):
    # the r9 scale-true rank family (two-phase top-k + arithmetic on
    # per-stratum totals) must be bit-identical to the direct window form,
    # including edge strata: n=1 (percent_rank=0), n<10 (ntile degenerate),
    # duplicate values (total order restored by the event_id tiebreak)
    import tsgen.queries_analytics as qa
    from pyspark.sql import Window

    rows = (
        [Row(event_id=i, event_type="big", value=float((i * 7) % 50)) for i in range(400)]
        + [Row(event_id=1000 + i, event_type="small", value=5.0) for i in range(7)]
        + [Row(event_id=2000, event_type="solo", value=1.25)]
    )
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds(F.col("event_id")))

    # run the query body over the fixture, written where it reads events
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = qa._q_rank_funcs(spark, str(tmp_path)).toPandas()

    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    want = (
        df.select(
            "event_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(10).over(w).alias("decile"),
            F.round(F.percent_rank().over(w) + F.lit(1e-9), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w) + F.lit(1e-9), 6).alias("cume"),
            F.first("value").over(w).alias("top_value"),
        )
        .filter(F.col("rn") <= 200)
        .toPandas()
    )
    got = got.sort_values(["event_type", "rn"]).reset_index(drop=True)
    want = want.sort_values(["event_type", "rn"]).reset_index(drop=True)
    for c in ["event_id", "rn", "rnk", "drnk", "decile"]:
        assert (got[c].astype("int64") == want[c].astype("int64")).all(), c
    for c in ["pct_rank", "cume", "top_value"]:
        assert (got[c] - want[c]).abs().max() < 1e-12, c
