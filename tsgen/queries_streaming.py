"""Driver-contract queries for the streaming twins. Each callable executes
the stream to completion (availableNow) and returns the materialized result,
so tumbling/sliding/session twins are fully oracle-checked against DuckDB."""
from __future__ import annotations

from pyspark.sql import functions as F

from . import streaming
from .io import read_table
from .queries import _REGISTRY, Query, round6
from .queries_analytics import _ASOF_SQL as _STREAM_ASOF_SQL


def _q_stream_tumbling(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.tumbling_counts(s))
    return out.withColumn("sum_value", F.round(F.col("sum_value") + F.lit(1e-9), 4) + F.lit(0.0))


_STREAM_TUMBLING_SQL = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s, event_type,
       count(*) AS n_events, (round((sum(value)) + 1.0e-9,4)+0.0e0) AS sum_value
FROM events GROUP BY 1, 2
"""


def _q_stream_sliding(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.sliding_counts(s))
    return out.withColumn("sum_value", F.round(F.col("sum_value") + F.lit(1e-9), 4) + F.lit(0.0))


# sliding 1h/30min: an event at epoch e belongs to windows starting at
# floor(e/1800)*1800 and floor(e/1800)*1800 - 1800
_STREAM_SLIDING_SQL = """
WITH b AS (
  SELECT (CAST(floor(floor(epoch(ts)) / 1800) AS BIGINT) * 1800) - off.o AS start_s, value
  FROM events CROSS JOIN (SELECT unnest([0, 1800]) AS o) off)
SELECT start_s, count(*) AS n_events, (round((sum(value)) + 1.0e-9,4)+0.0e0) AS sum_value
FROM b GROUP BY start_s
"""


def _q_stream_session(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.session_counts(s))
    return round6(out, "sum_value")


# twin of analytics.sessionize (gap 30 min), keyed by session start
_STREAM_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
       count(*) AS n_events, (round((sum(value)) + 1.0e-9,6)+0.0e0) AS sum_value
FROM sess GROUP BY user_id, session_id
"""


def _q_stream_dedup(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.stream_dedup(s), mode="append")
    return out.groupBy("user_id").agg(F.count("*").alias("n_types"))


_STREAM_DEDUP_SQL = """
SELECT user_id, count(DISTINCT event_type) AS n_types FROM events GROUP BY user_id
"""


def _q_stream_join(spark, sf_dir):
    # stream-stream join executed to completion, then a BATCH aggregation of
    # the materialized pairs (aggregating ON the append-mode join stream
    # would need a second watermark chain; the pair emission itself is the
    # streaming semantics under test)
    s = streaming.events_stream(spark, sf_dir)
    pairs = streaming.run_to_completion(streaming.stream_stream_join(s), mode="append")
    out = pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum("p_val").alias("sum_purchase"),
    )
    return out.withColumn(
        "sum_purchase", F.round(F.col("sum_purchase") + F.lit(1e-9), 4) + F.lit(0.0)
    )


_STREAM_JOIN_SQL = """
SELECT c.user_id, count(*) AS n_pairs,
       (round((sum(p.value)) + 1.0e-9,4)+0.0e0) AS sum_purchase
FROM events c JOIN events p
  ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY c.user_id
"""


def _q_stream_join_outer(spark, sf_dir):
    # left-outer stream-stream join: matched pairs + watermark-proven
    # unmatched clicks, aggregated per user after materialization
    s = streaming.events_stream(spark, sf_dir)
    rows = streaming.run_to_completion(
        streaming.stream_stream_join_outer(s), mode="append"
    )
    out = rows.groupBy("user_id").agg(
        F.count(F.col("p_ts")).alias("n_pairs"),
        F.count_if(F.col("p_ts").isNull()).alias("n_unmatched"),
        F.sum("p_val").alias("sum_purchase"),
    )
    return out.withColumn(
        "sum_purchase",
        F.coalesce(F.round(F.col("sum_purchase") + F.lit(1e-9), 4) + F.lit(0.0), F.lit(0.0)),
    )


# watermark rule (verified empirically at sf0.001 and sf0.01): the global
# watermark is min(max click ts, max purchase ts) - 2h; a click null-emits
# iff c_ts + 1h < that watermark. Matched pairs emit unconditionally.
_STREAM_JOIN_OUTER_SQL = """
WITH wm AS (
  SELECT least(max(CASE WHEN event_type = 'click' THEN ts END),
               max(CASE WHEN event_type = 'purchase' THEN ts END))
         - INTERVAL 2 HOUR AS w
  FROM events),
c AS (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'),
matched AS (
  SELECT c.user_id, p.value AS p_val
  FROM c JOIN p ON c.user_id = p.user_id
   AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR),
unmatched AS (
  SELECT c.user_id
  FROM c, wm
  WHERE c.c_ts + INTERVAL 1 HOUR < wm.w
    AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                    AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR)),
uni AS (
  SELECT user_id, 1 AS is_match, p_val FROM matched
  UNION ALL
  SELECT user_id, 0 AS is_match, NULL AS p_val FROM unmatched)
SELECT user_id,
       CAST(sum(is_match) AS BIGINT) AS n_pairs,
       CAST(count(*) - sum(is_match) AS BIGINT) AS n_unmatched,
       coalesce((round((sum(p_val)) + 1.0e-9,4)+0.0e0), 0.0e0) AS sum_purchase
FROM uni GROUP BY user_id
"""


def _q_stream_asof(spark, sf_dir):
    # streaming as-of join (applyInPandasWithState, O(1) state per user) —
    # checked against the SAME DuckDB ASOF LEFT JOIN oracle as the batch
    # twin ev_asof
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.asof_stateful(s), mode="update")
    return round6(out, "last_purchase")


def _q_stream_psi(spark, sf_dir):
    # streaming drift monitor: the REFERENCE (pre-cutoff bins over a static
    # batch read) is fixed; the CURRENT side's bin counts accumulate as a
    # plain streaming aggregation (counts add across micro-batches, the
    # same mergeability as every sketch twin). PSI combines the
    # materialized counts — same formula, same oracle as ev_psi_drift.
    from pyspark.sql import functions as F

    from .queries_warehouse2 import PSI_BINS, PSI_CUTOFF

    cut = F.lit(PSI_CUTOFF).cast("timestamp")
    static = read_table(spark, sf_dir, "events")
    rng = (
        static.filter(F.col("ts") < cut)
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        # batch-side reference ranges, read by the stream join + ref counts
        # + spine: pin, or each branch re-scans the static side
        .localCheckpoint(eager=False)
    )
    bin_of = F.least(
        F.lit(PSI_BINS - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / PSI_BINS)
            ).cast("int"),
        ),
    )
    s = streaming.events_stream(spark, sf_dir)
    cur_counts = streaming.run_to_completion(
        s.filter(F.col("ts") >= cut)
        .join(F.broadcast(rng), "event_type")
        .select("event_type", bin_of.alias("bin"))
        .groupBy("event_type", "bin")
        .count()
    )
    # combine the static reference counts with the streamed current counts
    # (identical dense-spine + smoothing arithmetic as the batch twin)
    ref_counts = (
        static.filter(F.col("ts") < cut)
        .join(F.broadcast(rng), "event_type")
        .select("event_type", bin_of.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("nr"))
    )
    spine = rng.select(
        "event_type", F.explode(F.sequence(F.lit(0), F.lit(PSI_BINS - 1))).alias("bin")
    )
    dense = (
        spine.join(ref_counts, ["event_type", "bin"], "left")
        .join(cur_counts.withColumnRenamed("count", "nc"), ["event_type", "bin"], "left")
        .select(
            "event_type", "bin",
            F.coalesce("nr", F.lit(0)).alias("nr"),
            F.coalesce("nc", F.lit(0)).alias("nc"),
        )
        .localCheckpoint(eager=False)  # types x bins rows, read twice
    )
    tot = dense.groupBy("event_type").agg(
        F.sum("nr").alias("n_ref"), F.sum("nc").alias("n_cur")
    )
    p = dense.join(F.broadcast(tot), "event_type").select(
        "event_type", "n_ref", "n_cur",
        ((F.col("nr") + 0.5) / (F.col("n_ref") + 0.5 * PSI_BINS)).alias("p_ref"),
        ((F.col("nc") + 0.5) / (F.col("n_cur") + 0.5 * PSI_BINS)).alias("p_cur"),
    )
    out = p.groupBy("event_type", "n_ref", "n_cur").agg(
        F.sum(
            (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
        ).alias("psi")
    )
    out = out.select(
        "event_type", "n_ref", "n_cur", "psi", (F.col("psi") > 0.2).alias("drifted")
    )
    return round6(out, "psi")


def _stream_psi_sql():
    from .queries_warehouse2 import _psi_sql

    return _psi_sql()


def _q_stream_anomalies(spark, sf_dir):
    # custom stateful op (Welford prefix stats) — but its semantics ARE the
    # preceding-rows window, so the streaming result is fully oracle-checked
    from .queries import canon_types, roundn

    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(
        streaming.anomalies_stateful(s, z_thresh=3.0), mode="update"
    )
    return canon_types(roundn(out.select("user_id", "event_id", "ts_s", "value", "z"), 4, "value", "z"))


_STREAM_ANOMALIES_SQL = """
WITH pre AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value,
         avg(value) OVER w AS p_mean,
         stddev_samp(value) OVER w AS p_sd,
         count(*) OVER w AS p_n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT user_id, event_id, ts_s,
       (round((value) + 1.0e-9,4)+0.0e0) AS value,
       (round(((value - p_mean) / p_sd) + 1.0e-9,4)+0.0e0) AS z
FROM pre
WHERE p_n >= 2 AND p_sd > 0 AND abs(value - p_mean) / p_sd > 3.0e0
"""


def _q_stream_ewma(spark, sf_dir):
    # applyInPandasWithState custom stateful op (batch-twin equivalence also
    # in tests/test_stateful.py); oracle = the recursion's closed form
    # ewma = (1−α)^(n−1)·y_0 + α·Σ_{i≥1} (1−α)^(n−1−i)·y_i as a weighted SQL
    # aggregation (same identity as forecast_ses; pow underflow for huge n
    # contributes exactly the terms the recursion has already forgotten)
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.ewma_stateful(s, alpha=0.1), mode="update")
    return round6(out, "ewma")


_STREAM_EWMA_SQL = """
WITH o AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
  FROM events),
n AS (SELECT user_id, count(*) AS n_events FROM o GROUP BY user_id)
SELECT o.user_id, first(n.n_events) AS n_events,
       (round((sum(CASE WHEN o.i = 0 THEN pow(9.0e-1, n.n_events - 1)
                        ELSE 1.0e-1 * pow(9.0e-1, n.n_events - 1 - o.i) END * o.value)) + 1.0e-9,6)+0.0e0) AS ewma
FROM o JOIN n ON o.user_id = n.user_id
GROUP BY o.user_id
"""


def _q_stream_hawkes(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.hawkes_stateful(s), mode="update")
    return round6(out, "r_end", "sum_log_intensity").orderBy("event_type")


def _stream_hawkes_sql() -> str:
    from tsgen.streaming import HAWKES_ALPHA, HAWKES_BETA_S, HAWKES_MU

    from . import expr as E

    mu, al, be = E.NUM(HAWKES_MU), E.NUM(HAWKES_ALPHA), E.NUM(HAWKES_BETA_S)
    # state vector [r, slog]; gaps as 1-element lists so list_reduce
    # type-checks (acc type == element type). Each slog fold step is
    # rounded at 9dp to match the Python state update (ADVICE r06: the
    # running sum otherwise accumulates cross-engine ulp drift linearly).
    slog_step = (
        f"acc[2] + ln({mu} + {al} * (exp(-{be} * x[1]) * (1.0e0 + acc[1])))"
    )
    merge = (
        f"[exp(-{be} * x[1]) * (1.0e0 + acc[1]),"
        f" round(({slog_step}) + 1.0e-12, 9) + 0.0e0]"
    )
    return f"""
WITH es AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
w AS (SELECT event_type, list(es ORDER BY es) AS tss FROM es GROUP BY event_type),
g AS (
  SELECT event_type, CAST(len(tss) AS BIGINT) AS n,
         list_transform(range(2, len(tss) + 1),
                        i -> [CAST(tss[i] - tss[i - 1] AS DOUBLE)]) AS gaps
  FROM w),
f AS (
  SELECT event_type, n,
         list_reduce(list_prepend([0.0e0, round(ln({mu}) + 1.0e-12, 9) + 0.0e0], gaps),
                     (acc, x) -> {merge}) AS st
  FROM g)
SELECT event_type, n AS n_events,
       {E.round6('st[1]')} AS r_end,
       {E.round6('st[2]')} AS sum_log_intensity
FROM f ORDER BY event_type
"""


_REGISTRY.update(
    {
        "stream_ewma": Query("stream_ewma", _q_stream_ewma, _STREAM_EWMA_SQL, ("streaming",)),
        "stream_hawkes": Query(
            "stream_hawkes", _q_stream_hawkes, _stream_hawkes_sql(), ("streaming",)
        ),
        "stream_anomalies": Query(
            "stream_anomalies", _q_stream_anomalies, _STREAM_ANOMALIES_SQL, ("streaming",)
        ),
        "stream_tumbling": Query("stream_tumbling", _q_stream_tumbling, _STREAM_TUMBLING_SQL, ("streaming",)),
        "stream_sliding": Query("stream_sliding", _q_stream_sliding, _STREAM_SLIDING_SQL, ("streaming",)),
        "stream_session": Query("stream_session", _q_stream_session, _STREAM_SESSION_SQL, ("streaming",)),
        "stream_dedup": Query("stream_dedup", _q_stream_dedup, _STREAM_DEDUP_SQL, ("streaming",)),
        "stream_join": Query("stream_join", _q_stream_join, _STREAM_JOIN_SQL, ("streaming",)),
        "stream_join_outer": Query(
            "stream_join_outer", _q_stream_join_outer, _STREAM_JOIN_OUTER_SQL, ("streaming",)
        ),
        "stream_asof": Query(
            "stream_asof", _q_stream_asof, _STREAM_ASOF_SQL, ("streaming",)
        ),
        "stream_psi": Query(
            "stream_psi", _q_stream_psi, _stream_psi_sql(), ("streaming",)
        ),
    }
)


def _q_stream_ohlc(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.ohlc_stream(s))
    return round6(out, "open", "high", "low", "close", "volume")


_STREAM_OHLC_SQL = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
       event_type,
       (round((arg_min(value, ts)) + 1.0e-9,6)+0.0e0) AS open,
       (round((max(value)) + 1.0e-9,6)+0.0e0) AS high,
       (round((min(value)) + 1.0e-9,6)+0.0e0) AS low,
       (round((arg_max(value, ts)) + 1.0e-9,6)+0.0e0) AS close,
       count(*) AS n_trades,
       (round((sum(value)) + 1.0e-9,6)+0.0e0) AS volume
FROM events
GROUP BY 1, 2
"""

_REGISTRY.update(
    {
        "stream_ohlc": Query(
            "stream_ohlc", _q_stream_ohlc, _STREAM_OHLC_SQL, ("streaming",)
        ),
    }
)


def _q_stream_hll(spark, sf_dir):
    from . import sketches

    s = streaming.events_stream(spark, sf_dir)
    regs = streaming.run_to_completion(streaming.hll_register_stream(s))
    agg = regs.agg(
        (
            F.lit(sketches.HLL_ALPHA)
            * F.lit(float(sketches.HLL_M))
            * F.lit(float(sketches.HLL_M))
            / (
                F.sum(F.expr("pow(2.0e0, -rank)"))
                + (F.lit(sketches.HLL_M) - F.count("*"))
            )
        ).alias("raw"),
        (
            (F.lit(sketches.HLL_M) - F.count("*"))
            + F.sum((F.col("rank") == 0).cast("long"))
        ).alias("zeros"),
    )
    est = F.when(
        (F.col("raw") <= 2.5 * sketches.HLL_M) & (F.col("zeros") > 0),
        F.lit(float(sketches.HLL_M))
        * F.log(F.lit(float(sketches.HLL_M)) / F.col("zeros")),
    ).otherwise(F.col("raw"))
    out = agg.select(est.alias("est"))
    return out.withColumn("est", F.round(F.col("est") + F.lit(1e-9), 6) + F.lit(0.0))


def _stream_hll_sql() -> str:
    from . import sketches

    regs = sketches.hll_registers_sql("user_id", "events", sketches._duck_hexparse)
    est = sketches.hll_estimate_sql(regs)
    return f"SELECT (round((est) + 1.0e-9,6)+0.0e0) AS est FROM ({est})"


_REGISTRY.update(
    {
        "stream_hll": Query(
            "stream_hll", _q_stream_hll, _stream_hll_sql(), ("streaming", "sketch")
        ),
    }
)


def _q_stream_scd2(spark, sf_dir):
    # streaming type-2 SCD build (applyInPandasWithState); output = the
    # CLOSED intervals of the batch scd2_intervals build (the open row per
    # entity lives in the state store until the next change arrives)
    from .queries import canon_types

    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.scd2_stateful(s), mode="update")
    return canon_types(
        out.select("user_id", "event_type", "valid_from_s", "valid_to_s", "version")
    )


_STREAM_SCD2_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
ch AS (SELECT user_id, event_type, ts, event_id FROM e
       WHERE prev IS NULL OR event_type <> prev),
iv AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
         CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_s,
         CAST(row_number() OVER w AS BIGINT) AS version
  FROM ch
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_type, valid_from_s, valid_to_s, version
FROM iv WHERE valid_to_s IS NOT NULL
"""

_REGISTRY.update(
    {
        "stream_scd2": Query(
            "stream_scd2", _q_stream_scd2, _STREAM_SCD2_SQL, ("streaming",)
        ),
    }
)


def _q_stream_dd(spark, sf_dir):
    # streaming DDSketch: bucket counts accumulate across micro-batches,
    # quantile probes run on the final merged sketch
    from . import sketches

    s = streaming.events_stream(spark, sf_dir)
    buckets = streaming.run_to_completion(streaming.dd_bucket_stream(s, "value"))
    probe = sketches.dd_probe_buckets(buckets)
    out = probe.select("q", sketches.dd_estimate_col().alias("est")).orderBy("q")
    return round6(out, "est")


def _stream_dd_sql() -> str:
    from . import sketches

    inner = sketches.dd_quantiles_sql("value", "events")
    return f"""
SELECT q, (round((est) + 1.0e-9,6)+0.0e0) AS est FROM ({inner}) ORDER BY q
"""


_REGISTRY.update(
    {
        "stream_dd_quantiles": Query(
            "stream_dd_quantiles", _q_stream_dd, _stream_dd_sql(), ("streaming",)
        ),
    }
)


def _q_stream_cms(spark, sf_dir):
    # streaming CMS heavy-hitter estimates for the top-10 users: counters
    # accumulate across micro-batches; probes run on the merged sketch
    from . import sketches
    from .queries import canon_types

    s = streaming.events_stream(spark, sf_dir)
    counters = streaming.run_to_completion(streaming.cms_counter_stream(s, "user_id"))

    ev = read_table(spark, sf_dir, "events")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(10)
    )
    x = sketches._hash48("user_id", sketches._spark_hexparse)
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.expr(sketches._cms_cell(i, x)).alias("cell"),
                    )
                    for i in range(sketches.CMS_D)
                ]
            )
        ).alias("rc"),
    ).select("user_id", "exact_n", "rc.row", "rc.cell")
    est = (
        probes.join(F.broadcast(counters), ["row", "cell"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return canon_types(est.withColumn("overcount", F.col("cms_n") - F.col("exact_n")))


def _stream_cms_sql() -> str:
    from . import sketches

    x = sketches._hash48("user_id", sketches._duck_hexparse)
    cell_rows = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row, {sketches._cms_cell(i, x)} AS cell FROM events"
        for i in range(sketches.CMS_D)
    )
    return f"""
WITH cells AS ({cell_rows}),
counters AS (SELECT row, cell, count(*) AS cnt FROM cells GROUP BY row, cell),
exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id
          ORDER BY exact_n DESC, user_id LIMIT 10),
probes AS (
  SELECT e.user_id, e.exact_n, c.row, c.cell
  FROM exact e JOIN (SELECT DISTINCT user_id, row, cell FROM cells) c
    ON c.user_id = e.user_id),
est AS (
  SELECT p.user_id, p.exact_n, min(cnt) AS cms_n
  FROM probes p JOIN counters USING (row, cell)
  GROUP BY p.user_id, p.exact_n)
SELECT user_id, exact_n, cms_n, cms_n - exact_n AS overcount FROM est
"""


def _q_stream_cdc(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.cdc_stateful(s), mode="update")
    return round6(out, "final_value")


def _stream_cdc_sql() -> str:
    # single-file replay = one micro-batch, so the streaming output equals
    # the batch CDC apply exactly (cross-micro-batch state carry is covered
    # in tests/test_tsmining.py)
    from .queries_tsmining import _CDC_SQL

    return _CDC_SQL


def _q_stream_counter_rate(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(
        streaming.counter_rate_stateful(s), mode="update"
    )
    return round6(out, "increase", "rate_per_s")


def _stream_counter_rate_sql() -> str:
    # single-file replay = one micro-batch = the batch counter semantics
    from .queries_tsmining import _COUNTER_RATE_SQL

    return _COUNTER_RATE_SQL


def _q_stream_m4(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.m4_stream(s), mode="complete")
    return round6(out, "v_min", "v_max", "v_first", "v_last")


def _stream_m4_sql() -> str:
    # mergeable envelope: single-file replay equals the batch M4 exactly
    from .queries_tsmining import _M4_SQL

    return _M4_SQL


def _q_stream_lombscargle(spark, sf_dir):
    s = streaming.events_stream(spark, sf_dir)
    out = streaming.run_to_completion(streaming.lombscargle_stream(s), mode="complete")
    return round6(out, "power", "power_norm")


def _stream_lombscargle_sql(max_hours: int = 24) -> str:
    from . import expr as E
    from .queries_tsmining import TWO_PI

    # same UNCENTERED-sums formulation as the stream (algebraic centering,
    # absolute-micros phase anchor) — deliberately different float path from
    # the batch ts_lombscargle oracle, matched to its own twin
    return f"""
WITH grid AS (SELECT unnest(range(1, {max_hours + 1})) AS period_hours),
e AS (
  SELECT ev.event_type, g.period_hours, ev.value AS v,
         CAST(epoch_us(ev.ts) % (g.period_hours * 3600 * 1000000) AS DOUBLE)
           * ({E.NUM(TWO_PI)} / CAST(g.period_hours * 3600 * 1000000 AS DOUBLE)) AS theta
  FROM events ev CROSS JOIN grid g),
agg AS (
  SELECT event_type, period_hours, count(*) AS n,
         sum(v) AS sv, sum(v * v) AS sv2,
         sum(v * cos(theta)) AS sc, sum(v * sin(theta)) AS sn,
         sum(cos(theta)) AS c1, sum(sin(theta)) AS s1,
         sum(cos(theta * 2)) AS c2, sum(sin(theta * 2)) AS s2
  FROM e GROUP BY event_type, period_hours),
c AS (
  SELECT event_type, period_hours, n, c2, s2,
         sc - (sv / n) * c1 AS svc,
         sn - (sv / n) * s1 AS svs,
         sv2 - n * (sv / n) * (sv / n) AS sv2c
  FROM agg),
p AS (
  SELECT event_type, period_hours, n, sv2c,
         ((cos(atan2(s2, c2) / 2) * svc + sin(atan2(s2, c2) / 2) * svs) ^ 2
            / ((n + cos(atan2(s2, c2)) * c2 + sin(atan2(s2, c2)) * s2) / 2)
          + (cos(atan2(s2, c2) / 2) * svs - sin(atan2(s2, c2) / 2) * svc) ^ 2
            / ((n - cos(atan2(s2, c2)) * c2 - sin(atan2(s2, c2)) * s2) / 2)) / 2 AS power
  FROM c)
SELECT event_type, period_hours, n,
       {E.round6("power")} AS power,
       {E.round6("power / (sv2c / (n - 1))")} AS power_norm
FROM p
"""


_REGISTRY.update(
    {
        "stream_cms_topk": Query(
            "stream_cms_topk", _q_stream_cms, _stream_cms_sql(), ("streaming",)
        ),
        "stream_lombscargle": Query(
            "stream_lombscargle",
            _q_stream_lombscargle,
            _stream_lombscargle_sql(),
            ("streaming",),
        ),
        "stream_cdc_apply": Query(
            "stream_cdc_apply",
            _q_stream_cdc,
            _stream_cdc_sql(),
            ("streaming",),
        ),
        "stream_m4": Query(
            "stream_m4",
            _q_stream_m4,
            _stream_m4_sql(),
            ("streaming",),
        ),
        "stream_counter_rate": Query(
            "stream_counter_rate",
            _q_stream_counter_rate,
            _stream_counter_rate_sql(),
            ("streaming",),
        ),
    }
)


# --- streaming incremental materialized view --------------------------------
def _q_stream_mview(spark, sf_dir):
    """Streaming twin of ev_mview_merge: the delta side of the incremental
    rollup is computed by Structured Streaming (watermarked 1-day tumbling
    window over the replayed event stream, counts/sums/min/max — all
    mergeable), then merged with the stored batch state via the identical
    distributive-aggregate algebra. The oracle is the full batch recompute,
    proving stream-delta + stored-state == truth — the Lambda-architecture
    equivalence check."""
    from .queries_warehouse2 import MV_CUTOFF, mv_combine, mv_state

    ev = read_table(spark, sf_dir, "events")
    cut = F.lit(MV_CUTOFF).cast("timestamp")
    base = mv_state(ev.filter(F.col("ts") < cut)).localCheckpoint(eager=False)

    s = streaming.events_stream(spark, sf_dir)
    delta_stream = (
        s.filter(F.col("ts") >= cut)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "event_type",
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )
    delta = streaming.run_to_completion(delta_stream)
    return mv_combine(base, delta)


from .queries_warehouse2 import _MVIEW_SQL as _STREAM_MVIEW_SQL  # noqa: E402

_REGISTRY.update(
    {
        "stream_mview": Query(
            "stream_mview", _q_stream_mview, _STREAM_MVIEW_SQL, ("streaming",)
        ),
    }
)


# --- streaming sequential A/B monitor ---------------------------------------
def _q_stream_msprt(spark, sf_dir):
    """Streaming twin of ev_msprt: the per-day mergeable partials
    (conditional per-arm count/sum) are computed by a watermarked 1-day
    streaming window over the replayed event stream; the mixture LR and
    running-min always-valid p finish on the materialized ~30-row daily
    table, exactly as the batch monitor does. Same oracle — the
    stream-computed partials must land on the identical monitor path."""
    from .queries_causal import ITS_EPOCH_DAY0, msprt_from_daily, msprt_s2

    ev = read_table(spark, sf_dir, "events")
    s = streaming.events_stream(spark, sf_dir)
    arm0 = F.col("user_id") % 2 == 0
    daily_stream = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.sum(F.when(arm0, 1).otherwise(0)).cast("double").alias("n0"),
            F.sum(F.when(~arm0, 1).otherwise(0)).cast("double").alias("n1"),
            F.sum(F.when(arm0, F.col("value")).otherwise(0.0)).alias("s0"),
            F.sum(F.when(~arm0, F.col("value")).otherwise(0.0)).alias("s1"),
        )
        .select(
            (
                F.floor(F.unix_timestamp("w.start") / 86400).cast("bigint")
                - F.lit(ITS_EPOCH_DAY0)
            ).alias("day"),
            "n0", "n1", "s0", "s1",
        )
    )
    daily = streaming.run_to_completion(daily_stream)
    return msprt_from_daily(daily, msprt_s2(ev))


from .queries_causal import _msprt_sql as _stream_msprt_sql_gen  # noqa: E402

_REGISTRY.update(
    {
        "stream_msprt": Query(
            "stream_msprt", _q_stream_msprt, _stream_msprt_sql_gen(), ("streaming",)
        ),
    }
)
