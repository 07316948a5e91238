"""Product-experimentation + graph-metric queries (north-star extension:
the analyses run on top of the event stream / near-dup graph).

- ev_attribution: last-touch marketing attribution — each purchase credits
  the latest prior click/view of the same user inside a lookback window.
  One window shuffle on user_id (no join): conditional last_value IGNORE
  NULLS carries the touch forward to the conversion row.
- ab_experiment: deterministic hash-split A/B readout with a Welch t-stat
  — assignment is pure arithmetic on user_id (identical in both engines),
  the whole readout is two partial-agged aggregations.
- ev_winsorize: per-group winsorized means — exact interpolated p05/p95
  per event_type (tiny result) broadcast back, then clamp + re-aggregate.
- graph_triangles: triangle count + global clustering coefficient of the
  near-dup graph (the structure check after pair generation: near-dup
  clusters should be dense). Standard edge-join formulation: E⋈E produces
  wedges, a semi-join against E closes them; the df-capped pair generator
  bounds max degree, which bounds the wedge blowup.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import dedup
from .io import read_table
from .queries import _REGISTRY, Query, canon_types, round6, roundn
from .queries_pipeline import CLUSTER_THR

LOOKBACK_S = 7 * 24 * 3600


# --- last-touch attribution ------------------------------------------------
def last_touch_attribution(
    ev: DataFrame,
    conversion: str = "purchase",
    touches: tuple[str, ...] = ("click", "view"),
    lookback_s: int = LOOKBACK_S,
) -> DataFrame:
    """For every conversion event: the most recent prior touch event of the
    same user, or 'direct' if none within the lookback window."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*touches)
    tt = F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w)
    tts = F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w)
    tid = F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True).over(w)
    out = (
        ev.select(
            "event_id", "user_id", "ts", "event_type", "value",
            tt.alias("_tt"), tts.alias("_tts"), tid.alias("_tid"),
        )
        .filter(F.col("event_type") == conversion)
    )
    age = F.unix_timestamp("ts") - F.unix_timestamp("_tts")
    in_window = F.col("_tts").isNotNull() & (age <= lookback_s)
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("value"),
        F.when(in_window, F.col("_tt")).otherwise(F.lit("direct")).alias("touch_type"),
        F.when(in_window, F.col("_tid")).alias("touch_event_id"),
        F.when(in_window, age).alias("touch_age_s"),
    )


def _q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(last_touch_attribution(read_table(spark, sf_dir, "events")), "value")


_ATTRIBUTION_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, ts, event_type, value,
         last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS) OVER w AS tt,
         last_value(CASE WHEN event_type IN ('click','view') THEN ts END IGNORE NULLS) OVER w AS tts,
         last_value(CASE WHEN event_type IN ('click','view') THEN event_id END IGNORE NULLS) OVER w AS tid
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       (round((value) + 1.0e-9,6)+0.0e0) AS value,
       CASE WHEN tts IS NOT NULL
             AND CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(tts)) AS BIGINT) <= {LOOKBACK_S}
            THEN tt ELSE 'direct' END AS touch_type,
       CASE WHEN tts IS NOT NULL
             AND CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(tts)) AS BIGINT) <= {LOOKBACK_S}
            THEN tid END AS touch_event_id,
       CASE WHEN tts IS NOT NULL
             AND CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(tts)) AS BIGINT) <= {LOOKBACK_S}
            THEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(tts)) AS BIGINT) END AS touch_age_s
FROM e WHERE event_type = 'purchase'
"""


# --- multi-touch attribution -------------------------------------------------
def multi_touch_attribution(
    ev: DataFrame,
    conversion: str = "purchase",
    touches: tuple[str, ...] = ("click", "view"),
    lookback_s: int = LOOKBACK_S,
) -> DataFrame:
    """Multi-touch marketing attribution: every conversion distributes its
    value over ALL prior touches inside the lookback window under two
    schemes — linear (1/n each) and U-shaped (40% first, 40% last, 20%
    split across middles; 100%/50-50 for n=1/2). Emits total credit per
    touch event.

    One user-keyed window collects the ordered prior-touch list (bounded by
    a user's lookback history — the same per-entity bound every CDP makes);
    the credit explosion is array work per conversion row, then one
    partial-agged groupBy on the touch event id."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*touches)
    arr = F.collect_list(
        F.when(is_touch, F.struct(F.unix_micros("ts").alias("tus"), F.col("event_id").alias("eid")))
    ).over(w)
    conv = (
        ev.withColumn("_arr", arr)
        .filter(F.col("event_type") == conversion)
        .withColumn("_cus", F.unix_micros("ts"))
        .withColumn(
            "_tl",
            F.filter(
                F.col("_arr"),
                lambda x: x["tus"] >= F.col("_cus") - F.lit(lookback_s * 1_000_000),
            ),
        )
        .withColumn("_n", F.size("_tl"))
        .filter(F.col("_n") > 0)
    )
    ex = conv.select(
        "value", "_n", F.posexplode("_tl").alias("i", "t")
    )
    wl = F.lit(1.0) / F.col("_n")
    wu = (
        F.when(F.col("_n") == 1, F.lit(1.0))
        .when(F.col("_n") == 2, F.lit(0.5))
        .when(F.col("i") == 0, F.lit(0.4))
        .when(F.col("i") == F.col("_n") - 1, F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("_n") - 2))
    )
    return (
        ex.select(
            F.col("t.eid").alias("touch_event_id"),
            (F.col("value") * wl).alias("cl"),
            (F.col("value") * wu).alias("cu"),
        )
        .groupBy("touch_event_id")
        .agg(
            F.count("*").alias("n_credits"),
            F.sum("cl").alias("credit_linear"),
            F.sum("cu").alias("credit_u"),
        )
    )


def _q_attribution_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(
        multi_touch_attribution(read_table(spark, sf_dir, "events")), "credit_linear", "credit_u"
    )


_ATTRIBUTION_MULTI_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, ts, event_type, value,
         list_filter(
           list(CASE WHEN event_type IN ('click','view')
                     THEN {{'tus': epoch_us(ts), 'eid': event_id}} END) OVER w,
           x -> x IS NOT NULL) AS arr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
conv AS (
  SELECT value, list_filter(arr, x -> x.tus >= epoch_us(ts) - {LOOKBACK_S} * CAST(1000000 AS BIGINT)) AS tl
  FROM e WHERE event_type = 'purchase'),
ex AS (
  SELECT value, len(tl) AS n, u.i - 1 AS i, tl[u.i].eid AS eid
  FROM (SELECT value, tl, unnest(range(1, len(tl) + 1)) AS i FROM conv WHERE len(tl) > 0) u(value, tl, i)),
credits AS (
  SELECT eid,
         value * (1.0e0 / n) AS cl,
         value * (CASE WHEN n = 1 THEN 1.0e0 WHEN n = 2 THEN 0.5e0
                       WHEN i = 0 THEN 0.4e0 WHEN i = n - 1 THEN 0.4e0
                       ELSE 0.2e0 / (n - 2) END) AS cu
  FROM ex)
SELECT eid AS touch_event_id, count(*) AS n_credits,
       (round((sum(cl)) + 1.0e-9,6)+0.0e0) AS credit_linear,
       (round((sum(cu)) + 1.0e-9,6)+0.0e0) AS credit_u
FROM credits GROUP BY eid
"""


# --- time-decay attribution --------------------------------------------------
DECAY_HL_S = 24 * 3600  # credit half-life: 1 day


def time_decay_attribution(
    ev: DataFrame,
    conversion: str = "purchase",
    touches: tuple[str, ...] = ("click", "view"),
    lookback_s: int = LOOKBACK_S,
    half_life_s: int = DECAY_HL_S,
) -> DataFrame:
    """Time-decay multi-touch attribution: each conversion splits its value
    over prior touches in the lookback window with exponentially decaying
    weight w_i = 2^(-(t_conv - t_i)/half_life), normalized per conversion —
    the touch a day before conversion earns half the credit of one at the
    instant of conversion. Same per-user window shape as
    multi_touch_attribution; the per-conversion normalizer is a sequential
    array fold (F.aggregate) BEFORE the explode, so it is one pass over the
    bounded touch list, not a second shuffle. Decay exponents use exact
    BIGINT microsecond deltas over a double half-life, so both engines
    evaluate pow(2, .) on bit-identical arguments."""
    hl_us = float(half_life_s) * 1e6
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*touches)
    arr = F.collect_list(
        F.when(is_touch, F.struct(F.unix_micros("ts").alias("tus"), F.col("event_id").alias("eid")))
    ).over(w)
    decay = lambda tus: F.pow(
        F.lit(2.0), -((F.col("_cus") - tus) / F.lit(hl_us))
    )
    conv = (
        ev.withColumn("_arr", arr)
        .filter(F.col("event_type") == conversion)
        .withColumn("_cus", F.unix_micros("ts"))
        .withColumn(
            "_tl",
            F.filter(
                F.col("_arr"),
                lambda x: x["tus"] >= F.col("_cus") - F.lit(lookback_s * 1_000_000),
            ),
        )
        .filter(F.size("_tl") > 0)
        .withColumn(
            "_denom",
            F.aggregate("_tl", F.lit(0.0), lambda acc, x: acc + decay(x["tus"])),
        )
    )
    ex = conv.select("value", "_cus", "_denom", F.explode("_tl").alias("t"))
    return (
        ex.select(
            F.col("t.eid").alias("touch_event_id"),
            (F.col("value") * decay(F.col("t.tus")) / F.col("_denom")).alias("c"),
        )
        .groupBy("touch_event_id")
        .agg(F.count("*").alias("n_credits"), F.sum("c").alias("credit_decay"))
    )


def _q_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round6(time_decay_attribution(read_table(spark, sf_dir, "events")), "credit_decay")


def _attribution_decay_sql() -> str:
    from . import expr as E

    hl = E.NUM(float(DECAY_HL_S) * 1e6)
    wexpr = f"pow(2.0e0, -((cus - tl[u.i].tus) / {hl}))"
    return f"""
WITH e AS (
  SELECT event_id, user_id, ts, event_type, value,
         list_filter(
           list(CASE WHEN event_type IN ('click','view')
                     THEN {{'tus': epoch_us(ts), 'eid': event_id}} END) OVER w,
           x -> x IS NOT NULL) AS arr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
conv AS (
  SELECT value, epoch_us(ts) AS cus,
         list_filter(arr, x -> x.tus >= epoch_us(ts) - {LOOKBACK_S} * CAST(1000000 AS BIGINT)) AS tl
  FROM e WHERE event_type = 'purchase'),
cd AS (
  SELECT value, cus, tl,
         list_reduce(
           list_prepend(0.0e0, list_transform(tl, x -> pow(2.0e0, -((cus - x.tus) / {hl})))),
           (a, b) -> a + b) AS denom
  FROM conv WHERE len(tl) > 0),
credits AS (
  SELECT tl[u.i].eid AS eid, value * {wexpr} / denom AS c
  FROM (SELECT value, cus, denom, tl, unnest(range(1, len(tl) + 1)) AS i FROM cd)
       u(value, cus, denom, tl, i))
SELECT eid AS touch_event_id, count(*) AS n_credits,
       {E.round6("sum(c)")} AS credit_decay
FROM credits GROUP BY eid
"""


# --- A/B experiment readout ------------------------------------------------
def ab_readout(ev: DataFrame, metric_type: str = "purchase") -> DataFrame:
    """Hash-split users into A/B by deterministic arithmetic, compare mean
    per-user metric with a Welch t-statistic. Two aggregations total; the
    per-variant stats table is 2 rows, so the t computation is free."""
    per_user = (
        ev.filter(F.col("event_type") == metric_type)
        .groupBy("user_id")
        .agg(F.sum("value").alias("m"))
        .withColumn("variant", ((F.col("user_id") * 2654435761) % 2147483647) % 2)
    )
    stats = per_user.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.avg("m").alias("mean_m"),
        F.var_samp("m").alias("var_m"),
    )
    a = stats.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_a"), F.col("mean_m").alias("mean_a"), F.col("var_m").alias("var_a")
    )
    b = stats.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_b"), F.col("mean_m").alias("mean_b"), F.col("var_m").alias("var_b")
    )
    out = a.crossJoin(b)
    se = F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b"))
    return out.select(
        "n_a", "n_b", "mean_a", "mean_b",
        (F.col("mean_b") - F.col("mean_a")).alias("lift"),
        ((F.col("mean_b") - F.col("mean_a")) / se).alias("t_stat"),
    )


def _q_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundn(
        ab_readout(read_table(spark, sf_dir, "events")), 4,
        "mean_a", "mean_b", "lift", "t_stat",
    )


_AB_SQL = """
WITH pu AS (
  SELECT user_id, sum(value) AS m,
         ((user_id * 2654435761) % 2147483647) % 2 AS variant
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
s AS (SELECT variant, count(*) AS n, avg(m) AS mean_m, var_samp(m) AS var_m
      FROM pu GROUP BY variant)
SELECT a.n AS n_a, b.n AS n_b,
       (round((a.mean_m) + 1.0e-9,4)+0.0e0) AS mean_a,
       (round((b.mean_m) + 1.0e-9,4)+0.0e0) AS mean_b,
       (round((b.mean_m - a.mean_m) + 1.0e-9,4)+0.0e0) AS lift,
       (round(((b.mean_m - a.mean_m) / sqrt(a.var_m / a.n + b.var_m / b.n)) + 1.0e-9,4)+0.0e0) AS t_stat
FROM (SELECT * FROM s WHERE variant = 0) a CROSS JOIN (SELECT * FROM s WHERE variant = 1) b
"""


# --- winsorized means ------------------------------------------------------
def winsorize(ev: DataFrame, lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """Per-group winsorization: exact interpolated quantiles per group
    (tiny result, broadcast back), clamp, re-aggregate. The quantiles come
    from order statistics on the stratified_rank scaffold (r9) — the
    built-in percentile() buffers every group value in one task, a wall
    when groups are low-cardinality and corpus-sized."""
    from .queries_scale import stratified_percentiles

    q = stratified_percentiles(
        ev, "event_type", "value", [lo, hi], ["_plo", "_phi"]
    )
    j = ev.join(F.broadcast(q), "event_type")
    clamped = F.least(F.greatest(F.col("value"), F.col("_plo")), F.col("_phi"))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") < F.col("_plo")).cast("long")).alias("n_clamped_lo"),
        F.sum((F.col("value") > F.col("_phi")).cast("long")).alias("n_clamped_hi"),
        F.avg("value").alias("mean_raw"),
        F.avg(clamped).alias("mean_winsorized"),
    )


def _q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundn(
        winsorize(read_table(spark, sf_dir, "events")), 4, "mean_raw", "mean_winsorized"
    )


_WINSORIZE_SQL = """
WITH q AS (SELECT event_type, quantile_cont(value, 0.05) AS plo,
                  quantile_cont(value, 0.95) AS phi
           FROM events GROUP BY event_type)
SELECT e.event_type, count(*) AS n,
       CAST(sum(CASE WHEN value < plo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
       CAST(sum(CASE WHEN value > phi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
       (round((avg(value)) + 1.0e-9,4)+0.0e0) AS mean_raw,
       (round((avg(least(greatest(value, plo), phi))) + 1.0e-9,4)+0.0e0) AS mean_winsorized
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type
"""


# --- triangle count / clustering coefficient -------------------------------
def triangle_stats(edges: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Global triangle count + clustering coefficient over an undirected
    edge list (a < b). Wedges from E⋈E (join on the middle vertex), closed
    by a semi-join back to E; wedge count per node from the degree table.
    Max degree is bounded by the pair generator's df-cap, which bounds the
    E⋈E fan-out — the standard scalable triangle-count shape."""
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).distinct()
    e = e.localCheckpoint(eager=False)
    # wedges u<v<w centered anywhere: join (u,v) with (v,w)
    w1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    w2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = w1.join(w2, "y")
    tri = wedges.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("z")), ["x", "z"], "left_semi"
    ).agg(F.count("*").alias("n_triangles"))
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    sums = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("bigint").alias("n_wedges"),
    )
    ecnt = e.agg(F.count("*").alias("n_edges"))
    out = sums.crossJoin(ecnt).crossJoin(tri)
    return out.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.when(F.col("n_wedges") > 0, 3.0 * F.col("n_triangles") / F.col("n_wedges"))
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    return round6(triangle_stats(pairs), "clustering_coeff")


def _triangles_sql() -> str:
    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    return f"""
WITH jp AS ({jp}),
e AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM jp),
tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.u = e1.v
  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)),
deg AS (SELECT node, count(*) AS deg
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
      FROM deg),
ec AS (SELECT count(*) AS n_edges FROM e)
SELECT s.n_nodes, ec.n_edges, tri.n_triangles, s.n_wedges,
       CASE WHEN s.n_wedges > 0
            THEN (round((3.0e0 * tri.n_triangles / s.n_wedges) + 1.0e-9,6)+0.0e0)
            ELSE 0.0e0 END AS clustering_coeff
FROM s CROSS JOIN ec CROSS JOIN tri
"""


# --- PageRank over the near-dup graph --------------------------------------
PR_DAMP, PR_ITER = 0.85, 8


def pagerank(
    edges: DataFrame, a: str = "doc_a", b: str = "doc_b",
    damping: float = PR_DAMP, n_iter: int = PR_ITER,
) -> DataFrame:
    """PageRank on an undirected edge list (symmetrized): fixed-iteration
    power method. Per round: one equi-join (edge ⋈ rank on the source) +
    one partial-agged sum by destination — the canonical distributed shape.
    The rank chain is LAZY (no per-round localCheckpoint): after the
    constants hoist below it is linear lineage off two pinned tables, and
    the r14 pinned-vs-lazy A/B measured the per-round pins a 1.06x tie at
    sf0.1 but a 1.57x LOSS on the 4x scale-proof corpus (8 serialized
    node-table materializations vs one fused lazy DAG). Every node of a
    symmetrized graph has out-degree ≥ 1, so there is no dangling mass.

    Cross-engine determinism: per-node contribution sums are O(deg)-term
    float sums whose association-order noise is ~1e-15 — far below the
    6 dp rounding of the query output — so a fixed iteration count is
    hash-checkable against an unrolled SQL oracle."""
    # pin e BEFORE the symmetrize union (both branches read it; unpinned it
    # evaluates the upstream edge chain twice)
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).distinct().localCheckpoint(
        eager=False
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=False)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg")).select(
        F.col("u").alias("node"), "deg"
    )
    nn = deg.agg(F.count("*").cast("double").alias("n"))
    # the per-node constants (deg, n) are hoisted into a pinned base table
    # so each round consumes the previous rank EXACTLY once (the old
    # pr.drop("pr").join(acc) second consumption is what forced a
    # localCheckpoint per round) — the rank chain is now linear lineage
    # with no per-round barrier (opt guide §2.4); values unchanged
    base = deg.crossJoin(F.broadcast(nn)).localCheckpoint(eager=False)
    pr = base.select("node", "deg", "n", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(n_iter):
        acc = (
            sym.join(pr.select(F.col("node").alias("u"), "deg", "pr"), "u")
            .groupBy("v")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("acc"))
            .select(F.col("v").alias("node"), "acc")
        )
        pr = base.join(acc, "node", "left").select(
            "node", "deg", "n",
            (
                F.lit(1.0 - damping) / F.col("n")
                + F.lit(damping) * F.coalesce("acc", F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select("node", "deg", "pr")


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    return round6(pagerank(pairs), "pr")


def _pagerank_sql() -> str:
    from . import expr as E

    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    D, OMD = E.NUM(PR_DAMP), E.NUM(1.0 - PR_DAMP)
    ctes = [
        f"jp AS ({jp})",
        "e AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM jp)",
        "sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        "deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY u)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg)",
        "pr0 AS (SELECT node, deg, 1.0e0 / nn.n AS pr FROM deg CROSS JOIN nn)",
    ]
    for i in range(PR_ITER):
        ctes.append(
            f"""pr{i + 1} AS (
  SELECT d.node, d.deg, {OMD} / nn.n + {D} * coalesce(s.acc, 0.0e0) AS pr
  FROM deg d CROSS JOIN nn
  LEFT JOIN (SELECT sym.v AS node, sum(p.pr / p.deg) AS acc
             FROM sym JOIN pr{i} p ON p.node = sym.u GROUP BY sym.v) s
    ON s.node = d.node)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, deg, {E.round6('pr')} AS pr FROM pr{PR_ITER}"
    )


# --- personalized PageRank (seeded teleport) --------------------------------
PPR_SEED_SOURCE = "src0"


def personalized_pagerank(
    edges: DataFrame, seeds: DataFrame, a: str = "doc_a", b: str = "doc_b",
    damping: float = PR_DAMP, n_iter: int = PR_ITER,
) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6; Jeh & Widom 2002 WWW
    "Scaled Personalized PageRank"): the power method with teleport mass
    restricted to a seed set S — pr = (1-d)·1[node∈S]/|S| + d·Σ pr(u)/deg(u)
    — the standard "related items" / seed-expansion primitive (e.g.
    Twitter WTF, Gupta et al. 2013). Same distributed shape as pagerank
    (one edge⋈rank equi-join + one keyed sum per round, lazy rank chain —
    see pagerank's A/B note); the seed indicator is a broadcast-joined column, and
    seed mass |S| is a 1-row broadcast. Unlike uniform PageRank the
    stationary mass concentrates around S, so the readout doubles as a
    graph-proximity score to the seed source.
    → (node, deg, is_seed, ppr)."""
    # pin e BEFORE the symmetrize union (both branches read it; unpinned it
    # evaluates the upstream edge chain twice)
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).distinct().localCheckpoint(
        eager=False
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=False)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg")).select(
        F.col("u").alias("node"), "deg"
    )
    seed = deg.join(
        F.broadcast(seeds.select(F.col("node").cast("bigint"))), "node", "left_semi"
    ).select("node", F.lit(1).alias("is_seed"))
    base = deg.join(F.broadcast(seed), "node", "left").withColumn(
        "is_seed", F.coalesce("is_seed", F.lit(0))
    )
    ns = base.agg(F.sum("is_seed").cast("double").alias("ns"))
    # teleport vector: 1/|S| on seeds, 0 elsewhere; start pr = teleport.
    # NULLIF guards the empty-seed-set case (ns = 0): both engines then
    # produce an all-zero teleport vector instead of engine-divergent
    # division-by-zero results (ADVICE r06).
    # per-node constants (deg, is_seed, tele) pinned once so each round
    # consumes the previous rank EXACTLY once — linear lineage, no
    # per-round localCheckpoint barrier (same rewrite as pagerank)
    base = (
        base.crossJoin(F.broadcast(ns))
        .select(
            "node", "deg", "is_seed",
            F.expr(
                "coalesce(CAST(is_seed AS DOUBLE) / nullif(ns, 0.0e0), 0.0e0)"
            ).alias("tele"),
        )
        .localCheckpoint(eager=False)
    )
    pr = base.withColumn("pr", F.col("tele"))
    for _ in range(n_iter):
        acc = (
            sym.join(pr.select(F.col("node").alias("u"), "deg", "pr"), "u")
            .groupBy("v")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("acc"))
            .select(F.col("v").alias("node"), "acc")
        )
        pr = base.join(acc, "node", "left").select(
            "node", "deg", "is_seed", "tele",
            (
                F.lit(1.0 - damping) * F.col("tele")
                + F.lit(damping) * F.coalesce("acc", F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select(
        "node", "deg", F.col("is_seed").cast("bigint").alias("is_seed"),
        F.col("pr").alias("ppr"),
    )


def _q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    seeds = docs.filter(F.col("source") == PPR_SEED_SOURCE).select(
        F.col("doc_id").alias("node")
    )
    return round6(personalized_pagerank(pairs, seeds), "ppr")


def _ppr_sql() -> str:
    from . import expr as E

    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    D, OMD = E.NUM(PR_DAMP), E.NUM(1.0 - PR_DAMP)
    ctes = [
        f"jp AS ({jp})",
        "e AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM jp)",
        "sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        "deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY u)",
        f"""base AS MATERIALIZED (
  SELECT d.node, d.deg,
         CASE WHEN EXISTS (SELECT 1 FROM documents x
                           WHERE x.doc_id = d.node
                             AND x.source = '{PPR_SEED_SOURCE}')
              THEN 1 ELSE 0 END AS is_seed
  FROM deg d)""",
        "ns AS (SELECT CAST(sum(is_seed) AS DOUBLE) AS ns FROM base)",
        "pr0 AS (SELECT node, deg, is_seed,"
        " coalesce(is_seed / nullif(ns.ns, 0.0e0), 0.0e0) AS tele,"
        " coalesce(is_seed / nullif(ns.ns, 0.0e0), 0.0e0) AS pr"
        " FROM base CROSS JOIN ns)",
    ]
    for i in range(PR_ITER):
        ctes.append(
            f"""pr{i + 1} AS MATERIALIZED (
  SELECT b.node, b.deg, b.is_seed, b.tele,
         {OMD} * b.tele + {D} * coalesce(s.acc, 0.0e0) AS pr
  FROM pr{i} b
  LEFT JOIN (SELECT sym.v AS node, sum(p.pr / p.deg) AS acc
             FROM sym JOIN pr{i} p ON p.node = sym.u GROUP BY sym.v) s
    ON s.node = b.node)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, deg, CAST(is_seed AS BIGINT) AS is_seed,"
        f" {E.round6('pr')} AS ppr FROM pr{PR_ITER}"
    )


# --- HITS hubs & authorities -------------------------------------------------
HITS_ITER = 8


def hits_scores(edges: DataFrame, n_iter: int = HITS_ITER) -> DataFrame:
    """HITS (Kleinberg, JACM 1999 "Authoritative sources in a hyperlinked
    environment"): mutual reinforcement on a DIRECTED graph — here the
    customer->supplier purchase bipartite graph, where hub customers are
    broad consistent buyers and authority suppliers are the ones hub
    customers concentrate on. Power iteration with L2 normalization:
    a <- A^T h / ||.||, h <- A a / ||.||, `n_iter` rounds. Per round: two
    keyed equi-join+sum passes over the edge list (the same shape as one
    pagerank round) and two 1-row broadcast norms. The edge list is
    distinct (cust, supp) pairs — bounded by |C|x|S|, uniform keys, no
    skew. Scores are deliberately NOT rounded between rounds: power
    iteration with normalization is contractive, so cross-engine
    parallel-sum association noise stays ~1e-12 through all rounds and
    only the OUTPUT is rounded (6dp). Per-round 9dp rounding was tried
    and REVERTED — it quantized that 1e-12 noise up to the 1e-9 grid
    (hundreds of boundary flips over 16k nodes x 16 roundings at sf0.1),
    two of which then straddled 6dp output boundaries; the unrounded
    version passes the sf0.1 sweep. Per-step rounding is for
    SEQUENTIAL folds with a defined order (ev_hawkes_loglik), not for
    parallel sums. Same discipline as graph_pagerank/graph_ppr.

    Early-exit note (VERDICT r06 item 4, evaluated and REJECTED): an
    LPA-style stop-when-rounded-state-repeats check was measured at sf0.1
    — continuous scores (unlike LPA's integer labels) never reach an
    exact fixed point within 8 rounds, so the exit never fires and the
    per-round convergence probe added ~50% wall-clock (7.8s vs 5.2s
    warm). 8 fixed rounds it is.
    -> (side, node_id, score) for side in ('hub' = customer,
       'auth' = supplier)."""
    e = edges.select("c", "s").distinct().localCheckpoint(eager=False)
    # Deferred normalization (opt guide §2.4/§1.2: remove passes the math
    # does not need): each per-half-step L2 normalization divides the whole
    # score vector by a scalar, and the next half-step is a linear matvec,
    # so every scalar factors through to the end — normalizing ONCE at
    # output is mathematically identical to normalizing every half-step
    # (and the init constant 1.0 vs 1/sqrt(n) likewise cancels). This
    # removes 2·n_iter norm aggregates + broadcast exchanges and, because
    # the un-normalized chain is LINEAR lineage (each score table consumed
    # exactly once), all but two of the per-half-step localCheckpoint
    # barriers. Magnitudes stay far inside double range (≲1e40 after 8
    # rounds at sf0.1); the only float change is 1 division instead of 8
    # per entry, noise ~1e-16 relative — below the adjudicated ~1e-12
    # cross-engine parallel-sum band the 6dp output rounding absorbs
    # (verified value-identical vs the per-step-normalizing DuckDB oracle
    # at sf0.001/0.01/0.1).
    h = e.select("c").distinct().select("c", F.lit(1.0).alias("h"))
    a = None
    for i in range(n_iter):
        a = e.join(h, "c").groupBy("s").agg(F.sum("h").alias("a"))
        if i == n_iter - 1:
            # pin: the final h reads a, and a feeds the output twice
            a = a.localCheckpoint(eager=False)
        h = e.join(a, "s").groupBy("c").agg(F.sum("a").alias("h"))
    h = h.localCheckpoint(eager=False)
    an = a.agg(F.expr("sqrt(sum(a * a))").alias("nrm"))
    hn = h.agg(F.expr("sqrt(sum(h * h))").alias("nrm"))
    a = a.crossJoin(F.broadcast(an)).select("s", F.expr("a / nrm").alias("a"))
    h = h.crossJoin(F.broadcast(hn)).select("c", F.expr("h / nrm").alias("h"))
    out = h.select(
        F.lit("hub").alias("side"), F.col("c").cast("bigint").alias("node_id"),
        F.col("h").alias("score"),
    ).unionAll(
        a.select(
            F.lit("auth").alias("side"), F.col("s").cast("bigint").alias("node_id"),
            F.col("a").alias("score"),
        )
    ).orderBy("side", "node_id")
    return round6(out, "score")


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    edges = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == orders.o_orderkey,
    ).select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
    return hits_scores(edges)


def _hits_sql(n_iter: int = HITS_ITER) -> str:
    from . import expr as E

    ctes = [
        """e AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)""",
        "nc AS (SELECT CAST(count(DISTINCT c) AS DOUBLE) AS n FROM e)",
        "h0 AS (SELECT DISTINCT c, 1.0e0 / sqrt(nc.n) AS h"
        " FROM e CROSS JOIN nc)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"""ar{i + 1} AS MATERIALIZED (
  SELECT e.s, sum(h.h) AS ar FROM e JOIN h{i} h USING (c) GROUP BY e.s)"""
        )
        ctes.append(
            f"a{i + 1} AS MATERIALIZED (SELECT s, ar / nrm AS a"
            f" FROM ar{i + 1} CROSS JOIN (SELECT sqrt(sum(ar * ar)) AS nrm"
            f" FROM ar{i + 1}))"
        )
        ctes.append(
            f"""hr{i + 1} AS MATERIALIZED (
  SELECT e.c, sum(a.a) AS hr FROM e JOIN a{i + 1} a USING (s) GROUP BY e.c)"""
        )
        ctes.append(
            f"h{i + 1} AS MATERIALIZED (SELECT c, hr / nrm AS h"
            f" FROM hr{i + 1} CROSS JOIN (SELECT sqrt(sum(hr * hr)) AS nrm"
            f" FROM hr{i + 1}))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT side, node_id, score FROM (
  SELECT 'hub' AS side, CAST(c AS BIGINT) AS node_id,
         {E.round6('h')} AS score FROM h{n_iter}
  UNION ALL
  SELECT 'auth' AS side, CAST(s AS BIGINT) AS node_id,
         {E.round6('a')} AS score FROM a{n_iter})
ORDER BY side, node_id"""
    )


_REGISTRY.update(
    {
        "ev_attribution_multi": Query(
            "ev_attribution_multi",
            _q_attribution_multi,
            _ATTRIBUTION_MULTI_SQL,
            ("product",),
        ),
        "ev_attribution": Query(
            "ev_attribution", _q_attribution, _ATTRIBUTION_SQL, ("product",)
        ),
        "ev_attribution_decay": Query(
            "ev_attribution_decay",
            _q_attribution_decay,
            _attribution_decay_sql(),
            ("product",),
        ),
        "ab_experiment": Query("ab_experiment", _q_ab, _AB_SQL, ("product",)),
        "ev_winsorize": Query("ev_winsorize", _q_winsorize, _WINSORIZE_SQL, ("agg",)),
        "graph_triangles": Query(
            "graph_triangles", _q_triangles, _triangles_sql(), ("graph",)
        ),
        "graph_pagerank": Query(
            "graph_pagerank", _q_pagerank, _pagerank_sql(), ("graph",)
        ),
        "graph_ppr": Query("graph_ppr", _q_ppr, _ppr_sql(), ("graph",)),
        "graph_hits": Query("graph_hits", _q_hits, _hits_sql(), ("graph",)),
    }
)


# --- k-core decomposition (fixed-round peeling) ----------------------------
KCORE_K, KCORE_ROUNDS = 2, 4


def kcore_nodes(edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS,
                a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """k-core via synchronous peeling: each round drops nodes whose degree
    among SURVIVORS is < k; `rounds` fixed rounds (fixed-point for this
    graph size is asserted in tests; fixed rounds keep the computation
    oracle-replayable, same convention as the PageRank oracle).

    Per round: one degree aggregation + one semi-join — both keyed on the
    node id, uniform shuffles; the survivor set is localCheckpointed so the
    plan stays bounded (lineage would otherwise double per round)."""
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).distinct()
    e = e.localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    surv = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )
    return surv.orderBy("node")


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    return canon_types(kcore_nodes(pairs))


def _kcore_sql() -> str:
    # AS MATERIALIZED is load-bearing: each round references the previous
    # round's edge CTE three times, so DuckDB's default CTE inlining would
    # re-evaluate the whole jaccard chain 3^rounds times
    from . import dedup

    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    rounds = []
    prev = "e0"
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
d{i} AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
  SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}) GROUP BY node),
k{i} AS (SELECT node FROM d{i} WHERE deg >= {KCORE_K}),
e{i} AS MATERIALIZED (SELECT u, v FROM {prev}
         WHERE u IN (SELECT node FROM k{i}) AND v IN (SELECT node FROM k{i}))""")
        prev = f"e{i}"
    last = f"e{KCORE_ROUNDS}"
    return f"""
WITH jp AS MATERIALIZED ({jp}),
e0 AS MATERIALIZED (SELECT DISTINCT doc_a AS u, doc_b AS v FROM jp),{','.join(rounds)}
SELECT node, count(*) AS core_deg FROM (
  SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last})
GROUP BY node HAVING count(*) >= {KCORE_K}
ORDER BY node
"""


_REGISTRY.update(
    {
        "graph_kcore": Query("graph_kcore", _q_kcore, _kcore_sql(), ("graph",)),
    }
)


# --- multi-source BFS shortest hops ----------------------------------------
BFS_SEED_MOD, BFS_MAX_DEPTH = 13, 6


def bfs_distances(
    edges: DataFrame,
    seed_mod: int = BFS_SEED_MOD,
    max_depth: int = BFS_MAX_DEPTH,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Multi-source BFS hop distances (seeds = node id % seed_mod == 0),
    the Pregel pattern: each round joins the frontier with the edge list,
    anti-joins already-visited nodes, and unions the new layer into the
    distance table. Frontier and distances are localCheckpointed per round
    (lineage would otherwise double); rounds are keyed equi-joins on the
    node id — uniform shuffles, no driver-side data. Unreached nodes are
    omitted (same convention both engines)."""
    # pin e BEFORE the symmetrize union: e feeds both union branches, so an
    # unpinned e evaluates the (expensive) upstream pair chain twice
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint(
        eager=False
    )
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    und = und.localCheckpoint(eager=False)
    dist = (
        und.select("u").distinct()
        .filter(F.col("u") % seed_mod == 0)
        .select(F.col("u").alias("node"), F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=False)
    )
    frontier = dist.select("node")
    for d in range(1, max_depth + 1):
        cand = (
            frontier.join(und, frontier.node == und.u)
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = cand.join(dist.select("node"), "node", "left_anti").select(
            "node", F.lit(d).cast("bigint").alias("dist")
        )
        new = new.localCheckpoint()  # eager: reused by the emptiness probe AND the union
        if not new.take(1):
            break
        dist = dist.union(new).localCheckpoint(eager=False)
        frontier = new.select("node")
    return dist


def _q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    return canon_types(bfs_distances(pairs))


def _bfs_sql() -> str:
    # UNION (not UNION ALL) in the recursive CTE is load-bearing: it dedups
    # (node, dist) pairs per step, so the working set is bounded by
    # nodes x depth instead of the exponential path count inside near-dup
    # cliques; min(dist) at the end equals BFS first-visit depth.
    from . import dedup

    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    return f"""
WITH RECURSIVE jp AS MATERIALIZED ({jp}),
e AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM jp UNION SELECT doc_b, doc_a FROM jp),
rec(node, dist) AS (
  SELECT DISTINCT u AS node, 0 FROM e WHERE u % {BFS_SEED_MOD} = 0
  UNION
  SELECT e.v, rec.dist + 1 FROM rec JOIN e ON e.u = rec.node
  WHERE rec.dist < {BFS_MAX_DEPTH})
SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM rec GROUP BY node
"""


def harmonic_centrality(
    edges: DataFrame,
    seed_mod: int = BFS_SEED_MOD,
    max_depth: int = BFS_MAX_DEPTH,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014, "Axioms for centrality"):
    H(s) = Σ_{v≠s} 1/d(s,v), summed over nodes reached within max_depth —
    the closeness variant that handles disconnected graphs. Computed for
    the seed set (node % seed_mod == 0) by a SOURCE-TAGGED multi-source
    BFS: the Pregel loop of bfs_distances with (src, node) state, so all
    seeds expand in the same keyed joins per round instead of one BFS per
    seed. State is |seeds|·|reached| rows — the honest cost of exact
    multi-source distances; at cluster scale you bound it by sampling
    seeds (seed_mod) and capping depth, exactly as parameterized here.
    → (src, n_reached, harmonic)."""
    # pin e BEFORE the symmetrize union: e feeds both union branches, so an
    # unpinned e evaluates the (expensive) upstream pair chain twice
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint(
        eager=False
    )
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    und = und.localCheckpoint(eager=False)
    dist = (
        und.select("u").distinct()
        .filter(F.col("u") % seed_mod == 0)
        .select(
            F.col("u").alias("src"),
            F.col("u").alias("node"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .localCheckpoint(eager=False)
    )
    frontier = dist.select("src", "node")
    for d in range(1, max_depth + 1):
        cand = (
            frontier.join(und, frontier.node == und.u)
            .select("src", F.col("v").alias("node"))
            .distinct()
        )
        new = cand.join(dist.select("src", "node"), ["src", "node"], "left_anti").select(
            "src", "node", F.lit(d).cast("bigint").alias("dist")
        )
        new = new.localCheckpoint()  # eager: reused by emptiness probe AND union
        if not new.take(1):
            break
        dist = dist.union(new).localCheckpoint(eager=False)
        frontier = new.select("src", "node")
    return (
        dist.filter(F.col("dist") > 0)
        .groupBy("src")
        .agg(
            F.count("*").alias("n_reached"),
            (F.round(F.sum(F.lit(1.0) / F.col("dist")) + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "harmonic"
            ),
        )
        .orderBy("src")
    )


def _q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    return canon_types(harmonic_centrality(pairs))


def _closeness_sql() -> str:
    from . import dedup

    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    return f"""
WITH RECURSIVE jp AS MATERIALIZED ({jp}),
e AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM jp UNION SELECT doc_b, doc_a FROM jp),
rec(src, node, dist) AS (
  SELECT DISTINCT u AS src, u AS node, 0 FROM e WHERE u % {BFS_SEED_MOD} = 0
  UNION
  SELECT rec.src, e.v, rec.dist + 1 FROM rec JOIN e ON e.u = rec.node
  WHERE rec.dist < {BFS_MAX_DEPTH}),
d AS (SELECT src, node, min(dist) AS dist FROM rec GROUP BY src, node)
SELECT src, CAST(count(*) AS BIGINT) AS n_reached,
       (round(sum(1.0e0 / dist) + 1.0e-9, 6) + 0.0e0) AS harmonic
FROM d WHERE dist > 0 GROUP BY src ORDER BY src
"""


_REGISTRY.update(
    {
        "graph_bfs": Query("graph_bfs", _q_bfs, _bfs_sql(), ("graph",)),
        "graph_closeness": Query(
            "graph_closeness", _q_closeness, _closeness_sql(), ("graph",)
        ),
    }
)


# --- label-propagation communities (fixed-round synchronous LPA) -----------
LP_ITER = 4


def label_propagation(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    n_iter: int = LP_ITER,
    early_exit: bool = True,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et al.
    2007, Phys. Rev. E 76): init label = node id; each round every node
    adopts the most frequent label among its neighbors AND itself, ties
    broken by the smallest label — fully deterministic, so a fixed round
    count is hash-checkable against an unrolled SQL oracle (the async/
    random-order variant of the paper is not; same convention as PageRank).

    Per round: one equi-join (edge ⋈ label on the source) + one count
    aggregation + one per-node argmax window — all keyed on the node id,
    uniform shuffles; the vote-count table a window ranks over holds at
    most deg(v)+1 distinct labels per node, so the window input is the
    message table itself, never a global sort. Labels are checkpointed per
    round (lineage hygiene as in pagerank/connected_components).

    early_exit (VERDICT r04 item 5): stop as soon as a round changes zero
    labels. The update is a deterministic function of the label table, so
    once a round is the identity every later round is too — the result is
    bit-identical to the fixed-round unrolled oracle; we just skip the
    no-op rounds. The convergence probe is a keyed equi-join on node
    (co-partitioned with the round's own shuffle) capped with limit(1),
    so it scans only until the first changed label."""
    # pin e BEFORE the symmetrize union (both branches read it; unpinned it
    # evaluates the upstream edge chain twice)
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).distinct().localCheckpoint(
        eager=False
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=False)
    lab = (
        sym.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label").asc())
    for _ in range(n_iter):
        msgs = (
            sym.join(lab.select(F.col("node").alias("u"), "label"), "u")
            .select(F.col("v").alias("node"), "label")
            .union(lab)  # self-vote: stabilizes 2-cycles of plain sync LPA
        )
        new = (
            msgs.groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
        if early_exit:
            changed = (
                new.select("node", F.col("label").alias("new_label"))
                .join(lab.select("node", F.col("label").alias("old_label")), "node")
                .filter(F.col("new_label") != F.col("old_label"))
                .limit(1)
                .count()
            )
            lab = new
            if changed == 0:
                break
        else:
            lab = new
    return lab.select("node", F.col("label").alias("community")).orderBy("node")


def _q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    return canon_types(label_propagation(pairs))


def _communities_sql() -> str:
    # AS MATERIALIZED on every round: each round references the previous
    # label CTE twice (neighbor votes + self-vote), so DuckDB's default
    # inlining would re-evaluate the jaccard chain 2^rounds times
    from . import dedup

    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    ctes = [
        f"jp AS MATERIALIZED ({jp})",
        "e AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM jp)",
        "sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        "lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym)",
    ]
    for i in range(LP_ITER):
        ctes.append(f"""lab{i + 1} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM (SELECT node, label, count(*) AS cnt FROM (
            SELECT sym.v AS node, l.label FROM sym
            JOIN lab{i} l ON l.node = sym.u
            UNION ALL SELECT node, label FROM lab{i})
          GROUP BY node, label))
  WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, label AS community FROM lab{LP_ITER} ORDER BY node"
    )


_REGISTRY.update(
    {
        "graph_communities": Query(
            "graph_communities", _q_communities, _communities_sql(), ("graph",)
        ),
    }
)


# --- Kaplan–Meier survival over user lifetimes -----------------------------
KM_CENSOR_H = 24


def _q_user_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    # product-limit estimator over user lifetimes (first→last event, hours);
    # users still active within KM_CENSOR_H hours of the corpus end are
    # right-censored. S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) — the cumulative
    # product is exp(Σ ln(·)) over a window ORDERED BY EVENT TIME on the
    # tiny distinct-lifetime table (bounded by #distinct durations), not
    # the user table. Everything upstream is two partial-agged passes.
    ev = read_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("corpus_end"))
    d = (
        life.crossJoin(F.broadcast(end))
        .select(
            "user_id",
            ((F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")) / 3600)
            .cast("bigint").alias("dur_d"),
            (
                (F.unix_timestamp("corpus_end") - F.unix_timestamp("last_ts")) / 3600
                < KM_CENSOR_H
            ).cast("int").alias("censored"),
        )
    )
    n_total = d.count()
    ev_t = (
        d.groupBy("dur_d")
        .agg(
            F.sum(1 - F.col("censored")).alias("d_i"),
            F.count("*").alias("leaving"),
        )
    )
    w = Window.orderBy("dur_d").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = ev_t.withColumn(
        "n_i", F.lit(n_total) - F.coalesce(F.sum("leaving").over(w), F.lit(0))
    ).filter(F.col("d_i") > 0)
    wcum = Window.orderBy("dur_d").rowsBetween(Window.unboundedPreceding, 0)
    surv = at_risk.withColumn(
        "survival",
        F.exp(F.sum(F.log(1.0 - F.col("d_i") / F.col("n_i"))).over(wcum)),
    )
    out = surv.select("dur_d", "d_i", "n_i", "survival")
    return canon_types(roundn(out.orderBy("dur_d"), 6, "survival"))


_USER_SURVIVAL_SQL = f"""
WITH life AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts FROM events GROUP BY user_id),
d AS (
  SELECT user_id,
         CAST(floor((epoch(last_ts) - epoch(first_ts)) / 3600) AS BIGINT) AS dur_d,
         CASE WHEN (epoch((SELECT max(ts) FROM events)) - epoch(last_ts)) / 3600
                   < {KM_CENSOR_H}
              THEN 1 ELSE 0 END AS censored
  FROM life),
evt AS (
  SELECT dur_d, CAST(sum(1 - censored) AS BIGINT) AS d_i, count(*) AS leaving
  FROM d GROUP BY dur_d),
ar AS (
  SELECT dur_d, d_i,
         (SELECT count(*) FROM d) - COALESCE(sum(leaving) OVER (ORDER BY dur_d
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_i
  FROM evt),
s AS (
  SELECT dur_d, d_i, CAST(n_i AS BIGINT) AS n_i,
         exp(sum(ln(1.0e0 - CAST(d_i AS DOUBLE) / n_i)) OVER (ORDER BY dur_d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS survival
  FROM ar WHERE d_i > 0)
SELECT dur_d, d_i, n_i, (round((survival) + 1.0e-9,6)+0.0e0) AS survival
FROM s ORDER BY dur_d
"""


# --- competing risks: Aalen-Johansen cumulative incidence --------------------
def _q_competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence under competing risks (Aalen &
    Johansen, Scand. J. Statist. 1978): from each user's first event,
    time-to-first 'purchase' competes with time-to-first 'error'
    (conversion vs churn-by-failure — the two absorbing outcomes a
    product funnel actually races); users reaching neither are censored
    at the corpus end. Naive per-cause KM overestimates both curves
    (treating the competing event as censoring); the AJ estimator

        CIF_k(t) = sum_{t_i <= t} S(t_i-) * d_ik / n_i

    with S the EVENT-FREE product-limit, is the correct decomposition
    (CIF_p + CIF_e + S = 1 at every event time).

    Scale shape: two partial-agged user-keyed passes (entry + first hit
    per cause), then all windows run on the bounded distinct-duration
    table (same discipline as user_survival above).
    -> (dur_h, n_i, d_purchase, d_error, s_eventfree, cif_purchase,
       cif_error)."""
    ev = read_table(spark, sf_dir, "events")
    entry = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    firsts = ev.filter(F.col("event_type").isin("purchase", "error")).groupBy(
        "user_id"
    ).agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("te"),
    )
    end = ev.agg(F.max("ts").alias("corpus_end"))
    d = (
        entry.join(firsts, "user_id", "left")
        .crossJoin(F.broadcast(end))
        .withColumn(
            "cause",
            F.when(
                F.col("tp").isNotNull()
                & (F.col("te").isNull() | (F.col("tp") <= F.col("te"))),
                F.lit("purchase"),
            )
            .when(F.col("te").isNotNull(), F.lit("error"))
            .otherwise(F.lit("censored")),
        )
        .withColumn(
            "t_end",
            F.when(F.col("cause") == "purchase", F.col("tp"))
            .when(F.col("cause") == "error", F.col("te"))
            .otherwise(F.col("corpus_end")),
        )
        .select(
            "user_id",
            "cause",
            (
                (F.unix_timestamp("t_end") - F.unix_timestamp("t0")) / 3600
            ).cast("bigint").alias("dur_h"),
        )
    )
    n_total = d.count()
    evt = d.groupBy("dur_h").agg(
        F.sum(F.when(F.col("cause") == "purchase", 1).otherwise(0)).alias("d_p"),
        F.sum(F.when(F.col("cause") == "error", 1).otherwise(0)).alias("d_e"),
        F.count("*").alias("leaving"),
    )
    wprev = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, 0)
    ar = evt.withColumn(
        "n_i", F.lit(n_total) - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
    )
    # S(t-): event-free KM over STRICTLY earlier times (guard ln(0) the
    # same way in both engines so d = n cannot desync null vs -inf)
    lnfac = F.log(
        F.greatest(
            F.lit(1.0) - (F.col("d_p") + F.col("d_e")) / F.col("n_i"), F.lit(1e-300)
        )
    )
    ar = ar.withColumn(
        "s_prev", F.exp(F.coalesce(F.sum(lnfac).over(wprev), F.lit(0.0)))
    ).withColumn("s_eventfree", F.exp(F.sum(lnfac).over(wcum)))
    out = (
        ar.withColumn("inc_p", F.col("s_prev") * F.col("d_p") / F.col("n_i"))
        .withColumn("inc_e", F.col("s_prev") * F.col("d_e") / F.col("n_i"))
        .withColumn("cif_purchase", F.sum("inc_p").over(wcum))
        .withColumn("cif_error", F.sum("inc_e").over(wcum))
        .filter((F.col("d_p") + F.col("d_e")) > 0)
        .select(
            "dur_h", F.col("n_i").cast("bigint").alias("n_i"),
            F.col("d_p").cast("bigint").alias("d_purchase"),
            F.col("d_e").cast("bigint").alias("d_error"),
            "s_eventfree", "cif_purchase", "cif_error",
        )
        .orderBy("dur_h")
    )
    return canon_types(roundn(out, 6, "s_eventfree", "cif_purchase", "cif_error"))


_COMPETING_RISKS_SQL = """
WITH entry AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
         min(CASE WHEN event_type = 'error' THEN ts END) AS te
  FROM events WHERE event_type IN ('purchase', 'error') GROUP BY user_id),
d AS (
  SELECT e.user_id,
         CASE WHEN f.tp IS NOT NULL AND (f.te IS NULL OR f.tp <= f.te)
              THEN 'purchase'
              WHEN f.te IS NOT NULL THEN 'error'
              ELSE 'censored' END AS cause,
         CAST(floor((epoch(CASE WHEN f.tp IS NOT NULL AND (f.te IS NULL OR f.tp <= f.te) THEN f.tp
                          WHEN f.te IS NOT NULL THEN f.te
                          ELSE (SELECT max(ts) FROM events) END)
                - epoch(e.t0)) / 3600) AS BIGINT) AS dur_h
  FROM entry e LEFT JOIN firsts f USING (user_id)),
evt AS (
  SELECT dur_h,
         sum(CASE WHEN cause = 'purchase' THEN 1 ELSE 0 END) AS d_p,
         sum(CASE WHEN cause = 'error' THEN 1 ELSE 0 END) AS d_e,
         count(*) AS leaving
  FROM d GROUP BY dur_h),
ar AS (
  SELECT dur_h, d_p, d_e,
         (SELECT count(*) FROM d) - COALESCE(sum(leaving) OVER (ORDER BY dur_h
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_i
  FROM evt),
km AS (
  SELECT dur_h, d_p, d_e, n_i,
         exp(COALESCE(sum(ln(greatest(1.0e0 - CAST(d_p + d_e AS DOUBLE) / n_i,
                                      1.0e-300))) OVER (ORDER BY dur_h
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0e0)) AS s_prev,
         exp(sum(ln(greatest(1.0e0 - CAST(d_p + d_e AS DOUBLE) / n_i, 1.0e-300)))
            OVER (ORDER BY dur_h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_eventfree
  FROM ar),
cif AS (
  SELECT dur_h, d_p, d_e, n_i, s_eventfree,
         sum(s_prev * d_p / n_i) OVER (ORDER BY dur_h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cif_purchase,
         sum(s_prev * d_e / n_i) OVER (ORDER BY dur_h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cif_error
  FROM km)
SELECT dur_h, CAST(n_i AS BIGINT) AS n_i, CAST(d_p AS BIGINT) AS d_purchase,
       CAST(d_e AS BIGINT) AS d_error,
       (round(s_eventfree + 1.0e-9, 6) + 0.0e0) AS s_eventfree,
       (round(cif_purchase + 1.0e-9, 6) + 0.0e0) AS cif_purchase,
       (round(cif_error + 1.0e-9, 6) + 0.0e0) AS cif_error
FROM cif WHERE d_p + d_e > 0 ORDER BY dur_h
"""


# --- Gini concentration of customer revenue --------------------------------
def _q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    # G = (2·Σ rank·x)/(n·Σx) − (n+1)/n with rank = 1..n in revenue order.
    # The global rank REUSES global_row_ids (range partition + offsets) —
    # no single-reducer row_number over all customers; the final reduction
    # is one partial-agged aggregate to a single row.
    from .queries_scale import global_row_ids

    o = read_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    # composite sort key makes the rank total and deterministic under ties
    keyed = rev.withColumn(
        "rk", F.concat(
            F.lpad(F.format_number(F.col("rev"), 4), 24, "0"),
            F.lit("#"),
            F.lpad(F.col("o_custkey").cast("string"), 12, "0"),
        )
    )
    ranked = global_row_ids(keyed, "rk")
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("sx"),
        F.sum((F.col("rid") + 1) * F.col("rev")).alias("srx"),
    )
    gini = (2.0 * F.col("srx")) / (F.col("n") * F.col("sx")) - (F.col("n") + 1.0) / F.col("n")
    return roundn(agg.select("n", gini.alias("gini")), 6, "gini")


_REVENUE_GINI_SQL = """
WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS rev FROM orders GROUP BY o_custkey),
r AS (SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS rank FROM rev)
SELECT count(*) AS n,
       (round(((2.0e0 * sum(rank * rev)) / (count(*) * sum(rev))
               - (count(*) + 1.0e0) / count(*)) + 1.0e-9,6)+0.0e0) AS gini
FROM r
"""


_REGISTRY.update(
    {
        "ev_competing_risks": Query(
            "ev_competing_risks", _q_competing_risks, _COMPETING_RISKS_SQL, ("experiment",)
        ),
        "user_survival": Query(
            "user_survival", _q_user_survival, _USER_SURVIVAL_SQL, ("experiment",)
        ),
        "revenue_gini": Query(
            "revenue_gini", _q_revenue_gini, _REVENUE_GINI_SQL, ("experiment",)
        ),
    }
)


# --- Adamic-Adar link prediction -------------------------------------------
AA_USER_MOD = 5        # deterministic 20% user sample (user_id % 5 == 0)
AA_DEG_CAP = 1000      # scale guard: items hotter than this are dropped
AA_TOPK = 50


def adamic_adar(ev: DataFrame, topk: int = AA_TOPK) -> DataFrame:
    """Adamic-Adar link prediction over the user / (event_type, day)
    co-occurrence bipartite graph: AA(u,v) = sum over shared items z of
    1/ln(deg z) (Adamic & Adar 2003) — the classic "who should be
    connected" score where rare shared contexts count more.

    Scale shape: the pair generator is an equi-join on the item key, so
    cost is sum(deg^2) over items — the same hot-key hazard as the shingle
    join, handled the same two ways: (a) a deterministic user sample
    (user_id % 5 == 0, pure projection, mirrored in the oracle) bounds
    deg; (b) items hotter than AA_DEG_CAP are dropped entirely — their
    per-pair weight 1/ln(deg) is the smallest anyway, the bipartite
    version of the df-cap. Output is top-k by 6dp-rounded score
    (TakeOrderedAndProject — no global sort), ties broken on (u, v)."""
    links = (
        ev.filter(F.col("user_id") % AA_USER_MOD == 0)
        .select(
            "user_id",
            F.concat_ws(
                "|", "event_type", F.date_format("ts", "yyyy-MM-dd")
            ).alias("item"),
        )
        .distinct()
        # pin: three consumers (deg, both join sides) otherwise re-run the
        # events scan + distinct each — the plan-lint recompute>=4 site
        # (VERDICT r12 item 5); values unchanged, one scan instead of four
        .localCheckpoint(eager=False)
    )
    deg = (
        links.groupBy("item")
        .agg(F.count("*").alias("dz"))
        .filter((F.col("dz") >= 2) & (F.col("dz") <= AA_DEG_CAP))
    )
    l = links.join(deg, "item")
    a = l.select(F.col("user_id").alias("u"), "item", "dz")
    b = l.select(F.col("user_id").alias("v"), "item")
    pairs = a.join(b, "item").filter(F.col("u") < F.col("v"))
    aa = pairs.groupBy("u", "v").agg(
        F.sum(F.lit(1.0) / F.log(F.col("dz").cast("double"))).alias("aa_raw"),
        F.count("*").alias("n_shared"),
    )
    scored = aa.withColumn(
        "aa_score", F.round(F.col("aa_raw") + F.lit(1e-9), 6) + F.lit(0.0)
    )
    return (
        scored.orderBy(F.desc("aa_score"), F.asc("u"), F.asc("v"))
        .limit(topk)
        .select("u", "v", "n_shared", "aa_score")
    )


def _q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return adamic_adar(read_table(spark, sf_dir, "events"))


def _aa_sql(topk: int = AA_TOPK) -> str:
    return f"""
WITH links AS (
  SELECT DISTINCT user_id,
         concat_ws('|', event_type, strftime(ts, '%Y-%m-%d')) AS item
  FROM events WHERE user_id % {AA_USER_MOD} = 0),
deg AS (
  SELECT item, count(*) AS dz FROM links GROUP BY item
  HAVING count(*) >= 2 AND count(*) <= {AA_DEG_CAP}),
pairs AS (
  SELECT a.user_id AS u, b.user_id AS v, d.dz
  FROM links a JOIN deg d ON a.item = d.item
  JOIN links b ON b.item = a.item AND a.user_id < b.user_id),
aa AS (
  SELECT u, v, count(*) AS n_shared,
         (round(sum(1.0e0 / ln(CAST(dz AS DOUBLE))) + 1.0e-9, 6) + 0.0e0)
           AS aa_score
  FROM pairs GROUP BY u, v)
SELECT u, v, n_shared, aa_score
FROM aa ORDER BY aa_score DESC, u, v LIMIT {topk}
"""


_REGISTRY.update(
    {
        "graph_adamic_adar": Query(
            "graph_adamic_adar", _q_adamic_adar, _aa_sql(), ("graph",)
        ),
    }
)


# --- Markov-chain attribution (removal effects) -----------------------------
MK_STATES = ("start", "click", "error", "signup", "view", "conv", "null")
MK_CHANNELS = ("click", "error", "signup", "view")
MK_ITERS = 64


def markov_attribution(ev: DataFrame) -> DataFrame:
    """First-order Markov-chain attribution with removal effects (Anderl et
    al. 2016): user journeys (events up to the FIRST purchase, mapped
    purchase->conv, non-converters terminated ->null) define a transition
    matrix; a channel's credit is its REMOVAL EFFECT — how much the
    absorption probability into conv drops when transitions into that
    channel are redirected to null — normalized across channels. Unlike
    the positional rules (last-touch / linear / U / time-decay, all
    implemented alongside), this credits channels by counterfactual
    contribution.

    Scale shape: ONE data-sized window (per-user order) + one groupBy to
    the <=42-cell transition-count table; the absorbing-chain solve runs
    on the collected 7x7 matrix — constant-size driver state, the logreg
    pattern. Absorption is computed by {MK_ITERS} fixed power iterations
    with a strict sequential-fold summation, replayed bit-for-bit by the
    oracle's LIST-state recursive CTE (list_reduce left fold = the Python
    accumulation loop)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    src = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("st"),
    ).withColumn("rn", F.row_number().over(w))
    pn = (
        src.filter(F.col("st") == "conv")
        .groupBy("user_id")
        .agg(F.min("rn").alias("pn"))
    )
    kept = src.join(pn, "user_id", "left").filter(
        F.col("pn").isNull() | (F.col("rn") <= F.col("pn"))
    )
    w2 = Window.partitionBy("user_id").orderBy("rn")
    hops = kept.select(
        F.coalesce(F.lag("st").over(w2), F.lit("start")).alias("f"),
        F.col("st").alias("t"),
    )
    w2d = Window.partitionBy("user_id").orderBy(F.desc("rn"))
    tails = (
        kept.filter(F.col("pn").isNull())
        .withColumn("rx", F.row_number().over(w2d))
        .filter(F.col("rx") == 1)
        .select(F.col("st").alias("f"), F.lit("null").alias("t"))
    )
    cnt = hops.unionByName(tails).groupBy("f", "t").agg(F.count("*").alias("c"))

    rows = cnt.collect()  # <=42 cells — constant-size driver state
    idx = {s: i for i, s in enumerate(MK_STATES)}
    ct: dict[str, int] = {}
    for r in rows:
        ct[r.f] = ct.get(r.f, 0) + r.c
    M = [[0.0] * 7 for _ in range(7)]
    M[5][5] = 1.0
    M[6][6] = 1.0
    for r in rows:
        M[idx[r.f]][idx[r.t]] = r.c / ct[r.f]

    def removed(mat, c0):
        out = [[0.0] * 7 for _ in range(7)]
        for j in range(7):
            for i in range(7):
                if i == c0:
                    out[j][i] = 0.0
                elif i == 6:
                    out[j][i] = mat[j][6] + mat[j][c0]
                else:
                    out[j][i] = mat[j][i]
        return out

    def absorb(mat):
        v = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        for _ in range(MK_ITERS):
            nv = []
            for i in range(7):
                s = 0.0
                for j in range(7):
                    s = s + v[j] * mat[j][i]
                nv.append(s)
            v = nv
        return v[5]

    p0 = absorb(M)
    eff = [1.0 - absorb(removed(M, idx[c])) / p0 for c in MK_CHANNELS]
    d = eff[0] + eff[1] + eff[2] + eff[3]
    out_rows = [
        (c, p0, p0 * (1.0 - eff[i]), eff[i], eff[i] / d)
        for i, c in enumerate(MK_CHANNELS)
    ]
    spark = ev.sparkSession
    df = spark.createDataFrame(
        out_rows,
        "channel string, p_conv double, p_conv_removed double,"
        " removal_effect double, credit double",
    )
    from .queries import round6

    return round6(df, "p_conv", "p_conv_removed", "removal_effect", "credit")


def _q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markov_attribution(read_table(spark, sf_dir, "events"))


def _markov_sql(iters: int = MK_ITERS) -> str:
    st_case = (
        "CASE {col} WHEN 'start' THEN 0 WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
        "WHEN 'signup' THEN 3 WHEN 'view' THEN 4 WHEN 'conv' THEN 5 ELSE 6 END"
    )
    seqsum = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(0, 7), "
        "j -> {v}[j + 1] * {m}[j * 7 + i + 1])), (a, b) -> a + b)"
    )
    stepv = (
        "list_transform(range(0, 7), i -> " + seqsum + ")"
    )
    # removal transform of the full matrix for channel index c0
    def rem(c0: int) -> str:
        return (
            f"list_transform(range(0, 49), k -> CASE WHEN k % 7 = {c0} THEN 0.0e0 "
            f"WHEN k % 7 = 6 THEN m0[k + 1] + m0[k - 6 + {c0} + 1] "
            "ELSE m0[k + 1] END)"
        )

    vstep = ", ".join(
        stepv.format(v=f"rec.v{c}", m=f"mm.m{c}") for c in range(5)
    )
    effs = " , ".join(
        f"(1.0e0 - v{c}[6] / v0[6]) AS r{c}" for c in range(1, 5)
    )
    return f"""
WITH RECURSIVE src AS MATERIALIZED (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS st,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
pn AS (SELECT user_id, min(rn) AS pn FROM src WHERE st = 'conv' GROUP BY user_id),
kept AS MATERIALIZED (
  SELECT s.user_id, s.st, s.rn, p.pn
  FROM src s LEFT JOIN pn p USING (user_id)
  WHERE p.pn IS NULL OR s.rn <= p.pn),
trans AS (
  SELECT coalesce(lag(st) OVER (PARTITION BY user_id ORDER BY rn), 'start') AS f,
         st AS t
  FROM kept
  UNION ALL
  SELECT st, 'null' FROM (
    SELECT st, row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rx
    FROM kept WHERE pn IS NULL) WHERE rx = 1),
cnt AS (SELECT f, t, count(*) AS c FROM trans GROUP BY f, t),
probs AS (
  SELECT {st_case.format(col='f')} AS fi, {st_case.format(col='t')} AS ti,
         CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY f) AS pr
  FROM cnt),
dense AS (
  SELECT r.k,
         CASE WHEN r.k = 40 THEN 1.0e0 WHEN r.k = 48 THEN 1.0e0
              ELSE coalesce(max(p.pr), 0.0e0) END AS pr
  FROM range(0, 49) r(k)
  LEFT JOIN probs p ON p.fi * 7 + p.ti = r.k
  GROUP BY r.k),
mbase AS MATERIALIZED (SELECT list(pr ORDER BY k) AS m0 FROM dense),
mm AS MATERIALIZED (
  SELECT m0, {rem(1)} AS m1, {rem(2)} AS m2, {rem(3)} AS m3, {rem(4)} AS m4
  FROM mbase),
rec(it, v0, v1, v2, v3, v4) AS (
  SELECT 0, [1.0e0, 0, 0, 0, 0, 0, 0], [1.0e0, 0, 0, 0, 0, 0, 0],
         [1.0e0, 0, 0, 0, 0, 0, 0], [1.0e0, 0, 0, 0, 0, 0, 0],
         [1.0e0, 0, 0, 0, 0, 0, 0]
  UNION ALL
  SELECT rec.it + 1, {vstep}
  FROM rec, mm WHERE rec.it < {iters}),
fin AS (SELECT v0[6] AS p0, {effs} FROM rec WHERE it = {iters}),
chans AS (
  SELECT * FROM (VALUES ('click', 1), ('error', 2), ('signup', 3), ('view', 4))
    AS t(channel, ci))
SELECT channel,
       (round(p0 + 1.0e-9, 6) + 0.0e0) AS p_conv,
       (round(p0 * (1.0e0 - r) + 1.0e-9, 6) + 0.0e0) AS p_conv_removed,
       (round(r + 1.0e-9, 6) + 0.0e0) AS removal_effect,
       (round(r / (r1 + r2 + r3 + r4) + 1.0e-9, 6) + 0.0e0) AS credit
FROM (
  SELECT channel, p0, r1, r2, r3, r4,
         CASE ci WHEN 1 THEN r1 WHEN 2 THEN r2 WHEN 3 THEN r3 ELSE r4 END AS r
  FROM chans CROSS JOIN fin)
"""


_REGISTRY.update(
    {
        "ev_attribution_markov": Query(
            "ev_attribution_markov", _q_markov, _markov_sql(), ("product", "graph")
        ),
    }
)


# --- modularity of the detected partition ------------------------------------
def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q = sum_c (m_c/m - (d_c/2m)^2) of a node
    partition over an undirected graph — the standard "is this community
    structure real" score (Q ~ 0: no better than random; Q > 0.3:
    strong). One edge-label join per endpoint + two tiny groupBys; exact
    integer edge/degree counts make Q bit-identical across engines."""
    e = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).distinct()
    lu = labels.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lv = labels.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    # pin: four branches (m, intra, both deg unions) read tagged — unpinned,
    # each re-runs the edge-label joins (and the LPA labels behind them)
    tagged = e.join(lu, "u").join(lv, "v").localCheckpoint(eager=False)
    m = tagged.agg(F.count("*").alias("m"))
    intra = (
        tagged.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").alias("m_c"))
    )
    deg = (
        tagged.select(F.col("cu").alias("community"))
        .unionAll(tagged.select(F.col("cv").alias("community")))
        .groupBy("community")
        .agg(F.count("*").alias("d_c"))
    )
    per = (
        deg.join(intra, "community", "left")
        .withColumn("m_c", F.coalesce(F.col("m_c"), F.lit(0)))
        .crossJoin(F.broadcast(m))
        .withColumn(
            "q_c",
            F.col("m_c").cast("double") / F.col("m")
            - (F.col("d_c").cast("double") / (F.lit(2.0) * F.col("m")))
            * (F.col("d_c").cast("double") / (F.lit(2.0) * F.col("m"))),
        )
    )
    from .queries import round6

    out = per.agg(
        F.first("m").alias("n_edges"),
        F.count("*").alias("n_communities"),
        F.sum("q_c").alias("modularity"),
        F.max("d_c").alias("max_degree_sum"),
    )
    return round6(out, "modularity")


def _q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    pairs = pairs.localCheckpoint(eager=False)
    return modularity(pairs, label_propagation(pairs))


def _modularity_sql() -> str:
    from . import dedup

    comm = _communities_sql()
    return f"""
WITH lab AS MATERIALIZED ({comm}),
jp2 AS MATERIALIZED ({dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)}),
e2 AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM jp2),
tagged AS MATERIALIZED (
  SELECT e2.u, e2.v, a.community AS cu, b.community AS cv
  FROM e2 JOIN lab a ON a.node = e2.u JOIN lab b ON b.node = e2.v),
mt AS (SELECT count(*) AS m FROM tagged),
intra AS (
  SELECT cu AS community, count(*) AS m_c FROM tagged WHERE cu = cv GROUP BY cu),
deg AS (
  SELECT community, count(*) AS d_c FROM (
    SELECT cu AS community FROM tagged UNION ALL SELECT cv FROM tagged)
  GROUP BY community),
per AS (
  SELECT deg.community, coalesce(intra.m_c, 0) AS m_c, deg.d_c, mt.m
  FROM deg LEFT JOIN intra ON intra.community = deg.community CROSS JOIN mt)
SELECT any_value(m) AS n_edges, count(*) AS n_communities,
       (round(sum(CAST(m_c AS DOUBLE) / m
                  - (CAST(d_c AS DOUBLE) / (2.0e0 * m))
                    * (CAST(d_c AS DOUBLE) / (2.0e0 * m))) + 1.0e-9, 6) + 0.0e0)
         AS modularity,
       max(d_c) AS max_degree_sum
FROM per
"""


_REGISTRY.update(
    {
        "graph_modularity": Query(
            "graph_modularity", _q_modularity, _modularity_sql(), ("graph",)
        ),
    }
)


# --- degree assortativity ----------------------------------------------------
def assortativity(edges: DataFrame) -> DataFrame:
    """Newman degree-assortativity coefficient r of an undirected graph:
    the Pearson correlation of endpoint degrees over edges — do
    high-degree nodes attach to high-degree nodes (r > 0, social-style)
    or to leaves (r < 0, hub-and-spoke)? Computed from exact integer
    degrees with the standard edge-moment formula; one degree groupBy +
    one edge join, all remaining arithmetic on a 1-row aggregate."""
    # pin e: both union branches and the edge-moment join read it
    e = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).distinct().localCheckpoint(
        eager=False
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    j = (
        e.join(deg.select(F.col("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
    )
    agg = j.agg(
        F.count("*").alias("m"),
        F.sum(F.col("du").cast("double") * F.col("dv")).alias("sxy"),
        F.sum((F.col("du") + F.col("dv")).cast("double") / 2.0).alias("sx"),
        F.sum(
            (F.col("du").cast("double") * F.col("du")
             + F.col("dv").cast("double") * F.col("dv")) / 2.0
        ).alias("sxx"),
    )
    out = agg.select(
        F.col("m").cast("bigint").alias("n_edges"),
        (
            (F.col("sxy") / F.col("m") - (F.col("sx") / F.col("m")) * (F.col("sx") / F.col("m")))
            / (F.col("sxx") / F.col("m") - (F.col("sx") / F.col("m")) * (F.col("sx") / F.col("m")))
        ).alias("assortativity"),
    )
    return roundn(out, 6, "assortativity")


def _q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    docs = read_table(spark, sf_dir, "documents", fanout=True)
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=CLUSTER_THR)
    return assortativity(pairs)


def _assortativity_sql() -> str:
    from . import dedup

    jp = dedup.jaccard_pairs_sql(["lang"], threshold=CLUSTER_THR)
    return f"""
WITH jp AS MATERIALIZED ({jp}),
e AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM jp),
sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
j AS (
  SELECT e.u, e.v, a.d AS du, b.d AS dv
  FROM e JOIN deg a ON a.u = e.u JOIN deg b ON b.u = e.v),
agg AS (
  SELECT count(*) AS m,
         sum(CAST(du AS DOUBLE) * dv) AS sxy,
         sum(CAST(du + dv AS DOUBLE) / 2.0e0) AS sx,
         sum((CAST(du AS DOUBLE) * du + CAST(dv AS DOUBLE) * dv) / 2.0e0) AS sxx
  FROM j)
SELECT CAST(m AS BIGINT) AS n_edges,
       (round((sxy / m - (sx / m) * (sx / m))
              / (sxx / m - (sx / m) * (sx / m)) + 1.0e-9, 6) + 0.0e0)
         AS assortativity
FROM agg
"""


_REGISTRY.update(
    {
        "graph_assortativity": Query(
            "graph_assortativity", _q_assortativity, _assortativity_sql(), ("graph",)
        ),
    }
)
