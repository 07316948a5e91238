"""Portable probabilistic sketches (north-star extension: cardinality and
frequency estimation at 100 TB — but ENGINE-PORTABLE, so the driver's
DuckDB oracle hash-checks them).

Spark's own approx_count_distinct (HLL++) is engine-specific, which forces
a rows-only correctness check. These sketches rebuild the math from public
algorithms (Flajolet et al. HLL; Cormode–Muthukrishnan count-min) on top of
a portable hash — a 48-bit md5 prefix — rendered as the SAME expression
text for Spark and DuckDB (only the hex→int parse differs per engine), so
estimates match bit-for-bit.

Scale shapes:
- HLL: one partial-agged groupBy over 2^p registers (max combines
  map-side) — the sketch IS the shuffle payload, constant-size per group.
- CMS: one partial-agged count per (row, cell) — d·w counters total
  regardless of stream length; point queries join the tiny counter table.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import expr as E

HLL_P = 8          # 2^8 = 256 registers
HLL_M = 1 << HLL_P
# bias correction for m = 256 (Flajolet et al. 2007)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HASH_BITS = 48     # 12 hex chars of md5: exactly representable in double


def _hash48(key_sql: str, hexparse) -> str:
    """Portable 48-bit integer hash of an expression: md5 prefix parsed to
    BIGINT. `hexparse` renders the engine-specific hex→int."""
    return hexparse(f"substring(md5(CAST({key_sql} AS STRING)), 1, 12)")


def _spark_hexparse(h: str) -> str:
    return f"CAST(conv({h}, 16, 10) AS BIGINT)"


def _duck_hexparse(h: str) -> str:
    return f"CAST('0x' || {h} AS BIGINT)"


def _rank_case(v: str, vbits: int) -> str:
    """Position of the leading 1-bit of `v` (1-based from the top of the
    vbits-wide field), as a branch chain of exact integer compares —
    identical text on both engines (no log2 float hazards)."""
    branches = " ".join(
        f"WHEN {v} >= {1 << (vbits - 1 - i)} THEN {i + 1}" for i in range(vbits)
    )
    return f"(CASE {branches} ELSE {vbits + 1} END)"


def hll_registers_sql(key_sql: str, table: str, hexparse) -> str:
    """(bucket, max-rank) register table for distinct-count of key_sql."""
    h = _hash48(key_sql, hexparse)
    vbits = HASH_BITS - HLL_P
    v = f"CAST(({h!s} - ({h!s} % {HLL_M})) / {HLL_M} AS BIGINT)"
    # one CTE level so h is written once per branch chain, not re-hashed
    return f"""
SELECT bucket, max(rank) AS rank FROM (
  SELECT hh % {HLL_M} AS bucket,
         {_rank_case(f"CAST((hh - (hh % {HLL_M})) / {HLL_M} AS BIGINT)", vbits)} AS rank
  FROM (SELECT {h} AS hh FROM {table})
) GROUP BY bucket
"""


def hll_estimate_sql(registers: str) -> str:
    """Raw HLL estimate + small-range (linear counting) correction, from a
    (bucket, rank) register table.

    No current producer emits rank 0 (_rank_case ranges 1..vbits+1; absent
    buckets contribute via the (m − count(*)) term instead), so the
    `rank = 0` branch of `zeros` is defensive: it keeps the estimate
    correct for a DENSE merged-register input — e.g. registers exported
    from another system where all m buckets are materialized and empty
    ones carry rank 0. Same term on the Spark side (hll_distinct)."""
    a = E.NUM(HLL_ALPHA)
    m = HLL_M
    return f"""
SELECT CASE WHEN raw <= {E.NUM(2.5 * m)} AND zeros > 0
            THEN {m}.0e0 * ln({m}.0e0 / zeros)
            ELSE raw END AS est
FROM (
  SELECT {a} * {m}.0e0 * {m}.0e0 / (sum(pow(2.0e0, -rank)) + ({m} - count(*))) AS raw,
         ({m} - count(*)) + sum(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS zeros
  FROM ({registers})
)
"""


def hll_distinct(df: DataFrame, key: str) -> DataFrame:
    """Spark side: F.expr over the SAME generated text (register build),
    then the same estimate combination — one groupBy shuffle of ≤2^p rows."""
    vbits = HASH_BITS - HLL_P
    h = _hash48(key, _spark_hexparse)
    hh = F.expr(h)
    d = df.select(hh.alias("hh"))
    v = F.expr(f"CAST((hh - (hh % {HLL_M})) / {HLL_M} AS BIGINT)")
    rank = F.expr(_rank_case(f"CAST((hh - (hh % {HLL_M})) / {HLL_M} AS BIGINT)", vbits))
    regs = d.select((F.col("hh") % HLL_M).alias("bucket"), rank.alias("rank")).groupBy(
        "bucket"
    ).agg(F.max("rank").alias("rank"))
    agg = regs.agg(
        (
            F.lit(HLL_ALPHA)
            * F.lit(float(HLL_M))
            * F.lit(float(HLL_M))
            / (F.sum(F.expr("pow(2.0e0, -rank)")) + (F.lit(HLL_M) - F.count("*")))
        ).alias("raw"),
        ((F.lit(HLL_M) - F.count("*")) + F.sum((F.col("rank") == 0).cast("long"))).alias(
            "zeros"
        ),
    )
    est = F.when(
        (F.col("raw") <= 2.5 * HLL_M) & (F.col("zeros") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
    ).otherwise(F.col("raw"))
    return agg.select(est.alias("est"))


# --- count-min sketch -------------------------------------------------------
CMS_D, CMS_W = 4, 1024
CMS_P = (1 << 31) - 1
CMS_A = (1299721, 15485863, 32452843, 49979687)
CMS_B = (7919, 104729, 1299709, 15485867)


def _cms_cell(i: int, x: str) -> str:
    return f"((({CMS_A[i]} * ({x} % {CMS_P}) + {CMS_B[i]}) % {CMS_P}) % {CMS_W})"


def cms_estimate_tokens(df: DataFrame, text: str = "text", top_n: int = 15) -> DataFrame:
    """Count-min frequency estimates for the corpus's top tokens, beside
    exact counts. Counters: d passes of (row, cell) partial-agged counts
    (d·w cells total); probes: the exact top-N tokens re-hashed and joined
    against the tiny counter table; estimate = min over rows. The CMS
    guarantee (est ≥ exact; est ≤ exact + εN w.h.p.) is asserted in tests
    and visible in the output columns."""
    toks = df.select(F.explode(F.split(F.col(text), " ")).alias("token"))
    toks = toks.localCheckpoint(eager=False)
    x = _hash48("token", _spark_hexparse)
    cells = toks.select(
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
    ).select("rc.row", "rc.cell")
    counters = cells.groupBy("row", "cell").agg(F.count("*").alias("cnt"))
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("token"))
        .limit(top_n)
    )
    probes = exact.select(
        "token",
        "exact_n",
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
        ).alias("rc"),
    ).select("token", "exact_n", "rc.row", "rc.cell")
    est = (
        probes.join(F.broadcast(counters), ["row", "cell"])
        .groupBy("token", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return est.withColumn("overcount", F.col("cms_n") - F.col("exact_n"))


def cms_tokens_sql(top_n: int = 15) -> str:
    x = _hash48("token", _duck_hexparse)
    cell_rows = " UNION ALL ".join(
        f"SELECT token, {i} AS row, {_cms_cell(i, x)} AS cell FROM toks"
        for i in range(CMS_D)
    )
    return f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
cells AS ({cell_rows}),
counters AS (SELECT row, cell, count(*) AS cnt FROM cells GROUP BY row, cell),
exact AS (SELECT token, count(*) AS exact_n FROM toks GROUP BY token
          ORDER BY exact_n DESC, token LIMIT {top_n}),
probes AS (
  SELECT e.token, e.exact_n, c.row, c.cell
  FROM exact e JOIN (SELECT DISTINCT token, row, cell FROM cells) c
    ON c.token = e.token),
est AS (
  SELECT p.token, p.exact_n, min(cnt) AS cms_n
  FROM probes p JOIN counters USING (row, cell)
  GROUP BY p.token, p.exact_n)
SELECT token, exact_n, cms_n, cms_n - exact_n AS overcount FROM est
"""


def hll_registers(df: DataFrame, key: str, group: str) -> DataFrame:
    """Per-group HLL register tables (group, bucket, rank) — the mergeable
    partial state: union of sets ≡ elementwise max of registers, which is
    why HLL states combine map-side and across partitions/days/sources
    without re-reading data."""
    vbits = HASH_BITS - HLL_P
    h = _hash48(key, _spark_hexparse)
    d = df.select(F.col(group).alias("grp"), F.expr(h).alias("hh"))
    rank = F.expr(_rank_case(f"CAST((hh - (hh % {HLL_M})) / {HLL_M} AS BIGINT)", vbits))
    return (
        d.select("grp", (F.col("hh") % HLL_M).alias("bucket"), rank.alias("rank"))
        .groupBy("grp", "bucket")
        .agg(F.max("rank").alias("rank"))
    )


def _estimate_from_regs(regs: DataFrame, by: list[str]) -> DataFrame:
    agg = regs.groupBy(*by).agg(
        (
            F.lit(HLL_ALPHA)
            * F.lit(float(HLL_M))
            * F.lit(float(HLL_M))
            / (F.sum(F.expr("pow(2.0e0, -rank)")) + (F.lit(HLL_M) - F.count("*")))
        ).alias("raw"),
        ((F.lit(HLL_M) - F.count("*")) + F.sum((F.col("rank") == 0).cast("long"))).alias(
            "zeros"
        ),
    )
    est = F.when(
        (F.col("raw") <= 2.5 * HLL_M) & (F.col("zeros") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
    ).otherwise(F.col("raw"))
    return agg.select(*by, est.alias("est"))


def hll_set_ops(df: DataFrame, key: str, group: str, g_a: str, g_b: str) -> DataFrame:
    """|A|, |B|, |A∪B| from merged registers (max per bucket), and the
    inclusion-exclusion intersection estimate — all without touching raw
    data twice. Returns one row."""
    regs = hll_registers(df.filter(F.col(group).isin(g_a, g_b)), key, group)
    regs = regs.localCheckpoint(eager=False)
    singles = _estimate_from_regs(regs, ["grp"])
    union_regs = regs.groupBy("bucket").agg(F.max("rank").alias("rank")).withColumn(
        "grp", F.lit("union")
    )
    u = _estimate_from_regs(union_regs, ["grp"])
    a = singles.filter(F.col("grp") == g_a).select(F.col("est").alias("est_a"))
    b = singles.filter(F.col("grp") == g_b).select(F.col("est").alias("est_b"))
    uu = u.select(F.col("est").alias("est_union"))
    out = a.crossJoin(b).crossJoin(uu)
    return out.select(
        "est_a", "est_b", "est_union",
        (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias("est_intersection"),
    )


def hll_set_ops_sql(key: str, table: str, group: str, g_a: str, g_b: str) -> str:
    h = _hash48(key, _duck_hexparse)
    vbits = HASH_BITS - HLL_P
    a = E.NUM(HLL_ALPHA)
    m = HLL_M
    est = (
        f"CASE WHEN raw <= {E.NUM(2.5 * m)} AND zeros > 0 "
        f"THEN {m}.0e0 * ln({m}.0e0 / zeros) ELSE raw END"
    )
    agg = (
        f"{a} * {m}.0e0 * {m}.0e0 / (sum(pow(2.0e0, -rank)) + ({m} - count(*))) AS raw, "
        f"({m} - count(*)) + sum(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS zeros"
    )
    return f"""
WITH src AS (SELECT {group} AS grp, {h} AS hh FROM {table}
             WHERE {group} IN ('{g_a}', '{g_b}')),
regs AS (
  SELECT grp, hh % {m} AS bucket,
         max({_rank_case(f"CAST((hh - (hh % {m})) / {m} AS BIGINT)", vbits)}) AS rank
  FROM src GROUP BY grp, bucket),
singles AS (
  SELECT grp, {est} AS est FROM (SELECT grp, {agg} FROM regs GROUP BY grp)),
uregs AS (SELECT bucket, max(rank) AS rank FROM regs GROUP BY bucket),
uest AS (SELECT {est} AS est FROM (SELECT {agg} FROM uregs))
SELECT sa.est AS est_a, sb.est AS est_b, uest.est AS est_union,
       sa.est + sb.est - uest.est AS est_intersection
FROM (SELECT est FROM singles WHERE grp = '{g_a}') sa
CROSS JOIN (SELECT est FROM singles WHERE grp = '{g_b}') sb
CROSS JOIN uest
"""


# --- DDSketch quantiles -----------------------------------------------------
# Masson, Rim & Lee, "DDSketch: a fast and fully-mergeable quantile sketch
# with relative-error guarantees" (VLDB 2019). Log-spaced buckets give a
# relative-error bound alpha on any quantile; bucket COUNTS ADD, so sketches
# merge across partitions/days/sources exactly like HLL registers.
DD_ALPHA = 0.01
DD_GAMMA = (1.0 + DD_ALPHA) / (1.0 - DD_ALPHA)


def _dd_bucket(v: str) -> str:
    """Bucket index ceil(ln(v)/ln(gamma)) for v > 0 — identical text on both
    engines (tiny nudge keeps exact-power boundaries from flipping per-libm)."""
    return f"CAST(ceiling(ln({v}) / ln({E.NUM(DD_GAMMA)}) - 1.0e-12) AS BIGINT)"


def dd_probe_buckets(
    buckets: DataFrame, qs: tuple[float, ...] = (0.5, 0.9, 0.95, 0.99)
) -> DataFrame:
    """Quantile probes over a (b, cnt) DDSketch bucket table — the finalize
    step, shared by the batch sketch and the streaming merged-state sketch.
    The unpartitioned windows run over the CONSTANT-size sketch, not data."""
    from pyspark.sql import Window

    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = buckets.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
    )
    qdf = buckets.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    # per q: the first bucket whose cumulative count reaches rank ceil(q*n)
    return (
        F.broadcast(qdf)
        .crossJoin(cum)
        .filter(F.col("cum") >= F.expr("CAST(ceiling(q * total) AS BIGINT)"))
        .groupBy("q")
        .agg(F.min("b").alias("b"), F.first("total").alias("n"))
    )


def dd_estimate_col():
    """The bucket-midpoint estimate expression 2·gamma^b/(gamma+1)."""
    g = E.NUM(DD_GAMMA)
    return F.expr(f"2.0e0 * pow({g}, b) / ({g} + 1.0e0)")


def dd_quantiles(
    df: DataFrame, value: str = "value", qs: tuple[float, ...] = (0.5, 0.9, 0.95, 0.99)
) -> DataFrame:
    """DDSketch quantile estimates — sketch-only output (q, est, n).

    Scale shape: the raw table reduces in ONE partial-agged groupBy to
    ≤ O(ln(max/min)/alpha) bucket rows (~1100 buckets across 15 decades at
    alpha=1%) — the sketch IS the shuffle payload. The cumulative walk and
    quantile probes run on that constant-size table, so the unpartitioned
    window is bounded work (same argument as the HLL register combine).
    Estimate 2·gamma^b/(gamma+1) is the bucket's geometric midpoint; the
    guarantee |est − exact|/exact ≤ alpha is asserted in tests via
    dd_quantiles_with_exact (kept OUT of this production path: computing
    the exact quantile needs a global rank — a single-reducer wall at
    scale, which is the whole reason the sketch exists).
    """
    pos = df.filter(F.col(value) > 0)
    buckets = (
        pos.select(F.expr(_dd_bucket(value)).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
    )
    probe = dd_probe_buckets(buckets, qs)
    return probe.select("q", dd_estimate_col().alias("est"), "n").orderBy("q")


def dd_quantiles_with_exact(
    df: DataFrame, value: str = "value", qs: tuple[float, ...] = (0.5, 0.9, 0.95, 0.99)
) -> DataFrame:
    """TEST-ONLY: dd_quantiles beside the exact (type-1, lower) quantile and
    its relative error. The exact side is an UNPARTITIONED global rank — fine
    at test scale, a dead executor at 100 TB. Production code must use
    dd_quantiles / dd_quantiles_by."""
    from pyspark.sql import Window

    pos = df.filter(F.col(value) > 0)
    qdf = df.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    rk = pos.select(
        F.col(value).alias("v"),
        F.row_number().over(Window.orderBy(value)).alias("r"),
        F.count("*").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)).alias("n"),
    )
    exact = (
        F.broadcast(qdf)
        .crossJoin(rk)
        .filter(F.col("r") == F.expr("CAST(ceiling(q * n) AS BIGINT)"))
        .select("q", F.col("v").alias("exact_q"))
    )
    est = dd_quantiles(df, value, qs)
    return est.join(exact, "q").select(
        "q",
        "est",
        "exact_q",
        ((F.col("est") - F.col("exact_q")) / F.col("exact_q")).alias("rel_err"),
    ).orderBy("q")


def dd_quantiles_sql(
    value: str, table: str, qs: tuple[float, ...] = (0.5, 0.9, 0.95, 0.99)
) -> str:
    qrows = " UNION ALL ".join(f"SELECT {E.NUM(q)} AS q" for q in qs)
    g = E.NUM(DD_GAMMA)
    return f"""
WITH pos AS (SELECT {value} AS v FROM {table} WHERE {value} > 0),
buckets AS (SELECT {_dd_bucket('v')} AS b, count(*) AS cnt FROM pos GROUP BY 1),
cum AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum, sum(cnt) OVER () AS total
        FROM buckets),
qs AS ({qrows}),
probe AS (
  SELECT q, min(b) AS b, CAST(min(total) AS BIGINT) AS n FROM qs JOIN cum
    ON cum >= CAST(ceiling(q * total) AS BIGINT) GROUP BY q)
SELECT q,
       2.0e0 * pow({g}, b) / ({g} + 1.0e0) AS est,
       n
FROM probe
ORDER BY q
"""


# --- portable Bloom filter --------------------------------------------------
# Bloom (CACM 1970). k independent bit positions per key from the salted
# portable hash; the bit table is the mergeable state (union of sets = union
# of bit positions). Primary use at scale: a runtime semi-join filter — build
# bits from the SMALL side, broadcast (≤ m rows), and pre-filter the big
# probe side before the real join ever shuffles it.
BF_M = 1 << 14   # bits
BF_K = 4


def _bf_bits(key_sql: str, hexparse) -> list[str]:
    out = []
    for i in range(BF_K):
        salted = f"concat(CAST({key_sql} AS STRING), '#', '{i}')"
        out.append(f"({_hash48(salted, hexparse)} % {BF_M})")
    return out


def bloom_bits(df: DataFrame, key: str) -> DataFrame:
    """Distinct set-bit positions for the build side — the filter state
    (≤ m rows no matter how large the build side is)."""
    exprs = _bf_bits(key, _spark_hexparse)
    return (
        df.select(F.explode(F.array(*[F.expr(e) for e in exprs])).alias("bit"))
        .distinct()
    )


def bloom_prune(
    build: DataFrame, probe: DataFrame, build_key: str, probe_key: str
) -> DataFrame:
    """Summary of bloom-filter join pruning: how many probe rows pass the
    bloom (all k bits set) vs truly match, and the false-positive count.

    The probe side is filtered via its DISTINCT keys (k bit lookups against
    the broadcast bit table, count == k ⇔ all bits set) — the big table
    itself is never shuffled; the verdict joins back on the key."""
    bits = bloom_bits(build, build_key)
    keys = probe.select(F.col(probe_key).alias("k")).distinct()
    exprs = _bf_bits("k", _spark_hexparse)
    pb = keys.select(
        "k", F.posexplode(F.array(*[F.expr(e) for e in exprs])).alias("i", "bit")
    )
    passed = (
        pb.join(F.broadcast(bits), "bit")
        .groupBy("k")
        .agg(F.count("*").alias("nb"))
        .filter(F.col("nb") == BF_K)
        .select("k")
    )
    truth = build.select(F.col(build_key).alias("k")).distinct()
    verdict = keys.join(
        passed.withColumn("bloom_pass", F.lit(1)), "k", "left"
    ).join(truth.withColumn("is_member", F.lit(1)), "k", "left")
    pr = probe.select(F.col(probe_key).alias("k")).join(verdict, "k")
    return pr.agg(
        F.count("*").alias("n_probe_rows"),
        F.sum(F.coalesce(F.col("bloom_pass"), F.lit(0))).alias("bloom_pass_rows"),
        F.sum(F.coalesce(F.col("is_member"), F.lit(0))).alias("true_match_rows"),
        F.sum(
            F.coalesce(F.col("bloom_pass"), F.lit(0))
            * (1 - F.coalesce(F.col("is_member"), F.lit(0)))
        ).alias("false_positive_rows"),
    )


def bloom_prune_sql(
    build_table: str, build_key: str, build_where: str, probe_table: str, probe_key: str
) -> str:
    bit_rows = " UNION ALL ".join(
        f"SELECT {e} AS bit FROM build" for e in _bf_bits(build_key, _duck_hexparse)
    )
    probe_bits = " UNION ALL ".join(
        f"SELECT k, {e} AS bit FROM keys" for e in _bf_bits("k", _duck_hexparse)
    )
    return f"""
WITH build AS (SELECT * FROM {build_table} WHERE {build_where}),
bits AS (SELECT DISTINCT bit FROM ({bit_rows})),
keys AS (SELECT DISTINCT {probe_key} AS k FROM {probe_table}),
pb AS ({probe_bits}),
passed AS (
  SELECT k FROM pb JOIN bits USING (bit) GROUP BY k HAVING count(*) = {BF_K}),
truth AS (SELECT DISTINCT {build_key} AS k FROM build),
verdict AS (
  SELECT keys.k,
         CASE WHEN passed.k IS NULL THEN 0 ELSE 1 END AS bloom_pass,
         CASE WHEN truth.k IS NULL THEN 0 ELSE 1 END AS is_member
  FROM keys LEFT JOIN passed ON keys.k = passed.k
            LEFT JOIN truth ON keys.k = truth.k)
SELECT count(*) AS n_probe_rows,
       CAST(sum(bloom_pass) AS BIGINT) AS bloom_pass_rows,
       CAST(sum(is_member) AS BIGINT) AS true_match_rows,
       CAST(sum(bloom_pass * (1 - is_member)) AS BIGINT) AS false_positive_rows
FROM {probe_table} p JOIN verdict ON p.{probe_key} = verdict.k
"""


def dd_quantiles_by(
    df: DataFrame,
    group: str,
    value: str = "value",
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Per-group DDSketch quantiles (the p50/p95/p99-per-service shape).
    One partial-agged groupBy to (group, bucket) sketch rows; the cumulative
    walk windows are PARTITIONED by group, so the probe stage is as parallel
    as the group count and each partition holds one constant-size sketch."""
    from pyspark.sql import Window

    buckets = (
        df.filter(F.col(value) > 0)
        .select(F.col(group).alias("grp"), F.expr(_dd_bucket(value)).alias("b"))
        .groupBy("grp", "b")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("grp").orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    tw = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = buckets.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(tw)
    )
    qdf = df.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    probe = (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.expr("CAST(ceiling(q * total) AS BIGINT)"))
        .groupBy("grp", "q")
        .agg(F.min("b").alias("b"))
    )
    return probe.select("grp", "q", dd_estimate_col().alias("est")).orderBy("grp", "q")


def dd_quantiles_by_sql(
    group: str, value: str, table: str, qs: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> str:
    qrows = " UNION ALL ".join(f"SELECT {E.NUM(q)} AS q" for q in qs)
    g = E.NUM(DD_GAMMA)
    return f"""
WITH pos AS (SELECT {group} AS grp, {value} AS v FROM {table} WHERE {value} > 0),
buckets AS (SELECT grp, {_dd_bucket('v')} AS b, count(*) AS cnt
            FROM pos GROUP BY grp, 2),
cum AS (SELECT grp, b, sum(cnt) OVER (PARTITION BY grp ORDER BY b) AS cum,
               sum(cnt) OVER (PARTITION BY grp) AS total
        FROM buckets),
qs AS ({qrows}),
probe AS (
  SELECT grp, q, min(b) AS b FROM cum JOIN qs
    ON cum >= CAST(ceiling(q * total) AS BIGINT) GROUP BY grp, q)
SELECT grp, q, 2.0e0 * pow({g}, b) / ({g} + 1.0e0) AS est
FROM probe ORDER BY grp, q
"""


# --- KMV / theta sketch ------------------------------------------------------
KMV_K = 64
KMV_MULT, KMV_MOD = 2654435761, 2147483647


def _kmv_u(key: str) -> str:
    """Engine-portable uniform hash of an integer key into [0, 1): Knuth
    multiplicative hash mod 2^31−1 (exact in BIGINT on both engines), then
    a double division. Injective enough for sketching; distinct keys that
    collide count once — identically on both engines."""
    return f"(CAST(({key} * {KMV_MULT}) % {KMV_MOD} AS DOUBLE) / {KMV_MOD}.0e0)"


def kmv_minset(df: DataFrame, key: str, group: str, k: int = KMV_K) -> DataFrame:
    """The per-group KMV state: the k smallest distinct hash values of
    `key` (Bar-Yossef et al. 2002 / the Theta sketch's KMV core). This IS
    the mergeable sketch — union of groups = k smallest of the concatenated
    min-sets. One distinct-agg shuffle + one bounded per-group rank."""
    u = (
        df.select(F.col(group).alias("grp"), F.expr(_kmv_u(key)).alias("u"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("u")
    return (
        u.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("grp", "u", "rnk")
    )


def kmv_set_ops(
    df: DataFrame, key: str, group: str, g_a: str, g_b: str, k: int = KMV_K
) -> DataFrame:
    """Theta-sketch set operations between two groups' KMV states:
    distinct estimate (k−1)/u_(k) per side (exact when a side holds fewer
    than k values), union via the combined min-k, and — the operation HLL
    cannot do without inclusion-exclusion error — a DIRECT intersection
    estimate: |{shared hashes < theta}| / theta with theta = the union's
    k-th minimum. Everything after the two min-sets is arithmetic over
    ≤ 2k rows, and every op is deterministic integer/double arithmetic, so
    the DuckDB oracle matches exactly."""
    # <= 2k rows read by five branches (sides/a/b): pin, or each branch
    # re-runs the corpus distinct-hash scan (recompute census: 8 scans)
    ms = kmv_minset(df, key, group, k).filter(
        F.col("grp").isin(g_a, g_b)
    ).localCheckpoint(eager=False)
    sides = ms.groupBy("grp").agg(
        F.count("*").alias("n"), F.max("u").alias("uk")
    )
    est = sides.select(
        "grp",
        F.when(F.col("n") < k, F.col("n").cast("double"))
        .otherwise((F.lit(float(k - 1))) / F.col("uk"))
        .alias("est"),
    )
    a = ms.filter(F.col("grp") == g_a).select(F.col("u").alias("ua"))
    b = ms.filter(F.col("grp") == g_b).select(F.col("u").alias("ub"))
    uni = (
        a.select(F.col("ua").alias("u"))
        .unionByName(b.select(F.col("ub").alias("u")))
        .distinct()
        .orderBy("u")
        .limit(k)
    )
    theta_n = uni.agg(
        F.max("u").alias("theta"), F.count("*").alias("n_uni")
    )
    shared = (
        a.join(b, F.col("ua") == F.col("ub"))
        .crossJoin(F.broadcast(theta_n))
        .filter(F.col("ua") < F.col("theta"))
        .agg(F.count("*").alias("n_shared"))
    )
    ea = est.filter(F.col("grp") == g_a).select(F.col("est").alias("est_a"))
    eb = est.filter(F.col("grp") == g_b).select(F.col("est").alias("est_b"))
    return (
        ea.crossJoin(eb)
        .crossJoin(F.broadcast(theta_n))
        .crossJoin(F.broadcast(shared))
        .select(
            "est_a",
            "est_b",
            F.when(F.col("n_uni") < k, F.col("n_uni").cast("double"))
            .otherwise(F.lit(float(k - 1)) / F.col("theta"))
            .alias("est_union"),
            (F.col("n_shared") / F.col("theta")).alias("est_intersection"),
        )
    )


def kmv_set_ops_sql(
    key: str, table: str, group: str, g_a: str, g_b: str, k: int = KMV_K
) -> str:
    u = _kmv_u(key)
    return f"""
WITH d AS MATERIALIZED (
  SELECT DISTINCT {group} AS grp, {u} AS u FROM {table}
  WHERE {group} IN ('{g_a}', '{g_b}')),
ms AS MATERIALIZED (
  SELECT grp, u FROM (
    SELECT grp, u, row_number() OVER (PARTITION BY grp ORDER BY u) AS rnk
    FROM d) WHERE rnk <= {k}),
sides AS (SELECT grp, count(*) AS n, max(u) AS uk FROM ms GROUP BY grp),
est AS (
  SELECT grp, CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                   ELSE {float(k - 1)!r}e0 / uk END AS est
  FROM sides),
uni AS (SELECT DISTINCT u FROM ms ORDER BY u LIMIT {k}),
tn AS (SELECT max(u) AS theta, count(*) AS n_uni FROM uni),
shared AS (
  SELECT count(*) AS n_shared
  FROM (SELECT u FROM ms WHERE grp = '{g_a}') a
  JOIN (SELECT u FROM ms WHERE grp = '{g_b}') b ON a.u = b.u
  CROSS JOIN tn WHERE a.u < tn.theta)
SELECT
  (SELECT est FROM est WHERE grp = '{g_a}') AS est_a,
  (SELECT est FROM est WHERE grp = '{g_b}') AS est_b,
  CASE WHEN tn.n_uni < {k} THEN CAST(tn.n_uni AS DOUBLE)
       ELSE {float(k - 1)!r}e0 / tn.theta END AS est_union,
  CAST(shared.n_shared AS DOUBLE) / tn.theta AS est_intersection
FROM tn CROSS JOIN shared
"""
