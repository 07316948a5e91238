"""Deduplication operators for LLM-scale corpora (north-star extension).

Four tiers, each with a different cost/recall point:
- exact: md5 fingerprint groupBy — one shuffle on a uniform 128-bit key.
- n-gram Jaccard: word-shingle set overlap within blocking keys — exact
  near-dup measure, quadratic within a block only.
- MinHash + LSH: shingle→minhash signatures→banded bucket join; candidate
  pairs are generated by an equi-join on (band, band_signature) — the
  100 TB-safe path (no quadratic blowup; shuffle keys are uniform hashes).
- SimHash: 63-bit sign-of-weighted-votes fingerprint; near-dups agree on
  most bits; banded by 16-bit chunks for candidate generation.

All computed with Catalyst built-ins (md5, explode, groupBy, bit ops); no
Python in the hot path. MinHash, SimHash and text.feature_hash hash each
shingle or token with ONE md5-prefix expression that Spark and DuckDB both
evaluate (HASH_SPARK/HASH_DUCK, HASH63_SPARK/HASH63_DUCK), so every
signature, band bucket and verified pair is DuckDB-oracle-checked
bit-for-bit (minhash_lsh_sql, simhash_sql, simhash_pairs_sql).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .text import fingerprint

HASH_P = (1 << 31) - 1  # keep a*x+b < 2^62 under ANSI overflow checks

# The one shingle and token hash, as SQL text both engines parse: a hex
# prefix of md5 over the string's UTF-8 bytes. MinHash and feature hashing
# read 15 hex chars (60 bits) reduced mod HASH_P, so x spreads over
# [0, HASH_P) and the small odd multipliers of _mins_sql wrap it (a
# narrower prefix that never wraps gives h0..h3 one shared minimizer).
# SimHash reads all 16 hex chars — signed in Spark's conv, unsigned in
# DuckDB, the same 64 bits — and drops the lowest so the 63 bits left fit
# a non-negative BIGINT on both engines.
HASH_SPARK = f"pmod(CAST(conv(substring(md5({{c}}), 1, 15), 16, 10) AS BIGINT), {HASH_P})"
HASH_DUCK = f"(CAST(('0x' || substr(md5({{c}}), 1, 15)) AS BIGINT) % {HASH_P})"
HASH63_SPARK = "shiftrightunsigned(CAST(conv(substring(md5({c}), 1, 16), 16, -10) AS BIGINT), 1)"
HASH63_DUCK = "CAST((CAST(('0x' || substr(md5({c}), 1, 16)) AS UBIGINT) >> 1) AS BIGINT)"


def exact_dedup(df: DataFrame, text: str = "text") -> DataFrame:
    """Mark exact duplicates by canonical fingerprint; keeper = min doc_id."""
    fp = fingerprint(df, text)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .withColumn("is_dup", F.col("rn") > 1)
        .drop("rn")
    )


def shingles(df: DataFrame, text: str = "text", k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document (array column)."""
    df = df.withColumn("_toks", F.split(F.col(text), " "))
    sh = F.expr(
        f"CASE WHEN size(_toks) >= {k} THEN "
        f"array_distinct(transform(sequence(0, size(_toks) - {k}), "
        f"i -> concat_ws(' ', slice(_toks, i + 1, {k})))) "
        "ELSE array(concat_ws(' ', _toks)) END"
    )
    return df.withColumn("shingles", sh).drop("_toks")


def _shingles_sql(k: int) -> str:
    """DuckDB twin of shingles() over a `toks` list (1-based slicing)."""
    return (
        f"CASE WHEN len(toks) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len(toks) - {k} + 2), "
        "i -> array_to_string(toks[i:i+%d], ' '))) " % (k - 1)
        + "ELSE [array_to_string(toks, ' ')] END"
    )


def jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text: str = "text",
    k: int = 3,
    threshold: float = 0.0,
    df_cap: int | None = 50,
    containment: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs within a block.

    Quadratic in block size by design — use blocking keys (or the MinHash
    path) to bound it at scale.

    With `containment=True` also emits C(A,B) = |A∩B| / min(|A|,|B|) — the
    asymmetric overlap that catches a small doc embedded in a large one
    (quote extraction, boilerplate wrapping), which Jaccard dilutes toward 0
    as the size ratio grows (Broder 1997's containment measure).
    """
    # Scalable formulation: |A∩B| via an equi-join on the shingle itself
    # (only pairs that SHARE a shingle are ever materialized — no quadratic
    # block cross-join, no per-pair array scans), then |A∪B| = |A|+|B|−|∩|.
    # Emits only pairs with ≥1 common shingle; with threshold > 0 that is
    # exactly the quadratic semantics.
    #
    # df_cap guards the one remaining skew hazard: a shingle appearing in
    # `df` docs contributes df² join rows, so a corpus-scale stop-phrase
    # ("of the and") would hand one executor ~df² pairs. Shingles whose
    # per-block document frequency exceeds df_cap are removed from the
    # intersection count BEFORE the self-join via a broadcast ANTI join —
    # the high-df list is tiny (only heavy hitters) so no shuffle is added
    # to the big side. Pairs similar ONLY through capped stop-shingles are
    # missed (their jaccard is underestimated); that recall loss is the
    # documented price of boundedness, and the MinHash path covers them.
    # Materialize the shingled table ONCE (persist on a real cluster): it
    # feeds four branches (sizes, join side a, join side b, the df-cap
    # aggregate) which would otherwise each re-scan and re-shingle the corpus.
    # Shingles are HASHED in place (xxhash64, 8 B) before the pin: the df-cap
    # aggregate, the candidate self-join and every exchange then move bigint
    # keys instead of ~25-char strings (opt guide §2.3). n_common counts and
    # |A|/|B| sizes are identical absent a 64-bit collision (the standing
    # dedup_substr_hash adjudication; see prefix_jaccard for the corpus-scale
    # expectation math) and no shingle text ever leaves this function; the
    # string-keyed DuckDB oracle still certifies every consumer.
    sh = shingles(df, text, k).select(
        "doc_id",
        *block_cols,
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles"),
    )
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sh.select("doc_id", *block_cols, F.explode("shingles").alias("shingle"))
    if df_cap is not None:
        hot = (
            ex.groupBy(*block_cols, "shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > df_cap)
            .select(*block_cols, "shingle")
        )
        ex = ex.join(F.broadcast(hot), [*block_cols, "shingle"], "left_anti")
    a = ex.select(F.col("doc_id").alias("doc_a"), *block_cols, "shingle")
    b = ex.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"_{c}") for c in block_cols],
        "shingle",
    )
    cond = [a[c] == b[f"_{c}"] for c in block_cols] + [a.doc_a < b.doc_b, a.shingle == b.shingle]
    inter = a.join(b, cond).groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    out_cols = [
        F.col("doc_a"),
        F.col("doc_b"),
        (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias("jaccard"),
    ]
    if containment:
        out_cols.append(
            (F.col("n_common") / F.least("n_a", "n_b")).alias("containment")
        )
    pairs = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(*out_cols)
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def jaccard_pairs_sql(
    block_cols: list[str],
    k: int = 3,
    threshold: float = 0.0,
    df_cap: int | None = 50,
    containment: bool = False,
) -> str:
    """DuckDB oracle twin of jaccard_pairs (1-based list indexing!) — same
    exploded-join + df-cap formulation so both engines agree exactly."""
    cols = ", ".join(block_cols)
    block_on = " AND ".join(f"a.{c} = b.{c}" for c in block_cols)
    sh = _shingles_sql(k)
    cap_cte = (
        f"capped AS (SELECT {cols}, shingle FROM ex GROUP BY {cols}, shingle "
        f"HAVING count(*) <= {df_cap}),\n"
        f"exc AS (SELECT ex.* FROM ex JOIN capped USING ({cols}, shingle)),"
        if df_cap is not None
        else "exc AS (SELECT * FROM ex),"
    )
    cont_col = (
        ",\n       (round((CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh))"
        " + 1.0e-9,6)+0.0e0) AS containment"
        if containment
        else ""
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {cols}, {sh} AS shingles
  FROM (SELECT doc_id, {cols}, string_split(text, ' ') AS toks FROM documents)),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
ex AS (SELECT doc_id, {cols}, unnest(shingles) AS shingle FROM sh),
{cap_cte}
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM exc a JOIN exc b ON {block_on} AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       (round((CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)) + 1.0e-9,6)+0.0e0) AS jaccard{cont_col}
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {threshold:.9e}
"""


def _mins_sql(n_hashes: int) -> list[str]:
    """The n_hashes min-hash aggregates h_i = min((x·(2i+1) + b_i) mod p),
    as text both engines run."""
    return [f"min((x * {2 * i + 1} + {7919 * i + 12345}) % {HASH_P})" for i in range(n_hashes)]


def _shingle_table(df: DataFrame, text: str, k: int) -> DataFrame:
    """(doc_id, shingles), pinned lazily (persist on a cluster): the
    signature build and the exact-Jaccard verify both read it; without the
    pin the corpus is scanned and re-shingled once per reader."""
    return shingles(df, text, k).select("doc_id", "shingles").localCheckpoint(eager=False)


def _signatures_from_shingled(sh_table: DataFrame, n_hashes: int) -> DataFrame:
    """MinHash signatures (doc_id, sig) from a pre-shingled (doc_id,
    shingles) table: one explode + one partial-agg min groupBy."""
    # explode_outer: shingles is never null/empty; plain explode's implicit
    # filter re-evaluates the shingling expression when the input is lazy
    sh = sh_table.select("doc_id", F.explode_outer("shingles").alias("shingle"))
    sh = sh.withColumn("x", F.expr(HASH_SPARK.format(c="shingle")))
    # each h_i from ONE SQL string: the Column-API loop this replaced cost
    # ~9 py4j round trips per hash (~1.4 ms each) at every query build
    g = sh.groupBy("doc_id").agg(
        *[F.expr(m).alias(f"h{i}") for i, m in enumerate(_mins_sql(n_hashes))]
    )
    return g.select("doc_id", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    text: str = "text",
    k: int = 3,
    verify_threshold: float = 0.3,
) -> DataFrame:
    """LSH candidate generation + exact verify.

    Band the signature (rows = n_hashes/bands per band); docs sharing any
    band bucket become candidates (equi-join on (band, band_sig) — uniform
    hash keys, no skew); candidates are verified with exact Jaccard.
    DuckDB replays the whole pipeline bit-for-bit (minhash_lsh_sql).
    """
    sh_table = _shingle_table(df, text, k)
    sig = _signatures_from_shingled(sh_table, n_hashes)
    return _lsh_band_verify(sig, sh_table, bands, n_hashes // bands, verify_threshold)


def _band_explode(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bsig): one row per band, bsig = the band's `rows`
    signature slots joined by ','. ONE F.expr string (the element_at/
    concat_ws Column loop cost ~6 py4j calls per band slot at build time)."""
    bsigs = ", ".join(
        "named_struct('band', {b}, 'bsig', concat_ws(',', {slots}))".format(
            b=b,
            slots=", ".join(f"sig[{b * rows + r}]" for r in range(rows)),
        )
        for b in range(bands)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({bsigs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bsig")


def _lsh_band_verify(
    sig: DataFrame,
    sh_table: DataFrame,
    bands: int,
    rows: int,
    verify_threshold: float,
    round6: bool = False,
) -> DataFrame:
    """Shared LSH tail: band the signature array, equi-join band buckets for
    candidates, verify candidates with exact Jaccard over the shingle sets.
    The verify joins move xxhash64'd shingle arrays instead of raw strings —
    |A∩B|/|A∪B| is unchanged absent a 64-bit collision within one pair's
    union (the standing adjudication; see prefix_jaccard's corpus-scale
    math) and every consumer stays green against the string-keyed oracle."""
    banded = _band_explode(sig, bands, rows)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band", "bsig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = sh_table.select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh")
    )
    cand = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    cand = cand.filter(F.col("jaccard") >= verify_threshold)
    if round6:
        cand = cand.withColumn("jaccard", F.round(F.col("jaccard") + F.lit(1.0e-9), 6))
    return cand


# Exact Jaccard of two shingle lists `sa`/`sb` in the DuckDB oracles.
_JAC_SQL = (
    "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
    " / len(list_distinct(list_concat(sa.shingles, sb.shingles)))"
)


def minhash_ctes_sql(
    n_hashes: int,
    band_configs: tuple[tuple[int, int], ...],
    k: int = 3,
    materialized: tuple[str, ...] = ("sh",),
) -> str:
    """The CTEs every DuckDB MinHash oracle starts from: sh (doc_id,
    shingles), ex (one row per shingle), hx (x = HASH_DUCK), sig (doc_id,
    h0..h{n_hashes-1}) and banded (doc_id, [bands,] band, bsig) for each
    (bands, rows) in band_configs — the `bands` column only when there is
    more than one config. `materialized` names the CTEs DuckDB must
    compute once."""
    mat = {c: " MATERIALIZED" if c in materialized else "" for c in ("sh", "sig")}
    mins = ",\n       ".join(f"{m} AS h{i}" for i, m in enumerate(_mins_sql(n_hashes)))
    multi = len(band_configs) > 1
    band_sel = "\n  UNION ALL ".join(
        f"SELECT doc_id, {f'{bands} AS bands, ' if multi else ''}{b} AS band, concat_ws(',', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + ") AS bsig FROM sig"
        for bands, rows in band_configs
        for b in range(bands)
    )
    return f"""sh AS{mat["sh"]} (
  SELECT doc_id, {_shingles_sql(k)} AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hx AS (SELECT doc_id, {HASH_DUCK.format(c="shingle")} AS x FROM ex),
sig AS{mat["sig"]} (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
banded AS ({band_sel})"""


def minhash_lsh_sql(
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    verify_threshold: float = 0.3,
) -> str:
    """DuckDB oracle twin of minhash_lsh_pairs with jaccard rounded to 6dp."""
    return f"""
WITH {minhash_ctes_sql(n_hashes, ((bands, n_hashes // bands),), k, materialized=())},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       (round(({_JAC_SQL}) + 1.0e-9, 6)+0.0e0) AS jaccard
FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
WHERE {_JAC_SQL} >= {verify_threshold:.9e}
"""


def _local_contract(e: DataFrame) -> DataFrame:
    """Partition-local union-find contraction: each edge partition unions
    its own edges in-memory and emits STAR edges (node → partition-local
    root) instead. Components are preserved — if (u,v) share a partition,
    (u,r) and (v,r) reconnect them — but every intra-partition chain
    collapses to diameter 2, so the distributed loop that follows needs
    O(log #partitions) rounds instead of O(log graph-diameter).

    Python touches ONLY the edge list (already a tiny fraction of corpus
    size after pair generation), one Arrow batch stream per partition,
    O(|E| α(|E|)) time and O(nodes-per-partition) memory."""
    import pandas as pd

    def contract(batches):
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for u, v in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        import numpy as np

        nodes = list(parent)
        yield pd.DataFrame(
            {
                "u": np.asarray(nodes, dtype="int64"),
                "v": np.asarray([find(n) for n in nodes], dtype="int64"),
            }
        )

    return (
        e.mapInPandas(contract, e.schema)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
    local_finish: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (node, label) with
    label = min node id in the component. This is the step a real dedup
    pipeline needs AFTER pair generation (exact/Jaccard/MinHash/SimHash all
    emit pairs): transitive closure groups pairs into clusters so one
    canonical doc per cluster can be kept.

    Scale design: min-label propagation PLUS pointer jumping — each round
    does (1) label ← min(label, min neighbor label): one equi-join on the
    edge list + partial-aggregated min, then (2) label ← label[label]: a
    self-equi-join that halves pointer chains. With (2) convergence is
    O(log diameter) rounds instead of O(diameter); near-dup clusters are
    quasi-cliques (diameter 2–4) so 2–3 rounds in practice. Every round
    localCheckpoints to cut lineage, and the convergence check is one
    count() on the changed set — the same driver-loop shape GraphX's CC
    uses (alternating large-star/small-star is the heavier-duty variant if
    components were web-graph-shaped rather than dup-cluster-shaped).
    """
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    # Phase 1: partition-local union-find contraction flattens every
    # intra-partition chain to a star (one Python pass over the edge list).
    e = _local_contract(e).localCheckpoint(eager=False)
    # Phase 2a: the contracted graph is usually tiny relative to the corpus
    # (≤ one star edge per node) — when it fits one executor, finish with a
    # single union-find pass instead of scheduling O(log d) join rounds.
    # This is the standard hybrid (GraphX/Kiveris): distributed flattening,
    # local finish below a size threshold.
    if e.count() <= local_finish:
        f = _local_contract(e.coalesce(1))
        return (
            f.select(F.col("u").alias("node"), F.col("v").alias("label"))
            .union(f.select(F.col("v").alias("node"), F.col("v").alias("label")))
            .distinct()
        )
    # Phase 2b: graphs too big to finish locally — pointer-jumping label
    # propagation over the flattened edges, O(log diameter) rounds.
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=False)
    lab = sym.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(
                lab.select(F.col("node").alias("v"), F.col("label").alias("vlab")), "v"
            )
            .groupBy("u")
            .agg(F.min("vlab").alias("nbr_lab"))
            .select(F.col("u").alias("node"), "nbr_lab")
        )
        stepped = lab.join(nbr, "node", "left").select(
            "node",
            F.least("label", F.coalesce("nbr_lab", "label")).alias("label"),
            F.col("label").alias("_old"),
        )
        jumped = stepped.join(
            stepped.select(
                F.col("node").alias("label"), F.col("label").alias("_plab")
            ),
            "label",
            "left",
        ).select("node", F.coalesce("_plab", "label").alias("label"), "_old")
        # lazy checkpoint + aggregate: ONE job materializes the round AND
        # returns the convergence signal (vs. checkpoint-then-count = two)
        cur = jumped.localCheckpoint(eager=False)
        changed = cur.select(
            F.sum((F.col("label") != F.col("_old")).cast("int")).alias("c")
        ).collect()[0].c
        lab = cur.select("node", "label")
        if not changed:
            break
    return lab


def simhash(df: DataFrame, text: str = "text") -> DataFrame:
    """63-bit SimHash fingerprint: per token hash (HASH63_SPARK), vote
    +1/−1 per bit, sign → bit.

    Implemented as explode → per-bit vote sums (partial-aggregated) → bit
    assembly. → (doc_id, simhash BIGINT, plus 4×16-bit band columns for
    candidate blocking). DuckDB replays it bit-for-bit (simhash_sql)."""
    toks = df.select("doc_id", F.explode(F.split(F.col(text), " ")).alias("token"))
    toks = toks.withColumn("h", F.expr(HASH63_SPARK.format(c="token")))
    # SWAR vote packing: the ±1 vote for bit i is equivalent to
    # "2*popcount_i > n", so only the per-bit 0/1 POPCOUNTS are aggregated —
    # packed 4 lanes of 16 bits per 64-bit word. 16 plain sums + 1 count
    # replace 64 conditional sums (4x fewer aggregation buffers, simpler
    # update loop). Lane overflow bound: top lane accumulates n * 2^48,
    # safe in a signed long for n ≤ 32767 tokens/doc (docs are chunked far
    # below that; doc_chunks caps at ~thousands).
    # Every big expression is built as ONE SQL string (F.expr): assembling
    # the same trees through the Column API measured ~3 s of per-build py4j
    # chatter on the driver (r14 build/exec split: simhash_pairs build 3.45 s
    # vs exec 0.59 s) — the identical plan compiles from SQL in ~0.3 s.
    packs = [
        F.expr(
            "sum("
            + " + ".join(
                f"CAST((shiftright(h, {w + 16 * k}) & 1) AS BIGINT) * {1 << (16 * k)}L"
                for k in range(4)
            )
            + ")"
        ).alias(f"p{w}")
        for w in range(16)
    ]
    g = toks.groupBy("doc_id").agg(F.count("*").alias("_n"), *packs)
    # bit 63 of h is always 0, so its vote never wins: 63 terms
    terms = [
        f"CASE WHEN (shiftrightunsigned(p{i % 16}, {16 * (i // 16)}) & 65535) * 2 > _n "
        f"THEN {2**i}L ELSE 0L END"
        for i in range(63)
    ]
    out = g.select("doc_id", F.expr(" + ".join(terms)).alias("simhash"))
    for band in range(4):
        out = out.withColumn(
            f"band{band}", F.shiftrightunsigned(F.col("simhash"), band * 16).bitwiseAND(F.lit(0xFFFF))
        )
    return out


def _simhash_ctes_sql() -> str:
    """DuckDB CTEs of simhash(): toks, hx (x = HASH63_DUCK), votes and sig
    (doc_id, simhash)."""
    votes = ",\n       ".join(f"sum((x >> {i}) & 1) AS c{i}" for i in range(63))
    sig = " + ".join(
        f"(CASE WHEN 2 * c{i} > n THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(63)
    )
    return f"""toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
hx AS (
  SELECT doc_id, {HASH63_DUCK.format(c="token")} AS x
  FROM toks),
votes AS (SELECT doc_id, count(*) AS n, {votes} FROM hx GROUP BY doc_id),
sig AS (SELECT doc_id, {sig} AS simhash FROM votes)"""


def simhash_sql() -> str:
    """DuckDB oracle twin of simhash(...).select("doc_id", "simhash")."""
    return f"\nWITH {_simhash_ctes_sql()}\nSELECT doc_id, simhash FROM sig\n"


def simhash_pairs_sql(max_dist: int = 20) -> str:
    """DuckDB oracle twin of simhash → hamming_pairs."""
    band_sel = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, (simhash >> {b * 16}) & 65535 AS bk FROM sig"
        for b in range(4)
    )
    return f"""
WITH {_simhash_ctes_sql()},
banded AS ({band_sel}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(sa.simhash, sb.simhash)) AS hamming
FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_dist}
"""


def hamming_pairs(sim: DataFrame, max_dist: int = 12) -> DataFrame:
    """Candidate pairs agreeing on ≥1 of the 4 16-bit bands (pigeonhole:
    includes ALL pairs with hamming distance ≤ 15; practical near-dups agree
    on ≥1 band), verified with exact popcount distance.

    Bands are EXPLODED so candidate generation is ONE self-equi-join on
    (band_id, band_value) instead of 4 joins that would each recompute the
    vote aggregation. The signature table needs NO pin for that: both join
    sides are the identical exchange-terminated subtree (scan → vote
    aggregate → explode → shuffle on (band_id, bk)), so Spark plans the
    second side as a ReusedExchange — the vote aggregation runs once. The
    old localCheckpoint added nothing at exec time and cost ~0.9 s of
    driver plan-compilation at every query build (localCheckpoint compiles
    the physical plan when CALLED, even lazily — r14 build/exec split)."""
    banded = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("bk"))
                for b in range(4)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band_id", "bb.bk")
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band_id", "bk"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band_id", "bk"
    )
    cands = (
        a.join(b, ["band_id", "bk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    dist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select("doc_a", "doc_b", dist.alias("hamming")).filter(
        F.col("hamming") <= max_dist
    )


# --- prefix-filtered exact similarity join (PPJoin-lite) --------------------
PREFIX_T = 0.5


def prefix_jaccard(
    docs: DataFrame,
    text: str = "text",
    k: int = 3,
    threshold: float = PREFIX_T,
    sized: bool = False,
) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (Chaudhuri et
    al. ICDE'06; Xiao et al. WWW'08 "PPJoin") — the third point on the
    dedup cost/recall curve: EXACT results like the blocked n-gram join,
    corpus-wide like LSH, no blocking keys and no approximation.

    The set elements are the same word k-shingles the blocked join uses
    (single words are hopeless on a small vocabulary — every pair
    overlaps). Shingles are globally ordered rarest-first (by document
    frequency, tie-break shingle text). For Jaccard >= t, two docs MUST
    share a shingle within each other's first |d| - ceil(t*|d|) + 1
    rarest shingles — so the candidate join runs only on that prefix.
    Stop-shingles sort LAST and almost never enter a prefix, which is
    what kills the df^2 hot-shingle blowup that forces a df_cap in the
    plain shingle join: the prefix filter is the PRINCIPLED version of
    that cap, with zero recall loss.

    Scale shape: tokenize once (lazy localCheckpoint — feeds 4 branches);
    df table is one groupBy (no broadcast: vocab-sized); per-doc rank
    window is partitioned by doc_id; the candidate equi-join runs on
    prefix tokens only (rare by construction -> near-uniform join key);
    the verify step joins candidates back to full token sets, linear in
    |candidates| x doc length. Length filter t*|b| <= |a| <= |b|/t prunes
    before verify. threshold = 0.5 keeps t*|d| arithmetic exact in fp on
    both engines.

    sized=True appends the shingle-set sizes (la, lb) to the output —
    the default (certified doc_prefix_jaccard) path is unchanged; the
    sized variant feeds dedup_threshold_frontier, whose per-threshold
    re-filtering needs exact integer arithmetic on (n_common, la, lb)."""
    # Tokens are hashed ONCE at tokenization (xxhash64 → 8-byte keys): every
    # downstream exchange and join (document frequency, prefix self-join,
    # verification) then moves 8 B keys instead of ~25-char shingle strings
    # (opt guide §2.3). PPJoin's prefix filter is exact under ANY fixed
    # total token order, so ordering by (dfr, hash) instead of (dfr, text)
    # may shift which tokens sit in a prefix but CANNOT change the verified
    # output (every jaccard>=t pair still shares a prefix token; the final
    # filter recomputes exact n_common/jac) — values identical absent a
    # 64-bit collision, the dedup_substr_hash adjudication, and the
    # string-keyed DuckDB oracle still checks the output. (A count-window
    # form of the document frequency was tried and REVERTED: it loses the
    # map-side partial aggregation and sorts the full token table, ~2x
    # slower than the groupBy + join-back.)
    # The shingle ARRAY table is the pin (hashed in place via transform):
    # the exploded token view, the per-doc sizes, and the verify arrays all
    # derive from it without re-shingling. sizes = size(array) is free
    # (shingles() emits distinct arrays) — the old groupBy(doc_id).count()
    # shuffle over the exploded tokens is gone (opt guide §2.4).
    sh_h = (
        shingles(docs, text, k)
        .select(
            "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh")
        )
        .localCheckpoint(eager=False)
    )
    toks = sh_h.select("doc_id", F.explode("sh").alias("token"))
    sizes = sh_h.select("doc_id", F.size("sh").alias("sz"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("dfr"))
    ranked = (
        toks.join(dfreq, "token")
        .join(sizes, "doc_id")
        .withColumn(
            "r",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("dfr", "token")),
        )
    )
    prefix = ranked.filter(
        F.col("r") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("doc_id", "token", "sz")
    a = prefix.select(F.col("doc_id").alias("doc_a"), "token", F.col("sz").alias("la"))
    b = prefix.select(F.col("doc_id").alias("doc_b"), "token", F.col("sz").alias("lb"))
    cand = (
        a.join(b, "token")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("la").cast("double") >= F.lit(threshold) * F.col("lb"))
            & (F.col("lb").cast("double") >= F.lit(threshold) * F.col("la"))
        )
        .select("doc_a", "doc_b", "la", "lb")
        .distinct()
    )
    # Verify on the hashed ARRAYS, not exploded rows (opt guide §2.3/§2.4,
    # VERDICT r13 item 2's prescription for the sibling minhash verify):
    # the old form joined |cand| x doc-length exploded token rows through
    # two shuffles plus a groupBy and then re-joined cand for (la, lb);
    # now two |cand|-row joins attach each side's 8-byte hash array and
    # n_common = size(array_intersect(..)) computes per row — no exploded
    # intermediate, no aggregate, no join-back. n_common is identical:
    # both forms count over the SAME hashed token domain (array_intersect
    # dedups, and the arrays are distinct by construction — a difference
    # needs a 64-bit collision, the standing adjudication; at the declared
    # 100 TB scale ~1e9 docs x ~1e3 shingles give ~1e12 hashed tokens and
    # a birthday expectation of ~(1e12)^2/2^65 ~ 2.7e4 colliding PAIRS
    # corpus-wide, i.e. ~1e-8 of verified pairs perturbed — and the
    # string-keyed DuckDB oracle still certifies the test corpora).
    out = (
        cand.join(
            sh_h.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("_sa")),
            "doc_a",
        )
        .join(
            sh_h.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("_sb")),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jac",
            F.col("n_common") / (F.col("la") + F.col("lb") - F.col("n_common")),
        )
        .filter(F.col("jac") >= threshold)
    )
    cols = ["doc_a", "doc_b", "n_common", "jac"] + (["la", "lb"] if sized else [])
    return out.select(*cols)


def prefix_jaccard_sql(k: int = 3, threshold: float = PREFIX_T, sized: bool = False) -> str:
    from . import expr as E

    T = E.NUM(threshold)
    sh = _shingles_sql(k)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest({sh}) AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
dfreq AS (SELECT token, count(*) AS dfr FROM toks GROUP BY token),
ranked AS (
  SELECT t.doc_id, t.token, s.sz,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.dfr, t.token) AS r
  FROM toks t JOIN dfreq d USING (token) JOIN sizes s USING (doc_id)),
prefix AS (
  SELECT doc_id, token, sz FROM ranked
  WHERE r <= sz - CAST(ceil({T} * sz) AS BIGINT) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sz AS la, b.sz AS lb
  FROM prefix a JOIN prefix b ON a.token = b.token AND a.doc_id < b.doc_id
  WHERE CAST(a.sz AS DOUBLE) >= {T} * b.sz
    AND CAST(b.sz AS DOUBLE) >= {T} * a.sz),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM (SELECT doc_a, doc_b FROM cand) c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
  GROUP BY c.doc_a, c.doc_b)
SELECT i.doc_a, i.doc_b, i.n_common,
       (round(CAST(i.n_common AS DOUBLE) / (c.la + c.lb - i.n_common)
              + 1.0e-9, 6) + 0.0e0) AS jac{", c.la, c.lb" if sized else ""}
FROM inter i JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (c.la + c.lb - i.n_common) >= {T}
"""


# --- LSH banding quality eval -------------------------------------------------
EVAL_T = 0.3


def lsh_recall_eval(docs: DataFrame, threshold: float = EVAL_T) -> DataFrame:
    """Candidate-generation quality of MinHash-LSH banding measured
    against EXACT ground truth: truth = every pair with shingle Jaccard
    >= t (from the prefix-filtered exact join), hits = LSH candidate
    pairs whose verified Jaccard clears t, precision = hits over all
    band collisions. This is the eval that justifies (or indicts) a
    bands/rows configuration BEFORE running it over a petabyte — recall
    says what the banding misses, precision says how much verify work
    collisions cost. The hash is HASH_SPARK, so the whole eval is
    engine-replayable.

    Scale shape: composes two already-bounded pipelines (prefix join +
    banded 16x4 LSH); the eval itself is one aggregate over the candidates
    (n_cand, n_hits) cross-joined with the truth count — one lazy plan, no
    job at build time."""
    n_truth = prefix_jaccard(docs, threshold=threshold).agg(F.count("*").alias("n_truth"))
    sh_table = _shingle_table(docs, "text", 3)
    sig = _signatures_from_shingled(sh_table, 16)
    cand = _lsh_band_verify(sig, sh_table, 4, 4, verify_threshold=0.0, round6=True)
    counts = cand.agg(
        F.count("*").alias("n_cand"),
        F.count(F.when(F.col("jaccard") >= threshold, 1)).alias("n_hits"),
    )

    def ratio(den: str) -> F.Column:
        q = F.col("n_hits").cast("double") / F.greatest(F.col(den), F.lit(1))
        return F.round(q + F.lit(1e-9), 6) + F.lit(0.0)

    return counts.crossJoin(F.broadcast(n_truth)).select(
        "n_truth",
        "n_cand",
        "n_hits",
        ratio("n_truth").alias("recall"),
        ratio("n_cand").alias("precision"),
    )


def lsh_recall_eval_sql(threshold: float = EVAL_T) -> str:
    from . import expr as E

    T = E.NUM(threshold)
    truth = prefix_jaccard_sql(threshold=threshold)
    cand = minhash_lsh_sql(16, 4, verify_threshold=0.0)
    return f"""
WITH truth AS MATERIALIZED ({truth}),
cand AS MATERIALIZED ({cand}),
c AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM cand WHERE jaccard >= {T})
               AS n_hits
      FROM truth)
SELECT n_truth, n_cand, n_hits,
       (round(CAST(n_hits AS DOUBLE) / greatest(n_truth, 1) + 1.0e-9, 6) + 0.0e0)
         AS recall,
       (round(CAST(n_hits AS DOUBLE) / greatest(n_cand, 1) + 1.0e-9, 6) + 0.0e0)
         AS precision
FROM c
"""


# --- dedup operating-point frontiers (round-10 eval family) -------------------
# One evaluation, every operating point — the table a 100 TB dedup operator
# reads before committing to a threshold or a banding. Same design as the r9
# ANN frontiers (nprobe / re-rank budget): the expensive pair generation runs
# ONCE; each operating point is a cheap re-filter or re-count of the pinned
# candidate set.

DEDUP_THR10 = (5, 6, 7, 8, 9)  # Jaccard thresholds x10: 0.5 .. 0.9


def dedup_threshold_frontier(docs: DataFrame, text: str = "text", k: int = 3) -> DataFrame:
    """Dedup aggressiveness frontier: from ONE exact PPJoin run at the
    loosest threshold (0.5), the per-threshold removal cost for every
    t in {0.5,...,0.9} — duplicate pairs, docs removed under the
    keep-first convention (a doc is dropped iff it is the HIGHER id of
    any pair at >= t), and their total distinct-shingle mass.

    The per-threshold re-filter is EXACT integer arithmetic
    (10*n_common >= t10*(la+lb-n_common) <=> jaccard >= t10/10), so no
    float boundary can diverge between engines. Thresholds with no pairs
    still emit a row (left join from the threshold dim).

    Scale shape: prefix_jaccard is the bounded pair generator (prefix
    filter, no all-pairs); the pinned pair set is |duplicates|-sized, and
    each threshold costs one re-scan of that pin — NOT a corpus rescan.
    -> (thr_pct, n_pairs, n_docs_removed, shingles_removed)."""
    pairs = prefix_jaccard(docs, text, k, threshold=PREFIX_T, sized=True).localCheckpoint(
        eager=False
    )
    spark = docs.sparkSession
    thr = spark.createDataFrame([(t,) for t in DEDUP_THR10], "thr10 bigint")
    flagged = pairs.crossJoin(F.broadcast(thr)).filter(
        F.lit(10) * F.col("n_common")
        >= F.col("thr10") * (F.col("la") + F.col("lb") - F.col("n_common"))
    )
    per_thr = flagged.groupBy("thr10").agg(F.count("*").alias("n_pairs"))
    removed = (
        flagged.select("thr10", "doc_b", "lb")
        .distinct()
        .groupBy("thr10")
        .agg(F.count("*").alias("n_docs_removed"), F.sum("lb").alias("shingles_removed"))
    )
    return (
        thr.join(per_thr, "thr10", "left")
        .join(removed, "thr10", "left")
        .select(
            (F.col("thr10") * 10).cast("bigint").alias("thr_pct"),
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs_removed", F.lit(0)).cast("bigint").alias("n_docs_removed"),
            F.coalesce("shingles_removed", F.lit(0)).cast("bigint").alias("shingles_removed"),
        )
    )


def dedup_threshold_frontier_sql(k: int = 3) -> str:
    pairs = prefix_jaccard_sql(k=k, threshold=PREFIX_T, sized=True)
    thr_list = ", ".join(str(t) for t in DEDUP_THR10)
    return f"""
WITH pairs AS MATERIALIZED ({pairs}),
thr AS (SELECT unnest([{thr_list}]) AS thr10),
flagged AS (
  SELECT t.thr10, p.doc_b, p.lb
  FROM pairs p JOIN thr t
    ON 10 * p.n_common >= t.thr10 * (p.la + p.lb - p.n_common)),
per_thr AS (SELECT thr10, count(*) AS n_pairs FROM flagged GROUP BY thr10),
removed AS (
  SELECT thr10, count(*) AS n_docs_removed, sum(lb) AS shingles_removed
  FROM (SELECT DISTINCT thr10, doc_b, lb FROM flagged) GROUP BY thr10)
SELECT CAST(t.thr10 * 10 AS BIGINT) AS thr_pct,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(r.n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
       CAST(coalesce(r.shingles_removed, 0) AS BIGINT) AS shingles_removed
FROM thr t LEFT JOIN per_thr p USING (thr10) LEFT JOIN removed r USING (thr10)
"""


BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))  # (bands, rows/band), 16 hashes


def minhash_band_frontier(
    docs: DataFrame, text: str = "text", k: int = 3, threshold: float = EVAL_T
) -> DataFrame:
    """MinHash banding frontier: recall/precision of EVERY (bands, rows)
    split of ONE 16-hash signature table, against the exact
    PPJoin truth at the eval threshold. This is the LSH S-curve as a
    table: more rows/band -> fewer, cleaner candidates; fewer rows/band
    -> higher recall at quadratic verify cost. lsh_recall_eval is the
    single-point (4x4) version; its numbers must (and do — pinned by
    test) equal this frontier's bands=4 row.

    One trick makes it one evaluation instead of four: candidate sets
    are NESTED (an r-row band collision implies collisions of all its
    sub-bands), so the union of all configs' candidates is exactly the
    coarsest config's set — verify THAT set once, then each config
    re-counts its own membership against the shared verified jaccards.

    Scale shape: signatures are one explode + one partial-agg min
    groupBy; the four bandings explode from the same signature row (one
    pass); the band self-join runs on uniform hash keys; verify is
    linear in |coarsest candidate set| — which is precisely the cost
    this table exists to expose before a petabyte run.
    -> (bands, rows_per_band, n_cand, n_hits, n_truth, recall, precision)."""
    n_hashes = 16
    sh_table = _shingle_table(docs, text, k)
    sig = _signatures_from_shingled(sh_table, n_hashes)
    # Candidate sets are NESTED, so only the FINEST banding (16 bands of 1
    # row) needs a self-join: a pair collides in config (bands, rows) iff
    # some aligned run of `rows` consecutive single-hash positions all
    # collide. The join therefore runs on 16 rows/doc keyed by the raw
    # BIGINT hash (was: 30 rows/doc keyed by concat_ws strings across all
    # four configs), and each coarser config's membership is derived from a
    # 16-bit position-collision MASK with exact integer arithmetic — no
    # per-config distinct, no second join of candidates against the
    # verified jaccards (opt guide §2.3/§2.4: fewer and narrower shuffle
    # bytes, shuffles removed outright). coalesce(h, -1) reproduces the
    # oracle's concat_ws null behavior (a doc's slots are all-null or
    # all-set, so empty-shingle docs still collide with each other, never
    # with a real hash — HASH_P hashes are nonnegative). Counts are provably
    # identical: mask bit b set <=> single-row band b bsig equality, and
    # multi-row bsig equality <=> all member positions equal (concat_ws is
    # unambiguous here because mixed null/non-null rows cannot occur).
    banded = sig.select(
        "doc_id",
        F.posexplode(F.expr("transform(sig, h -> coalesce(h, -1L))")).alias("band", "bk"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    mask_pairs = (
        a.join(b, ["band", "bk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.expr("shiftleft(1, band)")).alias("mask"))
    )
    # Verify joins move 8-byte HASHED shingle arrays, not raw strings
    # (VERDICT r13 item 2, opt guide §2.3): sh_h is a narrow transform over
    # the pinned sh_table, so shingling still runs once; the two pair joins
    # and the intersect/union arithmetic then work on bigint arrays.
    # |A∩B| and |A∪B| are unchanged absent a 64-bit collision within one
    # pair's union (the standing dedup_substr_hash adjudication; expected
    # colliding pairs at the declared 100 TB scale ~1e-8 of verified pairs
    # — see prefix_jaccard's math), and the string-keyed oracle still
    # certifies the test corpora.
    sh_h = sh_table.select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh")
    )
    ver = (
        mask_pairs.join(
            sh_h.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh_h.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "mask",
            # 6dp-rounded with the house idiom so the hit test below sees the
            # SAME jaccard lsh_recall_eval filters (its _lsh_band_verify
            # runs with round6=True) — keeps the tested "bands=4 row IS
            # lsh_recall_eval" invariant exact on boundary corpora (ADVICE r10).
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
                + F.lit(1.0e-9),
                6,
            ).alias("jaccard"),
        )
    )

    def _member(bands: int) -> F.Column:
        rows = n_hashes // bands
        full = (1 << rows) - 1
        cond = F.lit(False)
        for bi in range(bands):
            want = full << (bi * rows)
            cond = cond | (F.col("mask").bitwiseAND(F.lit(want)) == F.lit(want))
        return cond

    per_cfg = (
        ver.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bands).alias("bands"), _member(bands).alias("m")
                        )
                        for bands, _ in BAND_CONFIGS
                    ]
                )
            ).alias("c"),
            "jaccard",
        )
        .filter(F.col("c.m"))
        .groupBy(F.col("c.bands").alias("bands"))
        .agg(
            F.count("*").alias("n_cand"),
            F.sum(F.when(F.col("jaccard") >= threshold, 1).otherwise(0)).alias("n_hits"),
        )
    )
    truth_n = (
        prefix_jaccard(docs, text, k, threshold=threshold)
        .agg(F.count("*").alias("n_truth"))
    )
    spark = docs.sparkSession
    cfg = spark.createDataFrame([(bb,) for bb, _ in BAND_CONFIGS], "bands int")
    return (
        cfg.join(per_cfg, "bands", "left")
        .crossJoin(F.broadcast(truth_n))
        .select(
            F.col("bands").cast("bigint").alias("bands"),
            (F.lit(n_hashes) / F.col("bands")).cast("bigint").alias("rows_per_band"),
            F.coalesce("n_cand", F.lit(0)).cast("bigint").alias("n_cand"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.col("n_truth").cast("bigint").alias("n_truth"),
            (
                F.round(
                    F.coalesce("n_hits", F.lit(0)).cast("double")
                    / F.greatest(F.col("n_truth"), F.lit(1))
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("recall"),
            (
                F.round(
                    F.coalesce("n_hits", F.lit(0)).cast("double")
                    / F.greatest(F.coalesce("n_cand", F.lit(0)), F.lit(1))
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("precision"),
        )
    )


def minhash_band_frontier_sql(k: int = 3, threshold: float = EVAL_T) -> str:
    from . import expr as E

    n_hashes = 16
    T = E.NUM(threshold)
    cfg_list = ", ".join(str(bb) for bb, _ in BAND_CONFIGS)
    truth = prefix_jaccard_sql(k=k, threshold=threshold)
    return f"""
WITH {minhash_ctes_sql(n_hashes, BAND_CONFIGS, k)},
bcand AS MATERIALIZED (
  SELECT DISTINCT a.bands, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.bands = b.bands AND a.band = b.band AND a.bsig = b.bsig
   AND a.doc_id < b.doc_id),
pairs AS (SELECT DISTINCT doc_a, doc_b FROM bcand),
ver AS (
  SELECT doc_a, doc_b, round({_JAC_SQL} + 1.0e-9, 6) AS jaccard
  FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
per_cfg AS (
  SELECT c.bands, count(*) AS n_cand,
         sum(CASE WHEN v.jaccard >= {T} THEN 1 ELSE 0 END) AS n_hits
  FROM bcand c JOIN ver v USING (doc_a, doc_b) GROUP BY c.bands),
cfg AS (SELECT unnest([{cfg_list}]) AS bands),
tp AS MATERIALIZED ({truth}),
truth AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tp)
SELECT CAST(f.bands AS BIGINT) AS bands,
       CAST({n_hashes} // f.bands AS BIGINT) AS rows_per_band,
       CAST(coalesce(p.n_cand, 0) AS BIGINT) AS n_cand,
       CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
       t.n_truth,
       (round(CAST(coalesce(p.n_hits, 0) AS DOUBLE) / greatest(t.n_truth, 1)
              + 1.0e-9, 6) + 0.0e0) AS recall,
       (round(CAST(coalesce(p.n_hits, 0) AS DOUBLE) / greatest(coalesce(p.n_cand, 0), 1)
              + 1.0e-9, 6) + 0.0e0) AS precision
FROM cfg f LEFT JOIN per_cfg p USING (bands) CROSS JOIN truth t
"""


# --- incremental dedup: new shard vs existing corpus (round-10) ---------------
INCR_MOD = 10  # doc_id % INCR_MOD == 0 -> the "new shard" (~10% of the corpus)


def dedup_incremental_lsh(
    docs: DataFrame,
    text: str = "text",
    k: int = 3,
    mod: int = INCR_MOD,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = EVAL_T,
) -> DataFrame:
    """The production dedup shape: near-dup the NEW shard against the
    existing corpus without ever pairing the corpus with itself. A 100 TB
    store ingesting 1 TB/day re-runs dedup daily — re-banding 100 TB
    against 100 TB per day is the naive plan; the incremental plan joins
    only new-side band buckets against the signature store, so the pair
    stream is |new| x bucket-density, never |corpus|^2-shaped.

    The shard split is deterministic and engine-portable (doc_id % mod ==
    0 is "new"). A new doc counts as dup_vs_base if any base doc shares a
    verified-Jaccard >= t pair with it, and dup_within_new if an EARLIER
    new doc (lower doc_id, keep-first) does. Per-source readout of the
    new shard. -> (source, n_new, dup_vs_base, dup_within_new, dup_frac).

    Scale shape: signatures are one explode + one partial-agg min groupBy
    over the full corpus (the signature store, computed once and stored
    in a real deployment); the candidate join filters ONE side to the new
    shard before joining; verify is linear in |candidates|. Same
    signatures and banding as minhash_lsh_pairs, so DuckDB replays it
    bit-for-bit."""
    is_new = (F.col("doc_id") % mod) == 0
    sh_table = _shingle_table(docs, text, k)
    banded = _band_explode(_signatures_from_shingled(sh_table, n_hashes), bands, n_hashes // bands)
    nb = banded.filter(is_new).select(
        F.col("doc_id").alias("new_id"), "band", "bsig"
    )
    cand = (
        nb.join(banded, ["band", "bsig"])
        .where(
            (F.col("doc_id") != F.col("new_id"))
            # base partner: any; new partner: only EARLIER ids (keep-first)
            & (((F.col("doc_id") % mod) != 0) | (F.col("doc_id") < F.col("new_id")))
        )
        .select("new_id", F.col("doc_id").alias("other_id"))
        .distinct()
    )
    ver = (
        cand.join(
            sh_table.withColumnRenamed("doc_id", "new_id").withColumnRenamed("shingles", "sh_a"),
            "new_id",
        )
        .join(
            sh_table.withColumnRenamed("doc_id", "other_id").withColumnRenamed("shingles", "sh_b"),
            "other_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "new_id", ((F.col("other_id") % mod) != 0).alias("other_is_base")
        )
    )
    flags = ver.groupBy("new_id").agg(
        F.max(F.when(F.col("other_is_base"), 1).otherwise(0)).alias("f_base"),
        F.max(F.when(~F.col("other_is_base"), 1).otherwise(0)).alias("f_new"),
    )
    new_docs = docs.filter(is_new).select("doc_id", "source")
    joined = new_docs.join(flags, new_docs.doc_id == flags.new_id, "left")
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_new"),
        F.sum(F.coalesce("f_base", F.lit(0))).cast("bigint").alias("dup_vs_base"),
        F.sum(F.coalesce("f_new", F.lit(0))).cast("bigint").alias("dup_within_new"),
        (
            F.round(
                F.sum(
                    F.when(
                        (F.coalesce("f_base", F.lit(0)) + F.coalesce("f_new", F.lit(0))) > 0, 1
                    ).otherwise(0)
                ).cast("double")
                / F.count("*")
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_frac"),
    )


def dedup_incremental_lsh_sql(
    k: int = 3,
    mod: int = INCR_MOD,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = EVAL_T,
) -> str:
    from . import expr as E

    T = E.NUM(threshold)
    return f"""
WITH {minhash_ctes_sql(n_hashes, ((bands, n_hashes // bands),), k)},
icand AS (
  SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS other_id
  FROM banded n JOIN banded b ON n.band = b.band AND n.bsig = b.bsig
  WHERE n.doc_id % {mod} = 0 AND b.doc_id <> n.doc_id
    AND (b.doc_id % {mod} <> 0 OR b.doc_id < n.doc_id)),
ver AS (
  SELECT c.new_id, c.other_id % {mod} <> 0 AS other_is_base
  FROM icand c JOIN sh sa ON sa.doc_id = c.new_id
               JOIN sh sb ON sb.doc_id = c.other_id
  WHERE {_JAC_SQL} >= {T}),
flags AS (
  SELECT new_id,
         max(CASE WHEN other_is_base THEN 1 ELSE 0 END) AS f_base,
         max(CASE WHEN NOT other_is_base THEN 1 ELSE 0 END) AS f_new
  FROM ver GROUP BY new_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_new,
       CAST(sum(coalesce(f.f_base, 0)) AS BIGINT) AS dup_vs_base,
       CAST(sum(coalesce(f.f_new, 0)) AS BIGINT) AS dup_within_new,
       (round(CAST(sum(CASE WHEN coalesce(f.f_base, 0) + coalesce(f.f_new, 0) > 0
                            THEN 1 ELSE 0 END) AS DOUBLE) / count(*) + 1.0e-9, 6)
        + 0.0e0) AS dup_frac
FROM documents d LEFT JOIN flags f ON f.new_id = d.doc_id
WHERE d.doc_id % {mod} = 0
GROUP BY d.source
"""


SIG_LENGTHS = (4, 8, 16)  # minhash signature-length operating points


def minhash_size_frontier(
    docs: DataFrame, text: str = "text", k: int = 3, n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Signature-storage frontier: Jaccard estimation error of EVERY
    signature length from ONE 16-hash signature table — the
    first L hash slots of an independent-hash minhash ARE a valid
    L-hash minhash, so the 4/8/16-hash estimators share one computation.
    At 100 TB the signature store is n_hashes longs per doc; this table
    is the storage-vs-accuracy curve that picks n_hashes (the banding
    recall curve is minhash_band_frontier's axis; this one is estimator
    quality on the pairs you actually inspect).

    est_L = (matching slots among first L) / L, compared against the
    exact (6dp-rounded, engine-identical) Jaccard of the candidate pairs
    from the certified (4x4) banding. Emits mean absolute error and mean
    signed bias per L. -> (sig_len, n_pairs, mean_abs_err, mean_bias)."""
    rows = n_hashes // bands
    sh_table = _shingle_table(docs, text, k)
    sig = _signatures_from_shingled(sh_table, n_hashes).localCheckpoint(eager=False)
    pairs = _lsh_band_verify(sig, sh_table, bands, rows, verify_threshold=0.0, round6=True)
    joined = (
        pairs.join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a"
        )
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
    )
    aggs = []
    for L in SIG_LENGTHS:
        # one SQL string per estimator (the element_at Column loop cost
        # ~5 py4j calls per slot at build time; same expression tree)
        matches = " + ".join(
            f"CAST((sig_a[{i}] = sig_b[{i}]) AS INT)" for i in range(L)
        )
        est = f"(CAST(({matches}) AS DOUBLE) / {float(L)}e0)"
        aggs.append(F.count("*").alias(f"n{L}"))
        aggs.append(F.expr(f"avg(abs({est} - jaccard))").alias(f"e{L}"))
        aggs.append(F.expr(f"avg({est} - jaccard)").alias(f"b{L}"))
    one = joined.agg(*aggs)
    stack = ", ".join(f"{L}L, n{L}, e{L}, b{L}" for L in SIG_LENGTHS)
    return (
        one.selectExpr(
            f"stack({len(SIG_LENGTHS)}, {stack}) AS (sig_len, n_pairs, mae, bias)"
        )
        .select(
            F.col("sig_len").cast("bigint").alias("sig_len"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            (F.round(F.col("mae") + F.lit(1e-9), 6) + F.lit(0.0)).alias("mean_abs_err"),
            (F.round(F.col("bias") + F.lit(1e-9), 6) + F.lit(0.0)).alias("mean_bias"),
        )
    )


def minhash_size_frontier_sql(k: int = 3, n_hashes: int = 16, bands: int = 4) -> str:
    est_cols = []
    for L in SIG_LENGTHS:
        m = " + ".join(
            f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(L)
        )
        est_cols.append(f"CAST({m} AS DOUBLE) / {float(L)}e0 AS est{L}")
    agg_cols = ",\n         ".join(
        f"count(*) AS n{L}, avg(abs(est{L} - jaccard)) AS e{L}, "
        f"avg(est{L} - jaccard) AS b{L}"
        for L in SIG_LENGTHS
    )
    rows_sel = "\n  UNION ALL ".join(
        f"SELECT {L} AS sig_len, n{L} AS n_pairs, e{L} AS mae, b{L} AS bias FROM agg"
        for L in SIG_LENGTHS
    )
    est_sel = ",\n         ".join(est_cols)
    return f"""
WITH {minhash_ctes_sql(n_hashes, ((bands, n_hashes // bands),), k, materialized=("sh", "sig"))},
bcand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
pairs AS (
  SELECT doc_a, doc_b, (round(({_JAC_SQL}) + 1.0e-9, 6)+0.0e0) AS jaccard
  FROM bcand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
  WHERE {_JAC_SQL} >= 0.0e0),
est AS (
  SELECT p.jaccard,
         {est_sel}
  FROM pairs p JOIN sig a ON a.doc_id = p.doc_a JOIN sig b ON b.doc_id = p.doc_b),
agg AS (
  SELECT {agg_cols}
  FROM est)
SELECT CAST(sig_len AS BIGINT) AS sig_len,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       (round(mae + 1.0e-9, 6) + 0.0e0) AS mean_abs_err,
       (round(bias + 1.0e-9, 6) + 0.0e0) AS mean_bias
FROM ({rows_sel})
"""
