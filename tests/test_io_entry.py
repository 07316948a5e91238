"""Persistence round-trip (SURVEY §2 A5) and the flagship entry."""
import tempfile
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tsgen import generators, io


def test_save_load_roundtrip(spark):
    df = generators.generate(spark, 8, 32, "mixed")
    with tempfile.TemporaryDirectory() as d:
        io.save_run(df, f"{d}/run", {"family": "mixed", "n": 8, "seq_len": 32})
        back, cfg = io.load_run(spark, f"{d}/run")
        assert cfg == {"family": "mixed", "n": 8, "seq_len": 32}
        a = df.toPandas().sort_values(["series_id", "t"]).reset_index(drop=True)
        b = back.toPandas().sort_values(["series_id", "t"]).reset_index(drop=True)
        assert (a.value - b.value).abs().max() < 1e-15


def test_save_run_twice_keeps_the_second_config(spark, tmp_path):
    import json

    df = generators.generate(spark, 2, 8, "sine")
    path = str(tmp_path / "run")
    io.save_run(df, path, {"epoch": 1})
    io.save_run(df, path, {"epoch": 2, "note": "über"})
    assert io.load_run(spark, path)[1] == {"epoch": 2, "note": "über"}
    # the sidecar is still the one-row JSON table Spark reads
    rows = spark.read.json(f"{path}/config").collect()
    assert [json.loads(r.config) for r in rows] == [{"epoch": 2, "note": "über"}]


def test_load_run_reads_a_config_written_by_spark(spark, tmp_path):
    # the sidecar as a Spark json job writes it (older checkpoints): UTF-8
    # text, part files named part-<n>-<uuid>-c000.json, empty ones for empty
    # partitions, plus _SUCCESS and .crc files
    import json

    path = str(tmp_path / "run")
    io.save_series(generators.generate(spark, 2, 8, "sine"), f"{path}/data")
    cfg = {"family": "sine", "n": 2, "name": "ß"}
    spark.createDataFrame([(json.dumps(cfg, ensure_ascii=False),)], "config string").write.json(
        f"{path}/config"
    )
    assert io.load_run(spark, path)[1] == cfg


def test_entry_contract(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"source", "series_key", "trend_frac", "seas_frac", "resid_frac"} <= cols
    # variance fractions sum to ~1 only if components were uncorrelated;
    # at minimum each is finite and non-negative
    for r in rows:
        assert r.trend_frac >= 0 and r.seas_frac >= 0 and r.resid_frac >= 0


def _flagship_by_hand(spark, sf_dir: str) -> dict:
    """(source, series_key) → (n_points, total_var, trend_frac, seas_frac,
    resid_frac) of `queries.flagship`, recomputed outside its plan: pandas
    for the hourly events series and the z-norm, `trend_seasonality` on the
    stacked numpy rows, and flagship's 6-dp rounding (+1e-9 nudge, half up)."""
    from tsgen.decompose import DEFAULT_DEGREE, DEFAULT_TOP_K, trend_seasonality
    from tsgen.normalize import EPS

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    hourly = (
        ev.assign(bucket=ev.ts.dt.floor("h")).groupby(["event_type", "bucket"]).value.mean()
    )
    series = [("events", k, g.sort_index().to_numpy()) for k, g in hourly.groupby(level=0)]
    syn = generators.generate(spark, 16, 128, "linear_sum", normalize=False).toPandas()
    for sid, g in syn.groupby("series_id"):
        series.append(("synthetic", f"synthetic_{sid}", g.sort_values("t").value.to_numpy()))

    def r6(x):
        return float(Decimal(repr(x + 1e-9)).quantize(Decimal("1e-6"), ROUND_HALF_UP)) + 0.0

    want = {}
    for n in {len(v) for *_, v in series}:
        group = [(src, key, v) for src, key, v in series if len(v) == n]
        X = np.stack([(v - v.mean()) / (v.std(ddof=1) + EPS) for *_, v in group])
        trend, seas = trend_seasonality(X, DEFAULT_DEGREE, DEFAULT_TOP_K)
        var = X.var(axis=1, ddof=1)
        for i, (src, key, _) in enumerate(group):
            fracs = [c[i].var(ddof=1) / var[i] for c in (trend, seas, X - trend - seas)]
            want[(src, key)] = (n, *(r6(x) for x in (var[i], *fracs)))
    return want


def test_flagship_values_match_an_independent_recompute(spark):
    import inspect

    from tsgen.queries import flagship

    sf_dir = inspect.signature(flagship).parameters["sf_dir"].default  # the entry's tables
    got = {
        (r.source, r.series_key): (r.n_points, r.total_var, r.trend_frac, r.seas_frac, r.resid_frac)
        for r in flagship(spark, sf_dir).collect()
    }
    want = _flagship_by_hand(spark, sf_dir)
    assert sorted(got) == sorted(want)
    assert {s for s, _ in got} == {"events", "synthetic"}
    for key, row in want.items():
        assert got[key][0] == row[0], key
        assert np.allclose(got[key][1:], row[1:], rtol=0, atol=1e-9), (key, got[key], row)


def test_bucketed_join_no_shuffle(spark):
    # bucketed layout: join on the bucket key needs NO Exchange on either side
    a = generators.generate(spark, 64, 16, "sine")
    b = generators.generate(spark, 64, 16, "cosine").withColumnRenamed("value", "value_b")
    io.save_bucketed(a, "bkt_a", n_buckets=8)
    io.save_bucketed(b, "bkt_b", n_buckets=8)
    ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
    # force sort-merge (broadcast would win at this toy size and hide the
    # bucketing benefit being asserted)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # per-series agg on the bucket key + join back: BOTH stages reuse
        # the bucketing, so the whole plan is shuffle-free
        from pyspark.sql import functions as F

        stats = tb.groupBy("series_id").agg(F.avg("value_b").alias("mu_b"))
        joined = ta.join(stats, "series_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # co-located: no shuffle anywhere
        assert joined.count() == 64 * 16
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE bkt_a")
        spark.sql("DROP TABLE bkt_b")


def test_partitioned_write_prunes_by_family(spark, tmp_path):
    # partition-by-family layout: a family filter must prune at the source
    a = generators.generate(spark, 8, 16, "sine").withColumn("family", F.lit("sine"))
    b = generators.generate(spark, 8, 16, "cosine").withColumn("family", F.lit("cosine"))
    path = str(tmp_path / "part")
    io.save_series(a.unionByName(b), path, partition_by="family")
    back = io.load_series(spark, path).filter(F.col("family") == "sine")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(family" in plan
    assert back.count() == 8 * 16


def test_csv_json_roundtrip(spark, tmp_path):
    from tsgen import io

    src = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .limit(200)
    )
    for fmt in ("csv", "json"):
        p = str(tmp_path / fmt)
        io.save_table(src, p, fmt=fmt)
        back = io.load_table(spark, p, fmt=fmt, schema=src.schema)
        assert back.count() == 200
        a = {r.o_orderkey: r for r in src.collect()}
        b = {r.o_orderkey: r for r in back.collect()}
        assert a.keys() == b.keys()
        for k in a:
            assert a[k].o_custkey == b[k].o_custkey
            assert abs(a[k].o_totalprice - b[k].o_totalprice) < 1e-9
            assert a[k].o_orderstatus == b[k].o_orderstatus


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    from tsgen.io import upsert_parquet

    base = spark.createDataFrame(
        [(1, 0, "old1"), (2, 0, "old2"), (3, 0, "old3")], "k long, ver long, payload string"
    )
    p = str(tmp_path / "tbl")
    base.write.parquet(p)
    updates = spark.createDataFrame(
        [(2, 1, "new2"), (4, 1, "new4")], "k long, ver long, payload string"
    )
    upsert_parquet(spark, p, updates, ["k"], "ver")
    got = {r.k: r for r in spark.read.parquet(p).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[2].payload == "new2" and got[2].ver == 1
    assert got[1].payload == "old1" and got[4].payload == "new4"


def test_partitioned_write_prunes(spark, tmp_path):
    """Partition pruning: a filter on the partition column must reach the
    scan as a PartitionFilter and read only that directory's files."""
    from pyspark.sql import functions as F

    from tsgen.io import save_series

    df = spark.range(1000).select(
        (F.col("id") % 4).alias("part"), F.col("id").alias("x")
    )
    p = str(tmp_path / "parted")
    save_series(df, p, partition_by="part")
    rd = spark.read.parquet(p).filter(F.col("part") == 2)
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan, plan
    assert rd.count() == 250


def test_compact_parquet_reduces_files(spark, tmp_path):
    from tsgen.io import compact_parquet

    p = str(tmp_path / "frag")
    spark.range(10000).repartition(32).write.parquet(p)
    import pathlib

    before = len(list(pathlib.Path(p).glob("*.parquet")))
    after = compact_parquet(spark, p, target_files=2)
    assert before == 32 and after == 2
    assert spark.read.parquet(p).count() == 10000


def test_incremental_agg_state_equals_full_recompute(spark):
    from pyspark.sql import functions as F

    from tsgen.io import agg_state, merge_agg_state

    full = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    b1 = full.filter(F.col("id") < 600)
    b2 = full.filter(F.col("id") >= 600)
    merged = merge_agg_state(agg_state(b1, ["k"], "v"), agg_state(b2, ["k"], "v"), ["k"])
    want = {r.k: r for r in agg_state(full, ["k"], "v").collect()}
    for r in merged.collect():
        assert r.cnt == want[r.k].cnt
        assert abs(r.total - want[r.k].total) < 1e-6


def test_fanout_scan_rechecks_a_rewritten_table(spark, tmp_path):
    # the fan-out verdict follows the files on disk at each call: a table
    # rewritten at the same path with more files than cores is not fanned out
    cpus = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "t.parquet")

    def plan() -> str:
        return io.fanout_scan(spark, p)._jdf.queryExecution().executedPlan().toString()

    spark.range(100).coalesce(1).write.parquet(p)
    assert "RoundRobinPartitioning" in plan()
    spark.range(100 * (cpus + 1)).repartition(cpus + 1).write.mode("overwrite").parquet(p)
    assert len(list((tmp_path / "t.parquet").glob("*.parquet"))) == cpus + 1
    assert "RoundRobinPartitioning" not in plan()


def test_doc_counts_match_registry():
    """README/COVERAGE query counts are generated claims — keep them equal to
    the registry truth so they can't drift (ADVICE r02: three mutually
    inconsistent hand-maintained counts)."""
    import re

    from tsgen.queries import registry

    r = registry()
    total, oracled = len(r), sum(1 for q in r.values() if q.oracle)
    rows_only = total - oracled
    readme = open("README.md").read()
    m = re.search(r"\((\d+) queries: (\d+) DuckDB-oracle-\s*checked, (\d+) rows-only", readme)
    assert m, "README registry count line missing"
    assert tuple(map(int, m.groups())) == (total, oracled, rows_only)
    cov = open("COVERAGE.md").read()
    m = re.search(r"(\d+) registry queries — (\d+) oracle-checked, (\d+)\s*rows-only", cov)
    assert m, "COVERAGE totals line missing"
    assert tuple(map(int, m.groups())) == (total, oracled, rows_only)
