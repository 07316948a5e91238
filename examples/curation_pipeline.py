"""End-to-end LLM training-data curation pipeline, composed from the engine's
operators as ONE lazy plan per stage — the shape a 100 TB curation job takes:

    documents
      -> near-dup pair generation (df-capped n-gram Jaccard)
      -> connected components -> keep one canonical doc per cluster
      -> language-agreement + quality + repetition filters (one projection)
      -> chunk into training windows (zero shuffle)
      -> pack chunks into token-budget bins (shard-local prefix sums)

Run: python examples/curation_pipeline.py [sf_dir]
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from tsgen import dedup, text
from tsgen.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("curation-pipeline")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()

    # 1. near-dup clusters; drop every non-canonical member
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=0.02)
    labels = dedup.connected_components(pairs.select("doc_a", "doc_b"))
    losers = labels.filter(F.col("label") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(F.broadcast(losers), "doc_id", "left_anti")
    n1 = kept.count()

    # 2. quality gates: language agreement + repetition signals, one pass each
    rep = text.repetition_stats(kept)
    lang = text.lang_id(kept).select(
        "doc_id", (F.col("pred_lang") == F.col("lang")).alias("lang_ok")
    )
    kept = (
        kept.join(rep.select("doc_id", "repetitive", "n_tokens"), "doc_id")
        .join(lang, "doc_id")
        .filter(~F.col("repetitive") & F.col("lang_ok") & (F.col("n_tokens") >= 8))
        .drop("repetitive", "lang_ok", "n_tokens")
    )
    n2 = kept.count()

    # 3. chunk into training windows, pack into token-budget bins
    chunks = text.doc_chunks(kept, size=64, stride=48)
    bins = text.pack_sequences(kept, budget=512)
    n_chunks = chunks.count()
    fill = bins.agg(F.avg("fill_ratio")).collect()[0][0]

    print(f"docs: {n0} -> dedup {n1} -> quality {n2}")
    print(f"chunks: {n_chunks}; packed bins: {bins.count()} (avg fill {fill:.2f})")
    top = (
        bins.groupBy("lang", "source")
        .agg(F.count("*").alias("bins"), F.sum("n_tokens_packed").alias("tokens"))
        .orderBy(F.desc("tokens"))
    )
    top.show(10, truncate=False)


if __name__ == "__main__":
    main()
