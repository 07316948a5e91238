"""Deterministic input tables for the query workloads.

The registry queries read `{sf_dir}/<table>.parquet`. This module writes the
three tables the benchmark needs (`events`, `documents`, `embeddings`) with
the same schemas and value distributions as the project's sf-scaled test
corpus, so the benchmark needs no data outside its own checkout:

- events: event_id 0..n-1; ts increasing over 30 days from 2024-01-01 (µs);
  user_id uniform over ~n/67 users; five event types; value ~ Exp(mean 50)
  rounded to 2 dp; props '{"k": 0..99}'.
- documents: 10-100 words from a 30-word vocabulary; 5% are an earlier
  document plus " dup" (near duplicates, some exact); source = src{id % 20}.
- embeddings: 64-dim unit float32 vectors, label 0..9.

The content is a pure function of `(size, seed)`. The benchmark uses a
fixed data seed so recorded checksums stay valid; its `--seed` only orders
the work and picks slices.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


def events(n: int, rng: np.random.Generator) -> pa.Table:
    ts = T0_US + np.sort(rng.integers(0, SPAN_US, n))
    n_users = max(10, n // 67)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(n: int, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


BUILDERS = {"events": events, "documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, sizes: dict[str, int], seed: int) -> None:
    """Write `<out_dir>/<table>.parquet` for each table in `sizes`, one row
    group each (the layout of the test corpus)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i])
        pq.write_table(BUILDERS[name](n, rng), os.path.join(out_dir, f"{name}.parquet"))
