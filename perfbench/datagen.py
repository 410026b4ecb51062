"""Deterministic synthetic inputs for the benchmark.

Writes the three tables the benchmarked layers read, in the shapes the
engine's registry and CLI expect (FIXTURES.md #1, #2, #7). The checkout
the benchmark runs in holds no test data, so the tables are generated;
each parameter below is fitted to the sf0.01 tables the repository's
correctness suite reads (TESTDATA.md; figures in perfbench/METRICS.md):

- ``documents(doc_id, text, lang, source, n_chars)``: space-separated
  tokens drawn uniformly from a 30-word vocabulary, 10-99 tokens per
  document. Exactly 5% of the documents are another document with a
  ``dup`` token appended (near-duplicates for MinHash); two of them that
  copy the same document are exact duplicates of each other.
- ``embeddings(vec_id, embedding array<float>, label)``: L2-normalised
  Gaussian vectors, one per ``vec_id``, labels 0-9.
- ``events(event_id, ts, user_id, event_type, value, props)``: a
  time-ordered click stream over 30 days, one user per ~67 events.

The same (sizes, seed) always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    words = [w for w in VOCAB if w != "dup"]
    lengths = rng.integers(10, 100, size=n)
    base = [" ".join(rng.choice(words, size=k)) for k in lengths]
    texts = list(base)
    for i in rng.permutation(n)[:n // 20]:
        texts[i] = base[(i + int(rng.integers(1, n))) % n] + " dup"
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n: int, dim: int, rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def events(n: int, rng: np.random.Generator) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n)) + start_us
    users = max(n * 3 // 200, 1)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist(),
                               pa.string()),
        "value": pa.array(np.maximum(
            np.round(rng.exponential(50.0, size=n), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def write_tables(out_dir: str, seed: int, *, n_docs: int, n_vecs: int,
                 dim: int, n_events: int) -> str:
    """Write documents/embeddings/events parquet files under ``out_dir``
    and return it. Each table draws from its own seeded stream, so
    resizing one table leaves the others unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": documents(n_docs, np.random.default_rng([seed, 1])),
        "embeddings": embeddings(n_vecs, dim, np.random.default_rng([seed, 2])),
        "events": events(n_events, np.random.default_rng([seed, 3])),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
