"""Seeded generator for the three tables the query registries read.

The shapes follow the project's test tables: `events` (a time-ordered
event stream with a small JSON props string), `documents` (texts over a
31-word vocabulary, 5% near-duplicates marked with a trailing " dup") and
`embeddings` (64-dim unit vectors with a 0-9 label). Written with pyarrow,
one parquet file per table.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def events(rng, n):
    gaps = rng.exponential(259e6, n).astype(np.int64) + 1
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_US + np.cumsum(gaps), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write(out_dir, seed, n_events=10_000, n_docs=500, n_embeddings=500):
    """Write events/documents/embeddings parquet files under `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("events", events(rng, n_events)),
                        ("documents", documents(rng, n_docs)),
                        ("embeddings", embeddings(rng, n_embeddings))):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
