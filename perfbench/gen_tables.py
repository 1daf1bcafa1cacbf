"""Seeded generator for the star-schema tables the registry slice reads.

Writes `events.parquet`, `documents.parquet` and `embeddings.parquet`
into a directory, in the same physical schema the registry queries
and their DuckDB oracles are written against (see `graft.Tables`).
The same (seed, sizes) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
TS0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000


# Seeds move content, not the amount of work: every count and size below
# is a seeded permutation of a fixed multiset, so run times compare
# across seeds.


def spread(rng, values, n):
    """`n` values cycling through `values`, in seeded order."""
    return rng.permutation(np.resize(np.asarray(values), n))


def events(rng, n):
    ts = np.sort(rng.integers(0, SPAN_US, n)) + TS0_US
    n_users = max(15, n * 15 // 1000)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(spread(rng, np.arange(n_users, dtype=np.int64), n)),
        "event_type": pa.array(spread(rng, EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    lengths = spread(rng, np.arange(8, 95), n)
    texts = []
    for i in range(n):
        if i % 20 == 19:
            # planted near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(lengths[i]))))
    langs = np.concatenate([np.full(round(n * p), l) for l, p in zip(LANGS, LANG_P)])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(spread(rng, langs, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64, labels=10):
    lab = spread(rng, np.arange(labels, dtype=np.int32), n)
    centers = rng.normal(0.0, 1.0, (labels, dim))
    v = centers[lab] * 0.5 + rng.normal(0.0, 1.0, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(lab),
    })


def generate(out_dir, seed, n_events, n_docs, n_vecs):
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table, so resizing one leaves the
    # others unchanged
    tables = {"events": (events, n_events), "documents": (documents, n_docs),
              "embeddings": (embeddings, n_vecs)}
    for i, (name, (make, n)) in enumerate(tables.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng, n), os.path.join(out_dir, f"{name}.parquet"))
