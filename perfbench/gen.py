"""Seeded input generators for the benchmark workloads.

Every table is a pyarrow table written as ONE parquet file with the
physical schema the engine's loaders expect (`graft.Tables`): events.ts
is TIMESTAMP(MICROS) without a zone, which `Tables.events` reads as UTC
instants. The same seed gives byte-identical files; `manifest()` records
the seed, the generator parameters, row counts, distinct keys and a
sha256 of every file.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
WORDS = np.array(["a", "agg", "batch", "big", "column", "customer", "data",
                  "fast", "filter", "group", "hash", "join", "key", "line",
                  "merge", "order", "part", "query", "row", "scan", "slow",
                  "small", "sort", "spark", "stream", "table", "the", "value",
                  "vector", "window"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def events(rng, n, users, items, days):
    """The `events` table: n rows, unique strictly increasing microsecond
    timestamps over `days` days, event_id = rank by ts, five event types,
    uniform users and items, item id in props as {"k": id}."""
    ts = np.sort(rng.integers(0, days * DAY_US - n, n)) + np.arange(n) + T0_US
    item = rng.integers(0, items, n)
    props = np.array([f'{{"k": {i}}}' for i in range(items)], dtype=object)[item]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(props, pa.string()),
    })


def documents(rng, n, dup_share=0.05):
    """The `documents` table: 10-100 words from a 30-word vocabulary; a
    `dup_share` of documents are near-duplicates (an earlier text plus
    the word "dup")."""
    lens = rng.integers(10, 101, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    for i in np.flatnonzero(rng.random(n) < dup_share):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    """The `embeddings` table: unit vectors around one random centroid
    per label."""
    centroids = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centroids[label] + rng.normal(0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def manifest(seed, files, params):
    """Seed, generator parameters, and per file its row count, distinct
    keys and content hash."""
    out = {"seed": seed, "params": params, "files": {}}
    for rel, path in sorted(files.items()):
        md = pq.read_metadata(path)
        t = pq.read_table(path)
        distinct = {c: len(pa.compute.unique(t[c]))
                    for c in ("user_id", "doc_id", "vec_id") if c in t.column_names}
        out["files"][rel] = {"rows": md.num_rows, "distinct": distinct,
                             "sha256": sha256(path)}
    return out


def save_manifest(m, path):
    with open(path, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
