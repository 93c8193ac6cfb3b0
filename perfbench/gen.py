"""Seeded input generators with the shape of graft's sf0.1 test tables.

`events` follows the layout of `events.parquet`: 100 000 rows per unit of
scale over 30 days of 2024, 1 500 users per unit of scale, five event
types, exponential values rounded to cents, `{"k": n}` props. The scaled
table is written as several files so the scan has several splits.

`documents` (5 000 rows of space-separated words from a 30-word vocabulary,
5% near-duplicates that repeat an earlier text plus " dup", a few exact
copies) and `embeddings` (2 000 random unit vectors of 64 floats, labels
0-9) are the fixed sf0.1-shaped inputs of the document workloads.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EPOCH_2024_US = 1704067200 * 1_000_000
DAYS = 30


def events_table(seed: int, scale: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    n = 100_000 * scale
    ts = EPOCH_2024_US + np.sort(rng.integers(0, DAYS * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500 * scale, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_events(out_dir: str, seed: int, scale: int, files: int) -> dict:
    """Write `events.parquet/` as `files` time-ordered parts."""
    table = events_table(seed, scale)
    path = os.path.join(out_dir, "events.parquet")
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return {"rows": table.num_rows, "files": files, "bytes": dir_bytes(path),
            "fingerprint": fingerprint(table)}


def documents_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = 5_000
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 100, n)]
    # 5% near-duplicates (an earlier text plus a marker word) and a few
    # exact copies give the dedup operators clusters to find
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), size=8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n, d = 2_000, 64
    x = rng.standard_normal((n, d)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_table(out_dir: str, name: str, table: pa.Table) -> dict:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return {"rows": table.num_rows, "files": 1, "bytes": os.path.getsize(path),
            "fingerprint": fingerprint(table)}


def fingerprint(table: pa.Table) -> str:
    """Content hash of a table, independent of how it is split into files."""
    h = hashlib.sha256()
    for col in table.columns:
        for buf in col.combine_chunks().buffers():
            if buf is not None:
                h.update(buf)
    return h.hexdigest()[:16]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)
