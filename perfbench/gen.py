"""Seeded input generator for the three benchmark workloads.

Every table is written with the physical schema of the engine's input
tables (the `events`, `documents` and `embeddings` parquet files the
queries read through `graft.Tables`), so `SparkEntry.queries` and
`SparkEntry.oracleSql` apply to the generated files unchanged. The same
seed always gives byte-identical rows.

The traffic dimensions of each workload live in `SHAPES`; BENCHMARK.json
records the same values next to each workload's reason.
"""
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = np.array(
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join spark line small fast group customer batch sort value "
    "hash filter big data dup".split())
LANGS = np.array(["en", "fr", "es", "zh", "de"])
BASE_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00 UTC

SHAPES = {
    # closed-loop batch passes over one events table
    "events-batch": dict(rows=100_000, users=100_000, items=10_000,
                         item_zipf=1.1, out_of_order=0.05,
                         disorder_us=3_600 * 1_000_000,
                         span_us=30 * 86_400 * 1_000_000),
    # open-loop stream: event time strictly increasing (out-of-order 0)
    # so the streaming and batch forms of each operator must agree
    # exactly; users are Zipf-skewed so per-key patterns recur
    "events-stream": dict(rows=100_000, users=100_000, items=10_000,
                          item_zipf=1.1, user_zipf=0.9, out_of_order=0.0,
                          span_us=6 * 3_600 * 1_000_000),
    # fixed-cost serving: a few thousand documents
    "store-serving": dict(docs=300, dim=64, events=10_000, users=1_500),
}


def zipf_ranks(rng, n, size, s):
    """`size` draws from {0..n-1} with P(k) proportional to 1/(k+1)^s."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(size), side="right").clip(0, n - 1)


def events_table(rng, rows, users, items, item_zipf, span_us,
                 out_of_order=0.0, disorder_us=0, user_zipf=None):
    # strictly increasing base stamps: sorted distinct offsets
    gaps = rng.integers(1, 2 * span_us // rows, size=rows)
    ts = BASE_US + np.cumsum(gaps)
    if out_of_order > 0:
        late = rng.random(rows) < out_of_order
        ts = ts - late * rng.integers(1, disorder_us, size=rows)
    if user_zipf is None:
        user = rng.integers(0, users, size=rows)
    else:
        # permute ranks so hot users are not simply the low ids
        user = rng.permutation(users)[zipf_ranks(rng, users, rows, user_zipf)]
    etype = pa.array(EVENT_TYPES.astype(object), pa.string()).take(
        rng.integers(0, len(EVENT_TYPES), size=rows))
    value = np.round(rng.random(rows) * 100.0, 2)
    k = pc.cast(pa.array(zipf_ranks(rng, items, rows, item_zipf)), pa.string())
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": etype,
        "value": pa.array(value),
        "props": pc.binary_join_element_wise('{"k": ', k, "}", ""),
    })


def documents_table(rng, docs):
    lengths = rng.integers(10, 101, size=docs)
    words = VOCAB[zipf_ranks(rng, len(VOCAB), int(lengths.sum()), 0.8)]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(docs)]
    # a few exact duplicates so the near-dup map has non-trivial clusters
    for i in range(0, docs, 97):
        texts[(i * 7 + 1) % docs] = texts[i]
    return pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=docs)]
                         .astype(object), pa.string()),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, size=docs)
                                       .astype(str)).astype(object),
                           pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings_table(rng, docs, dim):
    vecs = rng.normal(size=(docs, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 1.8
    return pa.table({
        "vec_id": pa.array(np.arange(docs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=docs).astype(np.int32)),
    })


def generate(workload, seed, out_dir):
    """Write the workload's tables under `out_dir`; returns the shape."""
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    shape = SHAPES[workload]
    if workload in ("events-batch", "events-stream"):
        keys = ("rows", "users", "items", "item_zipf", "span_us",
                "out_of_order", "disorder_us", "user_zipf")
        t = events_table(rng, **{k: shape[k] for k in keys if k in shape})
        pq.write_table(t, f"{out_dir}/events.parquet")
    else:
        pq.write_table(documents_table(rng, shape["docs"]),
                       f"{out_dir}/documents.parquet")
        pq.write_table(embeddings_table(rng, shape["docs"], shape["dim"]),
                       f"{out_dir}/embeddings.parquet")
        pq.write_table(events_table(
            rng, shape["events"], shape["users"], 100, 0.0,
            30 * 86_400 * 1_000_000), f"{out_dir}/events.parquet")
    return shape
