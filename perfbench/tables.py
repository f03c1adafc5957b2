"""Seeded input tables for the pipeline_batch workload.

The tables follow the layout of the library's test data (one parquet file
per table, naive microsecond timestamps): `documents` (random-word texts
with planted near-duplicates) and `lineitem`.
The same seed and scale give identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the batch part spark line column order small sort fast value "
         "scan slow filter customer stream hash table key group big merge "
         "join agg query vector row data index").split()
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]


def sizes(scale):
    """Row counts per table; `scale` 1.0 is the library's sf0.1 shape."""
    return {
        "documents": max(50, int(5000 * scale)),
        "lineitem": max(600, int(600000 * scale)),
    }


def _documents(rng, n):
    """Texts whose shape does not depend on the seed: document i has
    8 + (37 i mod 92) words, every 40th is a near-duplicate (one word
    changed) of the document 13 before it and every 100th an exact
    duplicate of the one 29 before it; the seed draws only the words."""
    texts = []
    for i in range(n):
        if i % 40 == 20:
            words = texts[i - 13].split()
            k = int(rng.integers(0, len(words)))
            shift = int(rng.integers(1, len(VOCAB)))
            words[k] = VOCAB[(VOCAB.index(words[k]) + shift) % len(VOCAB)]
        elif i % 100 == 50:
            words = texts[i - 29].split()
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), 8 + (37 * i) % 92)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _lineitem(rng, n):
    d0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(1, 2500, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(d0 + days, type=pa.timestamp("us")),
    })


def generate(out_dir, seed, scale):
    """Write the tables to `out_dir` from `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, n["documents"]),
        "lineitem": _lineitem(rng, n["lineitem"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return n

