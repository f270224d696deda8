"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed (numpy PCG64) and writes
parquet with pyarrow, so the engine only ever sees the generated files.
The shapes mirror the TPC-H-ish test tables the query registry is written
against: ``orders``, ``documents`` and ``embeddings`` have the same
column names, types and value domains.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.datetime(1970, 1, 1)
_ORDER_DAY0 = (dt.datetime(1995, 1, 1) - _EPOCH).days
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days + 1
_STATUSES = np.array(["O", "P", "F"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_WORDS = np.array(
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector join customer".split()
)
_LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])


def rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a draw to one
    input never shifts another input's values."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def orders(seed: int, n: int, first_key: int = 0, stream: int = 1) -> pa.Table:
    """``n`` orders with keys ``first_key .. first_key + n - 1``. Prices
    are whole cents so sums are exact in both the engine and the model."""
    r = rng(seed, stream)
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    days = r.integers(0, _ORDER_DAYS, n) + _ORDER_DAY0
    return pa.table(
        {
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(r.integers(0, 15_000, n, dtype=np.int64)),
            "o_orderstatus": pa.array(_STATUSES[r.integers(0, 3, n)]),
            "o_totalprice": pa.array(r.integers(100_191, 49_999_318, n) / 100.0),
            "o_orderdate": pa.array(
                days.astype("datetime64[D]").astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(_PRIORITIES[r.integers(0, 5, n)]),
        }
    )


def documents(seed: int, n: int, near_dup_share: float = 0.08) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary, 8-80 words long.
    A seeded share are near-copies of an earlier document (a few words
    replaced) and a handful are exact copies, so the dedup stages have
    clusters to resolve."""
    r = rng(seed, 2)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and r.random() < near_dup_share:
            words = texts[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(0, 3))):
                words[int(r.integers(0, len(words)))] = str(
                    _WORDS[r.integers(0, len(_WORDS))]
                )
            texts.append(" ".join(words))
        elif i > 10 and r.random() < 0.002:
            texts.append(texts[int(r.integers(0, i))])
        else:
            length = int(r.integers(8, 81))
            texts.append(" ".join(_WORDS[r.integers(0, len(_WORDS), length)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[r.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64, near_dup_share: float = 0.05) -> pa.Table:
    """Unit vectors around ten label centroids; a seeded share are
    near-copies of an earlier vector (semantic-dedup candidates)."""
    r = rng(seed, 3)
    labels = r.integers(0, 10, n).astype(np.int32)
    centers = r.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] * 0.6 + r.normal(0.0, 1.0, (n, dim))
    for i in range(1, n):
        if r.random() < near_dup_share:
            src = int(r.integers(0, i))
            vecs[i] = vecs[src] + r.normal(0.0, 0.01, dim)
            labels[i] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
