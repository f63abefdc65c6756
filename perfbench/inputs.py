"""Seeded benchmark inputs: the parquet tables the query workloads read
and the Zipf-skewed trade tape the connector workload serves.

Everything here is a pure function of the seed and the size, so the
same ``--seed`` reproduces the same inputs byte for byte.  Row counts
are fixed by the size, not drawn from the seed: every seed asks the
engine for the same amount of work, and only the values change.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1)

WORDS = (
    "the a data spark row column table join group order filter scan agg "
    "window batch stream merge hash sort key value part line customer "
    "query vector small big fast slow dup"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.13, 0.14, 0.15)


def write_tables(dest: Path, seed: int, events: int = 10_000, docs: int = 500) -> dict[str, int]:
    """Write ``events``, ``documents`` and ``embeddings`` parquet files
    shaped like the engine's fixture tables; returns rows per table."""
    rng = np.random.default_rng(seed)
    dest.mkdir(parents=True, exist_ok=True)

    # events: distinct µs timestamps over 30 days, cents-exact values
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, size=events, replace=False))
    users = max(15, events // 66)
    ev = pa.table(
        {
            "event_id": pa.array(np.arange(events, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64(EPOCH, "us") + ts.astype("timedelta64[us]"),
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, users, events, dtype=np.int64)),
            "event_type": pa.array(
                rng.choice(["click", "view", "purchase", "signup", "error"], events)
            ),
            "value": pa.array(
                np.maximum(1, np.round(rng.exponential(5000, events))) / 100.0
            ),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, events)]
            ),
        }
    )
    pq.write_table(ev, dest / "events.parquet")

    # documents: ASCII word salad (the multimodal stubs gather bytes)
    n_words = rng.integers(10, 90, docs)
    text = [" ".join(rng.choice(WORDS, int(n))) for n in n_words]
    dc = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P)),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, docs)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )
    pq.write_table(dc, dest / "documents.parquet")

    # embeddings: unit vectors clustered around ten label centroids
    labels = rng.integers(0, 10, docs)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + 0.6 * rng.normal(size=(docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    em = pa.table(
        {
            "vec_id": pa.array(np.arange(docs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(em, dest / "embeddings.parquet")
    return {"events": events, "documents": docs, "embeddings": docs}


def trade_tape(
    seed: int, trades: int, symbols: int, days: int, zipf_s: float = 1.1
) -> list[tuple[str, datetime, float, int, int]]:
    """``(symbol, ts, price, size, trade_id)`` records for
    ``ReplayTradesServer``.  Symbol frequencies follow a Zipf law with
    exponent ``zipf_s`` (rank 1 is the hottest); timestamps are
    distinct microseconds spread uniformly over ``days`` days from
    ``EPOCH``; trade ids are a seeded permutation of ``range(trades)``."""
    rng = np.random.default_rng(seed)
    names = symbol_ranks(symbols)
    weights = 1.0 / np.arange(1, symbols + 1) ** zipf_s
    sym = rng.choice(symbols, size=trades, p=weights / weights.sum())
    ts = rng.choice(days * 86_400 * 1_000_000, size=trades, replace=False)
    price = rng.integers(1_000, 50_000, trades) / 100.0
    size = rng.integers(1, 500, trades)
    ids = rng.permutation(trades)
    return [
        (names[s], EPOCH + timedelta(microseconds=int(t)), float(p), int(z), int(i))
        for s, t, p, z, i in zip(sym, ts, price, size, ids)
    ]


def symbol_ranks(symbols: int) -> list[str]:
    """Symbol names hottest first (the order ``trade_tape`` weights)."""
    return [f"S{i:03d}" for i in range(symbols)]
