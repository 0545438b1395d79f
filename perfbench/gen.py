"""Seeded input generation: every input the benchmark feeds the engine.

Everything is derived from one ``--seed`` through numpy's PCG64, so the
same seed yields byte-identical parquet. The engine only ever sees the
written files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-02 09:30:00 UTC in epoch microseconds
T0_US = 1_704_187_800_000_000
SEC = 1_000_000
TIMESTAMP = pa.timestamp("us", tz="UTC")

VOCAB = [f"w{i}" for i in range(1000)]
BOILERPLATE = "terms of service apply to everything on this site always"


def write_parquet(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path, row_group_size=1 << 20)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def quotes_table(rng: np.random.Generator, symbols: int, seconds: int,
                 keep: float = 0.95) -> pa.Table:
    """1 s quotes per symbol with ~5% of seconds missing, sorted by
    time. ``bid`` is a per-symbol random walk; ``ask`` sits a random
    spread above it."""
    grid = np.arange(seconds, dtype=np.int64)
    sym_idx, sec = np.meshgrid(np.arange(symbols), grid, indexing="ij")
    mask = rng.random(sym_idx.shape) < keep
    steps = rng.normal(0.0, 0.02, sym_idx.shape)
    start = rng.uniform(20.0, 200.0, (symbols, 1))
    bid = np.round(start + np.cumsum(steps, axis=1), 4)
    spread = np.round(rng.uniform(0.01, 0.05, sym_idx.shape), 4)
    size = rng.integers(1, 50, sym_idx.shape) * 100
    sym_idx, sec, bid, spread, size = (
        a[mask] for a in (sym_idx, sec, bid, spread, size))
    order = np.lexsort((sym_idx, sec))
    return pa.table({
        "time": pa.array(T0_US + sec[order] * SEC, TIMESTAMP),
        "sym": pa.array([f"S{i:04d}" for i in sym_idx[order]]),
        "bid": bid[order],
        "ask": np.round(bid[order] + spread[order], 4),
        "size": size[order].astype(np.int64),
    })


def trades_table(rng: np.random.Generator, symbols: int, seconds: int,
                 share: float = 1 / 3) -> pa.Table:
    """About ``share`` trades per quote second, each at a distinct
    second of its symbol plus a sub-second offset, so (sym, time) is
    unique and OHLC open/close are unambiguous."""
    per_sym = int(seconds * share)
    cols = {"sym": [], "sec": [], "off": []}
    for s in range(symbols):
        cols["sym"].append(np.full(per_sym, s))
        cols["sec"].append(rng.choice(seconds, per_sym, replace=False))
        cols["off"].append(rng.integers(0, SEC, per_sym))
    sym = np.concatenate(cols["sym"])
    t = T0_US + np.concatenate(cols["sec"]) * SEC + np.concatenate(cols["off"])
    order = np.lexsort((sym, t))
    n = len(order)
    return pa.table({
        "time": pa.array(t[order], TIMESTAMP),
        "sym": pa.array([f"S{i:04d}" for i in sym[order]]),
        "price": np.round(rng.uniform(20.0, 200.0, n), 2),
        "qty": rng.integers(1, 20, n).astype(np.int64) * 100,
    })


def panel_table(rng: np.random.Generator, keys: int, rows: int,
                grid: int, value: str = "x") -> pa.Table:
    """``keys`` short series of ``rows`` points each, at distinct
    seconds drawn from a shared ``grid``-second clock (so cycles hold
    rows of many keys). ``y = a_k + b_k x + noise`` gives each key its
    own regression."""
    sec = np.sort(np.argsort(rng.random((keys, grid)), axis=1)[:, :rows],
                  axis=1).astype(np.int64)
    ids = np.repeat(np.arange(keys, dtype=np.int64), rows)
    x = rng.normal(0.0, 1.0, keys * rows)
    cols = {
        "time": pa.array(T0_US + sec.ravel() * SEC, TIMESTAMP),
        "id": ids,
        value: np.round(x, 6),
    }
    if value == "x":
        a = np.repeat(rng.normal(0, 1, keys), rows)
        b = np.repeat(rng.normal(1, 0.5, keys), rows)
        cols["y"] = np.round(a + b * x + rng.normal(0, 0.1, keys * rows), 6)
    return pa.table(cols)


def corpus_tables(rng: np.random.Generator, docs: int, dim: int = 16,
                  near_dup: float = 0.10, exact_dup: float = 0.02,
                  boiler: float = 0.20):
    """Docs of 40 words from a 1k vocabulary. A ``near_dup`` share
    copies an earlier doc with 3 of 40 words replaced, an ``exact_dup``
    share copies one verbatim, and a ``boiler`` share carries a
    boilerplate prefix. Embeddings follow the same structure: a near
    duplicate's vector is its source's plus small noise."""
    words = rng.integers(0, len(VOCAB), (docs, 40))
    kind = rng.random(docs)
    src = np.minimum(rng.integers(0, np.maximum(np.arange(docs), 1)),
                     np.maximum(np.arange(docs) - 1, 0))
    is_exact = (kind < exact_dup) & (np.arange(docs) > 0)
    is_near = (kind >= exact_dup) & (kind < exact_dup + near_dup) \
        & (np.arange(docs) > 0)
    has_boiler = rng.random(docs) < boiler
    centers = rng.normal(0, 1, (32, dim))
    emb = centers[rng.integers(0, 32, docs)] + rng.normal(0, 0.6, (docs, dim))
    for i in np.flatnonzero(is_exact | is_near):
        words[i] = words[src[i]]
        has_boiler[i] = has_boiler[src[i]]
        emb[i] = emb[src[i]]
        if is_near[i]:
            pos = rng.choice(40, 3, replace=False)
            words[i, pos] = rng.integers(0, len(VOCAB), 3)
            emb[i] = emb[i] + rng.normal(0, 0.01, dim)
    vocab = np.array(VOCAB)
    text = [(BOILERPLATE + " " if b else "") + " ".join(vocab[w])
            for w, b in zip(words, has_boiler)]
    ids = np.arange(docs, dtype=np.int64)
    docs_t = pa.table({"doc_id": ids, "text": pa.array(text)})
    emb_t = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(np.round(emb, 6)),
                              pa.list_(pa.float64())),
    })
    shares = {"exact_dup_share": float(is_exact.mean()),
              "near_dup_share": float(is_near.mean()),
              "boilerplate_share": float(has_boiler.mean())}
    return docs_t, emb_t, shares
