"""Seeded input generator for the benchmark.

Writes parquet tables with the schemas and value distributions of the
project's synthetic star-schema fixtures (word-salad ``documents`` over
a 30-word vocabulary with 5% ``dup`` near-copies, unit-norm 64-dim
``embeddings``, an ``events`` stream, ``lineitem`` and ``part``), sized
per workload.  Everything is derived from the seed with numpy's PCG64,
so one seed always yields byte-identical files; the program under test
only ever reads these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DUP_SHARE = 0.05
P_ADJ = "red new hot small cold large old blue".split()
P_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
EMB_DIM = 64


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table: adding a table never shifts
    # another table's bytes
    salt = sum(ord(c) * 31 ** i for i, c in enumerate(table)) % (2 ** 31)
    return np.random.default_rng([seed, salt])


def documents(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "documents")
    n_words = rng.integers(10, 100, size=n)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)])
             for k in n_words]
    # near-duplicates: another doc's text plus an inert ' dup' token
    dups = rng.choice(n, size=int(n * DUP_SHARE), replace=False)
    srcs = rng.integers(0, n, size=len(dups))
    for d, s in zip(dups, srcs):
        if d != s:
            texts[d] = texts[s] + " dup"
    lang = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=n).astype(np.int32),
    })


def events(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10 ** 6
    ts = t0 + np.sort(rng.integers(0, span_us, size=n)).astype(
        "timedelta64[us]")
    kinds = np.array(["signup", "purchase", "view", "click", "error"])
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(n // 66, 1), size=n),
        "event_type": kinds[rng.integers(0, len(kinds), size=n)].tolist(),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def lineitem(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    n_orders, n_parts, n_supp = max(n // 4, 1), max(n // 30, 1), max(
        n // 600, 1)
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2498, size=n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, size=n),
        "l_partkey": rng.integers(0, n_parts, size=n),
        "l_suppkey": rng.integers(0, n_supp, size=n),
        "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, size=n)].tolist(),
        "l_linestatus": np.array(["F", "O"])[
            rng.integers(0, 2, size=n)].tolist(),
        "l_shipdate": pa.array(day0 + days, type=pa.timestamp("us")),
    })


def part(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "part")
    keys = np.arange(n, dtype=np.int64)
    names = [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, size=n), rng.integers(0, 8, size=n))]
    return pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, size=n)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, size=n)].tolist(),
        "p_size": rng.integers(1, 51, size=n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })


TABLES = {"documents": documents, "embeddings": embeddings,
          "events": events, "lineitem": lineitem, "part": part}


def write_inputs(seed: int, out_dir: str, sizes: dict) -> dict:
    """Write ``{table: rows}`` as ``<out_dir>/<table>.parquet`` (one
    row group each, like the fixtures); returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, n in sizes.items():
        pq.write_table(TABLES[name](seed, n),
                       os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(n, 1), compression="snappy")
    return dict(sizes)

