"""Seeded input generator for the benchmark.

Writes the ten tables the engine's queries read (the TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the column types and value distributions of the engine's
reference fixtures. Everything derives from one ``numpy`` generator, so the
same seed and scale give byte-identical tables.

``scale`` follows the fixtures' scale factor: at 1.0 ``lineitem`` has 6 M
rows, ``events`` 1 M and ``documents`` 50 k.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the documents' vocabulary; ``spark`` / ``vector`` are probe terms, and
#: ``dup`` marks the planted near-duplicate documents
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_USERS = 1500

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def event_rows(rng, ids: np.ndarray) -> dict[str, np.ndarray]:
    """Column arrays of ``events`` rows for the given ids (no ``ts``)."""
    n = len(ids)
    return {
        "event_id": ids.astype(np.int64),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
    }


def documents(rng, n: int, first_id: int = 0) -> pa.Table:
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    texts = [doc_text(rng, int(w)) for w in rng.integers(10, 101, n)]
    # every 20th document carries the near-duplicate marker word
    texts = [t + " dup" if i % 20 == 11 else t for i, t in zip(ids, texts)]
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_li = max(600, int(6_000_000 * scale))
    n_ord, n_cust = n_li // 4, max(150, n_li // 40)
    n_part, n_supp = max(200, n_li // 30), max(10, n_li // 600)
    n_ev, n_docs, n_emb = max(1000, n_li // 6), max(50, n_li // 120), max(20, n_li // 300)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    sizes = ["small", "medium", "large"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{sizes[i % 3]} ring" for i in range(n_part)],
            "p_brand": [f"Brand#{i % 25}" for i in range(n_part)],
            "p_type": [sizes[i % 3].upper() for i in range(n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 1.01, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"], dtype=object)[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2498, n_li) * _DAY_US),
        }
    )
    ev = event_rows(rng, np.arange(n_ev))
    ev["ts"] = _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)))
    ev["props"] = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
    out["events"] = pa.table(
        {c: ev[c] for c in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    )
    out["documents"] = documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, scale: float, names=None) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, scale).items():
        if names is None or name in names:
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
            counts[name] = tbl.num_rows
    return counts
