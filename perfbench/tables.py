"""Seeded TPC-H-style input tables for the benchmark's workloads.

The schemas, row ratios and value distributions are those of the
engine's sf-scaled generator (``tools/gen_sf.py``), cut down to the
tables the workloads read; the seed replaces its fixed one, so each
``--seed`` gives other inputs of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit scale factor
RATIOS = {
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_VOCAB = np.array(
    (
        "batch part spark line column order small sort fast value scan a hash "
        "slow group agg filter query big key window row table stream merge "
        "data join scale plan read write"
    ).split()
)
_LANGS = np.array(["en", "de", "zh", "fr", "es"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_STATUS = np.array(["F", "O", "P"])
_PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_DAYS = int((np.datetime64("2001-08-02") - np.datetime64("1995-01-01")).astype(int))
_BASE = np.datetime64("1995-01-01", "us")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    offsets = rng.integers(lo, hi, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(_BASE + offsets, pa.timestamp("us"))


def customer_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """customer, orders and lineitem: the co-purchase graph's inputs."""
    nc, np_, no, nl = (int(RATIOS[t] * sf) for t in ("customer", "part", "orders", "lineitem"))
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, nc)],
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _STATUS[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000.0, 400000.0),
            "o_orderdate": _days(rng, 0, _DAYS, no),
            "o_orderpriority": _PRIOS[rng.integers(0, 5, no)],
        }
    )
    qty = rng.integers(1, 51, nl).astype(float)
    price = _money(rng, nl, 900.0, 2000.0)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.sort(rng.integers(0, no, nl)), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price, 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, 1, _DAYS + 90, nl),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Isotropic unit vectors in 64 dimensions with decorative labels,
    the shape the engine's embeddings table has."""
    x = rng.normal(size=(n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def corpus_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """documents (31-word vocabulary, 10-100 words, planted exact
    duplicates) and embeddings, whose ``vec_id`` is a ``doc_id``."""
    nd = int(RATIOS["documents"] * sf)
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in rng.integers(10, 101, nd)]
    for a, b in rng.integers(0, nd, (max(1, nd // 625), 2)):
        texts[a] = texts[b]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": _LANGS[rng.choice(len(_LANGS), nd, p=_LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return {
        "documents": documents,
        "embeddings": embeddings_table(rng, int(RATIOS["embeddings"] * sf)),
    }


def write(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
