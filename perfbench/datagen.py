"""Seeded generator for the star-schema tables the batch spine reads.

Writes the ten tables of TESTDATA.md (one parquet file each) with the
column names, types and value ranges of the TESTDATA.md corpus:
independent uniform columns, a 31-word document vocabulary with 5%
near-duplicate documents (a copy of another document plus " dup"),
64-dimensional unit embeddings and a month of events with monotonic
ids and timestamps. The same seed writes the same bytes.

Usage: python3 perfbench/datagen.py OUT_DIR SEED SCALE   (SCALE: 0.1 | 0.001)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per table at each scale the benchmark uses (the counts of
#: the TESTDATA.md corpus at sf0.1 and sf0.001).
SIZES = {
    0.1: dict(customer=15000, supplier=1000, part=20000, orders=150000,
              lineitem=600000, events=100000, users=1500, documents=5000,
              embeddings=2000),
    0.001: dict(customer=150, supplier=10, part=200, orders=1500,
                lineitem=6000, events=1000, users=15, documents=500,
                embeddings=500),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "hot", "red"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en"] * 41 + ["zh", "es", "fr", "de"] * 15
WORDS = (
    "a the data spark stream batch window join merge sort filter scan hash "
    "group agg query table column row key value line part order customer "
    "vector small big fast slow"
).split()

_DAY_US = 86_400 * 1_000_000


def _ts(rng, n, lo: str, hi: str, sort: bool = False) -> pa.Array:
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(a, b, n)
    if sort:
        v.sort()
    return pa.array(v, pa.timestamp("us"))


def _day_ts(rng, n, lo: str, hi: str) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 101, n)
    ]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n - 1)) % n] + " dup"
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for ``scale`` from ``seed`` (deterministic)."""
    s = SIZES[scale]
    rng = np.random.default_rng([seed, int(scale * 1000)])
    ix = np.arange
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(ix(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(ix(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(ix(25) % 5, pa.int32()),
        }),
    }
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(ix(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)].tolist(),
    })
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(ix(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = s["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(ix(n), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n)].tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (ix(n) % 1000) / 10, 2),
    })
    n = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ix(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)].tolist(),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)].tolist(),
    })
    n = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)].tolist(),
        "l_shipdate": _day_ts(rng, n, "1995-01-02", "2001-11-04"),
    })
    n = s["events"]
    out["events"] = pa.table({
        "event_id": pa.array(ix(n), pa.int64()),
        "ts": _ts(rng, n, "2024-01-01", "2024-01-31", sort=True),
        "user_id": pa.array(rng.integers(0, s["users"], n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    out["documents"] = _documents(rng, s["documents"])
    n = s["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(ix(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return out


def write(out_dir: str, seed: int, scale: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
