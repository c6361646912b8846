"""Seeded input generator: the ten parquet tables `synth.register_tpch_views`
reads, written to one directory per (seed, size).

The program only ever receives that directory path. Shapes follow the
TPC-H-ish fixtures the engine's views are derived from:

- `o_orderkey` and `event_id` are unique keys sampled from the seed out of a
  range ten times the row count, so `key % 5 < 4` (the dense strip every
  spatial view clusters in) and `stem_key % N` (the probe subsets) keep their
  expected fractions. `l_orderkey` takes the order keys.
- Every order gets 1..7 line items numbered 1..n, so `l_linenumber <= 9` and
  `crown_id = l_orderkey * 10 + l_linenumber` is unique.
- Documents are word sequences over the fixture vocabulary with ~10% near
  duplicates; embeddings are unit 64-d float32 vectors. Both carry fresh
  unique ids sampled from the seed.

Generation is pure numpy + pyarrow: the same (seed, size) gives the same
table values on every host.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# rows per unit of size; size=1.0 is TPC-H-ish sf0.1 (150k orders, ~600k
# line items, 100k LiDAR events, 5k documents, 2k embeddings)
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join small big query data column customer order group "
    "filter stream vector"
).split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def row_counts(size: float) -> dict[str, int]:
    """Rows per table at `size` (lineitem is seeded ~4x orders)."""
    n = {k: max(int(round(v * size)), 10) for k, v in BASE_ROWS.items()}
    return {"region": 5, "nation": 25, **n}


def _unique_keys(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, start: np.datetime64, span_days: int):
    return start + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    ids = _unique_keys(rng, n)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.1:
            base = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                base.append("dup")
            else:
                base[int(rng.integers(0, len(base)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(base))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    return pa.table({
        "vec_id": _unique_keys(rng, n),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(seed: int, size: float) -> dict[str, pa.Table]:
    """All ten tables for (seed, size) as Arrow tables."""
    rng = np.random.default_rng([seed, int(size * 1e6)])
    n = row_counts(size)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc, ns, np_ = n["customer"], n["supplier"], n["part"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{VOCAB[i % len(VOCAB)]} {VOCAB[(i * 7) % len(VOCAB)]}" for i in range(np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 50, np_)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    okeys = _unique_keys(rng, no)
    t["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], no),
        "o_totalprice": _money(rng, no, 900.0, 500000.0),
        "o_orderdate": _days(rng, no, EPOCH_1992, 2500),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_orderkey = np.repeat(okeys, lines)
    # 1..lines[i] within each order: position minus the order's first row
    l_linenumber = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    t["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 100000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, nl, EPOCH_1992, 3000),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": _unique_keys(rng, ne),
        "ts": EPOCH_2024 + rng.integers(0, 86_400_000_000 * 60, ne).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, ne, 0.0, 100.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write(seed: int, size: float, root: str) -> str:
    """Write the tables for (seed, size) under `root` once; return the dir."""
    out = os.path.join(root, f"seed{seed}_size{size:g}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in generate(seed, size).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(marker, "w").close()
    return out
