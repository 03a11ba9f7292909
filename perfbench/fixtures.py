"""Deterministic fixture tables for the benchmark.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the schemas and value domains of the engine's
TPC-H-ish test fixtures. The tables are a function of (seed, scale) only,
so every checkout builds byte-identical inputs and the expected results in
``expected.json`` stay valid.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

# Row counts per preset. "bench" is the measured scale: the TPC-H tables and
# events at sf0.05 row counts (half the engine's sf0.1 bench fixture), a
# 500-document corpus and 1000 embeddings. "smoke" is the sf0.001-sized set
# the smoke test runs on.
PRESETS = {
    "smoke": dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
                 events=1000, documents=300, embeddings=300),
    "bench": dict(customer=7500, supplier=500, part=10000, orders=75000,
                  lineitem=300000, events=50000, documents=500, embeddings=1000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["error", "signup", "purchase", "view", "click"]
LANGS = ["en", "fr", "de", "es", "zh"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
DIM = 64


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tables(rows: dict) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, SEGMENTS, n),
    })
    n = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = rows["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _choice(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _choice(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n = rows["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _choice(rng, PRIORITIES, n),
    })
    n = rows["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["N", "A", "R"], n),
        "l_linestatus": _choice(rng, ["O", "F"], n),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04")),
    })
    t["events"] = _events(rng, rows["events"])
    t["documents"] = _documents(rng, rows["documents"])
    n = rows["embeddings"]
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def _events(rng, n: int) -> pa.Table:
    gaps = rng.exponential(26.0, n)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    """Word soup over a shared 30-word vocabulary (natural shingle overlap),
    with 5% near-duplicates (another doc's text plus one word) and a few
    exact duplicates, like the engine's corpus fixture."""
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))) for _ in range(n)]
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif i > 0 and r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def build_tables(out_dir: str, preset: str) -> str:
    """Write the preset's tables under ``out_dir`` (idempotent: a finished
    set is marked by a ``_DONE`` file) and return the directory."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(PRESETS[preset]).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(preset)
    return out_dir
