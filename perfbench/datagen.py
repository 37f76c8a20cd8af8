"""Seeded synthetic input tables for the benchmark.

Writes the ten source tables the package reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
with the same schemas and value shapes as the package's test data:
a TPC-H-like star schema, an ``events`` tick feed whose ``user_id``
is the market symbol and ``value`` the trade price, a documents
table with planted near-duplicates, and clustered unit-norm
embeddings. ``sf`` scales row counts the way the test data does
(sf 0.01: 150 symbols, 10,000 ticks, 500 documents).

The same ``(sf, seed)`` always writes byte-identical tables, so the
expected output hashes in ``expected.json`` stay valid.

Usage: python3 perfbench/datagen.py <out_dir> [sf] [seed]
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated tables change, so cached copies are rebuilt
VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
N_LABELS = 10


def _us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, lo: tuple, hi: tuple, n: int) -> pa.Array:
    a, b = _us(*lo), _us(*hi)
    day = 86_400_000_000
    v = a + rng.integers(0, (b - a) // day + 1, n) * day
    return pa.array(v, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_li, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_sym, n_doc, n_emb = n(15_000), n(50_000), n(50_000)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), n_li),
        }
    )
    t0, t1 = _us(2024, 1, 1), _us(2024, 1, 31)
    ts = np.sort(rng.integers(t0, t1, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_sym, n_ev), i64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write the tables into ``out_dir`` (atomically: a finished
    directory is complete) and return it."""
    if os.path.isfile(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    try:
        os.rename(tmp, out_dir)
    except OSError:  # another process finished first
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


if __name__ == "__main__":
    write(
        sys.argv[1],
        float(sys.argv[2]) if len(sys.argv) > 2 else 0.01,
        int(sys.argv[3]) if len(sys.argv) > 3 else 42,
    )
