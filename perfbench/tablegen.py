"""Seeded star-schema tables for the benchmark's query workload.

Pure Python (numpy + pyarrow), no Spark. ``write_tables`` writes the ten
tables the library's ``tables.load`` reads (``<dir>/<name>.parquet``)
with the same column names and parquet types as the repository's test
data: a TPC-H-shaped relational core scaled by ``sf`` (lineitem ~6M
rows per unit), an ``events`` stream, and fixed-size ``documents`` (with
near-duplicates) and unit-norm ``embeddings`` (clustered by label).
The same ``(sf, seed)`` gives byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "cold", "large", "small", "red", "shiny", "old", "green"],
              ["widget", "bolt", "anvil", "gear", "spring", "valve", "nut", "cog"])
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "the a data spark join window order sort part agg value line key merge "
    "group query vector hash slow stream filter fast batch table small big "
    "customer row scan column"
).split()

# The read-side queries the query_suite workload runs over these tables
# (the library's plans registry), taken from bench.py's HEADLINE list:
# one for each read-side layer the pipeline does not reach. The other
# twelve headline queries would lengthen a pass past the run budget.
SUITE = [
    "rollup_directory_sizes",  # plans, operators.rollup
    "dedup_minhash_lsh",  # operators.dedup, functions.text shingles
    "similarity_bruteforce_topk",  # operators.similarity
]

N_DOCS = 500
N_VECS = 500
DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
_TS = pa.timestamp("us")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(300, int(1_500_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = PART_WORDS
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_EPOCH_1995 + order_day * _DAY_US, _TS),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_ord), lines)
    li_number = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = order_day[li_order] + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": li_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": li_number,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_EPOCH_1995 + ship_day * _DAY_US, _TS),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + ts, _TS),
        "user_id": rng.integers(0, max(15, n_ev // 60), n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 330.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir)
    counts = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
