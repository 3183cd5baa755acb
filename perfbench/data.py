"""Seeded synthetic tables for the batch workloads.

Writes the ten tables the engine's query keys read (FIXTURES.md B:
TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``) with
the same column names and types, sized by a TPC-H-style scale factor.
Values are random but shaped like the engine's test data: a 30-word
document vocabulary with ~5% near-duplicate documents, unit-norm
64-d embeddings around ten labelled centres, events spread over
2024-01-01..01-30. Every key's DuckDB oracle runs on the same files,
so correctness does not depend on the exact values.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("small", "red", "blue", "hot", "old", "big", "green", "cold")
P_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
DIM = 64
DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng, choices, n) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    epoch95 = np.datetime64("1995-01-01", "us").astype("int64")
    ev0 = np.datetime64("2024-01-01", "us").astype("int64")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
        }
    )
    odate = epoch95 + rng.integers(0, 2400, n_ord) * DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, mean 4
    l_ord = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_ord)
    l_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(odate[l_ord] + rng.integers(1, 122, n_li) * DAY_US),
        }
    )
    ev_ts = ev0 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts: list[str] = []
    vocab = np.asarray(VOCAB, dtype=object)
    for i in range(n_doc):
        if texts and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_doc),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centres = rng.normal(0, 1, (10, DIM))
    label = rng.integers(0, 10, n_vec)
    vec = centres[label] + rng.normal(0, 1.5, (n_vec, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables for (seed, sf) as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
