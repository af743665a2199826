"""Seeded parquet fixture for the query workloads.

Writes the ten tables the registry's queries read (the TPC-H-like star
schema, ``events``, ``documents`` and ``embeddings``) with the schemas
and value domains described in FIXTURES.md, at about the sf0.001 scale.
The same seed gives byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "green", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp, n_orders, n_events, n_docs, n_vecs = (
        150, 200, 10, 1500, 1000, 500, 500,
    )
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype="int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype="int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part, dtype="int32"),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })

    order_day0 = np.datetime64("1995-01-01", "D").astype("int64")
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_orders).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts((order_day0 + order_days) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist(),
    })
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    n_line = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    quantity = rng.integers(1, 51, n_line).astype("float64")
    ship_days = order_days[l_order] + rng.integers(1, 122, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": l_number,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * _money(rng, 900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_line).tolist(),
        "l_shipdate": _ts((order_day0 + ship_days) * DAY_US),
    })

    ev_day0 = np.datetime64("2024-01-01", "D").astype("int64") * DAY_US
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ev_day0 + ev_ts),
        "user_id": rng.integers(0, 15, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": _money(rng, 0.01, 330.0, n_events),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })

    # 5% of documents copy an earlier text plus a trailing "dup" token
    # (near-duplicates for the dedup operators).
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=(0.13, 0.44, 0.14, 0.14, 0.15)).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs, dtype="int32"),
    })
