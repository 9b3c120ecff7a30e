"""Seeded TPC-H-ish fixture tables in the shapes the catalog reads
(``sources.fixtures.TABLES``): region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings.

Row counts follow the same per-scale-factor ratios as the engine's usual
fixture directories (lineitem ~6M x sf). The same seed and scale give the
same bytes, so the DuckDB oracles and the engine read identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["large", "hot", "blue", "small", "red", "green", "cold", "dark"]
PART_NOUNS = ["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a the spark join stream small order merge column group customer part "
         "value window big scan table vector filter row key batch agg hash line "
         "sort slow fast data query").split()


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 20)
    n_docs, n_vec = max(int(50_000 * sf), 200), max(int(20_000 * sf), 200)
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
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    words = rng.choice(PART_WORDS, n_part)
    nouns = rng.choice(PART_NOUNS, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{w} {n}" for w, n in zip(words, nouns)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_days * 86400.0),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per]) if n_ord else l_order
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(dt.datetime(1995, 1, 1),
                          (order_days[l_order] + rng.integers(1, 122, n_li)) * 86400.0),
    })
    ev_secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_secs),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
