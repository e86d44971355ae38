"""Deterministic synthetic tables for the benchmark.

Writes the star schema the query catalog reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one Parquet
file each) at a given scale factor. The tables depend only on the scale
factor: the workload seed picks query order and request sequences, never
the data, so the committed result fingerprints hold for every seed.

Row counts follow the catalog's test layout: lineitem = 6M x sf,
orders = 1.5M x sf, events = 1M x sf.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf: float) -> dict:
    """Build every table in memory as a pyarrow.Table."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = max(int(6_000_000 * sf), 2_000)
    n_events = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 20)
    n_docs = 5_000 if sf >= 0.1 else 500
    n_emb = 2_000 if sf >= 0.1 else 500
    out = {}
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
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part_names = np.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS])
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": part_names[rng.integers(0, len(part_names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * DAY_US),
    })
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:  # a near-duplicate of an earlier document
            texts.append(texts[i - 7] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.14, 0.43, 0.15, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = (rng.standard_normal((n_emb, 64)) * 0.125).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def write(sf: float, out_dir: str) -> str:
    """Write every table as `<out_dir>/<name>.parquet`; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
