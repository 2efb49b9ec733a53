"""Seeded sf0.1-sized tables for the batch workload.

The same ten tables, columns and value shapes as the TPC-H-ish testdata
the registry queries are written against (region .. lineitem at sf0.1
row counts, plus events, documents and embeddings), drawn from
``numpy.random.default_rng(seed)``. Keys are unique where the queries'
orderings need a total order: (l_orderkey, l_linenumber), events (ts,
event_id) and document ids.
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

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 15_000, 1_000, 20_000, 150_000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 100_000, 1_500, 5_000, 2_000, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["red", "new", "hot", "small", "big", "old", "blue", "cold"]
NOUNS = ["bolt", "anvil", "ring", "rod", "plate", "nut", "gear", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the data row column table key value join group agg window stream "
    "batch spark scan filter sort merge hash query order line part customer "
    "vector fast slow big small dup"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
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
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype="int32"),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype="int32"),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, N_SUPPLIER)),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype="int64"),
        "p_name": np.char.add(
            np.char.add(rng.choice(ADJECTIVES, N_PART), " "),
            rng.choice(NOUNS, N_PART),
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART, dtype="int32"),
        "p_retailprice": 900.0 + rng.integers(0, 1000, N_PART) / 10.0,
    })
    order_days = rng.integers(0, 2405, N_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, N_ORDERS)),
        "o_orderdate": _ts(_EPOCH_1995_US + order_days * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype="int64"), lines)
    n_li = len(okey)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PART, n_li),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li),
        "l_linenumber": (np.arange(n_li) - first + 1).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            _EPOCH_1995_US
            + (np.repeat(order_days, lines) + rng.integers(1, 122, n_li)) * _DAY_US
        ),
    })
    ev_us = np.sort(rng.choice(30 * _DAY_US, N_EVENTS, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + ev_us),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": _cents(rng.exponential(40.0, N_EVENTS)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts = []
    for i in range(N_DOCS):
        if i >= 50 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 0.2, (10, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (N_VECS, DIM))).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return t


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    like the testdata); returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
