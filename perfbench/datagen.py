"""Deterministic synthetic star schema in the shape of the engine's test data.

The registry queries read ten parquet tables (``context.TESTDATA_TABLES``).
The benchmark cannot rely on any data outside its checkout, so it writes
its own copy: same table and column names, types, key ranges and value
domains as the sf tables the registry was written against (uniform keys,
TPC-H-style dimension strings, a 31-word document vocabulary with 5% of
the documents being an earlier document plus the word ``dup``, unit 64-d
embeddings). Row counts scale with ``sf`` like TPC-H; sf=0.1 gives a
600,000-row lineitem.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = (
    ("blue", "red", "green", "black", "white", "small", "large", "steel"),
    ("anvil", "ring", "widget", "bolt", "gear", "spring", "valve", "plate"),
)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_WEIGHTS = (0.14, 0.41, 0.15, 0.15, 0.15)
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBEDDING_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def region() -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })


def nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": keys,
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": keys % 5,
    })


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _keyed_names("Customer", n),
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": _keyed_names("Supplier", n),
        "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def part(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    adj = np.array(PART_WORDS[0])[rng.integers(0, 8, n)]
    noun = np.array(PART_WORDS[1])[rng.integers(0, 8, n)]
    return pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })


def orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, 2404, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + days * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem(
    rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int
) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(1, 2499, n)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_EPOCH_1995 + days * _DAY_US),
    })


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(DOC_WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # near-duplicates: an earlier document with one appended word
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_WEIGHTS)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(size=(n, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * EMBEDDING_DIM, EMBEDDING_DIM), pa.int32()),
            flat,
        ),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    })


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every scaled table at scale factor ``sf``."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def build(
    tables: tuple[str, ...], sf: float, out_dir: str, seed: int
) -> dict[str, int]:
    """Write each named table as ``out_dir/<name>.parquet``; returns the
    row count of each. Every table draws from its own stream derived
    from ``seed``, so a table's contents do not depend on which other
    tables are built."""
    n = table_rows(sf)
    makers = {
        "region": lambda rng: region(),
        "nation": lambda rng: nation(),
        "customer": lambda rng: customer(rng, n["customer"]),
        "supplier": lambda rng: supplier(rng, n["supplier"]),
        "part": lambda rng: part(rng, n["part"]),
        "orders": lambda rng: orders(rng, n["orders"], n["customer"]),
        "lineitem": lambda rng: lineitem(
            rng, n["lineitem"], n["orders"], n["part"], n["supplier"]
        ),
        "events": lambda rng: events(rng, n["events"], n["users"]),
        "documents": lambda rng: documents(rng, n["documents"]),
        "embeddings": lambda rng: embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(makers):
        if name not in tables:
            continue
        table = makers[name](np.random.default_rng([seed, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
