"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine reads (TPC-H-ish star schema,
``events``, ``documents``, ``embeddings``) with the column names, types
and value distributions of the project's sf0.01 fixture: 500 documents
over a 30-word vocabulary with ~5% near-duplicates, 60k line items, 10k
events. Same seed, same data.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Words of the generated corpus. The rag_serve question pool draws from the
# same list (plus words the corpus never uses), so questions share work.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_MARK = "dup"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "large", "old", "red", "shiny", "small", "tiny"]
PART_NOUN = ["bolt", "gizmo", "nut", "plate", "ring", "rod", "screw", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# sf0.01 row counts
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCUMENTS = 500
N_SOURCES = 20
N_EMBEDDINGS = 500
EMBED_DIM = 64
DUP_SHARE = 0.05


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < DUP_SHARE:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " " + DUP_MARK)
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), N_DOCUMENTS, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(N_DOCUMENTS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32 = pa.int32()
    i64 = pa.int64()
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
            "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (N_PART, 2))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, N_PART)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": pa.array(
                _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS),
                pa.timestamp("us"),
            ),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, N_ORDERS)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": pa.array(
                _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), N_LINEITEM),
                pa.timestamp("us"),
            ),
        }
    )
    out["events"] = _events(rng)
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

