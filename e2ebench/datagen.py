"""Deterministic generator for the benchmark's input tables.

Writes the engine's ten-table schema (the TPC-H-style star plus
``events``, ``documents`` and ``embeddings``) as one single-row-group
parquet file per table, with the column names, types and value domains
the registry and the NL layers expect. The size matches the schema's
``sf0.01`` shape (60,000 line items). The tables do not depend on the
workload seed: the seed draws the operations, the data stays fixed, so
two runs with different seeds see the same database.

The output is cached under the build directory by ``DATA_VERSION``;
bump it whenever a table recipe changes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "v1"
DATA_SEED = 42

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_SOURCES = 20
N_VECS = 500
VEC_DIM = 64
N_LABELS = 10

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    # naive microsecond timestamps: parquet TIMESTAMP(MICROS) with
    # isAdjustedToUTC=false, the layout the engine's loaders normalize
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every table as an Arrow table; same seed, same bytes."""
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
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    adj = rng.integers(0, len(PART_ADJ), N_PART)
    noun = rng.integers(0, len(PART_NOUN), N_PART)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
    })
    # every customer places at least one order except a tail of ~1/10
    custs = rng.integers(0, N_CUSTOMER - N_CUSTOMER // 10, N_ORDERS)
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(custs, pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(_EPOCH_1995, order_days * _DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    l_order = rng.integers(0, N_ORDERS, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    ship = order_days[l_order] + rng.integers(1, 122, N_LINEITEM)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts(_EPOCH_1995, ship * _DAY_US),
    })
    # events: a strictly increasing clock over 30 days, jittered gaps
    clock = np.cumsum(rng.integers(1, 2 * 30 * _DAY_US // N_EVENTS, N_EVENTS))
    clock = clock * (30 * _DAY_US - 1) // clock[-1]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(_EPOCH_2024, clock),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0.01, 20.0, N_EVENTS)
                          * np.where(rng.random(N_EVENTS) < 0.02, 25.0, 1.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng: np.random.Generator) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary. About one in
    eight is a near-copy of an earlier document (two words replaced), so
    the dedup, similarity and clustering operators find real pairs; no
    two texts are byte-identical."""
    texts: list[str] = []
    seen: set[str] = set()
    for i in range(N_DOCS):
        while True:
            if i >= 10 and rng.random() < 0.125:
                words = texts[int(rng.integers(0, i))].split()
                for _ in range(2):
                    words[int(rng.integers(0, len(words)))] = WORDS[
                        int(rng.integers(0, len(WORDS)))
                    ]
            else:
                n = int(rng.integers(8, 100))
                words = [WORDS[j] for j in rng.integers(0, len(WORDS), n)]
            text = " ".join(words)
            if text not in seen:
                break
        seen.add(text)
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit vectors drawn around one centre per label."""
    centres = rng.normal(size=(N_LABELS, VEC_DIM))
    labels = rng.integers(0, N_LABELS, N_VECS)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(N_VECS, VEC_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def ensure_data(root: str) -> str:
    """Directory holding the generated tables, written once per version.

    Generation writes to a sibling temporary directory and renames it
    into place, so an interrupted run never leaves a half-written data
    directory that a later run would trust."""
    out = os.path.join(root, f"data-{DATA_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out
