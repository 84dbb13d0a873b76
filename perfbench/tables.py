"""Seeded generator for the registry workload's warehouse tables.

Writes the ten tables the registry queries read (``region`` ...
``embeddings``, one parquet file each) with the column names and types
``feast_hive_spark.sources.tables.read_table`` expects, at roughly the
0.001 scale of the TPC-H-like test warehouse: a few thousand line
items, a thousand events, a few hundred documents and embeddings.

The value domains are the ones the queries filter and group on
(market segments, order priorities, return flags, event types, brand
and type names). A share of the documents are near copies of an
earlier document and a share of the embeddings are perturbed copies
of an earlier vector, so the deduplication, graph and similarity
queries find pairs. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.3, 0.15, 0.2, 0.15, 0.2]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_START = datetime(1995, 1, 1)
ORDER_DAYS = 2400
EVENT_START = datetime(2024, 1, 1)
EVENT_DAYS = 30
US = 1_000_000

# stream ids keep each table's draws independent of the others' sizes
_STREAM = {
    "customer": 1, "supplier": 2, "part": 3, "orders": 4, "lineitem": 5,
    "events": 6, "documents": 7, "embeddings": 8,
}


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, 100 + _STREAM[table]])


def _day_ts(start: datetime, days: np.ndarray) -> pa.Array:
    base = int(np.datetime64(start, "us").astype(np.int64))
    return pa.array(base + days.astype(np.int64) * 86_400 * US, type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region_nation() -> dict:
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    return {"region": region, "nation": nation}


def _customer(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist(),
    })


def _supplier(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n),
    })


def _part(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "part")
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, len(PART_ADJ), n), rng.integers(0, len(PART_NOUN), n))
    ]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n) * 0.1, 2),
    })


def _orders_lineitem(seed: int, n_orders: int, n_lines: int, n_cust: int, n_part: int, n_supp: int) -> dict:
    rng = _rng(seed, "orders")
    order_day = rng.integers(0, ORDER_DAYS, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _day_ts(ORDER_START, order_day),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist(),
    })
    rng = _rng(seed, "lineitem")
    okey = np.sort(rng.integers(0, n_orders, n_lines))
    # line numbers count up within each order
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    start = np.repeat(first, np.diff(np.r_[first, n_lines]))
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_lines) - start + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_lines).tolist(),
        "l_shipdate": _day_ts(ORDER_START, order_day[okey] + rng.integers(1, 122, n_lines)),
    })
    return {"orders": orders, "lineitem": lineitem}


def _events(seed: int, n: int, users: int) -> pa.Table:
    rng = _rng(seed, "events")
    span = EVENT_DAYS * 86_400 * US
    ts = np.sort(rng.integers(0, span, n)) + int(np.datetime64(EVENT_START, "us").astype(np.int64))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.gamma(1.5, 40.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(seed: int, n: int, dup_share: float) -> pa.Table:
    """Word-salad documents; ``dup_share`` of them copy an earlier
    document with a few words replaced, some with a trailing marker."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            if rng.random() < 0.3:
                words.append("dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 90))).tolist()
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed: int, n: int, dim: int, dup_share: float) -> pa.Table:
    """Random vectors; ``dup_share`` of them are an earlier vector plus
    small noise."""
    rng = _rng(seed, "embeddings")
    vecs = rng.normal(0.0, 0.15, (n, dim)).astype(np.float32)
    for i in range(1, n):
        if rng.random() < dup_share:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, dim).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_tables(seed: int, root: str, sizes: dict) -> str:
    """Writes every table under ``root`` and returns ``root``."""
    os.makedirs(root, exist_ok=True)
    s = sizes
    tables = _region_nation()
    tables["customer"] = _customer(seed, s["customer"])
    tables["supplier"] = _supplier(seed, s["supplier"])
    tables["part"] = _part(seed, s["part"])
    tables.update(
        _orders_lineitem(seed, s["orders"], s["lineitem"], s["customer"], s["part"], s["supplier"])
    )
    tables["events"] = _events(seed, s["events"], s["event_users"])
    tables["documents"] = _documents(seed, s["documents"], s["near_dup_share"])
    tables["embeddings"] = _embeddings(
        seed, s["embeddings"], s["embedding_dim"], s["near_dup_share"]
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"), compression="snappy")
    return root
