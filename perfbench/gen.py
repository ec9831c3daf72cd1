"""Seeded, FK-closed input generator for the warehouse benchmark.

The benchmark never reads data from outside its own checkout, so it
synthesises the star schema the warehouse consumes (the same ten tables,
column names, parquet types and value domains as the repository's test
fixtures) from ``--seed``:

- customers, each with a seeded number of orders, each order with a
  seeded number of lineitems (so every order and lineitem foreign key
  resolves, and every order/lineitem row belongs to a kept customer);
- events whose ``user_id`` is a customer key below ``|customer| / 10``
  (the fixtures' user domain), with event time increasing with
  ``event_id`` over January 2024;
- dims (region, nation, supplier, part) and the corpus tables (documents,
  embeddings) at fixed sizes.

The per-key counts follow the sf0.1 fixture, checked against it for seed
1: orders per customer have mean 10 and variance 10 there (9.8 and 10.7
here), lineitems per order mean 4 and variance 4 (4.0 and 4.1), events
per user mean 67 and variance 67 (67 and 63), hence the Poisson draws and
the uniform ``user_id``. At ``FRACTION`` that is 45 users, so the
streaming state stores hold few keys.

``FRACTION`` scales the fact tables relative to the fixtures' sf0.1
(15,000 customers, 150,000 orders, 600,000 lineitems, 100,000 events).
The same seed always gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FRACTION = 0.03
SF01_ROWS = {"customer": 15_000, "events": 100_000}
ORDERS_PER_CUSTOMER = 10  # mean; sf0.1 has 150,000 orders for 15,000 customers
LINES_PER_ORDER = 4  # mean; sf0.1 has 600,000 lineitems
N_SUPPLIER = 100
N_PART = 2_000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400 * 1_000_000
ORDER_EPOCH_DAY = 9131  # 1995-01-01
ORDER_SPAN_DAYS = 2404  # .. 2001-08-01
EVENT_EPOCH_US = 19723 * DAY_US  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _strs(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[idx])


def generate(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten parquet tables under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust = int(SF01_ROWS["customer"] * FRACTION)
    n_events = int(SF01_ROWS["events"] * FRACTION)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype="int64"),
        "p_name": _strs(names, rng.integers(0, len(names), N_PART)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": _strs(PART_TYPES, rng.integers(0, len(PART_TYPES), N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, N_PART) / 10, 1),
    })

    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _strs(SEGMENTS, rng.integers(0, 5, n_cust)),
    })

    # Orders are drawn per customer and shuffled, so order keys do not
    # cluster by customer (the fixtures' o_custkey is uniform in key order).
    per_cust = rng.poisson(ORDERS_PER_CUSTOMER, n_cust)
    o_cust = rng.permutation(np.repeat(np.arange(n_cust), per_cust))
    n_orders = len(o_cust)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": o_cust.astype("int64"),
        "o_orderstatus": _strs(["F", "O", "P"], rng.integers(0, 3, n_orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(
            (ORDER_EPOCH_DAY + rng.integers(0, ORDER_SPAN_DAYS, n_orders)) * DAY_US
        ),
        "o_orderpriority": _strs(PRIORITIES, rng.integers(0, 5, n_orders)),
    })

    per_order = rng.poisson(LINES_PER_ORDER, n_orders)
    l_order = np.repeat(np.arange(n_orders), per_order)
    n_lines = len(l_order)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, N_PART, n_lines),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_lines),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100,
        "l_tax": rng.integers(0, 9, n_lines) / 100,
        "l_returnflag": _strs(["A", "N", "R"], rng.integers(0, 3, n_lines)),
        "l_linestatus": _strs(["F", "O"], rng.integers(0, 2, n_lines)),
        "l_shipdate": _ts(
            (ORDER_EPOCH_DAY + 1 + rng.integers(0, 2499, n_lines)) * DAY_US
        ),
    })

    n_users = max(1, n_cust // 10)
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(EVENT_EPOCH_US + np.sort(rng.integers(0, EVENT_SPAN_US, n_events))),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": _strs(EVENT_TYPES, rng.integers(0, 5, n_events)),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    n_words = rng.integers(10, 101, N_DOCUMENTS)
    texts = []
    for i, n in enumerate(n_words):
        words = [WORDS[w] for w in rng.integers(0, len(WORDS), n)]
        if i % 20 == 19:
            words.append("dup")
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype="int64"),
        "text": texts,
        "lang": _strs(LANGS, rng.choice(len(LANGS), N_DOCUMENTS, p=LANG_P)),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    vecs = rng.normal(size=(N_EMBEDDINGS, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

