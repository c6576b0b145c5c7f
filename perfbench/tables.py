"""Seeded generator for the operator tables the headline member queries
read (TPC-H-like star schema, an event stream, a text corpus and an
embedding table), written as parquet with the column types the engine's
loader expects.

Money and quantity columns are whole cents and events.value is a
non-negative two-decimal value, the envelopes the registry's exact
decimal arithmetic is documented for.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENTS = np.array(["click", "view", "purchase", "signup", "error"])
_WORDS = np.array(("the a data spark join sort hash merge key row column table query "
                   "filter group window batch stream value vector part line order "
                   "customer fast slow big small agg scan").split())
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def generate(dirpath: str, seed: int, lineitems: int) -> dict[str, int]:
    """Write every table under ``dirpath``; returns rows per table."""
    rng = np.random.default_rng(seed)
    n_orders = max(lineitems // 4, 10)
    n_cust = max(n_orders // 10, 10)
    n_events = max(lineitems // 6, 100)
    n_docs = max(lineitems // 60, 50)
    n_vecs = max(lineitems // 150, 50)
    epoch_1992 = 694224000 * 10**6
    day_us = 86400 * 10**6
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_orders),
        "o_orderdate": _ts(epoch_1992 + rng.integers(0, 3650, n_orders) * day_us),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
    })
    lk = np.sort(rng.integers(0, n_orders, lineitems)).astype("int64")
    t["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, 2000, lineitems).astype("int64"),
        "l_suppkey": rng.integers(0, 100, lineitems).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems).astype("int32")),
        "l_quantity": rng.integers(1, 51, lineitems).astype("float64"),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, lineitems),
        "l_discount": rng.integers(0, 11, lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, lineitems) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, lineitems)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, lineitems)],
        "l_shipdate": _ts(epoch_1992 + rng.integers(0, 3650, lineitems) * day_us),
    })
    jan_2024 = 1704067200 * 10**6
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(jan_2024 + np.sort(rng.integers(0, 30 * day_us, n_events))),
        "user_id": rng.integers(0, max(n_events // 60, 5), n_events).astype("int64"),
        "event_type": _EVENTS[rng.integers(0, 5, n_events)],
        "value": _cents(rng, 0, 50_000, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:  # exact duplicate after case/space noise
            texts.append("  " + texts[int(rng.integers(0, i))].upper() + " ")
            continue
        texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    emb = rng.normal(0, 0.12, (n_vecs, 64)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype("int32")),
    })
    os.makedirs(dirpath, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(dirpath, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
