"""Seeded generator for the fixture catalog the registered queries read.

Writes the ten tables of ``catalog.TABLES`` as single parquet files with
the schemas and value domains of the TPC-H-ish fixture set (star schema,
``events`` stream table, LLM ``documents`` and ``embeddings``). Row
counts follow the sf0.01 fixture shape; the same seed gives the same
files, and the benchmark always uses ``CATALOG_SEED``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "red", "green", "small", "large", "shiny", "matte", "old"]
NOUNS = ["anvil", "widget", "ring", "bolt", "gear", "spring", "valve", "hinge"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column order join small customer query "
    "big stream filter group vector"
).split()

SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

# The catalog is a fixed fixture, like the sf* test tables: query cost
# depends on its content (e.g. how many LSH candidate pairs the corpus
# yields), so a per-run seed would add data-driven spread to every query
# metric. The run seed orders the queries instead.
CATALOG_SEED = 42

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    us = (days.astype(np.int64) * 86_400_000_000) + int(
        (base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def make_catalog(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES
    tables: dict[str, dict] = {}

    tables["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }
    tables["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array(
            [SEGMENTS[j] for j in rng.integers(0, 5, n["customer"])]
        ),
    }
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    }
    parts = n["part"]
    retail = np.round(900.0 + (np.arange(parts) % 1000) / 10.0, 2)
    tables["part"] = {
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": pa.array(
            [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, parts), rng.integers(0, 8, parts))
            ]
        ),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, parts)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, parts)]),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": pa.array(retail),
    }
    n_orders = n["orders"]
    order_days = rng.integers(0, 2400, n_orders)
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_orders), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": _days(_EPOCH_1995, order_days),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_orders)]),
    }
    n_li = n["lineitem"]
    li_order = rng.integers(0, n_orders, n_li)
    li_part = rng.integers(0, parts, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(li_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[li_part], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(_EPOCH_1995, order_days[li_order] + rng.integers(1, 121, n_li)),
    }
    n_ev = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + int(
        (_EPOCH_2024 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }
    tables["documents"] = _documents(rng, n["documents"])
    n_emb = n["embeddings"]
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 0.15, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.05, (n_emb, 64))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }

    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
