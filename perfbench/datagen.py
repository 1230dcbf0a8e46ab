"""Seeded synthetic tables with the schemas the engine's gate catalogue
expects (TPC-H-ish star schema, an ``events`` stream table, a document
corpus and an embedding table).

The same ``(seed, sf)`` always yields the same rows. Row counts follow
the scale factor the way the reference test data does: ``orders`` has
1.5 M x sf rows, ``lineitem`` about four lines per order, ``events``
1 M x sf rows over January 2024.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_US = 1_000_000
_EPOCH = datetime(1970, 1, 1)
_JAN_2024 = int((datetime(2024, 1, 1) - _EPOCH).total_seconds()) * _US
_DAY_US = 86_400 * _US
_ORDER_DAY0 = int((datetime(1995, 1, 1) - _EPOCH).total_seconds()) // 86_400
_ORDER_DAYS = (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = ("large", "hot", "blue", "small", "red", "green", "cold", "shiny")
_PART_NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _table(columns: dict) -> pa.Table:
    return pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in columns.items()})


def _region(rng, seed, sf):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return _table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": names})


def _nation(rng, seed, sf):
    keys = np.arange(25)
    return _table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def _customer(rng, seed, sf):
    n = max(int(150_000 * sf), 10)
    keys = np.arange(n)
    return _table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n),
    })


def _supplier(rng, seed, sf):
    n = max(int(10_000 * sf), 10)
    keys = np.arange(n)
    return _table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, seed, sf):
    n = max(int(200_000 * sf), 20)
    keys = np.arange(n)
    names = [f"{a} {b}" for a, b in zip(_pick(rng, _PART_ADJ, n), _pick(rng, _PART_NOUN, n))]
    return _table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })


def _order_days(seed, n):
    """Order dates come from their own stream, so lineitem can anchor
    ship dates on them without regenerating the orders table."""
    return np.random.default_rng([seed, 100]).integers(0, _ORDER_DAYS + 1, n)


def _orders(rng, seed, sf):
    n = max(int(1_500_000 * sf), 100)
    n_cust = max(int(150_000 * sf), 10)
    days = _order_days(seed, n)
    return _table({
        "o_orderkey": np.arange(n),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _ts((days + _ORDER_DAY0) * _DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def _lineitem(rng, seed, sf):
    n_orders = max(int(1_500_000 * sf), 100)
    order_days = _order_days(seed, n_orders)
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(okey)
    ship = order_days[okey] + _ORDER_DAY0 + rng.integers(1, 122, n)
    return _table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(int(200_000 * sf), 20), n),
        "l_suppkey": rng.integers(0, max(int(10_000 * sf), 10), n),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["N", "R", "A"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(ship * _DAY_US),
    })


def _events(rng, seed, sf):
    n = max(int(1_000_000 * sf), 100)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _JAN_2024
    value = np.round(rng.exponential(60.0, n), 2)
    value[rng.random(n) < 0.02] = 0.0
    return _table({
        "event_id": np.arange(n),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n),
        "event_type": _pick(rng, ["signup", "purchase", "view", "click", "error"], n),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, seed, sf):
    n = max(int(50_000 * sf), 500)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and i % 12 == 0:
            # near-duplicate of an earlier document: a few token edits
            # and the corpus' duplicate marker, so LSH finds real pairs
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return _table({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "zh", "es", "fr", "de"], n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, seed, sf):
    n = max(int(20_000 * sf), 500)
    dim = 64
    centers = rng.normal(0.0, 0.15, (10, dim))
    label = rng.integers(0, 10, n)
    vecs = (centers[label] + rng.normal(0.0, 0.06, (n, dim))).astype("float32")
    return _table({
        "vec_id": np.arange(n),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def generate(out_dir: str, seed: int, sf: float, tables=ALL_TABLES) -> str:
    """Write ``<out_dir>/<table>.parquet`` for each table; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, ALL_TABLES.index(name)])
        table = _BUILDERS[name](rng, seed, sf)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
