"""Seeded generator for the engine's ten driver tables.

The benchmark reads nothing outside its own checkout, so it makes its
inputs here: the same column names, types and value shapes as the
engine's driver Parquet (events over January 2024, TPC-H-like trade
tables, word-bag documents with planted duplicates, unit embeddings),
at a row count set by ``scale`` (0.1 gives the sf0.1 row counts).
The same (seed, scale) always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale 1.0 (the driver data's sf1 counts).
ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "new", "small"]
PART_NOUN = ["ring", "bolt", "plate", "anvil", "rod", "gear", "pipe", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EMB_DIM = 64
# Events cover 2024-01-01 .. 2024-01-30, the window the registry's
# constants (cut-off and overlap dates) are written against.
EVENTS_START_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400_000_000
ORDERS_START_DAY = 9131  # 1995-01-01
ORDERS_SPAN_DAYS = 2404  # .. 2001-08-01
DAY_US = 86_400_000_000


# Floors the driver data keeps at small scales.
MIN_ROWS = {"documents": 500, "embeddings": 500}


def _n(name: str, scale: float) -> int:
    return max(MIN_ROWS.get(name, 10), int(round(ROWS[name] * scale)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _region(rng, scale):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(names)}


def _nation(rng, scale):
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }


def _customer(rng, scale):
    n = _n("customer", scale)
    return {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, 0, 10_000, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def _supplier(rng, scale):
    n = _n("supplier", scale)
    return {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, 0, 10_000, n)),
    }


def _part(rng, scale):
    n = _n("part", scale)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 1)),
    }


def _orders(rng, scale):
    n = _n("orders", scale)
    days = ORDERS_START_DAY + rng.integers(0, ORDERS_SPAN_DAYS + 1, n)
    return {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, _n("customer", scale), n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": _ts(days * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def _lineitem(rng, scale):
    n = _n("lineitem", scale)
    n_orders = _n("orders", scale)
    qty = rng.integers(1, 51, n).astype(float)
    price = 900 + rng.integers(0, 1000, n) / 10
    ship = ORDERS_START_DAY + rng.integers(0, ORDERS_SPAN_DAYS + 120, n)
    return {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, _n("part", scale), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, _n("supplier", scale), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(ship * DAY_US),
    }


def _events(rng, scale):
    n = _n("events", scale)
    # Distinct timestamps: first/last-by-ts in the OHLC fixture must be
    # unambiguous within every (symbol, day).
    ts = np.unique(rng.integers(0, EVENTS_SPAN_US, n + n // 10 + 10))
    ts = np.sort(rng.choice(ts, n, replace=False))
    # Prices stay strictly positive, as market prices are.
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(EVENTS_START_US + ts),
        "user_id": pa.array(rng.integers(0, max(100, n * 3 // 200), n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, scale):
    n = _n("documents", scale)
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # Planted duplicates: 5% near-duplicates (an earlier document plus
    # one token) and a few exact copies, so dedup stages find work.
    order = rng.permutation(np.arange(1, n))
    n_near, n_exact = n // 20, max(1, n // 600)
    for i in order[:n_near]:
        text[i] = text[rng.integers(0, i)] + " dup"
    for i in order[n_near : n_near + n_exact]:
        text[i] = text[rng.integers(0, i)]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }


def _embeddings(rng, scale):
    n = _n("embeddings", scale)
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


GENERATORS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def generate(out_dir: str, tables, seed: int, scale: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for each named table. Each
    table draws from its own stream of ``seed``, so which other tables
    are generated does not change its contents."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(sorted(GENERATORS)):
        if name not in tables:
            continue
        rng = np.random.default_rng([seed % 2**63, i])
        cols = GENERATORS[name](rng, scale)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
