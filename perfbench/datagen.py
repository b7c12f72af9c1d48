"""Seeded generator for the benchmark's input tables.

Writes the tables the engine's queries read, with the schema of the
project's sf fixtures (a TPC-H-like star plus ``events``, ``documents``
and ``embeddings``), as one snappy parquet file each.  The same seed and
scale give the same tables, so a run's inputs depend only on ``--seed``.
Row counts scale with ``sf`` like the fixtures: sf0.1 has 600,000
lineitem rows and 100,000 events.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_US_PER_DAY = 86_400_000_000
_TS = pa.timestamp("us")


def _epoch_us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Midnight timestamps uniform over [lo, hi]."""
    n_days = (hi - lo).days + 1
    return pa.array(_epoch_us(lo) + rng.integers(0, n_days, n) * _US_PER_DAY, _TS)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _ints(rng, lo: int, hi: int, n: int, dtype=np.int64) -> pa.Array:
    return pa.array(rng.integers(lo, hi, n, dtype=dtype))


class _Sizes:
    def __init__(self, sf: float) -> None:
        self.customer = int(150_000 * sf)
        self.supplier = int(10_000 * sf)
        self.part = int(200_000 * sf)
        self.orders = int(1_500_000 * sf)
        self.lineitem = int(6_000_000 * sf)
        self.events = int(1_000_000 * sf)
        self.users = int(15_000 * sf)
        self.documents = int(50_000 * sf)
        self.embeddings = max(500, int(20_000 * sf))


def _region(rng, n: _Sizes) -> pa.Table:
    return pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )


def _nation(rng, n: _Sizes) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, n: _Sizes) -> pa.Table:
    k = n.customer
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": _ints(rng, 0, 25, k, np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": _pick(rng, _SEGMENTS, k),
        }
    )


def _supplier(rng, n: _Sizes) -> pa.Table:
    k = n.supplier
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": _ints(rng, 0, 25, k, np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )


def _part(rng, n: _Sizes) -> pa.Table:
    k = n.part
    keys = np.arange(k, dtype=np.int64)
    return pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, [f"{c} {w}" for c in _COLORS for w in _NOUNS], k),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(rng, _TYPES, k),
            "p_size": _ints(rng, 1, 51, k, np.int32),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }
    )


def _orders(rng, n: _Sizes) -> pa.Table:
    k = n.orders
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
            "o_custkey": _ints(rng, 0, n.customer, k),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _days(rng, k, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": _pick(rng, _PRIORITIES, k),
        }
    )


def _lineitem(rng, n: _Sizes) -> pa.Table:
    k = n.lineitem
    return pa.table(
        {
            "l_orderkey": _ints(rng, 0, n.orders, k),
            "l_partkey": _ints(rng, 0, n.part, k),
            "l_suppkey": _ints(rng, 0, n.supplier, k),
            "l_linenumber": _ints(rng, 1, 8, k, np.int32),
            "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": _money(rng, 900.0, 105000.0, k),
            "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["F", "O"], k),
            "l_shipdate": _days(rng, k, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }
    )


def _events(rng, n: _Sizes) -> pa.Table:
    k = n.events
    # events arrive in time order: ts rises with event_id
    start = _epoch_us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, k))
    return pa.table(
        {
            "event_id": pa.array(np.arange(k, dtype=np.int64)),
            "ts": pa.array(ts, _TS),
            "user_id": _ints(rng, 0, n.users, k),
            "event_type": _pick(rng, _EVENT_TYPES, k),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, k), 2), 0.01)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        }
    )


def _documents(rng, n: _Sizes) -> pa.Table:
    k = n.documents
    # 5% of documents are an earlier document plus a marker word, so the
    # dedup operators have exact and near duplicates to find
    texts: list[str] = []
    lengths = rng.integers(10, 101, k)
    is_dup = rng.random(k) < 0.05
    words = np.asarray(_WORDS, dtype=object)
    for i in range(k):
        if is_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(_WORDS), lengths[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(k, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, k, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(k)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: _Sizes) -> pa.Table:
    k = n.embeddings
    vecs = rng.standard_normal((k, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(k, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": _ints(rng, 0, 10, k, np.int32),
        }
    )


_MAKERS = {
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
TABLES = tuple(_MAKERS)


def generate(out_dir: str, sf: float, seed: int, names=TABLES) -> dict[str, int]:
    """Write the tables ``names`` for scale ``sf`` under ``out_dir`` and
    return their row counts.  Each table draws from its own stream of the
    seed, so its content does not depend on which other tables are made."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = _Sizes(sf)
    rows = {}
    for name in names:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        table = _MAKERS[name](rng, sizes)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows
