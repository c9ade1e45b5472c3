"""Seeded TPC-H-ish corpus for the query workloads.

Writes the eight tables the registered queries read (``region nation
customer supplier part orders lineitem events``), one parquet file each,
with the column names, types and value shapes of the driver's corpus
(TESTDATA.md, FIXTURES.md §6). Row counts scale with ``sf`` like that
corpus: at sf=0.1 there are 15 000 customers, 150 000 orders, about
600 000 line items and 100 000 events.

The same ``(seed, sf)`` always writes the same values. Keys that queries
sort or window on are unique by construction (``(l_orderkey,
l_linenumber)``, ``event_id``, ``ts``), so every query result is
deterministic and comparable with its DuckDB twin.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["bolt", "ring", "widget", "gear", "plate", "rod", "anvil", "gizmo"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400 * 1_000_000
_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENT_START = np.datetime64("2024-01-01", "us")


def _pick(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The corpus as Arrow tables, fully determined by ``(seed, sf)``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 25)
    n_part = max(int(200_000 * sf), 50)
    n_orders = max(int(1_500_000 * sf), 100)
    n_events = max(int(1_000_000 * sf), 100)
    n_users = max(n_cust // 10, 10)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    retail = np.round(900.0 + rng.integers(0, 12_000, n_part) / 10.0, 2)
    adj, noun = rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    })

    order_day = rng.integers(0, _ORDER_DAYS, n_orders)
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    first = np.cumsum(lines) - lines
    li_number = (np.arange(n_li) - np.repeat(first, lines) + 1).astype(np.int32)
    li_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * retail[li_part], 2)
    ship_day = order_day[li_order] + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(li_order),
        "l_partkey": pa.array(li_part.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(li_number),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(_ORDER_START + ship_day * _DAY_US, pa.timestamp("us")),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(np.round(np.bincount(li_order, ext, n_orders), 2)),
        "o_orderdate": pa.array(_ORDER_START + order_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
    })

    # Strictly increasing instants over 30 days, so ts is unique like event_id.
    offsets = np.sort(rng.integers(0, 30 * _DAY_US - n_events, n_events)) + np.arange(n_events)
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(_EVENT_START + offsets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def write_corpus(out_dir: str, seed: int, sf: float) -> str:
    """Write the corpus as ``<out_dir>/<table>.parquet`` and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
