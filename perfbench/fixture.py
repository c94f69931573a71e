"""Seeded generator for the benchmark's source tables.

Writes the star-schema tables the engine's pipelines and registry
queries read (``region nation customer supplier part orders lineitem
events``, one parquet file each) with the column names, types and
value ranges of the engine's fixture convention. Row counts follow
the scale factor: at ``sf=0.1`` lineitem has 600k rows shipped over
1995-01-02..2001-11-04, 1,000 suppliers (the pipelines' stores),
150k orders and 100k events over January 2024. The same ``seed``
gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

SHIP_START = np.datetime64("1995-01-02")
SHIP_DAYS = 2498  # through 2001-11-04
ORDER_START = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # through 2001-08-01
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

_ADJ = ("large", "hot", "blue", "small", "cold", "red", "shiny", "dark")
_NOUN = ("ring", "bolt", "anvil", "rod", "gear", "nut", "spring", "valve")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PTYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _ts(days: np.ndarray, start: np.datetime64) -> pa.Array:
    return pa.array((start + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _region(rng, sf):
    return {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }


def _nation(rng, sf):
    nk = np.arange(25, dtype=np.int32)
    return {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk.tolist()]),
        "n_regionkey": pa.array(nk % 5),
    }


def _customer(rng, sf):
    n = int(150_000 * sf)
    ck = np.arange(n, dtype=np.int64)
    return {
        "c_custkey": pa.array(ck),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    }


def _supplier(rng, sf):
    n = int(10_000 * sf)
    sk = np.arange(n, dtype=np.int64)
    return {
        "s_suppkey": pa.array(sk),
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    }


def _part(rng, sf):
    n = int(200_000 * sf)
    pk = np.arange(n, dtype=np.int64)
    adj = np.asarray(_ADJ, dtype=object)[rng.integers(0, len(_ADJ), n)]
    noun = np.asarray(_NOUN, dtype=object)[rng.integers(0, len(_NOUN), n)]
    return {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n).tolist()]),
        "p_type": _pick(rng, _PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    }


def _orders(rng, sf):
    n = int(1_500_000 * sf)
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, int(150_000 * sf), n).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _ts(rng.integers(0, ORDER_DAYS, n), ORDER_START),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    }


def _lineitem(rng, sf):
    n = int(6_000_000 * sf)
    return {
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _ts(rng.integers(0, SHIP_DAYS, n), SHIP_START),
    }


def _events(rng, sf):
    n = int(1_000_000 * sf)
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EVENT_START + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 1), n).astype(np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
    }


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
}


def table(name: str, sf: float, seed: int) -> pa.Table:
    """One table; each draws from its own seeded stream, so a table does
    not depend on which others are generated."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    return pa.table(_BUILDERS[name](rng, sf))


def generate(
    out_dir: str, sf: float, seed: int, tables: tuple[str, ...] = TABLES
) -> dict[str, int]:
    """Write ``tables`` under ``out_dir`` as ``<name>.parquet``; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in tables:
        t = table(name, sf, seed)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
