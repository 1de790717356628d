"""Seeded TPC-H-style tables for the benchmark.

The tables have the schema, key ranges and value domains of the star schema
the query registry is written against (region, nation, customer, supplier,
part, orders, lineitem).  Row counts scale like TPC-H: at sf=0.1 there are
15k customers, 1k suppliers, 20k parts, 150k orders and ~600k line items.
The same (sf, seed) always yields byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "hot", "large", "small", "green", "red", "cold", "shiny"]
_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    """Values with exactly two decimals, as doubles."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def orders_table(sf: float, seed: int) -> pa.Table:
    """orders alone: the txlog workloads need nothing else."""
    rng = np.random.default_rng([seed, 6])
    n = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    days = rng.integers(0, _ORDER_DAYS + 1, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype="int64")),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _ts(_EPOCH_1995_US + days * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def analytics_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part = int(200_000 * sf)
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(_REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
    }
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(_P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32")),
        "p_retailprice": pa.array(_money(rng, 900, 999.9, n_part)),
    })
    orders = orders_table(sf, seed)
    out["orders"] = orders

    # 1..7 lines per order (mean 4), ship 1..121 days after the order
    n_ord = orders.num_rows
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), per)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    linenumber = (np.arange(n_li) - starts + 1).astype("int32")
    odate = orders.column("o_orderdate").to_numpy().astype("int64")[okey]
    ship = odate + rng.integers(1, 122, n_li) * _DAY_US
    qty = rng.integers(1, 51, n_li).astype("float64")
    returned = ship <= _EPOCH_1995_US + 1300 * _DAY_US
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype="int64")),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.where(
            returned, rng.choice(["A", "R"], n_li), "N")),
        "l_linestatus": pa.array(np.where(returned, "F", "O")),
        "l_shipdate": _ts(ship),
    })
    return out


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One parquet file per table, named as the catalog expects."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
