"""Deterministic TPC-H-shaped tables for the benchmark graph.

Writes the seven tables ``Graph.from_tpch`` reads (one parquet file per
table, same column names and types as the engine's test data) at scale
factor ``SF``. The tables are a pure function of ``(sf, DATA_SEED)``;
the benchmark's ``--seed`` draws the operation sequence, not the graph,
so every seed queries the same graph and differs only in which keys
and filter values it asks for.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
DATA_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
_NOUN = ["bolt", "gear", "nut", "plate", "ring", "screw", "valve"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
# orders span 1992-01-01 .. 1998-08-02 (days since the epoch)
_DAY0, _DAYS = 8035, 2405
_US_PER_DAY = 86_400_000_000


def sizes(sf: float = SF) -> dict[str, int]:
    """Row counts per table (lineitem is drawn, ~4 lines per order)."""
    return {"region": 5, "nation": 25,
            "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf)}


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x * 100.0) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], pa.string())


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def build(sf: float = SF, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All seven tables as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    i64 = pa.int64()
    i32 = pa.int32()

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(_REGIONS, pa.string())})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)],
                           pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, nc))),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc)})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, ns)))})
    retail = _cents(900.0 + (np.arange(np_) % 1000) / 10.0)
    names = [f"{a} {b}" for a, b in zip(
        np.asarray(_ADJ)[rng.integers(0, len(_ADJ), np_)],
        np.asarray(_NOUN)[rng.integers(0, len(_NOUN), np_)])]
    part = pa.table({
        "p_partkey": pa.array(np.arange(np_), i64),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, np_)], pa.string()),
        "p_type": _pick(rng, _TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": pa.array(retail)})

    odate = _DAY0 + rng.integers(0, _DAYS, no)
    nlines = rng.integers(1, 8, no)             # 1..7, mean 4
    lorder = np.repeat(np.arange(no), nlines)
    starts = np.cumsum(nlines) - nlines
    lnum = np.arange(len(lorder)) - np.repeat(starts, nlines) + 1
    nl = len(lorder)
    lpart = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    eprice = _cents(qty * retail[lpart])
    disc = rng.integers(0, 11, nl) / 100.0
    ship = odate[lorder] + rng.integers(1, 122, nl)
    lineitem = pa.table({
        "l_orderkey": pa.array(lorder, i64),
        "l_partkey": pa.array(lpart, i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(eprice),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(ship)})
    total = np.bincount(lorder, weights=eprice * (1 - disc), minlength=no)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_cents(total)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, _PRIORITIES, no)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def ensure(cache_root: str, sf: float = SF, seed: int = DATA_SEED) -> str:
    """Directory holding the tables, generated on first use.

    The directory is filled under a temporary name and renamed into
    place, so an interrupted run never leaves a partial data set."""
    out = os.path.join(cache_root, f"tpch-sf{sf}-seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out
