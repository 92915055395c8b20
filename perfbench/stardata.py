"""Seeded star-schema tables for the star_queries workload.

Writes the eight tables the reference-surface queries read (region,
nation, customer, supplier, part, orders, lineitem, events), one parquet
file each, with the column names, types and value domains of the
program's test data: independent uniform columns over a TPC-H-like
schema plus an append-only event stream. Row counts scale with `sf`
(sf 0.01 gives 60,000 lineitem rows).
"""

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "hot", "large", "new", "old", "red", "small", "shiny"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000


def _epoch_us(y, m, d):
    return int((datetime.datetime(y, m, d) - datetime.datetime(1970, 1, 1))
               .total_seconds()) * 1_000_000


def _dates(rng, n, first, last):
    """Midnight timestamps uniform over the days [first, last]."""
    days = (last - first) // US_PER_DAY
    return pa.array(first + rng.integers(0, days + 1, n) * US_PER_DAY,
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())
    f64 = lambda a: pa.array(a, pa.float64())
    out = {}
    out["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(_money(rng, n_supp, -999.99, 9999.99))})
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(rng.uniform(900.0, 999.9, n_part), 1))})
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": f64(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _dates(rng, n_ord, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": f64(_money(rng, n_line, 900.0, 105000.0)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4))})
    # events: ascending timestamps over 30 days from 2024-01-01
    gaps = rng.exponential(30 * US_PER_DAY / max(n_ev, 1), n_ev)
    ts = _epoch_us(2024, 1, 1) + np.cumsum(gaps).astype(np.int64)
    out["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": f64(_money(rng, n_ev, 0.01, 500.0)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)])})
    return out


def write(directory, sf, seed):
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
