"""Deterministic synthetic tables for the benchmark.

Writes the eight tables the engine's relational and event queries read
(region, nation, customer, supplier, part, orders, lineitem, events) as
single-row-group parquet files, in the same shapes and value ranges as
the TPC-H-ish test data the engine is developed against. The tables are a
fixed function of the scale factor: the run seed only permutes the order in
which the benchmark feeds work, so oracle answers stay valid for every seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
COLORS = "blue old red hot large cold small new".split()
THINGS = "ring gear widget gizmo bolt plate anvil rod".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD FURNITURE BUILDING".split()
PTYPES = "ECONOMY STANDARD LARGE PROMO SMALL MEDIUM".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _dates(rng, n, start, end):
    """Whole-day timestamps in [start, end), as epoch microseconds."""
    d0 = np.datetime64(start, "D").astype(np.int64)
    d1 = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(d0, d1, n).astype(np.int64) * DAY_US


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, only=None):
    """Yield (name, pyarrow.Table) for each table, deterministically."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    want = (lambda t: True) if only is None else (lambda t: t in only)
    # one generator per table, so a table's contents do not depend on which
    # other tables are generated
    rng = lambda i: np.random.default_rng([DATA_SEED, i])

    if want("region"):
        yield "region", pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if want("nation"):
        yield "nation", pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if want("customer"):
        r = rng(1)
        yield "customer", pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    if want("supplier"):
        r = rng(2)
        yield "supplier", pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    if want("part"):
        r = rng(3)
        names = [f"{COLORS[a]} {THINGS[b]}" for a, b in
                 zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]
        yield "part", pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(PTYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    if want("orders"):
        r = rng(4)
        yield "orders", pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_dates(r, n_ord, "1995-01-01", "2001-08-02")),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    if want("lineitem"):
        r = rng(5)
        yield "lineitem", pa.table({
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
            "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": _ts(_dates(r, n_li, "1995-01-02", "2001-11-05"))})
    if want("events"):
        r = rng(6)
        t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(t0 + r.integers(0, 30 * DAY_US, n_ev))
        yield "events", pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": _money(r, 0.01, 500.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})


def write(out_dir, sf, only=None):
    """Write the tables under `out_dir` (skipped when already complete)."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, only):
        # one row group per file, like the reference test data: the scan
        # is then a single split and Tables' small-scan rebalance applies
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(t.num_rows, 1))
    open(done, "w").close()
