#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes the tables one workload reads, shaped like the TPC-H-ish test
corpus graft's queries are written against (same table names, column
names and parquet types), plus `params.json` with the workload's
seeded parameters and `inputs.json` with the row counts and bytes of
every table.

The layout follows tools/gen_sf1e.py's decade recipe, generalised:
fact tables are repeated COPIES times with per-copy key offsets, and
the embeddings corpus is repeated with seeded jitter. The seed sets:

  - the key offset of every fact copy (orders/lineitem keys);
  - the jitter noise of every vector copy;
  - the slice roots' customer sample and order-date range;
  - the scrub pepper.

Usage: gen.py <workload> <seed> <outDir> [--warm]

`--warm` writes a small input of the same shape, used for the untimed
warm-up pass.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
PADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PNOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
STATUS = np.array(["F", "O", "P"])
PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_1995 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2403  # 1995-01-01 .. 2001-08-01

# Sizes per workload: (full, warm). Full sizes are chosen so one timed
# iteration costs a few seconds on 4 cores; warm sizes only have to
# reach the same code paths.
SIZES = {
    "slice_restore": {"full": dict(customers=15000, orders=150000, copies=2),
                      "warm": dict(customers=1500, orders=15000, copies=2)},
    "vector_index": {"full": dict(vecs=400, copies=2),
                     "warm": dict(vecs=200, copies=2)},
}


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 20)


def pick(rng, arr, n, p=None):
    return arr[rng.choice(len(arr), size=n, p=p)]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tpch(rng, out, customers, orders, copies):
    """Dimensions once; orders/lineitem COPIES times, each copy's keys
    shifted by a seeded offset (FKs into the dimensions unchanged)."""
    nparts, nsupp = customers * 4 // 3, max(customers // 15, 10)
    write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}))
    write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers, dtype=np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": pick(rng, SEGMENTS, customers)}))
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(nsupp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
        "s_nationkey": pa.array(rng.integers(0, 25, nsupp, dtype=np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, nsupp)}))
    names = [f"{a} {b}" for a in PADJ for b in PNOUN]
    write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(nparts, dtype=np.int64)),
        "p_name": pick(rng, np.array(names), nparts),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, nparts)],
        "p_type": pick(rng, PTYPES, nparts),
        "p_size": pa.array(rng.integers(1, 51, nparts, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(nparts) % 1000) / 10, 2)}))

    # one base copy of the facts; copies differ only in key offset
    okey = np.arange(orders, dtype=np.int64)
    ocust = rng.integers(0, customers, orders, dtype=np.int64)
    odate = EPOCH_1995 + rng.integers(0, ORDER_DAYS, orders)
    nlines = rng.integers(1, 8, orders)
    lkey = np.repeat(okey, nlines)
    nl = len(lkey)
    lnum = (np.arange(nl) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(odate, nlines) + rng.integers(1, 122, nl)
    base_o = {
        "o_custkey": pa.array(ocust),
        "o_orderstatus": pick(rng, STATUS, orders),
        "o_totalprice": money(rng, 850.0, 560000.0, orders),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pick(rng, PRIOS, orders)}
    base_l = {
        "l_partkey": pa.array(rng.integers(0, nparts, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, nsupp, nl, dtype=np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": pick(rng, np.array(["A", "N", "R"]), nl),
        "l_linestatus": pick(rng, np.array(["F", "O"]), nl),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))}
    offsets = [0] + sorted(int(x) * 1000 + i * 10**7 for i, x in
                           enumerate(rng.integers(0, 9000, copies - 1), start=1))
    o_parts, l_parts = [], []
    for off in offsets:
        o_parts.append(pa.table({"o_orderkey": pa.array(okey + off), **base_o}))
        l_parts.append(pa.table({"l_orderkey": pa.array(lkey + off), **base_l}))
    write(out, "orders", pa.concat_tables(o_parts))
    write(out, "lineitem", pa.concat_tables(l_parts))
    return offsets


JITTER = 0.05


def gen_embeddings(rng, out, vecs, copies):
    """`vecs` unit gaussian 64-d vectors, repeated COPIES times at
    vec_id + i*vecs with seeded gaussian jitter (sd JITTER), renormalised."""
    base = rng.standard_normal((vecs, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    label = rng.integers(0, 10, vecs, dtype=np.int32)
    mats = []
    for c in range(copies):
        m = base + JITTER * rng.standard_normal(base.shape) if c else base
        mats.append((m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32))
    m = np.concatenate(mats)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(len(m), dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(m.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(np.tile(label, copies))}))


def generate(workload, seed, out, warm=False):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    size = SIZES[workload]["warm" if warm else "full"]
    params = {"workload": workload, "seed": seed, "size": size,
              "scrub_pepper": f"pb{rng.integers(0, 2**31):x}"}
    if workload == "slice_restore":
        params["key_offsets"] = gen_tpch(rng, out, **size)
        # roots: 12 seeded customers, plus the orders of the first fact
        # copy in a seeded date range, thinned so a root selects ~12
        # orders at any input size (a customer pulls all its orders in
        # every copy, so a wider root slices most of the facts). Fixed
        # root sizes keep the slice, and so the work, alike across seeds.
        sample = rng.choice(size["customers"], 12, replace=False)
        days = max(1, round(ORDER_DAYS * 60 / size["orders"]))
        day = EPOCH_1995 + int(rng.integers(0, ORDER_DAYS - days))
        params["roots"] = [
            ["customer", f"c_custkey IN ({', '.join(str(k) for k in sorted(sample))})"],
            ["orders", f"o_orderdate >= TIMESTAMP '{day}' AND "
                       f"o_orderdate < TIMESTAMP '{day + days}' AND "
                       f"o_orderkey < {size['orders']} AND o_orderkey % 5 = 0"]]
    else:
        gen_embeddings(rng, out, **size)
        params["jitter"] = JITTER
    tables = {}
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            p = os.path.join(out, f)
            tables[f[:-8]] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                              "bytes": os.path.getsize(p)}
    with open(os.path.join(out, "params.json"), "w") as fh:
        json.dump(params, fh, indent=1)
    with open(os.path.join(out, "inputs.json"), "w") as fh:
        json.dump(tables, fh, indent=1)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], "--warm" in sys.argv[4:])
