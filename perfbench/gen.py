"""Seeded input generator for the graft benchmark.

Every table is drawn from `numpy.random.default_rng` keyed on (workload,
seed), with the schemas, key ranges and value grains of the engine's
TPC-H-ish test corpus (keys from 0, money at cents, rates at hundredths).
The same seed gives byte-identical parquet files; a different seed redraws
every non-key value. The engine only ever sees the generated directory.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [lake_ops lake_every]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit scale factor, the corpus's TPC-H-ish ratios.
SIZES = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
         "orders": 1_500_000}

# Input scale: rides at sf0.05 (500 stations, about 300k rides); `tiny`
# is the self-test's sf0.001-sized variant.
SCALE = {False: {"rides_sf": 0.05, "lake_rows": 2000},
         True: {"rides_sf": 0.001, "lake_rows": 50}}

# Corpus tables no rides lane reads. tools/oracle_check.py binds a DuckDB
# view over every corpus table, so they are written empty.
UNREAD = ("events", "documents", "embeddings")


def rng_for(workload, seed):
    tag = sum(ord(c) << (8 * i) for i, c in enumerate(workload))
    return np.random.default_rng([int(seed), tag])


def cents(x):
    return np.round(x, 2)


def ts_days(rng, n, lo_days, hi_days):
    days = rng.integers(lo_days, hi_days, n)
    return (np.datetime64("1995-01-01", "us")
            + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def tpch(rng, out, sf):
    n_cust = int(SIZES["customer"] * sf)
    n_supp = int(SIZES["supplier"] * sf)
    n_part = int(SIZES["part"] * sf)
    n_ord = int(SIZES["orders"] * sf)
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(rng.uniform(-999.99, 9999.99, n_supp))})
    adj = np.array(["small", "red", "blue", "green", "large", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": cents(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": ts_days(rng, n_ord, 0, 2404),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["F", "O"])
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": cents(qty * rng.uniform(900.0, 2100.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": flags[rng.integers(0, 3, n_li)],
        "l_linestatus": lstat[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_days(rng, n_li, 1, 2499)})
    for name in UNREAD:
        write(out, name, {"id": pa.array([], pa.int64())})


def lake_ops(rng, n_ops, every, base_rows):
    """The lake writer's operation stream. Most operations append a few
    fresh keys; every `every`-th one is a MERGE upsert, a merge-on-read
    DELETE, an MV refresh, a streaming drain epoch or a read, in rotation."""
    next_key = base_rows
    live = list(range(base_rows))
    specials = ["merge", "delete", "refresh_mv", "drain", "read_version",
                "read_keys"]
    ops = []

    def fresh(n):
        nonlocal next_key
        keys = list(range(next_key, next_key + n))
        next_key += n
        return keys

    def rows(keys):
        return [[k, int(rng.integers(0, 16)), int(rng.integers(0, 10_000))]
                for k in keys]

    def pick(n):
        idx = rng.choice(len(live), size=min(n, len(live)), replace=False)
        return sorted(live[i] for i in idx)

    for i in range(n_ops):
        kind = specials[(i // every) % len(specials)] \
            if i % every == every - 1 else "append"
        op = {"kind": kind}
        if kind == "append":
            op["rows"] = rows(fresh(int(rng.integers(1, 4))))
            live += [r[0] for r in op["rows"]]
        elif kind in ("merge", "drain"):
            keys = pick(4) + fresh(2)
            op["rows"] = rows(keys)
            live += keys[-2:]
        elif kind == "delete":
            op["keys"] = pick(3)
            live = [k for k in live if k not in set(op["keys"])]
        elif kind == "read_version":
            op["back"] = int(rng.integers(1, 1 + min(i, 50)))
        elif kind == "read_keys":
            op["keys"] = pick(5)
        ops.append(op)
    return ops


def main(workload, seed, out, lake_n_ops=0, lake_every=5, tiny=False):
    os.makedirs(out, exist_ok=True)
    rng = rng_for(workload, seed)
    size = SCALE[tiny]
    if workload == "rides":
        tpch(rng, out, size["rides_sf"])
    elif workload == "lake":
        n = size["lake_rows"]
        write(out, "lake_base", {
            "k": pa.array(np.arange(n), pa.int64()),
            "g": pa.array(rng.integers(0, 16, n), pa.int32()),
            "v": pa.array(rng.integers(0, 10_000, n), pa.int64())})
        with open(os.path.join(out, "lake_ops.json"), "w") as f:
            json.dump(lake_ops(rng, lake_n_ops, lake_every, n), f,
                      separators=(",", ":"))
    else:
        raise SystemExit(f"unknown workload {workload}")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3],
         *(int(a) for a in sys.argv[4:]))
