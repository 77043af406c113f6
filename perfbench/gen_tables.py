"""Seeded star-schema tables for the query slice.

Writes region, nation, customer, supplier, orders, lineitem and
documents as one parquet file each. Column names and types follow the
repository's sf testdata layout (TESTDATA.md): TIMESTAMP without zone,
int32 keys for nation and region. The tables are about a fiftieth of sf1.

Usage: python3 gen_tables.py <seed> <outDir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 3000
N_SUPPLIER = 200
N_ORDERS = 30000
N_DOCUMENTS = 2000
WORDS = ("batch part spark line column order small sort fast value scan a hash slow "
         "group agg filter query big key window row table stream merge data vector").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def days(rng, n, span):
    return (EPOCH_1995 + rng.integers(0, span, n) * DAY_US).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def main(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": money(rng, N_SUPPLIER, -999.99, 9999.99)})
    write(out, "orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], N_ORDERS),
        "o_totalprice": money(rng, N_ORDERS, 900.0, 450000.0),
        "o_orderdate": pa.array(days(rng, N_ORDERS, 2400), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)})
    per_order = rng.integers(1, 8, N_ORDERS)
    n_lines = int(per_order.sum())
    orderkey = np.repeat(np.arange(N_ORDERS), per_order)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order])
    write(out, "lineitem", {
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 4000, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_lines), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": money(rng, n_lines, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_lines),
        "l_linestatus": rng.choice(["O", "F"], n_lines),
        "l_shipdate": pa.array(days(rng, n_lines, 2500), pa.timestamp("us"))})
    lengths = rng.integers(8, 90, N_DOCUMENTS)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    write(out, "documents", {
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS),
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2])
