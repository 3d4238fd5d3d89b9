"""Seeded input generator for the benchmark.

Writes the star-schema tables and the `events` stream table that the
benchmark's workloads read, one single-row-group parquet file per table,
with the schemas, domains and distributions of the engine's test
fixtures (the same ones `graft.tools.GenTestData` reproduces). The same
(seed, sf) always gives the same bytes.

Usage: python3 perfbench/gen.py <seed> <sf> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["large", "hot", "small", "fast", "dark", "light", "round", "flat"]
NOUNS = ["ring", "bolt", "screw", "plate", "wheel", "rod", "cap", "pin"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(start, rng, span, n):
    """Midnight timestamps, uniform over `span` days from `start`."""
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed, sf):
    rng = np.random.default_rng(seed)

    def n(base):
        return max(1, int(base * sf))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    n_cust = n(150000)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.random(n_cust) * 10000.0, 2)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust))})

    n_part = n(200000)
    names = np.char.add(np.char.add(_pick(rng, ADJS, n_part).astype(str), " "),
                        _pick(rng, NOUNS, n_part).astype(str))
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names.tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(rng, TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})

    n_orders = n(1500000)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["O", "P", "F"], n_orders)),
        "o_totalprice": pa.array(np.round(1000.0 + rng.random(n_orders) * 499000.0, 2)),
        "o_orderdate": pa.array(_days("1995-01-01", rng, 2405, n_orders), pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_orders))})

    n_line = n(6000000)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n(10000), n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(900.0 + rng.random(n_line) * 104100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(_pick(rng, ["O", "F"], n_line)),
        "l_shipdate": pa.array(_days("1995-01-02", rng, 2499, n_line), pa.timestamp("us"))})

    n_events = n(1000000)
    span_us = 30 * 24 * 3600 * 1000000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n(15000), n_events), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    return out


def generate(seed, sf, out_dir):
    """Write every table under out_dir; a finished dir holds a _DONE marker."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    open(os.path.join(out_dir, "_DONE"), "w").close()


if __name__ == "__main__":
    generate(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
