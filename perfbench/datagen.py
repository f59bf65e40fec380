"""Seeded input generation for the benchmark.

Every table the workloads read is generated here from the run's seed,
in the shape of the repository's sf0.1 fixtures (TESTDATA.md): the
TPC-H-shaped star schema and the ``events`` stream, with the same row
counts, column types, value domains and distributions, row order and
file layout (one snappy row group per table). As in the fixtures, every
column is drawn independently: lineitem rows come in random order, draw
their order key uniformly (so (l_orderkey, l_linenumber) is not a key)
and their ship date uniformly, unrelated to the order's date. The same
seed gives byte-identical parquet files.

Sizes (rows): lineitem 600k, orders 150k, customer 15k, part 20k,
supplier 1k, events 100k — about 17 MB of parquet. Everything fits in
memory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
_PART_TYPES = np.array(
    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
)
_PART_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
_PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_US_PER_DAY = 86_400 * 1_000_000
_ORDER_DATE0 = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2_405  # 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2_500  # 1995-01-02 .. 2001-11-04
_EVENT_TS0 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _strs(values: np.ndarray) -> pa.Array:
    return pa.array(values.tolist(), pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def generate(rng: np.random.Generator) -> dict[str, pa.Table]:
    """The star schema plus ``events``, at sf0.1 sizes."""
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array(
            [f"Customer#{i:09d}" for i in range(N_CUSTOMER)], pa.string()
        ),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": _strs(_SEGMENTS[rng.integers(0, 5, N_CUSTOMER)]),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array(
            [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], pa.string()
        ),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    adj = _PART_ADJ[rng.integers(0, len(_PART_ADJ), N_PART)]
    noun = _PART_NOUN[rng.integers(0, len(_PART_NOUN), N_PART)]
    part = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": _strs(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": _strs(
            np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str))
        ),
        "p_type": _strs(_PART_TYPES[rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)
        ),
    })
    order_day = rng.integers(0, _ORDER_DAYS, N_ORDERS)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _strs(np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _ts(_ORDER_DATE0 + order_day * _US_PER_DAY),
        "o_orderpriority": _strs(_PRIORITIES[rng.integers(0, 5, N_ORDERS)]),
    })
    n = N_LINEITEM
    rf = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _strs(rf),
        "l_linestatus": _strs(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(_ORDER_DATE0 + rng.integers(1, _SHIP_DAYS, n) * _US_PER_DAY),
    })
    ev_ts = _EVENT_TS0 + np.sort(rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": _strs(_EVENT_TYPES[rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": _strs(
            np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, N_EVENTS).astype(str)),
                "}",
            )
        ),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def write_inputs(out_dir: str, seed: int, names=TABLES) -> str:
    """Write the named tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = generate(np.random.default_rng(seed))
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
