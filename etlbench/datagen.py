"""Seeded TPC-H-shaped tables and row batches.

Everything the benchmark feeds the engine comes from here, as pyarrow
tables drawn from one ``numpy.random.Generator``: the same seed yields
byte-identical inputs. Shapes and value ranges follow the repository's
sf0.1 fixtures (15k customers, 20k parts), with orders and lineitem cut
to 50k and 200k rows to fit the run-time budget, so the registry's
TPC-H-shaped queries run unchanged against the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 50_000,
    "lineitem": 200_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# (name, region) in TPC-H nation-key order
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "red", "small", "steel", "ring", "bolt"]

TS = pa.timestamp("us", tz="UTC")
EPOCH_START = np.datetime64("1992-01-01", "D")
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", TS), ("o_orderpriority", pa.string()),
])
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", TS),
])


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return EPOCH_START + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), TS)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def orders_rows(rng: np.random.Generator, keys: np.ndarray,
                priorities: np.ndarray | None = None) -> pa.Table:
    """Orders-shaped rows for ``keys``; ``priorities`` (indexes into
    PRIORITIES) pins each row's partition when given."""
    n = len(keys)
    if priorities is None:
        priorities = rng.integers(0, len(PRIORITIES), n)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0)),
        "o_orderdate": _ts(_days(rng, n, 0, ORDER_DAYS)),
        "o_orderpriority": pa.array(
            np.asarray(PRIORITIES, dtype=object)[priorities], pa.string()),
    }, schema=ORDERS_SCHEMA)


def lineitem_rows(rng: np.random.Generator, n: int,
                  order_dates: np.ndarray | None = None) -> pa.Table:
    """Lineitem-shaped rows; a line ships 1-121 days after its order
    when ``order_dates`` (days, indexed by order key) is given."""
    orderkeys = rng.integers(0, SIZES["orders"], n)
    if order_dates is None:
        order_dates = _days(rng, SIZES["orders"], 0, ORDER_DAYS)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SIZES["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, n, 900.0, 2100.0), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n),
        "l_linestatus": _pick(rng, LINE_STATUS, n),
        "l_shipdate": _ts(order_dates[orderkeys]
                          + rng.integers(1, 122, n).astype("timedelta64[D]")),
    }, schema=LINEITEM_SCHEMA)


def keyed_lineitem_rows(rng: np.random.Generator, keys: np.ndarray,
                        flags: np.ndarray | None = None) -> pa.Table:
    """Lineitem rows carrying a unique ``l_key`` — (l_orderkey,
    l_linenumber) repeats in TPC-H-shaped data; ``flags`` (indexes into
    RETURN_FLAGS) pins each row's partition when given."""
    t = lineitem_rows(rng, len(keys))
    if flags is not None:
        t = t.set_column(t.schema.get_field_index("l_returnflag"), "l_returnflag",
                         pa.array(np.asarray(RETURN_FLAGS, dtype=object)[flags],
                                  pa.string()))
    return t.add_column(0, "l_key", pa.array(keys, pa.int64()))


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """The seven TPC-H-shaped tables the registry queries read."""
    rng = np.random.default_rng([seed, 0])
    nc, ns, npart = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    order_dates = _days(rng, SIZES["orders"], 0, ORDER_DAYS)
    orders = orders_rows(rng, np.arange(SIZES["orders"]))
    orders = orders.set_column(orders.schema.get_field_index("o_orderdate"),
                               "o_orderdate", _ts(order_dates))
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
            "n_name": pa.array([n for n, _ in NATIONS], pa.string()),
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, len(NATIONS), nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, len(NATIONS), ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in
                 rng.integers(0, len(PART_WORDS), (npart, 2))], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                                pa.string()),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(npart) % 20001 / 10.0, 2)),
        }),
        "orders": orders,
        "lineitem": lineitem_rows(rng, SIZES["lineitem"], order_dates),
    }


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One ``<name>.parquet`` per table — the layout ``load_table``
    and the DuckDB oracles read."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
