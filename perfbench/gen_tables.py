"""Seeded sf0.1-sized ``orders`` and ``lineitem`` for the analytics workload.

Same schemas, row counts and value ranges as the engine's sf0.1 test
tables (FIXTURES.md §A). As in those tables, columns are independent
uniform draws. Only the tables the analytics queries read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"orders": 150_000, "lineitem": 600_000}
N_CUSTOMERS, N_PARTS, N_SUPPLIERS = 15_000, 20_000, 1_000
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY0, N_DAYS = np.datetime64("1995-01-01"), 2404  # through 2001-08-01


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return (DAY0 + rng.integers(0, N_DAYS, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def generate(seed: int, directory: str) -> None:
    """Write ``<table>.parquet`` files under ``directory``."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    no, nl = SIZES["orders"], SIZES["lineitem"]
    tables = {
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, no),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _days(rng, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, N_PARTS, nl),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["R", "A", "N"], nl),
            "l_linestatus": _pick(rng, ["O", "F"], nl),
            "l_shipdate": _days(rng, nl),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
