"""Seeded source tables for the migration benchmark.

The tables keep the column names and parquet types of the repository's
TPC-H-ish fixtures (``lineitem`` and ``orders``; timestamps are
``timestamp[us]`` without a time zone, so Spark reads them as
``timestamp_ntz``). Only the values depend on the seed: the row count and
the set of months are fixed, so every seed gives the same partition count
and the same number of Spark jobs, HTTP requests and output files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1995, 1, 1)


def _month_starts(months: int) -> np.ndarray:
    """First day of each of ``months`` consecutive months from ``EPOCH``,
    as days since 1970-01-01."""
    out = []
    for m in range(months + 1):
        y, mo = divmod(EPOCH.month - 1 + m, 12)
        out.append((dt.date(EPOCH.year + y, mo + 1, 1) - dt.date(1970, 1, 1)).days)
    return np.asarray(out, dtype=np.int64)


def _dates(rng: np.random.Generator, rows: int, months: int) -> pa.Array:
    """One timestamp per row, every month hit at least once: row i < months
    lands in month i, the rest are uniform over the whole span."""
    starts = _month_starts(months)
    month = np.concatenate(
        [np.arange(months), rng.integers(0, months, rows - months)]
    )
    span = starts[month + 1] - starts[month]
    day = starts[month] + (rng.random(rows) * span).astype(np.int64)
    return pa.array(day * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, rows: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, rows), 2)


def lineitem(seed: int, rows: int, months: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    return pa.table(
        {
            "l_orderkey": rng.integers(0, max(rows // 4, 1), rows),
            "l_partkey": rng.integers(0, max(rows // 30, 1), rows),
            "l_suppkey": rng.integers(0, max(rows // 600, 1), rows),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": _money(rng, rows, 900.0, 100_000.0),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), rows),
            "l_linestatus": rng.choice(np.array(["F", "O"]), rows),
            "l_shipdate": _dates(rng, rows, months),
        }
    )


def orders(seed: int, rows: int, months: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table(
        {
            "o_orderkey": np.arange(rows, dtype=np.int64),
            "o_custkey": rng.integers(0, max(rows // 10, 1), rows),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), rows),
            "o_totalprice": _money(rng, rows, 900.0, 500_000.0),
            "o_orderdate": _dates(rng, rows, months),
            "o_orderpriority": rng.choice(priorities, rows),
        }
    )


def write(table: pa.Table, source_dir: str, name: str) -> str:
    """Write ``<source_dir>/<name>.parquet`` the way the repository's
    fixtures are laid out (one file, one row group, snappy)."""
    os.makedirs(source_dir, exist_ok=True)
    path = os.path.join(source_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy", row_group_size=len(table))
    return path
