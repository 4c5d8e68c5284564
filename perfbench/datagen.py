"""Seeded lineitem rows for the lifecycle workload.

Same schema, key ranges and value distributions as the lineitem table of
the TPC-H-ish testdata corpus (see TESTDATA.md), and the same row count
per scale factor: ~6M x sf lines over 1.5M x sf orders. One difference:
``(l_orderkey, l_linenumber)`` is a unique key here (line numbers run 1..n
inside each order), which keyed upserts and deletes need.

The same seed always gives the same rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

DAY_US = 86_400_000_000


def scaled(base: int, sf: float, floor: int = 10) -> int:
    """Row count of a table with ``base`` rows at scale factor 1."""
    return max(floor, int(round(base * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, span_days, n) * DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def lineitem_rows(
    rng: np.random.Generator, orderkeys: np.ndarray, n_part: int, n_supp: int
) -> pa.Table:
    """1..7 lines per order (mean 4), keys unique on (orderkey, linenumber)."""
    lines = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ln = (np.arange(len(ok)) - starts + 1).astype(np.int32)
    n = len(ok)
    return pa.table(
        {
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n),
        }
    )
