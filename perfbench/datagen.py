"""Seeded TPC-H-like tables in the shapes the query registry reads.

Same table and column names, types and value domains as the test data
the registry's DuckDB oracles are written against (FIXTURES.md §A), for
the two tables the benchmark reads: ``events`` (the analyst query) and
``lineitem`` (the snapshot table's rows), as Arrow tables. Row counts
scale with ``sf`` (lineitem = 6,000,000 x sf). A seed fully determines
the tables.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    # key domains of the tables lineitem references
    n_supp, n_part, n_ord = max(10, int(10_000 * sf)), int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_users, n_events = max(15, int(15_000 * sf)), int(1_000_000 * sf)
    out: dict[str, pa.Table] = {}
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(EPOCH_2024 + ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return out
