"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (scale, seed): the base tables are
shaped like the TPC-H `lineitem` table and the `events` stream table of
the project's test data (same column names and types, similar value
ranges), and each op's batch is drawn from a per-run
`numpy.random.Generator`. The program under test only ever receives the
DataFrames built from these frames.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

# engine column types (fluss_spark.types.parse_type names)
LINEITEM_FIELDS = [
    ("l_orderkey", "BIGINT"),
    ("l_linenumber", "INT"),
    ("l_partkey", "BIGINT"),
    ("l_suppkey", "BIGINT"),
    ("l_quantity", "DOUBLE"),
    ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"),
    ("l_tax", "DOUBLE"),
    ("l_returnflag", "STRING"),
    ("l_linestatus", "STRING"),
    ("l_shipdate", "DATE"),
]
LINEITEM_PK = ["l_orderkey", "l_linenumber"]
LINEITEM_COLUMNS = [c for c, _t in LINEITEM_FIELDS]
LINEITEM_VALUES = [c for c in LINEITEM_COLUMNS if c not in LINEITEM_PK]

EVENT_FIELDS = [
    ("event_id", "BIGINT"),
    ("ts", "TIMESTAMP"),
    ("user_id", "BIGINT"),
    ("event_type", "STRING"),
    ("value", "DOUBLE"),
    ("props", "STRING"),
]

SHIP_EPOCH = datetime.date(1992, 1, 1)
SHIP_DAYS = 2557  # 1992-01-01 .. 1998-12-31
EVENT_TYPES = np.array(["click", "view", "purchase", "error", "login"])
EVENT_USERS = 1_000


def _line_values(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Non-key lineitem columns for n rows (prices in cents, exact in
    binary64 after the /100 because they are compared, never summed
    without a tolerance)."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    part = rng.integers(1, 20_001, n)
    price = np.round(qty * rng.integers(90_000, 210_000, n) / 100.0, 2)
    return {
        "l_partkey": part.astype(np.int64),
        "l_suppkey": ((part * 7) % 1_000 + 1).astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": rng.integers(0, SHIP_DAYS, n),
    }


def _to_frame(keys: pd.DataFrame, vals: dict[str, np.ndarray]) -> pd.DataFrame:
    df = keys.reset_index(drop=True).copy()
    for c, v in vals.items():
        df[c] = v
    df["l_shipdate"] = [SHIP_EPOCH + datetime.timedelta(days=int(d)) for d in df["l_shipdate"]]
    return df[LINEITEM_COLUMNS]


def lineitem(rng: np.random.Generator, rows: int) -> pd.DataFrame:
    """About `rows` lineitem rows: orders 1..N with 1-7 lines each."""
    n_orders = max(1, rows // 4)
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype(np.int32)
    keys = pd.DataFrame({"l_orderkey": orderkey, "l_linenumber": linenumber})
    return _to_frame(keys, _line_values(rng, len(keys)))


def line_values(rng: np.random.Generator, keys: pd.DataFrame) -> pd.DataFrame:
    """Fresh non-key values for the given (l_orderkey, l_linenumber) keys."""
    return _to_frame(keys[LINEITEM_PK], _line_values(rng, len(keys)))


def events(rng: np.random.Generator, rows: int) -> pd.DataFrame:
    """`rows` events with ids 0..rows-1 in timestamp order."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1_000, 80_000_000, rows).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(rows, dtype=np.int64),
            "ts": start + np.cumsum(gaps),
            "user_id": rng.zipf(1.3, rows).astype(np.int64) % EVENT_USERS,
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)],
            "value": rng.integers(0, 100_000, rows) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
        }
    )
