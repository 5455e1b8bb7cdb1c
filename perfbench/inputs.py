"""Seeded input generation with pyarrow and NumPy, never with d2d_spark.

The tables follow the shape of the TPC-H sf0.1 `orders` fixture the
repository's tests use (150,000 rows x 6 columns), but are drawn from
the workload seed, so the benchmark reads nothing outside its checkout. Row counts, column sets and batch sizes depend only on the
constants below, never on the seed: a second seed changes values, not
shapes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS_ROWS = 150_000
#: share of `row_transform` input rows that are exact copies of another row
DUP_SHARE = 0.05
#: Parquet files the `row_transform` input is split into. Spark reads one
#: small file as one task, so a single file would run the whole op on one
#: core; see README.md "Steadiness"
ROW_TRANSFORM_FILES = 4
#: share of `keyed_resync` target keys one change batch updates
CHANGE_SHARE = 0.02
CHANGE_ROWS = int(ORDERS_ROWS * CHANGE_SHARE)

_EPOCH_1992_US = 694_224_000_000_000
_DAY_US = 86_400_000_000
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1992_US + days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _orders_columns(rng: np.random.Generator, n: int) -> dict:
    return {
        "o_custkey": rng.integers(1, 15_001, size=n, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n)],
        "o_totalprice": np.round(rng.uniform(850.0, 560_000.0, size=n), 2),
        "o_orderdate": _ts(rng.integers(0, 2_406, size=n)),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, size=n)],
    }


def orders(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    keys = np.arange(1, ORDERS_ROWS + 1, dtype=np.int64) * 4
    return pa.table({"o_orderkey": keys, **_orders_columns(rng, ORDERS_ROWS)})


def orders_with_duplicates(seed: int) -> pa.Table:
    """`orders`, where a seeded DUP_SHARE of the rows are replaced by
    exact copies of other rows (the row count stays ORDERS_ROWS)."""
    rng = np.random.default_rng([seed, 3])
    base = orders(seed)
    n_dup = int(ORDERS_ROWS * DUP_SHARE)
    positions = rng.choice(ORDERS_ROWS, size=2 * n_dup, replace=False)
    take = np.arange(ORDERS_ROWS)
    take[positions[:n_dup]] = positions[n_dup:]
    return base.take(pa.array(take))


def resync_target(seed: int) -> pa.Table:
    """The `keyed_resync` initial target: `orders` plus an `updated_at`
    epoch-millisecond column below every change batch's values."""
    rng = np.random.default_rng([seed, 4])
    t = orders(seed)
    return t.append_column("updated_at", pa.array(rng.integers(0, 1_000_000, size=ORDERS_ROWS)))


def change_batch(seed: int, batch: int) -> pa.Table:
    """Change batch ``batch``: CHANGE_ROWS distinct existing keys with
    new values; updates only. Every `updated_at` is above every value of
    batch ``batch - 1``, so the watermark increases monotonically."""
    rng = np.random.default_rng([seed, 5, batch])
    keys = np.sort(rng.choice(ORDERS_ROWS, size=CHANGE_ROWS, replace=False)).astype(np.int64)
    updated = 1_000_000 + batch * 10_000 + rng.permutation(CHANGE_ROWS).astype(np.int64)
    return pa.table(
        {
            "o_orderkey": (keys + 1) * 4,
            **_orders_columns(rng, CHANGE_ROWS),
            "updated_at": updated,
        }
    )


def write_table(table: pa.Table, path: str, files: int = 1) -> None:
    """``table`` as a directory of ``files`` equal Parquet files with one
    row group each."""
    os.makedirs(path, exist_ok=True)
    n = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * n, n)
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"), row_group_size=max(part.num_rows, 1))
