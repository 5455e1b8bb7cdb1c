"""Seeded inputs: the seed changes values, never shapes. No Spark.

    python3 -m pytest perfbench/tests/test_perfbench_inputs.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import inputs  # noqa: E402


def _shape(table):
    return table.schema, table.num_rows


def test_a_second_seed_gives_the_same_shapes_and_other_values():
    for make in (inputs.orders_with_duplicates, inputs.resync_target):
        a, b = make(1), make(2)
        assert _shape(a) == _shape(b)
        assert a != b
        assert make(1) == a  # same seed, same table
    a, b = inputs.change_batch(1, 0), inputs.change_batch(2, 0)
    assert _shape(a) == _shape(b) == (a.schema, inputs.CHANGE_ROWS)


def test_duplicate_share_and_change_batches():
    t = inputs.orders_with_duplicates(3).to_pandas()
    assert t.duplicated().sum() == int(inputs.ORDERS_ROWS * inputs.DUP_SHARE)
    target = set(inputs.resync_target(3).column("o_orderkey").to_pylist())
    prev_max = max(inputs.resync_target(3).column("updated_at").to_pylist())
    for batch in range(3):
        b = inputs.change_batch(3, batch)
        keys = b.column("o_orderkey").to_pylist()
        assert len(set(keys)) == len(keys) and set(keys) <= target  # updates only
        stamps = b.column("updated_at").to_pylist()
        assert min(stamps) > prev_max  # the watermark only rises
        prev_max = max(stamps)


def test_write_table_splits_into_files_of_one_row_group(tmp_path):
    t = inputs.orders(5)
    inputs.write_table(t, str(tmp_path / "t"), files=4)
    parts = sorted((tmp_path / "t").iterdir())
    assert len(parts) == 4
    assert all(pq.ParquetFile(p).metadata.num_row_groups == 1 for p in parts)
    assert pq.read_table(tmp_path / "t").num_rows == t.num_rows
