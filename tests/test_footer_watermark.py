"""``IncrementalMigration``'s high watermark answered from Parquet footer
statistics (``ParquetConnector.max_from_metadata``): where the footers
answer, the value is exactly Spark's ``max()`` and no Spark job runs;
everywhere else the connector declines and the Spark aggregate runs as
before, errors included."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from d2d_spark.migrate import IncrementalMigration
from d2d_spark.sources import MemoryConnector, ParquetConnector
from tests.conftest import count_jobs


def _migration(spark, sink, col="ts"):
    src = MemoryConnector({"t": [{"id": 1, "ts": 1}]}, spark)
    return IncrementalMigration(src, sink, table_from="t", watermark_col=col)


def _spark_max(sink, col):
    return sink.read("t").agg(F.max(col)).first()[0]


def _write_files(root, tables, **kw):
    """Write each table as one file of the directory table ``t``."""
    os.makedirs(root / "t.parquet", exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, root / "t.parquet" / f"part-{i:05d}.parquet", **kw)


def _assert_footer_answer(spark, sink, col):
    want = _spark_max(sink, col)
    assert sink.max_from_metadata("t", col) == (want,)
    with count_jobs(spark) as jobs:
        got = _migration(spark, sink, col).high_watermark("t")
    assert got == want and type(got) is type(want)
    assert jobs == []


def _assert_falls_back(spark, sink, col):
    assert sink.max_from_metadata("t", col) is None
    want = _spark_max(sink, col)
    with count_jobs(spark) as jobs:
        assert _migration(spark, sink, col).high_watermark("t") == want
    assert jobs


def test_spark_written_target(spark, tmp_path):
    sink = ParquetConnector(str(tmp_path), spark)
    rows = [(i, None if i % 7 == 0 else i * 3, i % 100, i % 50, f"v{i}") for i in range(1, 400)]
    df = spark.createDataFrame(rows, "id long, ts long, i int, s short, v string")
    sink.write(df.repartition(3), "t")
    for col in ("ts", "id", "i", "s"):
        _assert_footer_answer(spark, sink, col)


def test_pyarrow_files_with_several_row_groups(spark, tmp_path):
    tables = [
        pa.table({"ts": pa.array(range(start, start + 250), pa.int64())})
        for start in (1_000, 50, 7_000_000_000)
    ]
    _write_files(tmp_path, tables, row_group_size=40)
    assert pq.read_metadata(tmp_path / "t.parquet" / "part-00000.parquet").num_row_groups > 1
    _assert_footer_answer(spark, ParquetConnector(str(tmp_path), spark), "ts")


def test_some_nulls_all_null_and_empty_files(spark, tmp_path):
    some = pa.table({"ts": pa.array([5, None, 9, None], pa.int64()), "n": pa.array([None] * 4, pa.int64())})
    empty = some.slice(0, 0)
    _write_files(tmp_path, [some, empty, some], row_group_size=2)
    sink = ParquetConnector(str(tmp_path), spark)
    _assert_footer_answer(spark, sink, "ts")
    _assert_footer_answer(spark, sink, "n")


def test_single_empty_file_and_file_uri_root(spark, tmp_path):
    pq.write_table(pa.table({"ts": pa.array([], pa.int32())}), tmp_path / "t.parquet")
    _assert_footer_answer(spark, ParquetConnector(str(tmp_path), spark), "ts")
    pq.write_table(pa.table({"ts": pa.array([3, 4], pa.int32())}), tmp_path / "t.parquet")
    _assert_footer_answer(spark, ParquetConnector("file:" + str(tmp_path), spark), "ts")


def test_statistics_written_off(spark, tmp_path):
    _write_files(tmp_path, [pa.table({"ts": pa.array([1, 2], pa.int64())})], write_statistics=False)
    _assert_falls_back(spark, ParquetConnector(str(tmp_path), spark), "ts")


def test_hive_partitioned_directory(spark, tmp_path):
    sink = ParquetConnector(str(tmp_path), spark)
    df = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], "id long, ts long, p string")
    df.write.partitionBy("p").parquet(str(tmp_path / "t.parquet"))
    _assert_falls_back(spark, sink, "ts")


@pytest.mark.parametrize(
    "expr",
    [
        "CAST(x AS DOUBLE)",
        "CAST(x AS STRING)",
        "timestamp_seconds(x)",
        "CAST(x AS DECIMAL(10,0))",
        "date_from_unix_date(x)",
        "make_dt_interval(0, 0, 0, x)",
    ],
)
def test_non_integer_watermark(spark, tmp_path, expr):
    sink = ParquetConnector(str(tmp_path), spark)
    sink.write(spark.createDataFrame([(1,), (2,)], "x int").selectExpr(f"{expr} AS ts"), "t")
    _assert_falls_back(spark, sink, "ts")


def test_unsigned_and_case_variant_columns(spark, tmp_path):
    t = pa.table({"u": pa.array([1, 2**32 - 1], pa.uint32()), "ts": [1, 2], "TS": [3, 4]})
    _write_files(tmp_path, [t])
    sink = ParquetConnector(str(tmp_path), spark)
    assert sink.max_from_metadata("t", "u") is None
    assert sink.max_from_metadata("t", "ts") is None


def test_connector_read_option(spark, tmp_path):
    sink = ParquetConnector(str(tmp_path), spark)
    sink.write(spark.createDataFrame([(1, 10)], "id long, ts long"), "t")
    _assert_falls_back(spark, ParquetConnector(str(tmp_path), spark, mergeSchema="true"), "ts")


def test_column_missing_from_one_file(spark, tmp_path):
    _write_files(
        tmp_path,
        [pa.table({"ts": pa.array([7], pa.int64()), "id": [1]}), pa.table({"id": [2]})],
    )
    sink = ParquetConnector(str(tmp_path), spark)
    assert sink.max_from_metadata("t", "ts") is None
    try:
        want = ("value", _spark_max(sink, "ts"))
    except Exception as e:  # whichever file Spark takes the schema from decides
        want = ("error", type(e))
    try:
        got = ("value", _migration(spark, sink).high_watermark("t"))
    except Exception as e:
        got = ("error", type(e))
    assert got == want


def test_mixed_integer_widths_fall_back(spark, tmp_path):
    _write_files(
        tmp_path,
        [pa.table({"ts": pa.array([7], pa.int32())}), pa.table({"ts": pa.array([9], pa.int64())})],
    )
    assert ParquetConnector(str(tmp_path), spark).max_from_metadata("t", "ts") is None


def test_unreadable_footer_still_raises(spark, tmp_path):
    _write_files(tmp_path, [pa.table({"ts": pa.array([1], pa.int64())})])
    (tmp_path / "t.parquet" / "part-00001.parquet").write_bytes(b"not a parquet file")
    sink = ParquetConnector(str(tmp_path), spark)
    assert sink.max_from_metadata("t", "ts") is None
    with pytest.raises(Exception):
        _migration(spark, sink).high_watermark("t")


def test_missing_target_and_unknown_column(spark, tmp_path):
    sink = ParquetConnector(str(tmp_path), spark)
    assert sink.max_from_metadata("t", "ts") is None
    assert _migration(spark, sink).high_watermark("t") is None
    sink.write(spark.createDataFrame([(1, 10)], "id long, ts long"), "t")
    assert sink.max_from_metadata("t", "nope") is None
    with pytest.raises(Exception, match="nope|UNRESOLVED"):
        _migration(spark, sink, "nope").high_watermark("t")
