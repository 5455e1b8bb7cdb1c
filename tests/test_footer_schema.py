"""Parquet schemas read from file footers (``sources.files.footer_schema``):
where the footer of the file Spark would infer from answers,
``ParquetConnector.read`` gets exactly the schema and rows Spark's own
inference gives, with no Spark job; where it cannot, the helper
returns None and the read infers as before, errors included."""

from __future__ import annotations

import datetime
import decimal
import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from d2d_spark.operators.writes import write_mode
from d2d_spark.sources import ParquetConnector
from d2d_spark.sources.files import footer_schema
from tests.conftest import count_jobs


def _write_files(root, tables, **kw):
    """Write each table as one file of the directory table ``t``."""
    os.makedirs(root / "t.parquet", exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, root / "t.parquet" / f"part-{i:05d}.parquet", **kw)


def _rows(df):
    return sorted(map(repr, df.collect()))


def _assert_footer_parity(spark, root):
    path = str(root / "t.parquet")
    with count_jobs(spark) as jobs:
        schema = footer_schema(spark, path)
        got = ParquetConnector(str(root), spark).read("t")
    assert schema is not None and jobs == []
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


@contextmanager
def _session_conf(spark, conf):
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _outcome(read):
    """``(schema, rows)`` of a read, or the type of the error it raises."""
    try:
        df = read()
        return df.schema, _rows(df)
    except Exception as e:
        return type(e)


def _assert_falls_back(spark, root, **options):
    """The read infers as Spark does: with connector ``options`` the
    footers are not consulted at all, without them they cannot answer."""
    path = str(root / "t.parquet")
    if not options:
        assert footer_schema(spark, path) is None

    def infer():
        reader = spark.read.format("parquet")
        for k, v in options.items():
            reader = reader.option(k, str(v))
        return reader.load(path)

    with count_jobs(spark) as jobs:
        got = _outcome(lambda: ParquetConnector(str(root), spark, **options).read("t"))
    assert jobs, "the read should have run Spark's schema inference"
    assert got == _outcome(infer)
    return got


def test_spark_written_table_with_non_nullable_columns(spark, tmp_path):
    df = spark.range(40).selectExpr(
        "id", "CAST(id AS STRING) AS s", "IF(id % 3 = 0, NULL, id * 1.5) AS d",
        "named_struct('x', id, 'y', array(id)) AS st", "map(id, 'v') AS m",
        "CAST(id AS DECIMAL(30, 3)) AS dec", "make_dt_interval(0, 0, 0, id) AS di",
        "TIMESTAMP_NTZ'2020-01-01 00:00:00' AS ntz", "CAST(id AS VARCHAR(5)) AS vc",
        "CAST(id AS STRING) COLLATE UTF8_LCASE AS coll",
    ).withColumn("noted", F.col("id").alias("noted", metadata={"comment": "kept"}))
    assert not df.schema["id"].nullable
    df.repartition(3).write.parquet(str(tmp_path / "t.parquet"))
    assert not footer_schema(spark, str(tmp_path / "t.parquet"))["id"].nullable
    _assert_footer_parity(spark, tmp_path)


@pytest.mark.parametrize(
    "conf",
    [
        {},
        {
            "spark.sql.parquet.binaryAsString": "true",
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        },
    ],
)
def test_pyarrow_files(spark, tmp_path, conf):
    """The converter follows the session's Parquet read settings, as
    Spark's inference does."""

    def table(k):
        return pa.table({
            "i8": pa.array([k, None], pa.int8()),
            "i64": pa.array([k, 2**62], pa.int64()),
            "u8": pa.array([k, 255], pa.uint8()),
            "u32": pa.array([k, 2**32 - 1], pa.uint32()),
            "u64": pa.array([k, 2**64 - 1], pa.uint64()),
            "d": [1.5 * k, None],
            "s": [f"v{k}", None],
            "bin": pa.array([b"\x00\xff", None], pa.binary()),
            "dec": pa.array([decimal.Decimal("1.25") * k, None], pa.decimal128(12, 2)),
            "dt": pa.array([datetime.date(2020, 1, k + 1), None]),
            "tsz": pa.array([datetime.datetime(2020, 1, 2, k), None], pa.timestamp("us", tz="UTC")),
            "tsn": pa.array([datetime.datetime(2020, 1, 2, k), None], pa.timestamp("ms")),
            "l": [[k, None], None],
            "st": [{"x": k, "y": "a"}, None],
            "m": pa.array([[("k", k)], None], pa.map_(pa.string(), pa.int64())),
        })

    _write_files(tmp_path, [table(1), table(2)])
    with _session_conf(spark, conf):
        _assert_footer_parity(spark, tmp_path)


def test_pyarrow_int96_timestamp(spark, tmp_path):
    ts = pa.array([datetime.datetime(2020, 1, 2, 3, 4, 5, 6), None], pa.timestamp("us"))
    _write_files(tmp_path, [pa.table({"id": [1, 2], "ts": ts})], use_deprecated_int96_timestamps=True)
    assert pq.read_metadata(tmp_path / "t.parquet" / "part-00000.parquet").schema.column(1).physical_type == "INT96"
    _assert_footer_parity(spark, tmp_path)


def test_single_file_table_under_a_file_uri(spark, tmp_path):
    pq.write_table(pa.table({"id": [1, 2]}), tmp_path / "t.parquet")
    assert footer_schema(spark, "file:" + str(tmp_path / "t.parquet")) is not None
    _assert_footer_parity(spark, tmp_path)


def test_files_with_different_schemas(spark, tmp_path):
    """Spark takes the schema of the first file by sorted path, not of
    the first file written or listed; the footer answer is the same."""
    os.makedirs(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [2], "x": ["a"]}), tmp_path / "t.parquet" / "b.parquet")
    pq.write_table(pa.table({"id": [1], "y": [1.5]}), tmp_path / "t.parquet" / "a.parquet")
    assert footer_schema(spark, str(tmp_path / "t.parquet")).names == ["id", "y"]
    _assert_footer_parity(spark, tmp_path)


@pytest.mark.parametrize("name", ["part-zz.parquet", "part-0.parquet"])
def test_spark_and_pyarrow_files_mixed(spark, tmp_path, name):
    """A pyarrow file sorted after (``part-zz``) or before (``part-0``)
    Spark's ``part-00000-...`` files: the schema is the first file's."""
    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    pq.write_table(pa.table({"id": [7], "x": ["a"]}), tmp_path / "t.parquet" / name)
    names = footer_schema(spark, str(tmp_path / "t.parquet")).names
    assert names == (["id"] if name == "part-zz.parquet" else ["id", "x"])
    _assert_footer_parity(spark, tmp_path)


def test_reads_only_the_first_footer(spark, tmp_path):
    """Schema inference reads no file but the first, so a corrupt later
    file does not change the schema, only the rows' read."""
    _write_files(tmp_path, [pa.table({"id": [1]})])
    (tmp_path / "t.parquet" / "part-00001.parquet").write_bytes(b"not a parquet file")
    path = str(tmp_path / "t.parquet")
    with count_jobs(spark) as jobs:
        schema = footer_schema(spark, path)
    assert jobs == []
    assert schema == spark.read.parquet(path).schema


def test_session_that_merges_schemas(spark, tmp_path):
    _write_files(tmp_path, [pa.table({"id": [1]}), pa.table({"id": [2], "x": ["a"]})])
    with _session_conf(spark, {"spark.sql.parquet.mergeSchema": "true"}):
        schema, _ = _assert_falls_back(spark, tmp_path)
    assert schema.names == ["id", "x"]


@pytest.mark.parametrize("name", ["part 0.parquet", "part%30.parquet"])
def test_file_names_a_path_string_may_escape(spark, tmp_path, name):
    os.makedirs(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1]}), tmp_path / "t.parquet" / name)
    _assert_falls_back(spark, tmp_path)


@pytest.mark.parametrize("name", ["_common_metadata", "_metadata"])
def test_summary_file(spark, tmp_path, name):
    """Spark takes the schema from a summary file before any data file;
    this one names a column no data file holds."""
    _write_files(tmp_path, [pa.table({"id": [1, 2]})])
    pq.write_metadata(pa.schema([("id", pa.int64()), ("extra", pa.string())]), tmp_path / "t.parquet" / name)
    schema, _ = _assert_falls_back(spark, tmp_path)
    assert schema.names == ["id", "extra"]


def test_partitioned_directory(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, p string")
    df.write.partitionBy("p").parquet(str(tmp_path / "t.parquet"))
    _assert_falls_back(spark, tmp_path)


def test_connector_option_and_read_keyword(spark, tmp_path):
    _write_files(tmp_path, [pa.table({"id": [1]}), pa.table({"id": [2], "x": ["a"]})])
    _assert_falls_back(spark, tmp_path, mergeSchema="true")
    conn = ParquetConnector(str(tmp_path), spark)
    with count_jobs(spark) as jobs:
        got = conn.read("t", mergeSchema=True)
    assert jobs
    assert got.schema == spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t.parquet")).schema


def test_timestamp_nanos(spark, tmp_path):
    """A TIMESTAMP(NANOS) column still raises Spark's own error, unless
    the session reads such columns as longs, as the footer answer then
    does too."""
    ts = pa.array([datetime.datetime(2020, 1, 2)], pa.timestamp("ns"))
    _write_files(tmp_path, [pa.table({"ts": ts})])
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with _session_conf(spark, {key: "false"}):
        assert isinstance(_assert_falls_back(spark, tmp_path), type)
    with _session_conf(spark, {key: "true"}):
        _assert_footer_parity(spark, tmp_path)


def test_corrupt_footer_still_raises(spark, tmp_path):
    os.makedirs(tmp_path / "t.parquet")
    (tmp_path / "t.parquet" / "part-00000.parquet").write_bytes(b"not a parquet file")
    assert isinstance(_assert_falls_back(spark, tmp_path), type)


def test_column_names_differing_only_in_case(spark, tmp_path):
    _write_files(tmp_path, [pa.table({"id": [1], "ID": [2]})])
    assert isinstance(_assert_falls_back(spark, tmp_path), type)


def test_paths_the_footers_cannot_answer(spark, tmp_path):
    assert footer_schema(spark, "hdfs://namenode/t.parquet") is None
    assert footer_schema(spark, str(tmp_path / "missing.parquet")) is None
    glob = tmp_path / "t[1].parquet"
    pq.write_table(pa.table({"id": [1]}), glob)
    assert footer_schema(spark, str(glob)) is None


def test_upsert_from_pyarrow_landing_runs_three_jobs(spark, tmp_path):
    """A keyed re-sync: a pyarrow-written landing upserted into a
    Spark-written target. Neither read infers a schema, and the probe
    needs no shuffle of its own: what is left is the deduplicating
    shuffle of the batch, the broadcast of its keys, and the write."""
    target = str(tmp_path / "target.parquet")
    spark.range(0, 2000, 1, 4).selectExpr("id", "id * 10 AS v").write.parquet(target)
    _write_files(tmp_path, [pa.table({"id": pa.array([5, 5, 3000]), "v": pa.array([1, 2, 3])})])
    with count_jobs(spark) as jobs:
        landing = ParquetConnector(str(tmp_path), spark).read("t")
        write_mode(landing, target, mode="upsert", pks=["id"], spark=spark)
    assert len(jobs) == 3
    got = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert len(got) == 2001 and got[5] in (1, 2) and got[3000] == 3 and got[7] == 70
