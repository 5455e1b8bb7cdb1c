"""local_frame must be a drop-in for createDataFrame on model-sized
driver-local rows: same rows, same column names/types, preserved
order, no Python-worker stage in the plan (r12, guide §4)."""

import math

import pytest


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_local_frame_equals_create_dataframe(spark):
    from d2d_spark.functions.frames import local_frame

    schema = "k string, n long, x double, f boolean"
    rows = [
        ("a", 1, 0.5, True),
        ("b", None, None, False),
        (None, 3, float("nan"), None),
        ("d", -9, -1e300, True),
    ]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert [f.dataType for f in got.schema.fields] == [
        f.dataType for f in want.schema.fields
    ]
    assert got.columns == want.columns
    g, w = _rows(got), _rows(want)
    assert len(g) == len(w)
    for rg, rw in zip(g, w):
        for vg, vw in zip(rg, rw):
            if isinstance(vg, float) and isinstance(vw, float) and math.isnan(vw):
                assert math.isnan(vg)
            else:
                assert vg == vw


def test_local_frame_no_python_stage(spark):
    from d2d_spark.functions.frames import local_frame

    df = local_frame(spark, [("a", 1), ("b", 2)], "k string, n long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Scan ExistingRDD" not in plan


def test_local_frame_empty_and_oversized_fall_back(spark):
    from d2d_spark.functions import frames

    schema = "k string, n long"
    assert frames.local_frame(spark, [], schema).count() == 0
    big = [(str(i), i) for i in range(frames._MAX_LITERAL_ROWS + 1)]
    got = frames.local_frame(spark, big, schema)
    assert got.count() == len(big)


def test_local_frame_arrays_and_struct_type_schema(spark):
    from pyspark.sql import types as T

    from d2d_spark.functions.frames import local_frame

    st = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [(1, [0.1, 0.2]), (2, [])]
    got = local_frame(spark, rows, st)
    want = spark.createDataFrame(rows, st)
    assert _rows(got) == _rows(want)
    assert got.schema["v"].dataType == want.schema["v"].dataType


def test_local_frame_preserves_row_order(spark):
    from d2d_spark.functions.frames import local_frame

    rows = [(i,) for i in (5, 3, 9, 1)]
    got = [r["n"] for r in local_frame(spark, rows, "n long").collect()]
    assert got == [5, 3, 9, 1]


def test_local_frame_jvm_refusal_still_falls_back(spark):
    """A value the JVM literal path refuses (a dict for a map column)
    still takes the createDataFrame path."""
    from d2d_spark.functions.frames import local_frame

    schema = "id long, m map<string,int>"
    rows = [(1, {"a": 1}), (2, {})]
    got = local_frame(spark, rows, schema)
    assert _rows(got) == _rows(spark.createDataFrame(rows, schema))


def test_local_frame_unexpected_error_propagates(spark, monkeypatch):
    """Only the failures the literal path expects fall back; any other
    exception (a caller bug) surfaces instead of silently taking the
    slow path."""
    from d2d_spark.functions import frames

    class CallerBug(Exception):
        pass

    def broken_lit(v):
        raise CallerBug("boom")

    monkeypatch.setattr(frames.F, "lit", broken_lit)
    with pytest.raises(CallerBug, match="boom"):
        frames.local_frame(spark, [("a", 1)], "k string, n long")
