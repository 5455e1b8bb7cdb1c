"""The per-row ``format_data`` bridge (`migrate.apply_format_data`,
`migrate.format_data_with_quarantine`): the values the callable sees on
the driver-side sample and on the workers, the inferred output schema,
and how returned values land in the output."""

from __future__ import annotations

import datetime
import json
import math
from decimal import Decimal

import pytest

from d2d_spark.migrate import apply_format_data, format_data_with_quarantine
from tests.conftest import count_jobs

BIG = 2**53 + 1

TYPED_SQL = """
SELECT * FROM VALUES
 (1, CAST(9007199254740993 AS BIGINT), 7, CAST('NaN' AS DOUBLE), 'a', true,
  DATE'2024-01-02', TIMESTAMP'2024-01-02 03:04:05.123456',
  TIMESTAMP_NTZ'2024-01-02 03:04:05', CAST(1.5 AS DECIMAL(18,2)), X'0102',
  array(1, 2), map('a', 1), named_struct('x', 1, 'y', 's'),
  array(TIMESTAMP'2024-01-02 03:04:05')),
 (2, CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS DOUBLE),
  CAST(NULL AS STRING), CAST(NULL AS BOOLEAN), CAST(NULL AS DATE),
  CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP_NTZ),
  CAST(NULL AS DECIMAL(18,2)), CAST(NULL AS BINARY), CAST(NULL AS ARRAY<INT>),
  CAST(NULL AS MAP<STRING,INT>), CAST(NULL AS STRUCT<x:INT,y:STRING>),
  CAST(NULL AS ARRAY<TIMESTAMP>)),
 (3, CAST(-5 AS BIGINT), 8, CAST(2.5 AS DOUBLE), 'b', false,
  DATE'2024-02-03', TIMESTAMP'2024-03-04 05:06:07',
  TIMESTAMP_NTZ'2024-03-04 05:06:07', CAST(-2.25 AS DECIMAL(18,2)), X'',
  array(3, NULL), map('b', NULL), named_struct('x', NULL, 'y', NULL),
  array(CAST(NULL AS TIMESTAMP)))
AS t(id, b, i, d, s, flag, dt, ts, ntz, dec, bin, arr, m, st, tsa)
"""


@pytest.fixture()
def batch_rows(spark):
    """Run the body once with Spark's default Arrow batch size (one
    batch per partition here, so nullable columns hold a NULL) and once
    with one-row batches (null-free batches take the NumPy path)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)

    def use(n: int | None):
        spark.conf.set(key, old if n is None else str(n))

    yield use
    spark.conf.set(key, old)


def _without_ts(d: dict) -> str:
    return repr({k: v for k, v in d.items() if k not in ("ts", "tsa")})


def test_output_keeps_big_ints_exact_when_a_batch_holds_none(spark):
    """A key that is None in some rows of a worker batch keeps int64:
    values above 2^53 are not rounded through float64."""
    df = spark.createDataFrame([(1,), (2,), (3,)], "id bigint").coalesce(1)
    out = apply_format_data(
        df, lambda d: {"id": d["id"], "v": BIG if d["id"] != 3 else None}, sample=2
    )
    assert dict(out.dtypes)["v"] == "bigint"
    assert {(r.id, r.v) for r in out.collect()} == {(1, BIG), (2, BIG), (3, None)}


def test_inference_keeps_nullable_int_and_naive_datetime_types(spark):
    """A sampled integer key holding a None infers as bigint, not
    double; a naive datetime still infers as timestamp."""
    df = spark.createDataFrame([(1,), (2,), (3,)], "id bigint").coalesce(1)
    when = datetime.datetime(2024, 1, 2, 3, 4, 5)

    def fn(d):
        return {
            "id": d["id"],
            "v": BIG if d["id"] != 3 else None,
            "when": when if d["id"] != 2 else None,
        }

    out = apply_format_data(df, fn, sample=3)
    assert dict(out.dtypes) == {"id": "bigint", "v": "bigint", "when": "timestamp"}
    got = {(r.id, r.v, r.when) for r in out.collect()}
    assert got == {(1, BIG, when), (2, BIG, None), (3, None, when)}


def test_float_nan_reaches_format_data_apart_from_null(spark, batch_rows):
    """A double column's NaN reaches the callable as NaN and its NULL
    as None — on the driver sample and on the workers, through both
    bridges."""
    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, 1.5)], "id bigint, x double"
    ).coalesce(1)
    want = {1: "nan", 2: "none", 3: "num"}

    def kind(x):
        if x is None:
            return "none"
        return "nan" if math.isnan(x) else "num"

    for n in (None, 1):
        batch_rows(n)
        driver = {}

        def fn(d):
            driver[d["id"]] = kind(d["x"])
            return {"id": d["id"], "kind": kind(d["x"])}

        out = apply_format_data(df, fn)
        assert driver == want
        assert {r.id: r.kind for r in out.collect()} == want
        driver.clear()
        good, bad = format_data_with_quarantine(df, fn)
        assert driver == want
        assert {r.id: r.kind for r in good.collect()} == want
        assert bad.count() == 0


def test_output_nan_stays_nan_and_none_is_null(spark):
    df = spark.createDataFrame([(1,), (2,)], "id bigint").coalesce(1)
    out = apply_format_data(
        df, lambda d: {"id": d["id"], "x": float("nan") if d["id"] == 1 else None}
    )
    got = {r.id: r.x for r in out.collect()}
    assert math.isnan(got[1]) and got[2] is None


def test_driver_sample_and_workers_hand_format_data_identical_values(spark, batch_rows):
    """One frame of every common column type: the driver-side sample
    and the worker batches hand the callable the same values (compared
    by repr, routed through the output), which are the
    ``Row.asDict(recursive=True)`` values — for both bridges. The
    quarantine bridge's bad rows are the sorted-key JSON of those
    values."""
    df = spark.sql(TYPED_SQL).coalesce(1)
    rows = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    for n in (None, 1):
        batch_rows(n)
        driver = {}

        def fn(d):
            driver[d["id"]] = dict(d)
            return {"id": d["id"], "r": repr(d)}

        out = apply_format_data(df, fn, sample=10)
        assert {i: repr(d) for i, d in driver.items()} == {
            r.id: r.r for r in out.collect()
        }
        for i, d in driver.items():
            # TIMESTAMP is the session time zone's wall clock; Row.asDict
            # uses the Python process's, so it is pinned on its own below
            assert _without_ts(d) == _without_ts(rows[i])
        assert driver[1]["ts"] == datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
        assert driver[1]["tsa"] == [datetime.datetime(2024, 1, 2, 3, 4, 5)]
        assert driver[3]["tsa"] == [None]
        assert driver[1]["ntz"] == datetime.datetime(2024, 1, 2, 3, 4, 5)
        assert driver[1]["dec"] == Decimal("1.50") and driver[1]["bin"] == b"\x01\x02"
        assert driver[1]["m"] == {"a": 1} and driver[1]["st"] == {"x": 1, "y": "s"}
        assert driver[3]["arr"] == [3, None] and driver[3]["m"] == {"b": None}
        assert all(v is None for k, v in driver[2].items() if k != "id")

        seen = dict(driver)
        driver.clear()

        def failing(d):
            if d["id"] == 3:
                raise ValueError("boom")
            return fn(d)

        good, bad = format_data_with_quarantine(df, failing, sample=10)
        assert {r.id: r.r for r in good.collect()} == {
            i: repr(seen[i]) for i in (1, 2)
        }
        assert [(r.row_json, r.error) for r in bad.collect()] == [
            (json.dumps(seen[3], default=str, sort_keys=True), "ValueError: boom")
        ]


def test_timestamps_follow_the_session_time_zone(spark):
    """Under a non-UTC session time zone a TIMESTAMP reaches the
    callable as that zone's naive wall-clock time on the driver and the
    workers, and a returned naive datetime is read back the same way,
    so passing the value through keeps the instant. A returned zoned
    datetime keeps its own instant."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        df = spark.sql(
            "SELECT 1 AS id, TIMESTAMP'2024-01-02 03:04:05' AS ts "
            "UNION ALL SELECT 2, TIMESTAMP'2024-07-02 03:04:05'"
        ).coalesce(1)
        driver = {}

        def fn(d):
            driver[d["id"]] = str(d["ts"])
            return {
                "id": d["id"],
                "wall": str(d["ts"]),
                "ts": d["ts"],
                "utc": d["ts"].replace(tzinfo=datetime.timezone(datetime.timedelta(hours=-5))),
            }

        out = apply_format_data(df, fn)
        want = {1: "2024-01-02 03:04:05", 2: "2024-07-02 03:04:05"}
        assert driver == want
        got = {r.id: r for r in out.collect()}
        assert {i: r.wall for i, r in got.items()} == want
        orig = {r.id: r.ts for r in df.collect()}
        assert {i: r.ts for i, r in got.items()} == orig
        # Jan 2 is EST (-5h): the -05:00 datetime is the same instant;
        # Jul 2 is EDT (-4h): the -05:00 datetime is an hour later
        assert got[1].utc == orig[1]
        assert got[2].utc == orig[2] + datetime.timedelta(hours=1)
    finally:
        spark.conf.set(key, old)


def test_driver_sample_reads_one_partition_in_one_task(spark):
    """Inference samples the first rows in a single task, however many
    partitions the input has (an Arrow collect of a bare limit would run
    a task per partition plus a shuffle)."""
    df = spark.range(0, 1600, 1, 16)
    with count_jobs(spark) as jobs:
        apply_format_data(df, lambda d: {"id": d["id"]}, sample=10)
    tracker = spark.sparkContext.statusTracker()
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert sum(tracker.getStageInfo(s).numTasks for s in stages) == 1


def test_nested_timestamps_follow_the_session_time_zone(spark):
    """A TIMESTAMP inside a returned array or struct (a returned dict
    lands as a struct) follows the top-level rule: a zoned datetime
    keeps its instant and a naive one is wall-clock time in the session
    time zone. pyarrow alone would store either one's wall clock as
    UTC."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        zoned = datetime.datetime(2020, 1, 1, 10, tzinfo=datetime.timezone(datetime.timedelta(hours=-5)))
        naive = datetime.datetime(2020, 7, 1, 10)  # EDT: 14:00Z

        def fn(d):
            return {
                "id": d["id"],
                "top": naive,
                "arr_z": [zoned, None],
                "arr_n": [naive],
                "nested": [[zoned]],
                "st": {"z": zoned, "n": naive, "inner": {"z": zoned}},
            }

        out = apply_format_data(spark.range(0, 2, 1, 2), fn)
        assert dict(out.dtypes)["arr_z"] == "array<timestamp>"
        got = out.selectExpr(
            "unix_seconds(top) AS top",
            "transform(arr_z, x -> unix_seconds(x)) AS arr_z",
            "unix_seconds(arr_n[0]) AS arr_n",
            "unix_seconds(nested[0][0]) AS nested",
            "unix_seconds(st.z) AS st_z",
            "unix_seconds(st.n) AS st_n",
            "unix_seconds(st.inner.z) AS inner_z",
        ).collect()
        z = int(zoned.timestamp())  # 2020-01-01 15:00Z
        n = int(datetime.datetime(2020, 7, 1, 14, tzinfo=datetime.timezone.utc).timestamp())
        want = {"top": n, "arr_z": [z, None], "arr_n": n, "nested": z, "st_z": z, "st_n": n, "inner_z": z}
        assert [r.asDict() for r in got] == [want, want]
    finally:
        spark.conf.set(key, old)


def test_zoned_instant_in_a_repeated_fall_back_hour_is_kept(spark):
    """A zoned datetime keeps its exact instant even when it falls in
    the first of the two repeated hours of a fall-back night in the
    session time zone, at the top level, in a list and in a struct. A
    naive datetime in that hour is still read as the later of the two
    (EST)."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        utc = datetime.timezone.utc
        first = datetime.datetime(2020, 11, 1, 5, 30, tzinfo=utc)  # 01:30 EDT
        second = datetime.datetime(2020, 11, 1, 6, 30, tzinfo=utc)  # 01:30 EST
        naive = datetime.datetime(2020, 11, 1, 1, 30)

        def fn(d):
            return {
                "id": d["id"],
                "top": first,
                "arr": [first, second, naive],
                "st": {"z": first, "n": naive},
            }

        out = apply_format_data(spark.range(0, 2, 1, 2), fn)
        got = out.selectExpr(
            "unix_seconds(top) AS top",
            "transform(arr, x -> unix_seconds(x)) AS arr",
            "unix_seconds(st.z) AS st_z",
            "unix_seconds(st.n) AS st_n",
        ).collect()
        a, b = int(first.timestamp()), int(second.timestamp())
        want = {"top": a, "arr": [a, b, b], "st_z": a, "st_n": b}
        assert [r.asDict() for r in got] == [want, want]
    finally:
        spark.conf.set(key, old)
