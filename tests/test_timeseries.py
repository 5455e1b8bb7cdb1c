"""resample + gap_fill (operators/timeseries.py) vs Python grids."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from d2d_spark.operators.timeseries import gap_fill, resample

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def _mk(spark):
    rows = [
        ("a", T0 + dt.timedelta(minutes=m), v)
        for m, v in [(1, 1.0), (3, 2.0), (4, 3.0), (31, 10.0)]
    ] + [
        ("b", T0 + dt.timedelta(minutes=m), v) for m, v in [(12, 5.0), (13, 7.0)]
    ] + [("a", None, 99.0)]
    return spark.createDataFrame(rows, "k string, ts timestamp, v double")


def test_resample_buckets(spark):
    out = resample(
        _mk(spark), ["k"], "ts", "10 minutes",
        {"n": F.count(F.lit(1)), "s": F.sum("v")},
    )
    got = {(r["k"], str(r["bucket"])): (r["n"], r["s"]) for r in out.collect()}
    assert got == {
        ("a", "2024-03-01 00:00:00"): (3, 6.0),
        ("a", "2024-03-01 00:30:00"): (1, 10.0),
        ("b", "2024-03-01 00:10:00"): (2, 12.0),
    }
    with pytest.raises(ValueError, match="at least one aggregate"):
        resample(_mk(spark), ["k"], "ts", "10 minutes", {})


def test_gap_fill_modes(spark):
    b = resample(_mk(spark), ["k"], "ts", "10 minutes", {"s": F.sum("v")})
    # null fill: per-key grid min..max, gaps explicit
    nul = gap_fill(b, ["k"], "bucket", "10 minutes", ["s"], fill="null")
    rows = {(r["k"], str(r["bucket"])): (r["s"], r["gap"]) for r in nul.collect()}
    assert rows[("a", "2024-03-01 00:10:00")] == (None, True)
    assert rows[("a", "2024-03-01 00:20:00")] == (None, True)
    assert rows[("a", "2024-03-01 00:00:00")] == (6.0, False)
    assert len([1 for (k, _) in rows if k == "a"]) == 4  # 00,10,20,30
    assert len([1 for (k, _) in rows if k == "b"]) == 1  # single bucket
    # locf carries the last value through gaps
    locf = gap_fill(b, ["k"], "bucket", "10 minutes", ["s"], fill="locf")
    lr = {(r["k"], str(r["bucket"])): r["s"] for r in locf.collect()}
    assert lr[("a", "2024-03-01 00:10:00")] == 6.0
    assert lr[("a", "2024-03-01 00:20:00")] == 6.0
    assert lr[("a", "2024-03-01 00:30:00")] == 10.0
    # zero fill
    zer = gap_fill(b, ["k"], "bucket", "10 minutes", ["s"], fill="zero")
    zr = {(r["k"], str(r["bucket"])): r["s"] for r in zer.collect()}
    assert zr[("a", "2024-03-01 00:20:00")] == 0.0


def test_gap_fill_explicit_range_and_leading_gap(spark):
    b = resample(_mk(spark), ["k"], "ts", "10 minutes", {"s": F.sum("v")})
    out = gap_fill(
        b, ["k"], "bucket", "10 minutes", ["s"], fill="locf",
        start="2024-02-29 23:50:00", end="2024-03-01 00:50:00",
    )
    rows = {(r["k"], str(r["bucket"])): (r["s"], r["gap"]) for r in out.collect()}
    # shared 6-bucket grid for both keys
    assert len(rows) == 12
    # leading gap before a key's first value stays NULL under locf
    assert rows[("b", "2024-02-29 23:50:00")] == (None, True)
    assert rows[("b", "2024-03-01 00:40:00")] == (12.0, True)


def test_gap_fill_guards(spark):
    b = resample(_mk(spark), ["k"], "ts", "10 minutes", {"s": F.sum("v")})
    with pytest.raises(ValueError, match="fill must be"):
        gap_fill(b, ["k"], "bucket", "10 minutes", ["s"], fill="bogus")
    with pytest.raises(ValueError, match="DAY-TIME"):
        gap_fill(b, ["k"], "bucket", "1 month", ["s"])
    with pytest.raises(ValueError, match="BOTH start and end"):
        gap_fill(b, ["k"], "bucket", "10 minutes", ["s"], start=T0)
    with pytest.raises(ValueError, match="lacks columns"):
        gap_fill(b, ["k"], "bucket", "10 minutes", ["nope"])
    with pytest.raises(ValueError, match="grid rows"):
        gap_fill(b, ["k"], "bucket", "10 minutes", ["s"], max_buckets_per_key=2)
    dup = b.unionByName(b.limit(1))
    with pytest.raises(ValueError, match="duplicate \\(key, bucket\\)"):
        gap_fill(dup, ["k"], "bucket", "10 minutes", ["s"])


def test_gap_fill_guards_cover_null_key(spark):
    """A NULL key is a group of its own: its grid must face the same
    max_buckets_per_key and stray-bucket checks as any other key, and
    its observed buckets must fill from the data."""
    rows = [(None, T0 + dt.timedelta(hours=h), 1.0) for h in (0, 12)] + [("a", T0, 1.0)]
    b = spark.createDataFrame(rows, "k string, bucket timestamp, s double")
    with pytest.raises(ValueError, match="13 grid rows"):
        gap_fill(b, ["k"], "bucket", "1 hour", ["s"], max_buckets_per_key=5)
    out = gap_fill(b, ["k"], "bucket", "1 hour", ["s"], fill="zero").collect()
    nul = sorted((r["bucket"], r["s"], r["gap"]) for r in out if r["k"] is None)
    assert len(nul) == 13 and sum(not g for _, _, g in nul) == 2
    assert nul[0] == (T0, 1.0, False) and nul[1][1:] == (0.0, True)
    stray = b.unionByName(
        spark.createDataFrame([(None, T0 + dt.timedelta(minutes=90), 1.0)], b.schema)
    )
    with pytest.raises(ValueError, match="not on the regular grid"):
        gap_fill(stray, ["k"], "bucket", "1 hour", ["s"])


def test_gap_fill_partial_final_bucket(spark):
    """Explicit range whose span is NOT a multiple of the interval:
    the last partial bucket's row must survive (the advisor's 00:00:09
    row in [00:00:00, 00:00:10) at 3s — previously dropped)."""
    b = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 3, 1, 0, 0, 0), 1.0),
            ("a", dt.datetime(2024, 3, 1, 0, 0, 9), 9.0),
        ],
        "k string, bucket timestamp, s double",
    )
    out = gap_fill(
        b, ["k"], "bucket", "3 seconds", ["s"],
        start="2024-03-01 00:00:00", end="2024-03-01 00:00:10",
    )
    rows = {str(r["bucket"]): (r["s"], r["gap"]) for r in out.collect()}
    # grid = 00,03,06,09 — four starts in [start, end), partial last kept
    assert len(rows) == 4
    assert rows["2024-03-01 00:00:09"] == (9.0, False)
    assert rows["2024-03-01 00:00:00"] == (1.0, False)
    assert rows["2024-03-01 00:00:03"] == (None, True)
    # exact-multiple span still excludes the end bucket (end exclusive)
    out2 = gap_fill(
        b.filter(F.col("s") < 5), ["k"], "bucket", "3 seconds", ["s"],
        start="2024-03-01 00:00:00", end="2024-03-01 00:00:09",
    )
    assert sorted(str(r["bucket"]) for r in out2.collect()) == [
        "2024-03-01 00:00:00", "2024-03-01 00:00:03", "2024-03-01 00:00:06",
    ]


def test_gap_fill_misaligned_and_empty_range_raise(spark):
    b = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 3, 1, 0, 0, 0), 1.0),
            ("a", dt.datetime(2024, 3, 1, 0, 0, 1), 2.0),  # off a 3s grid
        ],
        "k string, bucket timestamp, s double",
    )
    with pytest.raises(ValueError, match="not on the regular grid"):
        gap_fill(
            b, ["k"], "bucket", "3 seconds", ["s"],
            start="2024-03-01 00:00:00", end="2024-03-01 00:00:10",
        ).collect()
    # per-key-range mode catches misalignment too (min=00, max=01 at 3s)
    with pytest.raises(ValueError, match="not on the regular grid"):
        gap_fill(b, ["k"], "bucket", "3 seconds", ["s"]).collect()
    ok = b.filter(F.col("s") < 2)
    with pytest.raises(ValueError, match="strictly after start"):
        gap_fill(
            ok, ["k"], "bucket", "3 seconds", ["s"],
            start="2024-03-01 00:00:10", end="2024-03-01 00:00:10",
        )
    with pytest.raises(ValueError, match="did not coerce"):
        gap_fill(
            ok, ["k"], "bucket", "3 seconds", ["s"],
            start="not-a-time", end="2024-03-01 00:00:10",
        )


def test_fixture_events_roundtrip(spark, sf_dir):
    """Grid covers every hour between each user's min/max bucket; sum
    of non-gap counts equals the raw event count."""
    from d2d_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").limit(2000)
    b = resample(ev, ["user_id"], "ts", "1 hour", {"n": F.count(F.lit(1))})
    filled = gap_fill(b, ["user_id"], "bucket", "1 hour", ["n"], fill="zero")
    total = filled.agg(F.sum("n")).first()[0]
    assert total == ev.filter(F.col("ts").isNotNull()).count()
    # regularity: per user, bucket count == span/interval + 1
    chk = (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            (
                (F.max("bucket").cast("double") - F.min("bucket").cast("double")) / 3600
                + 1
            ).alias("want"),
        )
        .filter(F.col("nb") != F.col("want"))
    )
    assert chk.count() == 0


# ---------- rolling stats / EWMA / z-score outliers ----------


def _series_df(spark, rows):
    return spark.createDataFrame(rows, "k string, t int, x double")


ROWS = [
    ("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, None), ("a", 4, 20.0),
    ("a", 5, 11.0), ("a", 6, 100.0), ("a", 7, 12.0),
    ("b", 1, 5.0), ("b", 3, 7.0), ("b", 9, 6.0),
]


def _py_trailing(rows_k, window, stat, min_periods):
    import statistics

    out = {}
    xs = [x for _, x in rows_k]
    for i, (t, _) in enumerate(rows_k):
        frame = [v for v in xs[max(0, i - window + 1): i + 1] if v is not None]
        if stat == "count":
            out[t] = len(frame)
            continue
        if len(frame) < min_periods:
            out[t] = None
            continue
        if stat == "avg":
            out[t] = sum(frame) / len(frame)
        elif stat == "sum":
            out[t] = sum(frame)
        elif stat == "min":
            out[t] = min(frame)
        elif stat == "max":
            out[t] = max(frame)
        elif stat == "stddev":
            out[t] = statistics.stdev(frame) if len(frame) > 1 else None
    return out


def test_rolling_stats_matches_python_reference(spark):
    from d2d_spark.operators.timeseries import rolling_stats

    df = _series_df(spark, ROWS)
    got = rolling_stats(df, ["k"], "t", "x", window=3, min_periods=2).collect()
    by_key = {}
    for k, t, x in ROWS:
        by_key.setdefault(k, []).append((t, x))
    for k in by_key:
        by_key[k].sort()
    for r in got:
        for stat in ("avg", "sum", "min", "max", "stddev", "count"):
            want = _py_trailing(by_key[r["k"]], 3, stat, 2)[r["t"]]
            have = r[f"roll_{stat}"]
            if want is None:
                assert have is None, (r["k"], r["t"], stat, have)
            else:
                assert have == pytest.approx(want, rel=1e-12), (r["k"], r["t"], stat)


def test_rolling_stats_partitioning_invariant(spark):
    from d2d_spark.operators.timeseries import rolling_stats

    df = _series_df(spark, ROWS)
    a = sorted(map(tuple, rolling_stats(df.repartition(1), ["k"], "t", "x", 4).collect()))
    b = sorted(map(tuple, rolling_stats(df.repartition(7), ["k"], "t", "x", 4).collect()))
    assert a == b


def test_rolling_stats_validation(spark):
    from d2d_spark.operators.timeseries import rolling_stats

    df = _series_df(spark, ROWS)
    with pytest.raises(ValueError, match="unknown stats"):
        rolling_stats(df, ["k"], "t", "x", 3, stats=("median",))
    with pytest.raises(ValueError, match="window"):
        rolling_stats(df, ["k"], "t", "x", 0)
    with pytest.raises(ValueError, match="min_periods"):
        rolling_stats(df, ["k"], "t", "x", 3, min_periods=4)
    dup = _series_df(spark, ROWS + [("a", 1, 99.0)])
    with pytest.raises(ValueError, match="duplicate"):
        rolling_stats(dup, ["k"], "t", "x", 3)
    # validate=False skips the probe (caller's contract)
    rolling_stats(dup, ["k"], "t", "x", 3, validate=False).collect()
    nul = _series_df(spark, ROWS + [("a", None, 1.0)])
    with pytest.raises(ValueError, match="NULL"):
        rolling_stats(nul, ["k"], "t", "x", 3)


def _py_ewma(rows_k, alpha):
    out, prev = {}, None
    for t, x in rows_k:
        if x is None:
            out[t] = None
            continue
        prev = x if prev is None else (1.0 - alpha) * prev + alpha * x
        out[t] = prev
    return out


def test_ewma_matches_recurrence_bit_for_bit(spark):
    from d2d_spark.operators.timeseries import ewma

    df = _series_df(spark, ROWS)
    by_key = {}
    for k, t, x in ROWS:
        by_key.setdefault(k, []).append((t, x))
    for k in by_key:
        by_key[k].sort()
    for alpha in (0.3, 0.05, 1.0):
        for n_parts in (1, 7):
            got = ewma(df.repartition(n_parts), ["k"], "t", "x", alpha).collect()
            assert len(got) == len(ROWS)
            for r in got:
                want = _py_ewma(by_key[r["k"]], alpha)[r["t"]]
                # EXACT equality: the operator pins the float ops to the
                # same recurrence the reference runs
                assert r["ewma"] == want, (r["k"], r["t"], alpha)
    # alpha=1 degenerates to the value itself
    for r in ewma(df, ["k"], "t", "x", 1.0).collect():
        assert r["ewma"] == dict((t, x) for kk, t, x in ROWS if kk == r["k"])[r["t"]]


def test_ewma_null_leaves_state_untouched(spark):
    from d2d_spark.operators.timeseries import ewma

    rows = [("a", 1, 10.0), ("a", 2, None), ("a", 3, 20.0)]
    got = {r["t"]: r["ewma"] for r in ewma(_series_df(spark, rows), ["k"], "t", "x", 0.5).collect()}
    assert got[1] == 10.0
    assert got[2] is None
    assert got[3] == 0.5 * 10.0 + 0.5 * 20.0  # prev survived the gap


def test_ewma_guards(spark):
    from d2d_spark.operators.timeseries import ewma

    df = _series_df(spark, ROWS)
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="alpha"):
            ewma(df, ["k"], "t", "x", bad)
    with pytest.raises(ValueError, match="max_rows_per_key"):
        ewma(df, ["k"], "t", "x", 0.5, max_rows_per_key=3)
    with pytest.raises(ValueError, match="duplicate"):
        ewma(_series_df(spark, ROWS + [("b", 1, 0.0)]), ["k"], "t", "x", 0.5)
    assert ewma(df.limit(0), ["k"], "t", "x", 0.5).count() == 0


def test_ewma_arrow_engine_bit_equals_column_fold(spark):
    """The O(n) applyInPandas engine runs the identical IEEE
    recurrence: bit-equal to the Column fold on nulls, warm starts,
    every alpha — and the NULL row stays a real NULL (nullable
    Float64 Arrow round-trip, not NaN)."""
    from d2d_spark.operators.timeseries import ewma

    df = _series_df(spark, ROWS)
    for alpha in (0.3, 0.05, 1.0):
        col = {(r["k"], r["t"]): r["ewma"]
               for r in ewma(df, ["k"], "t", "x", alpha).collect()}
        arr = {(r["k"], r["t"]): r["ewma"]
               for r in ewma(df.repartition(7), ["k"], "t", "x", alpha,
                             engine="arrow").collect()}
        assert col == arr  # exact ==, None included
    assert arr[("a", 3)] is None
    # warm start composes identically under both engines
    b1 = [("a", 1, 10.0), ("a", 2, 12.0)]
    b2 = [("a", 3, 20.0), ("b", 1, 5.0)]
    seed = (
        ewma(_series_df(spark, b1), ["k"], "t", "x", 0.3, engine="arrow")
        .groupBy("k").agg(F.max_by("ewma", "t").alias("ewma"))
    )
    got = {(r["k"], r["t"]): r["ewma"]
           for r in ewma(_series_df(spark, b2), ["k"], "t", "x", 0.3,
                         init=seed, engine="arrow").collect()}
    want = {(r["k"], r["t"]): r["ewma"]
            for r in ewma(_series_df(spark, b1 + b2), ["k"], "t", "x", 0.3)
            .collect() if (r["k"], r["t"]) in got}
    assert got == want
    with pytest.raises(ValueError, match="engine"):
        ewma(df, ["k"], "t", "x", 0.5, engine="numpy")
    # other columns survive the kernel projection
    wide = spark.createDataFrame(
        [("a", 1, 10.0, "u"), ("a", 2, 20.0, "v")],
        "k string, t int, x double, tag string",
    )
    got_w = {r["t"]: r for r in ewma(wide, ["k"], "t", "x", 0.5, engine="arrow").collect()}
    assert got_w[2]["tag"] == "v" and got_w[2]["ewma"] == 15.0


def test_ewma_arrow_engine_long_series(spark):
    """A key far beyond the Column fold's quadratic 100k cap runs
    linearly under the arrow engine, matching the Python recurrence
    at both ends of the series."""
    from d2d_spark.operators.timeseries import ewma

    n = 300_000
    df = spark.range(n).selectExpr(
        "'k' AS k", "CAST(id AS INT) AS t", "CAST(id % 97 AS DOUBLE) AS x"
    )
    got = (
        ewma(df, ["k"], "t", "x", 0.1, validate=False, engine="arrow")
        .filter((F.col("t") < 3) | (F.col("t") >= n - 2))
        .collect()
    )
    prev = None
    want = {}
    for t in range(n):
        x = float(t % 97)
        prev = x if prev is None else 0.9 * prev + 0.1 * x
        want[t] = prev
    assert {r["t"]: r["ewma"] for r in got} == {
        t: want[t] for t in list(range(3)) + [n - 2, n - 1]
    }


def test_ewma_keeps_other_columns(spark):
    from d2d_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [("a", 1, 10.0, "u"), ("a", 2, 20.0, "v")], "k string, t int, x double, tag string"
    )
    got = {r["t"]: r for r in ewma(df, ["k"], "t", "x", 0.5).collect()}
    assert got[2]["tag"] == "v" and got[2]["x"] == 20.0 and got[2]["ewma"] == 15.0


def test_rolling_zscore_outliers(spark):
    from d2d_spark.operators.timeseries import rolling_zscore_outliers

    import statistics

    df = _series_df(spark, ROWS)
    got = {(r["k"], r["t"]): r for r in rolling_zscore_outliers(
        df, ["k"], "t", "x", window=4, threshold=1.1, min_periods=3
    ).collect()}
    by_key = {}
    for k, t, x in ROWS:
        by_key.setdefault(k, []).append((t, x))
    for k, series in by_key.items():
        series.sort()
        xs = [x for _, x in series]
        for i, (t, x) in enumerate(series):
            frame = [v for v in xs[max(0, i - 3): i + 1] if v is not None]
            r = got[(k, t)]
            if x is None or len(frame) < 3:
                assert r["zscore"] is None and r["is_outlier"] is None
                continue
            sd = statistics.stdev(frame)
            if sd == 0.0:
                assert r["zscore"] is None
                continue
            z = (x - sum(frame) / len(frame)) / sd
            assert r["zscore"] == pytest.approx(z, rel=1e-12)
            assert r["is_outlier"] == (abs(z) > 1.1)
    # the planted spike (a, 6, 100.0) must flag (self-inclusion
    # dampens its z to ~1.15, hence the 1.1 threshold)
    assert got[("a", 6)]["is_outlier"] is True
    with pytest.raises(ValueError, match="threshold"):
        rolling_zscore_outliers(df, ["k"], "t", "x", 4, threshold=0.0)


def test_rolling_on_resampled_fixture(spark, sf_dir):
    """Composition: resample -> rolling sum/count over the regular
    buckets, checked against a window-free groupBy recomputation."""
    from d2d_spark.operators.timeseries import rolling_stats
    from d2d_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").limit(3000)
    b = resample(ev, ["event_type"], "ts", "1 hour", {"n": F.count(F.lit(1))})
    rolled = rolling_stats(
        b, ["event_type"], "bucket", "n", window=3, validate=False,
        stats=("sum", "count"),
    )
    rows = rolled.collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r["event_type"], []).append((r["bucket"], r["n"]))
    for k in per_key:
        per_key[k].sort()
    for r in rows:
        series = per_key[r["event_type"]]
        i = [t for t, _ in series].index(r["bucket"])
        frame = [n for _, n in series[max(0, i - 2): i + 1]]
        assert r["roll_sum"] == sum(frame)
        assert r["roll_count"] == len(frame)


def test_rolling_stats_time_range_mode(spark):
    """RANGE frames: every row whose ts falls in [t - duration, t],
    duplicate timestamps legal (both rows see each other)."""
    from datetime import datetime

    from d2d_spark.operators.timeseries import rolling_stats

    base = datetime(2024, 1, 1)
    rows = [
        ("a", datetime(2024, 1, 1, 0, 0), 1.0),
        ("a", datetime(2024, 1, 1, 0, 30), 2.0),
        ("a", datetime(2024, 1, 1, 0, 30), 10.0),   # duplicate ts
        ("a", datetime(2024, 1, 1, 1, 0), 4.0),
        ("a", datetime(2024, 1, 1, 3, 0), 8.0),
        ("b", datetime(2024, 1, 1, 0, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, t timestamp, x double")
    got = rolling_stats(
        df, ["k"], "t", "x", duration="1 hour", stats=("sum", "count")
    ).collect()
    by_key = {}
    for k, t, x in rows:
        by_key.setdefault(k, []).append((t, x))
    for r in got:
        frame = [
            x for t, x in by_key[r["k"]]
            if 0 <= (r["t"] - t).total_seconds() <= 3600
        ]
        assert r["roll_sum"] == sum(frame), (r["k"], r["t"])
        assert r["roll_count"] == len(frame)
    # the duplicate-ts rows each include BOTH duplicates
    dups = [r for r in got if r["t"] == datetime(2024, 1, 1, 0, 30)]
    assert all(r["roll_sum"] == 13.0 and r["roll_count"] == 3 for r in dups)
    # the 3:00 row's hour window holds only itself
    late = [r for r in got if r["t"] == datetime(2024, 1, 1, 3, 0)][0]
    assert late["roll_sum"] == 8.0 and late["roll_count"] == 1
    # guards: both/neither mode, bad duration, non-timestamp order
    with pytest.raises(ValueError, match="exactly one"):
        rolling_stats(df, ["k"], "t", "x")
    with pytest.raises(ValueError, match="exactly one"):
        rolling_stats(df, ["k"], "t", "x", window=3, duration="1 hour")
    with pytest.raises(ValueError, match="DAY-TIME"):
        rolling_stats(df, ["k"], "t", "x", duration="1 month")
    with pytest.raises(ValueError, match="timestamp"):
        rolling_stats(
            _series_df(spark, ROWS), ["k"], "t", "x", duration="1 hour"
        )


def test_ewma_init_composes_batches(spark):
    """run(b1) then run(b2, init=last-of-b1) ≡ run(b1 ∪ b2) exactly."""
    from d2d_spark.operators.timeseries import ewma

    b1 = [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)]
    b2 = [("a", 3, 30.0), ("b", 4, None), ("b", 5, 7.0), ("c", 1, 1.0)]
    df1, df2 = _series_df(spark, b1), _series_df(spark, b2)
    whole = {(r["k"], r["t"]): r["ewma"]
             for r in ewma(_series_df(spark, b1 + b2), ["k"], "t", "x", 0.3).collect()}
    first = ewma(df1, ["k"], "t", "x", 0.3)
    seed = first.groupBy("k").agg(
        F.max(F.struct("t", "ewma"))["ewma"].alias("ewma")
    )
    second = ewma(df2, ["k"], "t", "x", 0.3, init=seed)
    got = {(r["k"], r["t"]): r["ewma"] for r in first.collect()}
    got.update({(r["k"], r["t"]): r["ewma"] for r in second.collect()})
    assert got == whole
    # init validation
    import pytest as pt

    with pt.raises(ValueError, match="lacks columns"):
        ewma(df2, ["k"], "t", "x", 0.3, init=seed.drop("ewma"))
    with pt.raises(ValueError, match="duplicate keys"):
        ewma(df2, ["k"], "t", "x", 0.3, init=seed.unionAll(seed))


def test_stream_ewma_sink_equals_batch(spark, tmp_path):
    """Stream-emitted EWMA points are BIT-IDENTICAL to the batch
    operator over everything seen, at every drop prefix; NULL values
    advance last_ts without touching the average; late data refused."""
    import pytest as pt
    from pyspark.sql import types as T

    from d2d_spark.operators.timeseries import ewma
    from d2d_spark.streaming.filestream import (
        ewma_stream_state,
        file_stream,
        stream_ewma_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("t", T.IntegerType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    drops = [
        ("d1", [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)]),
        ("d2", [("a", 3, 30.0), ("b", 4, None), ("c", 1, 1.0)]),
        ("d3", [("b", 5, 7.0), ("c", 2, 3.0), ("a", 9, 12.0)]),
    ]
    seen = []
    for name, rows in drops:
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            str(src / name)
        )
        seen.extend(rows)
        stream = file_stream(spark, str(src) + "/*", schema)
        stream_ewma_sink(stream, "k", "t", "x", 0.25, state, ckpt)
        pts, carry = ewma_stream_state(spark, state)
        got = {(r["key"], r["ts"]): r["ewma"] for r in pts.collect()}
        want = {(r["k"], r["t"]): r["ewma"]
                for r in ewma(_series_df(spark, seen), ["k"], "t", "x", 0.25).collect()}
        assert got == want, name
    # carry after d3: b saw a NULL at t=4 (state untouched) then 7.0
    cb = {r["key"]: (r["last_ts"], r["ewma"]) for r in carry.collect()}
    assert cb["b"][0] == 5
    assert cb["b"][1] == 0.75 * 5.0 + 0.25 * 7.0
    # late data refused
    spark.createDataFrame([("a", 9, 99.0)], schema).write.mode("overwrite").parquet(
        str(src / "d4")
    )
    stream = file_stream(spark, str(src) + "/*", schema)
    with pt.raises(Exception, match="per-key time order"):
        stream_ewma_sink(stream, "k", "t", "x", 0.25, state, ckpt)
    # fresh checkpoint over surviving state refused
    stream = file_stream(spark, str(src) + "/*", schema)
    with pt.raises(ValueError, match="fresh"):
        stream_ewma_sink(stream, "k", "t", "x", 0.25, state, str(tmp_path / "c2"))
    with pt.raises(ValueError, match="alpha"):
        stream_ewma_sink(stream, "k", "t", "x", 0.0, state, ckpt)


def test_sessionize_matches_python_and_session_agg(spark, sf_dir):
    from pyspark.sql import types as T

    from d2d_spark.operators.timeseries import sessionize
    from d2d_spark.session import read_table
    from d2d_spark.streaming.windows import session_agg

    rows = [
        ("a", 0.0), ("a", 10.0), ("a", 20.0),   # one session (gap 10, == stays)
        ("a", 31.0),                            # 11 > 10 -> new session
        ("b", 5.0), ("b", 100.0),
    ]
    df = spark.createDataFrame(rows, "k string, t double")
    got = {(r["k"], r["t"]): (r["session_seq"], r["session_start"])
           for r in sessionize(df, ["k"], "t", 10.0).collect()}
    assert got[("a", 0.0)] == (1, 0.0)
    assert got[("a", 10.0)] == (1, 0.0)
    assert got[("a", 20.0)] == (1, 0.0)   # delta == gap continues
    assert got[("a", 31.0)] == (2, 31.0)
    assert got[("b", 5.0)] == (1, 5.0) and got[("b", 100.0)] == (2, 100.0)
    # refusals
    import pytest as pt

    with pt.raises(ValueError, match="duplicate"):
        sessionize(spark.createDataFrame(rows + [("a", 0.0)], "k string, t double"),
                   ["k"], "t", 10.0)
    with pt.raises(ValueError, match="NULL"):
        sessionize(spark.createDataFrame(rows + [("c", None)], "k string, t double"),
                   ["k"], "t", 10.0)
    with pt.raises(ValueError, match="gap"):
        sessionize(df, ["k"], "t", -1.0)

    # fixture equivalence: per-session aggregates derived from the
    # per-event ids must equal session_agg's windows exactly
    # (session_end = last event + gap)
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).limit(2000)
    ev = ev.dropDuplicates(["user_id", "ts"])
    sz = sessionize(ev, ["user_id"], "ts", "2 hours")
    mine = {
        (r["user_id"], r["s"], r["e"], r["n"])
        for r in sz.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("s"),
            (F.max("ts") + F.expr("INTERVAL 2 hours")).alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    theirs = {
        (r["user_id"], r["session_start"], r["session_end"], r["n"])
        for r in session_agg(
            ev, "ts", "2 hours", aggs=[F.count(F.lit(1)).alias("n")], keys=["user_id"]
        ).collect()
    }
    assert mine == theirs and mine


# ---------- debounce / throttle ----------


def test_debounce_keeps_burst_firsts(spark):
    from d2d_spark.operators.timeseries import debounce_events, sessionize

    rows = [
        ("a", 0.0, 1), ("a", 1.0, 2), ("a", 2.0, 3),   # one burst (gaps <= 2)
        ("a", 10.0, 4), ("a", 11.5, 5),                 # second burst
        ("b", 0.0, 6), ("b", 3.0, 7),                   # gap 3 > 2: two bursts
    ]
    df = spark.createDataFrame(rows, "k string, t double, e int")
    got = sorted(r["e"] for r in debounce_events(df, ["k"], "t", 2.0).collect())
    assert got == [1, 4, 6, 7]
    # debounce IS "rows where session_start == ts" (same gap rule)
    se = sessionize(df, ["k"], "t", 2.0)
    starts = sorted(r["e"] for r in se.filter("t = session_start").collect())
    assert got == starts
    # exact-gap events CONTINUE the burst (sessionize convention)
    df2 = spark.createDataFrame([("a", 0.0, 1), ("a", 2.0, 2)], "k string, t double, e int")
    assert [r["e"] for r in debounce_events(df2, ["k"], "t", 2.0).collect()] == [1]


def _py_throttle_exact(times, gap):
    kept, last = [], None
    for t in times:
        if last is None or t >= last + gap:
            kept.append(t)
            last = t
    return kept


def test_throttle_exact_matches_python_and_partitioning(spark):
    from d2d_spark.operators.timeseries import throttle_events

    times = [0.0, 1.0, 2.5, 2.6, 5.0, 5.1, 7.5, 30.0, 31.0, 32.5]
    rows = [("a", t, i) for i, t in enumerate(times)] + [("b", 100.0, 99)]
    df = spark.createDataFrame(rows, "k string, t double, e int")
    want = _py_throttle_exact(times, 2.5)
    for n_parts in (1, 7):
        got = sorted(
            r["t"]
            for r in throttle_events(
                df.repartition(n_parts), ["k"], "t", 2.5, mode="exact"
            ).filter("k = 'a'").collect()
        )
        assert got == want
    # the singleton key survives untouched, payload intact
    b = throttle_events(df, ["k"], "t", 2.5, mode="exact").filter("k = 'b'").collect()
    assert [(r["t"], r["e"]) for r in b] == [(100.0, 99)]


def test_throttle_bucket_keeps_earliest_per_bucket(spark):
    from d2d_spark.operators.timeseries import throttle_events

    rows = [("a", 0.5, 1), ("a", 0.9, 2), ("a", 1.1, 3), ("a", 3.0, 4)]
    df = spark.createDataFrame(rows, "k string, t double, e int")
    got = sorted(r["e"] for r in throttle_events(df, ["k"], "t", 1.0).collect())
    assert got == [1, 3, 4]  # buckets [0,1) [1,2) [3,4)
    # timestamp flavor against the fixture: one survivor per (key, hour)
    from d2d_spark.session import read_table


def test_throttle_bucket_fixture_hourly(spark, sf_dir):
    from d2d_spark.operators.timeseries import throttle_events
    from d2d_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") % 101 == 0)
    out = throttle_events(
        ev, ["user_id"], "ts", "1 hour", tiebreak_cols=["event_id"]
    )
    chk = out.groupBy("user_id", F.date_trunc("hour", "ts")).count()
    assert chk.filter("count > 1").count() == 0
    # survivor = the min-ts event of its bucket
    joined = out.alias("o").join(
        ev.alias("e"),
        (F.col("o.user_id") == F.col("e.user_id"))
        & (F.date_trunc("hour", F.col("o.ts")) == F.date_trunc("hour", F.col("e.ts")))
        & (F.col("e.ts") < F.col("o.ts")),
    )
    assert joined.count() == 0


def test_throttle_guards(spark):
    from d2d_spark.operators.timeseries import throttle_events

    df = spark.createDataFrame([("a", 1.0, 1)], "k string, t double, e int")
    with pytest.raises(ValueError, match="mode"):
        throttle_events(df, ["k"], "t", 1.0, mode="sliding")
    with pytest.raises(ValueError, match="interval strings"):
        throttle_events(df, ["k"], "t", "1 hour")
    with pytest.raises(ValueError, match="interval must be > 0"):
        throttle_events(df, ["k"], "t", 0.0)
    dup = spark.createDataFrame([("a", 1.0, 1), ("a", 1.0, 2)], "k string, t double, e int")
    with pytest.raises(ValueError, match="duplicate"):
        throttle_events(dup, ["k"], "t", 1.0, mode="exact")


# ---------- Holt linear trend / CUSUM ----------


def _py_holt(rows_k, a, b):
    out, lvl, tr = {}, None, None
    for t, x in rows_k:
        if x is None:
            out[t] = (None, None)
            continue
        if lvl is None:
            lvl, tr = x, 0.0
        else:
            new_l = a * x + (1.0 - a) * (lvl + tr)
            tr = b * (new_l - lvl) + (1.0 - b) * tr
            lvl = new_l
        out[t] = (lvl, tr)
    return out


def test_holt_linear_matches_recurrence_bit_for_bit(spark):
    from d2d_spark.operators.timeseries import holt_linear

    df = _series_df(spark, ROWS)
    by_key = {}
    for k, t, x in ROWS:
        by_key.setdefault(k, []).append((t, x))
    for k in by_key:
        by_key[k].sort()
    for a, b in ((0.5, 0.3), (0.25, 0.25), (1.0, 1.0)):
        for n_parts in (1, 7):
            got = holt_linear(df.repartition(n_parts), ["k"], "t", "x", a, b).collect()
            assert len(got) == len(ROWS)
            for r in got:
                wl, wt = _py_holt(by_key[r["k"]], a, b)[r["t"]]
                assert r["level"] == wl and r["trend"] == wt, (r["k"], r["t"], a, b)
    # trend tracks a clean linear ramp: level converges onto the line
    ramp = [("r", i, 10.0 + 3.0 * i) for i in range(50)]
    out = {r["t"]: r for r in holt_linear(
        _series_df(spark, ramp), ["k"], "t", "x", 0.5, 0.5).collect()}
    assert abs(out[49]["trend"] - 3.0) < 1e-6
    assert abs(out[49]["level"] - (10.0 + 3.0 * 49)) < 1e-3
    with pytest.raises(ValueError, match="alpha"):
        holt_linear(df, ["k"], "t", "x", 0.0, 0.5)
    with pytest.raises(ValueError, match="beta"):
        holt_linear(df, ["k"], "t", "x", 0.5, 1.5)
    with pytest.raises(ValueError, match="already has"):
        holt_linear(df.withColumn("level", F.lit(1)), ["k"], "t", "x", 0.5, 0.5)


def _py_cusum(rows_k, t, k, h):
    out, sp, sn = {}, 0.0, 0.0
    for o, x in rows_k:
        if x is None:
            out[o] = (None, None, None)
            continue
        sp = max(0.0, sp + ((x - t) - k))
        sn = max(0.0, sn + ((t - x) - k))
        out[o] = (sp, sn, sp > h or sn > h)
    return out


def test_cusum_matches_recurrence_and_detects_shift(spark):
    from d2d_spark.operators.timeseries import cusum_changepoints

    df = _series_df(spark, ROWS)
    by_key = {}
    for k, t, x in ROWS:
        by_key.setdefault(k, []).append((t, x))
    for k in by_key:
        by_key[k].sort()
    for n_parts in (1, 7):
        got = cusum_changepoints(
            df.repartition(n_parts), ["k"], "t", "x", target=10.0, slack=1.0,
            threshold=5.0,
        ).collect()
        for r in got:
            wp, wn, wf = _py_cusum(by_key[r["k"]], 10.0, 1.0, 5.0)[r["t"]]
            assert (r["cusum_pos"], r["cusum_neg"], r["is_shift"]) == (wp, wn, wf)
    # a planted level shift fires the positive side, and only after it
    shifted = [("s", i, 10.0) for i in range(10)] + [("s", i, 14.0) for i in range(10, 20)]
    out = {r["t"]: r for r in cusum_changepoints(
        _series_df(spark, shifted), ["k"], "t", "x", target=10.0, slack=1.0,
        threshold=5.0).collect()}
    assert not any(out[i]["is_shift"] for i in range(10))
    assert out[12]["is_shift"]  # (14-10-1)*2 = 6 > 5 by the 3rd shifted point
    assert all(out[i]["is_shift"] for i in range(12, 20))
    with pytest.raises(ValueError, match="slack"):
        cusum_changepoints(df, ["k"], "t", "x", target=0.0, slack=-1.0)
    with pytest.raises(ValueError, match="threshold"):
        cusum_changepoints(df, ["k"], "t", "x", target=0.0, threshold=0.0)


def test_holt_and_cusum_init_compose_batches(spark):
    """run(b1) then run(b2, init=last-of-b1) ≡ run(b1 ∪ b2) exactly,
    for both sequential folds — the streaming-sink foundation."""
    from d2d_spark.operators.timeseries import cusum_changepoints, holt_linear

    b1 = [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)]
    b2 = [("a", 3, 30.0), ("b", 4, None), ("b", 5, 7.0), ("c", 1, 1.0)]
    df1, df2, whole = _series_df(spark, b1), _series_df(spark, b2), _series_df(spark, b1 + b2)

    want_h = {(r["k"], r["t"]): (r["level"], r["trend"])
              for r in holt_linear(whole, ["k"], "t", "x", 0.5, 0.3).collect()}
    first = holt_linear(df1, ["k"], "t", "x", 0.5, 0.3)
    seed = first.groupBy("k").agg(
        F.max_by(F.struct("level", "trend"), F.struct("t", "x")).alias("__s")
    ).select("k", F.col("__s.level").alias("level"), F.col("__s.trend").alias("trend"))
    second = holt_linear(df2, ["k"], "t", "x", 0.5, 0.3, init=seed)
    got = {(r["k"], r["t"]): (r["level"], r["trend"]) for r in first.collect()}
    got.update({(r["k"], r["t"]): (r["level"], r["trend"]) for r in second.collect()})
    assert got == want_h

    want_c = {(r["k"], r["t"]): (r["cusum_pos"], r["cusum_neg"], r["is_shift"])
              for r in cusum_changepoints(whole, ["k"], "t", "x", target=10.0,
                                          slack=1.0, threshold=5.0).collect()}
    c1 = cusum_changepoints(df1, ["k"], "t", "x", target=10.0, slack=1.0, threshold=5.0)
    cseed = c1.groupBy("k").agg(
        F.max_by(F.struct("cusum_pos", "cusum_neg"), "t").alias("__s")
    ).select("k", F.col("__s.cusum_pos").alias("cusum_pos"),
             F.col("__s.cusum_neg").alias("cusum_neg"))
    c2 = cusum_changepoints(df2, ["k"], "t", "x", target=10.0, slack=1.0,
                            threshold=5.0, init=cseed)
    gotc = {(r["k"], r["t"]): (r["cusum_pos"], r["cusum_neg"], r["is_shift"])
            for r in c1.collect()}
    gotc.update({(r["k"], r["t"]): (r["cusum_pos"], r["cusum_neg"], r["is_shift"])
                 for r in c2.collect()})
    assert gotc == want_c
    # guards: malformed / duplicate seeds
    with pytest.raises(ValueError, match="lacks columns"):
        holt_linear(df2, ["k"], "t", "x", 0.5, 0.3, init=seed.drop("trend"))
    with pytest.raises(ValueError, match="duplicate"):
        cusum_changepoints(df2, ["k"], "t", "x", target=0.0,
                           init=cseed.unionAll(cseed))


def test_stream_holt_and_cusum_sinks_equal_batch(spark, tmp_path):
    """Stream-maintained Holt level/trend AND CUSUM shift sums are
    bit-identical to the batch folds over everything seen, at EVERY
    drop prefix — the exact-composition property the init= seeds
    guarantee; late data refused loudly."""
    from pyspark.sql import types as T

    from d2d_spark.operators.timeseries import cusum_changepoints, holt_linear
    from d2d_spark.streaming.filestream import (
        file_stream,
        series_stream_state,
        stream_cusum_sink,
        stream_holt_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("t", T.IntegerType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    drops = [
        ("d1", [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)]),
        ("d2", [("a", 3, None), ("a", 4, 30.0), ("c", 1, 1.0)]),
        ("d3", [("a", 5, 12.0), ("b", 9, 50.0), ("c", 2, 2.0)]),
    ]
    seen = []
    for name, rows in drops:
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            str(src / name)
        )
        seen.extend(rows)
        whole = spark.createDataFrame(seen, schema)

        stream = file_stream(spark, str(src) + "/*", schema)
        stream_holt_sink(stream, "k", "t", "x", 0.5, 0.3,
                         str(tmp_path / "hstate"), str(tmp_path / "hckpt"))
        pts, carry = series_stream_state(spark, str(tmp_path / "hstate"))
        got = {(r["key"], r["ts"]): (r["level"], r["trend"]) for r in pts.collect()}
        want = {(r["k"], r["t"]): (r["level"], r["trend"])
                for r in holt_linear(whole, ["k"], "t", "x", 0.5, 0.3).collect()}
        assert got == want, ("holt", name)

        stream = file_stream(spark, str(src) + "/*", schema)
        stream_cusum_sink(stream, "k", "t", "x", 10.0,
                          str(tmp_path / "cstate"), str(tmp_path / "cckpt"),
                          slack=1.0, threshold=5.0)
        cpts, _ = series_stream_state(spark, str(tmp_path / "cstate"))
        gotc = {(r["key"], r["ts"]): (r["cusum_pos"], r["cusum_neg"], r["is_shift"])
                for r in cpts.collect()}
        wantc = {(r["k"], r["t"]): (r["cusum_pos"], r["cusum_neg"], r["is_shift"])
                 for r in cusum_changepoints(whole, ["k"], "t", "x", target=10.0,
                                             slack=1.0, threshold=5.0).collect()}
        assert gotc == wantc, ("cusum", name)
    # the NULL row carried state across it (a@5 continues from a@4)
    assert got[("a", 3)] == (None, None) and got[("a", 5)][0] is not None
    # late data refused
    spark.createDataFrame([("a", 5, 1.0)], schema).write.mode("overwrite").parquet(
        str(src / "d4")
    )
    stream = file_stream(spark, str(src) + "/*", schema)
    with pytest.raises(Exception, match="per-key time order"):
        stream_holt_sink(stream, "k", "t", "x", 0.5, 0.3,
                         str(tmp_path / "hstate"), str(tmp_path / "hckpt"))


def _py_seasonal(rows, period):
    """Independent classical-decomposition twin replicating the
    operator's exact arithmetic: exact Fraction window sums for the
    trend (2S - ends over 2p for even periods), then 12-dp-quantized
    Decimal means for the phase and centering reductions."""
    from decimal import Decimal, ROUND_HALF_UP
    from fractions import Fraction

    xs = [Fraction(str(v)) for _, v in rows]
    n, half = len(xs), period // 2
    full = period if period % 2 else period + 1
    trend = []
    for i in range(n):
        lo, hi = i - half, i + half
        if lo < 0 or hi >= n:
            trend.append(None)
            continue
        win = xs[lo : hi + 1]
        if period % 2:
            trend.append(float(sum(win)) / period)
        else:
            trend.append(float(2 * sum(win) - win[0] - win[-1]) / (2 * period))
    def q12(x):
        return Decimal(repr(x)).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
    phases = {}
    for i, t in enumerate(trend):
        if t is None:
            continue
        d = float(rows[i][1]) - t
        phases.setdefault(i % period, []).append(q12(d))
    s_raw = {p: float(sum(ds)) / len(ds) for p, ds in phases.items()}
    s_mean = float(sum(q12(v) for v in s_raw.values())) / len(s_raw)
    seasonal = {p: v - s_mean for p, v in s_raw.items()}
    out = []
    for i in range(n):
        s = seasonal.get(i % period)
        t = trend[i]
        r = float(rows[i][1]) - t - s if t is not None and s is not None else None
        out.append((t, s, r))
    return out


def test_seasonal_decompose_matches_twin_and_partitioning(spark):
    import math

    from d2d_spark.operators.timeseries import seasonal_decompose

    # trend + seasonal + deterministic "noise", one key; period 4 (even)
    rows = [
        (i, round(10.0 + 0.5 * i + [3.0, -1.0, -2.5, 0.5][i % 4]
                  + 0.37 * math.sin(i * 1.7), 6))
        for i in range(40)
    ]
    for period in (4, 5):
        expected = _py_seasonal(rows, period)
        for parts in (1, 7):
            df = spark.createDataFrame(
                [("k", i, v) for i, v in rows], ["k", "t", "v"]
            ).repartition(parts)
            got = {
                r["t"]: (r["sd_trend"], r["sd_seasonal"], r["sd_resid"])
                for r in seasonal_decompose(df, ["k"], "t", "v", period).collect()
            }
            for i in range(len(rows)):
                et, es, er = expected[i]
                gt, gs, gr = got[i]
                assert gt == et, (period, parts, i, gt, et)
                assert gs == es, (period, parts, i, gs, es)
                assert gr == er, (period, parts, i, gr, er)


def test_seasonal_decompose_recovers_planted_pattern(spark):
    from d2d_spark.operators.timeseries import seasonal_decompose

    pat = [6.0, -2.0, -3.0, -1.0]  # sums to 0
    rows = [("k", i, 100.0 + 2.0 * i + pat[i % 4]) for i in range(48)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = seasonal_decompose(df, ["k"], "t", "v", 4).collect()
    by_t = {r["t"]: r for r in out}
    # interior trend of a pure linear+seasonal series is the line
    for i in range(4, 44):
        assert abs(by_t[i]["sd_trend"] - (100.0 + 2.0 * i)) < 1e-9
        assert abs(by_t[i]["sd_seasonal"] - pat[i % 4]) < 1e-9
        assert abs(by_t[i]["sd_resid"]) < 1e-9
    # seasonal component re-centers to ~0 over one period
    season = sorted({r["t"] % 4: r["sd_seasonal"] for r in out}.items())
    assert abs(sum(v for _, v in season)) < 1e-9
    # edges carry NULL trend/resid
    assert by_t[0]["sd_trend"] is None and by_t[0]["sd_resid"] is None
    assert by_t[47]["sd_trend"] is None


def test_seasonal_decompose_guards(spark):
    import pytest

    from d2d_spark.operators.timeseries import seasonal_decompose

    df = spark.createDataFrame([("k", 1, 1.0)], ["k", "t", "v"])
    with pytest.raises(ValueError, match="period"):
        seasonal_decompose(df, ["k"], "t", "v", 1)
    with pytest.raises(ValueError, match="key column"):
        seasonal_decompose(df, [], "t", "v", 4)
    with pytest.raises(ValueError, match="out_prefix"):
        seasonal_decompose(
            df.withColumn("sd_trend", F.lit(1.0)), ["k"], "t", "v", 4
        )
    dup = spark.createDataFrame([("k", 1, 1.0), ("k", 1, 2.0)], ["k", "t", "v"])
    with pytest.raises(ValueError, match="duplicate"):
        seasonal_decompose(dup, ["k"], "t", "v", 4).collect()
