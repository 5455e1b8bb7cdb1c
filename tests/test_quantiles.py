"""Exact distributed quantiles vs DuckDB percentile_disc and a pure
Python rank rule; determinism across partitionings and bucket counts."""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from d2d_spark.operators.quantiles import group_quantiles_exact, quantiles_exact

PROBS = [0.0, 0.25, 0.5, 0.75, 0.9, 1.0]


def py_disc(values: list[float], p: float):
    """percentile_disc: smallest value whose cumulative count reaches
    ceil(p * n) (>= 1)."""
    s = sorted(values)
    r = max(math.ceil(p * len(s)), 1)
    return s[r - 1]


@pytest.fixture(scope="module")
def rnd_values():
    rng = random.Random(42)
    # duplicates on purpose: rank ranges wider than 1
    return [float(rng.randint(0, 500)) for _ in range(4000)]


def test_matches_python_and_duckdb(spark, rnd_values):
    df = spark.createDataFrame([(v,) for v in rnd_values], "x double")
    got = {r["p"]: r["value"] for r in quantiles_exact(df, "x", PROBS).collect()}
    assert set(got) == set(PROBS)
    for p in PROBS:
        assert got[p] == py_disc(rnd_values, p), p
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ",".join(f"({v})" for v in rnd_values) + ") AS t(x)")
    for p in (0.25, 0.5, 0.75):  # binary-exact probs: engine-portable
        want = con.execute(
            f"SELECT percentile_disc({p}) WITHIN GROUP (ORDER BY x) FROM t"
        ).fetchone()[0]
        assert got[p] == want, p


def test_bucket_count_invariance(spark, rnd_values):
    df = spark.createDataFrame([(v,) for v in rnd_values], "x double")
    base = sorted(quantiles_exact(df, "x", PROBS).collect())
    for nb in (1, 3, 64):
        assert sorted(quantiles_exact(df, "x", PROBS, num_partitions=nb).collect()) == base
    # partitioning of the input is irrelevant too
    assert sorted(quantiles_exact(df.repartition(17), "x", PROBS).collect()) == base


def test_nulls_and_edges(spark):
    df = spark.createDataFrame(
        [(None,), (5.0,), (None,), (1.0,)], "x double"
    )
    got = {r["p"]: r["value"] for r in quantiles_exact(df, "x", [0.5, 1.0]).collect()}
    assert got == {0.5: 1.0, 1.0: 5.0}
    empty = spark.createDataFrame([], "x double")
    assert quantiles_exact(empty, "x", [0.5]).count() == 0
    one = spark.createDataFrame([(3.0,)], "x double")
    assert {r["value"] for r in quantiles_exact(one, "x", PROBS).collect()} == {3.0}


def test_group_quantiles(spark, rnd_values):
    rows = [(("a" if i % 3 else "b"), v) for i, v in enumerate(rnd_values)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = {
        (r["k"], r["p"]): r["value"]
        for r in group_quantiles_exact(df, "k", "x", PROBS).collect()
    }
    for k in ("a", "b"):
        vals = [v for kk, v in rows if kk == k]
        for p in PROBS:
            assert got[(k, p)] == py_disc(vals, p), (k, p)


def test_group_matches_global_on_constant_key(spark, rnd_values):
    df = spark.createDataFrame([("k", v) for v in rnd_values], "k string, x double")
    g = {r["p"]: r["value"] for r in group_quantiles_exact(df, "k", "x", PROBS).collect()}
    q = {
        r["p"]: r["value"]
        for r in quantiles_exact(df, "x", PROBS, num_partitions=8).collect()
    }
    assert g == q


def test_validation(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="non-empty"):
        quantiles_exact(df, "x", [])
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        quantiles_exact(df, "x", [1.5])
    with pytest.raises(ValueError, match="distinct"):
        quantiles_exact(df, "x", [0.5, 0.5])
    with pytest.raises(ValueError, match="num_partitions"):
        quantiles_exact(df, "x", [0.5], num_partitions=0)


def test_bad_num_partitions_raises_before_any_job(spark):
    """Argument checks precede the persist + eager fill: a frame whose
    evaluation fails proves no job ran before the ValueError."""
    from d2d_spark.operators.quantiles import weighted_quantiles_exact

    boom = spark.range(3).select(
        F.when(F.col("id") >= 0, F.raise_error(F.lit("job ran"))).otherwise(1.0).alias("x"),
        F.lit(1.0).alias("w"),
    )
    for nb in (0, -1):
        with pytest.raises(ValueError, match="num_partitions must be >= 1"):
            quantiles_exact(boom, "x", [0.5], num_partitions=nb)
        with pytest.raises(ValueError, match="num_partitions must be >= 1"):
            weighted_quantiles_exact(boom, "x", "w", [0.5], num_partitions=nb)


def test_winsorize_global_and_grouped(spark, rnd_values):
    from d2d_spark.operators.quantiles import winsorize

    rows = [(("a" if i % 2 else "b"), v) for i, v in enumerate(rnd_values)]
    df = spark.createDataFrame(rows + [("a", None)], "k string, x double")
    out = winsorize(df, "x", 0.05, 0.95)
    lo, hi = py_disc(rnd_values, 0.05), py_disc(rnd_values, 0.95)
    got = [r["x"] for r in out.collect()]
    assert got.count(None) == 1
    vals = [g for g in got if g is not None]
    assert min(vals) == lo and max(vals) == hi
    want = sorted(min(max(v, lo), hi) for v in rnd_values)
    assert sorted(vals) == want
    # grouped: each key clamps to ITS OWN bounds
    gout = winsorize(df, "x", 0.05, 0.95, key_cols=["k"])
    for k in ("a", "b"):
        kvals = [v for kk, v in rows if kk == k]
        klo, khi = py_disc(kvals, 0.05), py_disc(kvals, 0.95)
        gv = [r["x"] for r in gout.filter(F.col("k") == k).collect() if r["x"] is not None]
        assert sorted(gv) == sorted(min(max(v, klo), khi) for v in kvals)
    with pytest.raises(ValueError, match="lower < upper"):
        winsorize(df, "x", 0.9, 0.1)


def test_mad_outliers(spark):
    from d2d_spark.operators.quantiles import mad_outliers

    vals = [10.0] * 5 + [11.0, 12.0, 9.0, 8.0, 1000.0, -500.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r["x"]: r["is_outlier"] for r in mad_outliers(df, "x", k=3.0).collect()}
    # median 10, MAD = median(|x-10|) = 1 -> outliers beyond +-3
    assert got[1000.0] is True and got[-500.0] is True
    assert got[10.0] is False and got[12.0] is False and got[9.0] is False
    assert got[None] is None
    # grouped: each key judged by ITS OWN median/MAD
    rows = [("a", float(v)) for v in range(10)] + [("a", 1e6)] + [
        ("b", float(1000 + v)) for v in range(10)
    ]
    gdf = spark.createDataFrame(rows, "k string, x double")
    g = {(r["k"], r["x"]): r["is_outlier"] for r in
         mad_outliers(gdf, "x", key_cols=["k"], k=3.0).collect()}
    assert g[("a", 1e6)] is True
    assert all(not g[("b", 1000.0 + v)] for v in range(10))
    # degenerate MAD=0: only values differing from the median flag
    c = spark.createDataFrame([(5.0,)] * 6 + [(7.0,)], "x double")
    cg = {r["x"]: r["is_outlier"] for r in mad_outliers(c, "x").collect()}
    assert cg[5.0] is False and cg[7.0] is True
    import pytest as _pt

    with _pt.raises(ValueError, match="k must be"):
        mad_outliers(df, "x", k=0)


def test_discretize_equal_frequency_and_ties(spark):
    import pytest as pt

    from d2d_spark.operators.quantiles import discretize, quantiles_exact

    vals = list(range(1, 101))  # 1..100
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = {r["x"]: r["bucket"] for r in discretize(df, "x", 4).collect()}
    # percentile_disc bounds: 25, 50, 75 -> (..25]=1 (25,50]=2 etc.
    for v in vals:
        want = 1 + (v > 25) + (v > 50) + (v > 75)
        assert got[float(v)] == want, v
    # ties all land in one bucket (ntile would split them)
    tied = spark.createDataFrame([(1.0,)] * 50 + [(2.0,)] * 50, "x double")
    gt = {r["x"]: r["bucket"] for r in
          discretize(tied, "x", 4).collect()}
    assert gt == {1.0: 1, 2.0: 3}
    # NULL -> NULL bucket; reuse of a previous fit; validation
    withnull = spark.createDataFrame([(None,), (10.0,)], "x double")
    rn = {r["x"]: r["bucket"] for r in
          discretize(withnull, "x", 4, bounds=[2.0, 5.0, 8.0]).collect()}
    assert rn[10.0] == 4 and rn[None] is None
    with pt.raises(ValueError, match="k must"):
        discretize(df, "x", 1)
    with pt.raises(ValueError, match="k-1"):
        discretize(df, "x", 4, bounds=[1.0])
    with pt.raises(ValueError, match="ascending"):
        discretize(df, "x", 3, bounds=[5.0, 1.0])
    # empty input -> NULL buckets, not a crash
    empty = spark.createDataFrame([], "x double")
    assert discretize(empty, "x", 4).count() == 0
    # bounds equal the exact-quantile operator's own values
    probs = [0.25, 0.5, 0.75]
    q = {r["p"]: r["value"] for r in quantiles_exact(df, "x", probs).collect()}
    assert [q[p] for p in probs] == [25.0, 50.0, 75.0]


def test_mahalanobis_outliers(spark):
    """Squared Mahalanobis distances vs a numpy twin; a point inside
    BOTH marginals but off the correlation axis flags while a
    farther-in-euclidean on-axis point does not; NULL rows pass
    through unflagged; guards."""
    import numpy as np
    import pytest as pt

    from d2d_spark.operators.quantiles import mahalanobis_outliers

    # strongly correlated cloud y ~ x, plus one off-axis point
    pts = [(float(i % 10), float(i % 10) + (0.1 if i % 2 else -0.1)) for i in range(60)]
    off_axis = (4.0, 8.5)      # mid-range marginals, breaks the correlation
    on_axis = (14.0, 14.1)     # far in euclidean terms but ON the axis
    rows = pts + [off_axis, on_axis, (None, 1.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = mahalanobis_outliers(df, ["x", "y"], threshold=13.8)  # chi2(2) @ ~.999
    got = {(r["x"], r["y"]): (r["mahalanobis_sq"], r["is_outlier"]) for r in out.collect()}
    # numpy twin over the complete rows
    arr = np.array([r for r in rows if r[0] is not None], dtype=float)
    mu = arr.mean(axis=0)
    cov = np.cov(arr.T, ddof=1)
    inv = np.linalg.inv(cov + np.eye(2) * 1e-9 * np.trace(cov) / 2)
    for x, y in [off_axis, on_axis, pts[0]]:
        dv = np.array([x, y]) - mu
        want = float(dv @ inv @ dv)
        assert abs(got[(x, y)][0] - want) < 1e-6 * max(1.0, want), (x, y)
    assert got[off_axis][1] is True
    assert got[on_axis][1] is False or got[on_axis][0] < got[off_axis][0]
    assert got[(None, 1.0)] == (None, None)
    # determinism across partitionings (decimal moment sums)
    again = {
        (r["x"], r["y"]): r["mahalanobis_sq"]
        for r in mahalanobis_outliers(df.repartition(7), ["x", "y"], 13.8).collect()
    }
    assert again[off_axis] == got[off_axis][0]
    # guards
    with pt.raises(ValueError, match=">= 2 value columns"):
        mahalanobis_outliers(df, ["x"], 1.0)
    with pt.raises(ValueError, match="threshold"):
        mahalanobis_outliers(df, ["x", "y"], 0.0)
    tiny = spark.createDataFrame([(1.0, 2.0), (2.0, 3.0)], "x double, y double")
    with pt.raises(ValueError, match="covariance"):
        mahalanobis_outliers(tiny, ["x", "y"], 1.0)
    # exactly collinear columns: the ridge keeps the solve alive
    col = spark.createDataFrame(
        [(float(i), 2.0 * float(i)) for i in range(20)], "x double, y double"
    )
    r = mahalanobis_outliers(col, ["x", "y"], 1e9).collect()
    assert all(x["mahalanobis_sq"] is not None for x in r)


def test_weighted_quantiles_exact(spark):
    """Weighted inverse-CDF quantiles vs a Python twin; unit weights
    reduce to percentile_disc (== quantiles_exact); bucket-count
    invariance; refusals for NULL / non-positive weights."""
    import pytest as pt

    from d2d_spark.operators.quantiles import quantiles_exact, weighted_quantiles_exact

    rows = [(float(v), float(w)) for v, w in
            [(10, 1), (20, 5), (30, 1), (40, 10), (50, 3)]]
    df = spark.createDataFrame(rows, "v double, w double")

    def py_wq(pairs, p):
        total = sum(w for _, w in pairs)
        target = max(p * total, 1e-12)
        cum = 0.0
        for v, w in sorted(pairs):
            cum += w
            if cum >= target:
                return v
        return sorted(pairs)[-1][0]

    for probs in ([0.0, 0.25, 0.5, 0.9, 1.0],):
        got = {r["p"]: r["value"] for r in
               weighted_quantiles_exact(df, "v", "w", probs).collect()}
        for p in probs:
            assert got[p] == py_wq(rows, p), p
    # the w=10 value dominates: p=0.5 of mass 20 -> cum(40)=17 >= 10
    assert got[0.5] == 40.0 and got[0.0] == 10.0 and got[1.0] == 50.0
    # unit weights == unweighted percentile_disc
    uni = spark.createDataFrame([(float(i % 37),) for i in range(500)], "v double")
    uw = uni.withColumn("w", F.lit(1.0))
    a = {r["p"]: r["value"] for r in
         weighted_quantiles_exact(uw, "v", "w", [0.25, 0.5, 0.75]).collect()}
    b = {r["p"]: r["value"] for r in
         quantiles_exact(uni, "v", [0.25, 0.5, 0.75]).collect()}
    assert a == b
    # bucket-count invariance (the distributed prefix-sum is exact)
    c = {r["p"]: r["value"] for r in
         weighted_quantiles_exact(uw, "v", "w", [0.25, 0.5, 0.75],
                                  num_partitions=3).collect()}
    assert c == b
    with pt.raises(ValueError, match="non-positive"):
        weighted_quantiles_exact(
            spark.createDataFrame([(1.0, 0.0)], "v double, w double"), "v", "w", [0.5]
        )
    with pt.raises(ValueError, match="non-positive"):
        weighted_quantiles_exact(
            spark.createDataFrame([(1.0, None)], "v double, w double"), "v", "w", [0.5]
        )


def test_group_weighted_quantiles_exact(spark):
    """Per-key weighted quantiles: Python twin per key, agreement with
    the global variant on a single-key frame, per-key divergence on
    different weight profiles."""
    from d2d_spark.operators.quantiles import (
        group_weighted_quantiles_exact,
        weighted_quantiles_exact,
    )

    rows = (
        [("a", float(v), float(w)) for v, w in [(10, 1), (20, 5), (30, 1)]]
        + [("b", float(v), float(w)) for v, w in [(10, 5), (20, 1), (30, 1)]]
    )
    df = spark.createDataFrame(rows, "k string, v double, w double")
    got = {
        (r["k"], r["p"]): r["value"]
        for r in group_weighted_quantiles_exact(df, "k", "v", "w", [0.5, 1.0]).collect()
    }
    # a's mass centers on 20, b's on 10
    assert got[("a", 0.5)] == 20.0 and got[("b", 0.5)] == 10.0
    assert got[("a", 1.0)] == 30.0 and got[("b", 1.0)] == 30.0
    # single-key frame agrees with the global variant
    one = df.filter("k = 'a'")
    g = {r["p"]: r["value"]
         for r in weighted_quantiles_exact(one, "v", "w", [0.25, 0.5, 0.9]).collect()}
    pk = {r["p"]: r["value"]
          for r in group_weighted_quantiles_exact(one, "k", "v", "w", [0.25, 0.5, 0.9]).collect()}
    assert g == pk
    import pytest as pt

    with pt.raises(ValueError, match="non-positive"):
        group_weighted_quantiles_exact(
            spark.createDataFrame([("a", 1.0, -1.0)], "k string, v double, w double"),
            "k", "v", "w", [0.5],
        )


def test_stream_quantile_sink_equals_batch_exact(spark, tmp_path):
    """Stream-maintained (value, count) state must EXACTLY equal the
    batch collapse of everything seen at every prefix (count
    linearity), and stream_quantiles on it must equal quantiles_exact
    over the raw history — no sketch error. Checkpoint-lifetime
    refusals fire in both directions."""
    import os

    import pytest as pt
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from d2d_spark.operators.quantiles import quantiles_exact
    from d2d_spark.streaming.filestream import (
        file_stream,
        latest_quantile_state,
        stream_quantile_sink,
        stream_quantiles,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([T.StructField("v", T.DoubleType())])

    def drop(name, vals):
        spark.createDataFrame([(float(v),) for v in vals], schema).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def check_prefix():
        all_rows = spark.read.parquet(str(src) + "/*")
        want = {
            (r["__v"], r["__c"])
            for r in all_rows.filter(F.col("v").isNotNull())
            .groupBy(F.col("v").cast("double").alias("__v"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()
        }
        st = latest_quantile_state(spark, state)
        assert {(r["__v"], r["__c"]) for r in st.collect()} == want
        probs = [0.25, 0.5, 0.9, 1.0]
        got = {r["p"]: r["value"] for r in stream_quantiles(st, probs).collect()}
        exact = {
            r["p"]: r["value"]
            for r in quantiles_exact(all_rows, "v", probs).collect()
        }
        assert got == exact

    # prefix 1: skewed values with ties and a NULL (dropped)
    drop("d1", [10, 10, 10, 20, 30, 30, 99])
    spark.createDataFrame([(None,)], schema).write.mode("overwrite").parquet(
        str(src / "d1n")
    )
    stream_quantile_sink(file_stream(spark, str(src) + "/*", schema), "v", state, ckpt)
    check_prefix()

    # prefix 2: restart with new values shifting every percentile
    drop("d2", [5, 5, 40, 40, 40, 200])
    stream_quantile_sink(file_stream(spark, str(src) + "/*", schema), "v", state, ckpt)
    check_prefix()
    assert (
        len([n for n in os.listdir(state) if n.startswith("state_after_batch_")]) >= 2
    )

    # fresh checkpoint over surviving state is refused
    with pt.raises(ValueError, match="fresh"):
        stream_quantile_sink(
            file_stream(spark, str(src) + "/*", schema),
            "v", state, str(tmp_path / "ckpt2"),
        )
    # resuming checkpoint with vanished state is refused
    import shutil

    state2 = str(tmp_path / "state2")
    os.makedirs(state2)
    with pt.raises(ValueError, match="no quantile state"):
        stream_quantile_sink(
            file_stream(spark, str(src) + "/*", schema), "v", state2, ckpt
        )


def test_latest_state_missing_or_empty_dir_returns_none(spark, tmp_path):
    """r10 ADVICE: a sink that never ran is an answerable question —
    both latest_*_state readers return None for a missing OR empty
    state dir instead of raising FileNotFoundError."""
    from d2d_spark.streaming.filestream import (
        latest_cms_state,
        latest_quantile_state,
    )

    missing = str(tmp_path / "never_created")
    assert latest_quantile_state(spark, missing) is None
    assert latest_cms_state(spark, missing) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert latest_quantile_state(spark, str(empty)) is None
    assert latest_cms_state(spark, str(empty)) is None
