"""Write-semantics invariants: UPDATE evaluates against the original
row, DELETE keeps NULL-predicate rows, partitioned writes actually
prune, approx distinct stays near exact."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Row, functions as F

from d2d_spark.operators.writes import delete_rows, update_rows
from d2d_spark.session import read_table


def test_update_swap_is_simultaneous(spark):
    """The classic a,b = b,a swap: chained withColumn would yield
    b,b — SQL UPDATE must see original values in every SET."""
    df = spark.createDataFrame([Row(a=1, b=2)])
    out = update_rows(df, {"a": F.col("b"), "b": F.col("a")}, F.lit(True))
    r = out.collect()[0]
    assert (r.a, r.b) == (2, 1)


def test_update_predicate_sees_original(spark):
    df = spark.createDataFrame([Row(st="P", x=1), Row(st="F", x=1)])
    out = update_rows(df, {"st": F.lit("DONE"), "x": F.col("x") * 10}, F.col("st") == "P")
    got = {r.st: r.x for r in out.collect()}
    assert got == {"DONE": 10, "F": 1}


def test_delete_null_predicate_keeps_row(spark):
    df = spark.createDataFrame([Row(v=1), Row(v=None), Row(v=3)])
    out = delete_rows(df, F.col("v") > 2)
    assert {r.v for r in out.collect()} == {1, None}


def test_partitioned_write_prunes_files(spark, sf_dir):
    """The pruned scan must read strictly fewer files than the full
    scan — directory-level pruning, visible in the plan's partition
    filters."""
    d = tempfile.mkdtemp(prefix="d2d_prune_")
    try:
        orders = read_table(spark, sf_dir, "orders")
        orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(d)
        pruned = spark.read.parquet(d).filter(F.col("o_orderstatus") == "F")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(o_orderstatus" in plan.replace("#", "").replace(
            ")", ""
        ) or "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]
        n_status = orders.select("o_orderstatus").distinct().count()
        assert n_status > 1
        # pruned row count matches a plain filter
        assert pruned.count() == orders.filter("o_orderstatus = 'F'").count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_approx_count_distinct_close(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = o.select(F.approx_count_distinct("o_custkey")).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_sketch_quantiles_close_to_exact(spark, sf_dir):
    from d2d_spark.operators.agg import sketch_quantiles

    o = read_table(spark, sf_dir, "orders")
    got = sketch_quantiles(o, "o_totalprice", [0.5, 0.9]).collect()[0]
    exact = o.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
    ).collect()[0]
    # KLL is rank-accurate: compare by rank displacement, not value
    n = o.count()
    for sk_v, ex_v in ((got.q_0_5, exact.p50), (got.q_0_9, exact.p90)):
        rank_sk = o.filter(F.col("o_totalprice") <= sk_v).count() / n
        rank_ex = o.filter(F.col("o_totalprice") <= ex_v).count() / n
        assert abs(rank_sk - rank_ex) < 0.03


def test_sketch_distinct_counts_close(spark, sf_dir):
    from d2d_spark.operators.agg import sketch_distinct_counts

    o = read_table(spark, sf_dir, "orders")
    got = sketch_distinct_counts(o, ["o_custkey", "o_orderpriority"]).collect()[0]
    exact_cust = o.select("o_custkey").distinct().count()
    assert abs(got.n_o_custkey - exact_cust) / exact_cust < 0.05
    assert got.n_o_orderpriority == 5


def test_memory_connector_keyed_modes_preserve_rows(spark):
    """Regression (r2 verdict #1): a second keyed write must NOT wipe
    the table — INSERT IGNORE never deletes, upsert merges by key."""
    from d2d_spark.sources.memory import MemoryConnector

    mem = MemoryConnector({"t": [{"id": 1, "v": "old1"}, {"id": 2, "v": "old2"}]}, spark=spark)
    inc = spark.createDataFrame([Row(id=2, v="new2"), Row(id=3, v="new3")])

    mem2 = MemoryConnector({"t": list(mem.tables["t"])}, spark=spark)
    mem2.write(inc, "t", mode="ignore", pks=["id"])
    got = {r["id"]: r["v"] for r in mem2.tables["t"]}
    assert got == {1: "old1", 2: "old2", 3: "new3"}  # existing row 2 kept

    mem3 = MemoryConnector({"t": list(mem.tables["t"])}, spark=spark)
    mem3.write(inc, "t", mode="upsert", pks=["id"])
    got = {r["id"]: r["v"] for r in mem3.tables["t"]}
    assert got == {1: "old1", 2: "new2", 3: "new3"}  # incoming wins, 1 survives

    # keyed mode without pks must refuse, not silently overwrite
    with pytest.raises(ValueError):
        mem.write(inc, "t", mode="ignore")
    # create case still dedups within the incoming batch by key
    dup = spark.createDataFrame([Row(id=1, v="first"), Row(id=1, v="second")]).coalesce(1)
    mem5 = MemoryConnector({}, spark=spark)
    mem5.write(dup, "fresh", mode="ignore", pks=["id"])
    assert [r["v"] for r in mem5.tables["fresh"]] == ["first"]  # first wins
    mem6 = MemoryConnector({}, spark=spark)
    mem6.write(dup, "fresh", mode="upsert", pks=["id"])
    assert [r["v"] for r in mem6.tables["fresh"]] == ["second"]  # last wins
    # append still extends, overwrite still replaces
    mem4 = MemoryConnector({"t": [{"id": 1, "v": "a"}]}, spark=spark)
    mem4.write(inc, "t", mode="append")
    assert len(mem4.tables["t"]) == 3


def test_write_mode_swap_failure_no_data_loss(spark, monkeypatch, tmp_path):
    """Regression (r2 verdict #2): a failed staging swap must leave the
    original target readable — the old data is restored from backup."""
    import os as _os

    from d2d_spark.operators.writes import write_mode

    path = str(tmp_path / "tgt")
    base = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    write_mode(base, path, mode="overwrite", spark=spark)
    inc = spark.createDataFrame([Row(id=2, v="B"), Row(id=3, v="c")])

    real_replace = _os.replace

    def failing_replace(src, dst):
        if dst == path and "__stage_" in src:
            raise OSError("simulated swap crash")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", failing_replace)
    with pytest.raises(OSError, match="simulated swap crash"):
        write_mode(inc, path, mode="upsert", pks=["id"], spark=spark)
    monkeypatch.undo()
    # old target restored, fully readable
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b"}
    # and the happy path still merges correctly
    write_mode(inc, path, mode="upsert", pks=["id"], spark=spark)
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


@pytest.mark.parametrize("scheme", ["file:", "file://"])
def test_keyed_modes_keep_the_target_under_a_file_uri_root(spark, tmp_path, scheme):
    """A ``file:`` URI names the same local table as its plain path, so
    upsert and ignore merge into the existing target (and leave no stage
    or backup debris) instead of overwriting it with the batch."""
    import os as _os

    from d2d_spark.sources import ParquetConnector

    conn = ParquetConnector(scheme + str(tmp_path), spark)
    schema = "id long, v string"
    conn.write(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema), "t")
    conn.write(spark.createDataFrame([(2, "B")], schema), "t", mode="upsert", pks=["id"])
    assert sorted(conn.read("t").collect()) == [(1, "a"), (2, "B"), (3, "c")]
    conn.write(spark.createDataFrame([(9, "z"), (1, "x")], schema), "t", mode="ignore", pks=["id"])
    assert sorted(conn.read("t").collect()) == [(1, "a"), (2, "B"), (3, "c"), (9, "z")]
    assert _os.listdir(tmp_path) == ["t.parquet"]
    assert conn.get_indexes() == ["t"]
    conn.write(spark.createDataFrame([(4, "d")], schema), "t", mode="append", backup=True)
    assert len([n for n in _os.listdir(tmp_path) if n.endswith(".bak")]) == 1


def test_upsert_order_col_pins_last_wins(spark):
    """Regression (r1 ask #9 / r2 verdict #6): duplicate incoming keys
    resolve by order_col — the executemany last-wins semantics, made
    deterministic."""
    from d2d_spark.operators.writes import upsert_rows

    target = spark.createDataFrame([Row(id=1, v="old", seq=0)])
    inc = spark.createDataFrame(
        [Row(id=1, v="first", seq=1), Row(id=1, v="last", seq=9), Row(id=2, v="x", seq=5)]
    ).repartition(4)
    out = {r.id: r.v for r in upsert_rows(target, inc, ["id"], order_col="seq").collect()}
    assert out == {1: "last", 2: "x"}
    # without order_col: still exactly one row per key
    n = upsert_rows(target, inc, ["id"]).groupBy("id").count().collect()
    assert all(r["count"] == 1 for r in n)


_PROBE_TARGET = [(1, "t1", 0), (2, "t2", 0), (None, "tn", 0), (4, "t4", 0), (4, "t4b", 0)]
_PROBE_BATCH = [
    (1, "a", 1), (1, "b", 2), (3, "c", 1), (3, "d", 3), (None, "n1", 1), (None, "n2", 2), (5, "e", 1),
]


@pytest.mark.parametrize("order_col", [None, "seq"])
def test_keyed_probes_with_duplicate_and_null_keys(spark, order_col):
    """The anti-join probes take raw keys: duplicate keys in the batch
    or the target change nothing, and a NULL key matches nothing. The
    batch's own duplicates still collapse to one row per key, the
    ``order_col`` winner where one is given."""
    from d2d_spark.operators.writes import filter_new_rows, upsert_rows

    schema = "id long, v string, seq int"
    target = spark.createDataFrame(_PROBE_TARGET, schema)
    batch = spark.createDataFrame(_PROBE_BATCH, schema).repartition(3)

    def pairs(df):
        return sorted(((r.id, r.v) for r in df.collect()), key=repr)

    up = pairs(upsert_rows(target, batch, ["id"], order_col))
    new = pairs(filter_new_rows(batch, target, ["id"], order_col))
    kept = [(2, "t2"), (None, "tn"), (4, "t4"), (4, "t4b")]
    if order_col:
        assert up == sorted(kept + [(1, "b"), (3, "d"), (5, "e"), (None, "n2")], key=repr)
        assert new == sorted([(3, "c"), (5, "e"), (None, "n1")], key=repr)
        return
    # without order_col any one row per batch key may win
    choices = {}
    for k, v, _ in _PROBE_BATCH:
        choices.setdefault(k, set()).add(v)
    won = [p for p in up if p not in kept]
    assert [p for p in up if p in kept] == sorted(kept, key=repr)
    assert sorted(map(repr, (k for k, _ in won))) == sorted(map(repr, [1, 3, 5, None]))
    assert sorted(map(repr, (k for k, _ in new))) == sorted(map(repr, [3, 5, None]))
    assert all(v in choices[k] for k, v in won + new)


def test_unsampled_key_message(spark):
    """The subset test on each row changes nothing in the error, in
    either bridge."""
    import re

    from d2d_spark.migrate import (
        _refuse_unsampled_keys,
        apply_format_data,
        format_data_with_quarantine,
    )

    cols = frozenset({"a", "b"})
    _refuse_unsampled_keys([{"a": 1}, {"a": 1, "b": 2}, {}], cols, 5)
    with pytest.raises(ValueError) as e:
        _refuse_unsampled_keys([{"a": 1}, {"z": 1, "b": 2}, {"y": 0}], cols, 5)
    assert str(e.value) == (
        "format_data emitted keys absent from the sampled schema: ['y', 'z']; "
        "emit them in the first 5 rows or raise the sample size"
    )
    df = spark.range(8).coalesce(1)

    def fn(d):
        return {"id": d["id"], **({"late": 1} if d["id"] >= 4 else {})}

    message = re.escape(
        "format_data emitted keys absent from the sampled schema: ['late']; "
        "emit them in the first 2 rows or raise the sample size"
    )
    with pytest.raises(Exception, match=message):
        apply_format_data(df, fn, sample=2).collect()
    with pytest.raises(Exception, match=message):
        format_data_with_quarantine(df, fn, sample=2)[0].collect()


def test_format_data_unseen_key_raises(spark):
    """Regression (r1 ask #8 / r2 verdict #6): a transform emitting a
    key the sampled schema never saw must raise, not silently drop the
    column distributed-side."""
    from d2d_spark.migrate import apply_format_data

    df = spark.createDataFrame([Row(id=i) for i in range(8)]).coalesce(1)

    def fn(d):
        out = dict(d)
        if d["id"] >= 4:  # appears only beyond the sample
            out["surprise"] = 1
        return out

    shaped = apply_format_data(df, fn, sample=2)
    with pytest.raises(Exception, match="absent from the sampled schema"):
        shaped.collect()
    # a transform whose sample covers all keys still works
    ok = apply_format_data(df, lambda d: {**d, "k": d["id"] * 2}, sample=2)
    assert {r.k for r in ok.collect()} == {0, 2, 4, 6, 8, 10, 12, 14}


def test_uncovered_scalar_helpers(spark):
    """clamp_datetime / cast_with_default / json_encode / bytes_b64 /
    secure_filename semantics."""
    from datetime import datetime

    from d2d_spark.functions.scalars import (
        bytes_b64,
        cast_with_default,
        clamp_datetime,
        json_encode,
        secure_filename,
    )

    df = spark.createDataFrame(
        [
            (datetime(1950, 1, 1), "123", '{"a": 1}', b"hi", "bad/na me:*?.csv"),
            (datetime(2200, 1, 1), "oops", None, b"", "CON"),
            (datetime(2000, 6, 1), "4.5", None, None, "x" * 300),
        ],
        "ts timestamp, num string, js string, bin binary, fname string",
    )
    out = df.select(
        clamp_datetime(F.col("ts")).alias("ts"),
        cast_with_default(F.col("num"), "double", -1.0).alias("num"),
        json_encode(F.struct(F.col("num"))).alias("js"),
        bytes_b64(F.col("bin")).alias("b64"),
        secure_filename(F.col("fname")).alias("fn"),
    ).collect()
    assert out[0].ts == datetime(1971, 1, 1)  # clamped up
    assert out[1].ts == datetime(2106, 1, 1)  # clamped down
    assert out[2].ts == datetime(2000, 6, 1)  # untouched
    assert [r.num for r in out] == [123.0, -1.0, 4.5]
    assert out[0].js == '{"num":"123"}'
    import base64

    assert base64.b64decode(out[0].b64) == b"hi"
    assert out[0].fn == "badna_me.csv"  # forbidden chars gone, space -> _
    assert out[1].fn == "_CON"  # device-name guard
    assert len(out[2].fn) == 250  # truncation


def test_evolve_and_append(spark, tmp_path):
    """Schema-evolution append: new columns append (readable under
    mergeSchema with NULL backfill), missing columns fill NULL,
    lossless type drift widens the batch to the target's type, and
    lossy / target-narrower drift refuses loudly."""
    import pytest as pt

    from d2d_spark.operators.writes import evolve_and_append

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 20.0)], "id long, name string, amt double"
    )
    rep = evolve_and_append(base, path)
    assert rep["n_rows"] == 2 and rep["added"] == ["id", "name", "amt"]
    # batch drifts: drops name, adds tag, sends amt as INT (widens to double)
    drift = spark.createDataFrame([(3, 30, "new")], "id long, amt int, tag string")
    rep2 = evolve_and_append(drift, path)
    assert rep2["added"] == ["tag"] and rep2["filled"] == ["name"]
    assert rep2["widened"] == [("amt", "int", "double")]
    got = spark.read.option("mergeSchema", True).parquet(path)
    rows = {r["id"]: (r["name"], r["amt"], r["tag"]) for r in got.collect()}
    assert rows[1] == ("x", 10.0, None)
    assert rows[3] == (None, 30.0, "new")
    # lossy drift refused: amt arrives as string
    bad = spark.createDataFrame([(4, "31.5")], "id long, amt string")
    with pt.raises(ValueError, match="not lossless"):
        evolve_and_append(bad, path)
    # batch WIDER than target refused (immutable existing files)
    wider = spark.createDataFrame([(5, "z", 1.5, 9)], "id long, name string, amt double, amt2 long")
    evolve_and_append(wider, path)  # amt2 is NEW, fine
    from decimal import Decimal

    dec = spark.createDataFrame([(Decimal(6),)], "id decimal(38,0)")
    with pt.raises(ValueError, match="not lossless"):
        evolve_and_append(dec, path)
    # opt-outs
    with pt.raises(ValueError, match="allow_new_columns"):
        evolve_and_append(
            spark.createDataFrame([(7, 1.0, "q")], "id long, amt double, brand string"),
            path, allow_new_columns=False,
        )
    with pt.raises(ValueError, match="allow_widening"):
        evolve_and_append(
            spark.createDataFrame([(8, 5)], "id long, amt int"),
            path, allow_widening=False,
        )


def test_overwrite_partitions_idempotent_backfill(spark, tmp_path):
    """Dynamic partition overwrite: only touched partitions replace,
    re-running the same batch converges, untouched partitions keep
    their rows, conf restores, NULL partition values refuse."""
    import pytest as pt

    from d2d_spark.operators.writes import overwrite_partitions

    path = str(tmp_path / "parted")
    base = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"),
         ("2024-01-02", 3, "c"), ("2024-01-03", 4, "d")],
        "day string, id long, v string",
    )
    rep = overwrite_partitions(base, path, ["day"])
    assert rep["n_rows"] == 4 and len(rep["partitions"]) == 3
    # backfill day 2 with corrected rows; days 1 and 3 untouched
    fix = spark.createDataFrame(
        [("2024-01-02", 30, "C"), ("2024-01-02", 31, "CC")], "day string, id long, v string"
    )
    rep2 = overwrite_partitions(fix, path, ["day"])
    assert rep2["partitions"] == [("2024-01-02",)]
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    assert got == {1, 2, 30, 31, 4}
    # idempotent: rerun converges to the same table
    overwrite_partitions(fix, path, ["day"])
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {1, 2, 30, 31, 4}
    # conf restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() != "dynamic"
    with pt.raises(ValueError, match="NULL partition"):
        overwrite_partitions(
            spark.createDataFrame([(None, 9, "x")], "day string, id long, v string"),
            path, ["day"],
        )
    with pt.raises(ValueError, match="lacks partition"):
        overwrite_partitions(base, path, ["nope"])
