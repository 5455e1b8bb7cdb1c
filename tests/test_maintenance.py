"""Small-file compaction and range-clustered writes."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from d2d_spark.operators.maintenance import (
    cluster_ranges,
    compact_table,
    data_file_stats,
    write_clustered,
)
from d2d_spark.session import read_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="d2d_maint_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


def test_compaction_reduces_file_count_preserves_rows(spark, sf_dir, tmpdir):
    orders = read_table(spark, sf_dir, "orders")
    path = str(tmpdir / "orders")
    orders.repartition(40).write.parquet(path)  # simulate small-file buildup
    before, _ = data_file_stats(spark, path)
    assert before == 40
    rows_before = sorted(r.o_orderkey for r in spark.read.parquet(path).collect())

    stats = compact_table(spark, path, target_file_mb=128)
    assert stats["compacted"] is True
    assert stats["files_before"] == 40 and stats["files_after"] == 1
    rows_after = sorted(r.o_orderkey for r in spark.read.parquet(path).collect())
    assert rows_after == rows_before

    # second pass is a no-op
    again = compact_table(spark, path, target_file_mb=128)
    assert again["compacted"] is False and again["files_after"] == 1


def test_compaction_respects_target_size(spark, sf_dir, tmpdir):
    orders = read_table(spark, sf_dir, "orders")
    path = str(tmpdir / "orders")
    orders.repartition(40).write.parquet(path)
    _, total = data_file_stats(spark, path)
    # pick a (fractional-MB) target that forces ~3 output files
    stats = compact_table(spark, path, target_file_mb=total / 3 / (1 << 20))
    assert stats["compacted"] is True
    assert 1 < stats["files_after"] < 40


def test_clustered_write_gives_disjoint_ranges(spark, sf_dir, tmpdir):
    orders = read_table(spark, sf_dir, "orders")
    path = str(tmpdir / "clustered")
    write_clustered(orders, path, ["o_orderkey"], n_files=4)
    ranges = [r for r in cluster_ranges(spark, path, "o_orderkey") if r[0] is not None]
    assert len(ranges) == 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # near-disjoint: file ranges do not interleave
    # and rows survive intact
    assert spark.read.parquet(path).count() == orders.count()
    # contrast: an unclustered multi-file write overlaps
    messy = str(tmpdir / "messy")
    orders.orderBy(F.col("o_totalprice")).repartition(4).write.parquet(messy)
    messy_ranges = [r for r in cluster_ranges(spark, messy, "o_orderkey") if r[0] is not None]
    overlaps = sum(
        1
        for i, (lo1, hi1) in enumerate(messy_ranges)
        for lo2, hi2 in messy_ranges[i + 1 :]
        if not (hi1 <= lo2 or hi2 <= lo1)
    )
    assert overlaps > 0


def test_write_clustered_validates(spark, sf_dir, tmpdir):
    with pytest.raises(ValueError, match="cluster_by"):
        write_clustered(read_table(spark, sf_dir, "orders"), str(tmpdir / "x"), [])


def test_compaction_refuses_hive_partitioned_layout(spark, sf_dir, tmpdir):
    """Review finding: a flat rewrite would fold col=value directories
    into data columns and destroy partition pruning."""
    orders = read_table(spark, sf_dir, "orders")
    path = str(tmpdir / "part")
    orders.write.partitionBy("o_orderstatus").parquet(path)
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_table(spark, path)
    # ...but compacting ONE partition directory works
    sub = next(
        str(p) for p in (tmpdir / "part").iterdir() if p.is_dir() and "=" in p.name
    )
    stats = compact_table(spark, sub, target_file_mb=128, min_files=1)
    assert spark.read.parquet(sub).count() > 0
    assert stats["files_after"] >= 1


def test_zorder_write_prunes_both_dimensions(spark, tmpdir):
    """Z-order must bound EVERY listed dimension per file: a 2-D
    uniform grid written into 16 files should leave each file
    covering a small rectangle, where a 1-D range-cluster on x leaves
    y unbounded (full-range) in every file."""
    from d2d_spark.operators.maintenance import write_zordered

    rows = [(i % 256, (i * 73) % 256, i) for i in range(256 * 64)]
    df = spark.createDataFrame(rows, "x long, y long, payload long")
    zpath = str(tmpdir / "ztab")
    write_zordered(df, zpath, ["x", "y"], n_files=16)
    # rows survive the rewrite
    back = spark.read.parquet(zpath)
    assert back.count() == 256 * 64
    assert back.columns == ["x", "y", "payload"]

    def spans(path, col):
        return [
            (hi - lo) / 255.0
            for lo, hi in cluster_ranges(spark, path, col)
            if lo is not None
        ]

    zx, zy = spans(zpath, "x"), spans(zpath, "y")
    assert len(zx) >= 8
    # each file covers a bounded rectangle in BOTH dims (16 files on
    # an 8x8+ grid of z-cells: expect ~0.25-0.5 span; allow slack)
    assert sum(zx) / len(zx) <= 0.6, zx
    assert sum(zy) / len(zy) <= 0.6, zy

    cpath = str(tmpdir / "ctab")
    write_clustered(df, cpath, ["x"], n_files=16)
    cy = spans(cpath, "y")
    # the 1-D cluster leaves y near-unbounded per file; z-order must
    # beat it decisively on the dimension the 1-D sort can't see
    assert sum(cy) / len(cy) >= 0.8, cy
    assert sum(zy) / len(zy) <= 0.6 * (sum(cy) / len(cy)), (zy, cy)


def test_zorder_handles_nulls_and_skew(spark, tmpdir):
    from d2d_spark.operators.maintenance import write_zordered

    rows = [(None if i % 100 == 0 else i % 7, float(i), i) for i in range(2000)]
    df = spark.createDataFrame(rows, "x long, y double, payload long")
    path = str(tmpdir / "zskew")
    write_zordered(df, path, ["x", "y"], n_files=4, bits=4)
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert back.filter("x IS NULL").count() == 20


def test_zorder_validates(spark, tmpdir):
    import pytest as pt

    from d2d_spark.operators.maintenance import write_zordered

    df = spark.range(10).selectExpr("id AS x", "id AS y")
    with pt.raises(ValueError, match=">= 2 columns"):
        write_zordered(df, str(tmpdir / "z1"), ["x"])
    with pt.raises(ValueError, match="fit a long"):
        write_zordered(df, str(tmpdir / "z2"), ["x", "y"], bits=40)


def test_scan_pruning_report_quantifies_zorder_benefit(spark, tmpdir):
    """The report must show: a z-ordered table skips most files for a
    narrow predicate on EITHER dimension; a round-robin write skips
    ~nothing; and the 'read' files really do cover the predicate."""
    import pytest as pt

    from d2d_spark.operators.maintenance import scan_pruning_report, write_zordered

    rows = [(i % 256, (i * 73) % 256, i) for i in range(256 * 64)]
    df = spark.createDataFrame(rows, "x long, y long, payload long")
    z = str(tmpdir / "zrep")
    write_zordered(df, z, ["x", "y"], n_files=16)
    flat = str(tmpdir / "flatrep")
    df.repartition(16).write.parquet(flat)

    for col in ("x", "y"):
        zr = scan_pruning_report(spark, z, col, lo=10, hi=20)
        fr = scan_pruning_report(spark, flat, col, lo=10, hi=20)
        assert zr["files"] == 16 and fr["files"] == 16
        assert zr["skipped"] >= 8, (col, zr)  # narrow range -> few z-cells
        assert fr["skipped"] == 0, (col, fr)  # random placement reads all
    # correctness of the skip decision: reading only 'read' files via
    # the normal scan returns every matching row
    n = spark.read.parquet(z).filter("x BETWEEN 10 AND 20").count()
    assert n == df.filter("x BETWEEN 10 AND 20").count()
    with pt.raises(ValueError, match="lo/hi"):
        scan_pruning_report(spark, z, "x")


def test_zorder_all_null_dimension_contributes_constant_code(spark, tmpdir):
    from d2d_spark.operators.maintenance import write_zordered

    df = spark.createDataFrame(
        [(None, i, i) for i in range(500)], "x long, y long, payload long"
    )
    path = str(tmpdir / "znull")
    write_zordered(df, path, ["x", "y"], n_files=2, bits=4)
    assert spark.read.parquet(path).count() == 500


def test_compact_partitioned_table_per_partition(spark, sf_dir, tmpdir):
    """Partitioned compaction: each col=value directory compacts
    independently, rows and the partition layout survive, and the
    second pass is a no-op."""
    from d2d_spark.operators.maintenance import compact_partitioned_table

    orders = read_table(spark, sf_dir, "orders")
    path = str(tmpdir / "part_compact")
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(path)
    before_rows = spark.read.parquet(path).count()
    stats = compact_partitioned_table(spark, path, target_file_mb=128)
    assert stats["partitions"] >= 2
    assert stats["compacted"] >= 1
    assert stats["files_after"] < stats["files_before"]
    back = spark.read.parquet(path)
    assert back.count() == before_rows
    # layout intact: the partition column still prunes
    assert back.filter("o_orderstatus = 'F'").count() > 0
    again = compact_partitioned_table(spark, path, target_file_mb=128)
    assert again["compacted"] == 0

    # a flat table is refused (that is compact_table's job)
    flat = str(tmpdir / "flat_for_part")
    orders.limit(100).write.parquet(flat)
    with pytest.raises(ValueError, match="no col=value"):
        compact_partitioned_table(spark, flat)


def test_compaction_staging_is_invisible_to_partition_readers(spark, sf_dir, tmpdir):
    """r5 review: staging/backup siblings of a partition directory
    must be HIDDEN — a visible name containing '=' would be picked up
    as a phantom partition by readers and by the partition walker, and
    crashed-run debris must be swept by the next compaction."""
    import os

    from d2d_spark.operators.maintenance import compact_partitioned_table

    orders = read_table(spark, sf_dir, "orders")
    path = str(tmpdir / "part_phantom")
    orders.repartition(6).write.partitionBy("o_orderstatus").parquet(path)
    true_rows = spark.read.parquet(path).count()
    # simulate a crashed compaction: hidden staging debris inside root
    debris = os.path.join(path, ".o_orderstatus=F.__compact_deadbeef")
    orders.filter("o_orderstatus = 'F'").limit(50).write.parquet(debris)
    # readers see no phantom partition and no duplicate rows
    assert spark.read.parquet(path).count() == true_rows
    statuses = {
        r.o_orderstatus
        for r in spark.read.parquet(path).select("o_orderstatus").distinct().collect()
    }
    assert all("__compact" not in s for s in statuses)
    # the next compaction sweeps the debris and ignores it as a leaf
    stats = compact_partitioned_table(spark, path, target_file_mb=128)
    assert not os.path.exists(debris)
    assert stats["partitions"] == len(statuses)
    assert spark.read.parquet(path).count() == true_rows


def test_read_pruned_equals_full_scan(spark, tmp_path):
    """The stats-pruned reader returns EXACTLY the full-scan filter's
    rows while provably skipping files on a clustered table; missing
    bounds, statsless fallbacks and the empty-survivor path hold."""
    import pytest as pt

    from d2d_spark.operators.maintenance import (
        read_pruned,
        scan_pruning_report,
        write_clustered,
    )

    path = str(tmp_path / "clustered")
    df = spark.range(0, 10_000).selectExpr(
        "id", "CAST(id % 997 AS DOUBLE) AS v", "CAST(id AS STRING) AS tag"
    )
    write_clustered(df, path, ["id"], n_files=8)
    full = spark.read.parquet(path).filter("id >= 2000 AND id <= 2500")
    pruned = read_pruned(spark, path, "id", lo=2000, hi=2500)
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    )
    rep = scan_pruning_report(spark, path, "id", lo=2000, hi=2500)
    assert rep["skipped"] > 0  # clustering made the prune bite
    # one-sided bounds
    lo_only = read_pruned(spark, path, "id", lo=9000)
    assert lo_only.count() == 1000
    # empty survivor set: schema preserved, zero rows
    none = read_pruned(spark, path, "id", lo=1_000_000)
    assert none.count() == 0 and set(none.columns) == {"id", "v", "tag"}
    with pt.raises(ValueError, match="at least one"):
        read_pruned(spark, path, "id")
    import os

    os.makedirs(str(tmp_path / "empty_dir"))
    with pt.raises(ValueError, match="no parquet data files"):
        read_pruned(spark, str(tmp_path / "empty_dir"), "id", lo=1)


@pytest.mark.parametrize("scheme", ["file:", "file://"])
def test_footer_sweeps_accept_a_file_uri(spark, tmp_path, scheme):
    """``cluster_ranges`` and ``read_pruned`` resolve a ``file:`` URI to
    the same local table as its plain path."""
    from d2d_spark.operators.maintenance import cluster_ranges, read_pruned, write_clustered

    path = str(tmp_path / "clustered")
    write_clustered(spark.range(0, 1000).selectExpr("id"), path, ["id"], n_files=4)
    assert cluster_ranges(spark, scheme + path, "id") == cluster_ranges(spark, path, "id")
    got = sorted(r.id for r in read_pruned(spark, scheme + path, "id", lo=100, hi=120).collect())
    assert got == list(range(100, 121))
