"""Warehouse maintenance: small-file compaction and range-clustered
rewrites.

At 100 TB the two chronic table ailments are (1) small files —
streaming/incremental appends leave thousands of KB-sized parquet
files whose open/footer costs dominate scans — and (2) random row
placement, which defeats parquet min/max row-group skipping so every
predicate reads every file.

Both fixes are rewrites, so both go through the same crash-safe
staging swap the keyed write modes use (`_swap_paths`): the rewritten
table materializes beside the target and replaces it with
backup-and-rename; a crash never leaves a half-rewritten table.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d2d_spark.operators.writes import _swap_paths
from d2d_spark.sources.base import local_path, require_spark


def data_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(file_count, total_bytes) of a table directory's data files,
    via the Hadoop FileSystem (works on any scheme). Metadata-only."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    n = total = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        n += 1
        total += st.getLen()
    return n, total


def _is_hive_partitioned(spark: SparkSession, path: str) -> bool:
    """True if the directory has `col=value` subdirectories (hive
    partition layout)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name and not name.startswith((".", "_")):
            return True
    return False


def compact_table(
    spark: SparkSession | None,
    path: str,
    target_file_mb: float = 128,
    fmt: str = "parquet",
    min_files: int = 2,
) -> dict:
    """Rewrite a table directory into ~``target_file_mb``-sized files.

    Output file count = ceil(total_bytes / target), floor 1 — a
    coalesce-style repartition, one shuffle-light job (round-robin
    repartition) regardless of input file count. No-op (returns the
    stats unchanged) when the table already has < ``min_files`` files
    or is already at/under the target count, so a cron'd compaction
    pass is cheap when there is nothing to do.

    Returns ``{files_before, bytes, files_after, compacted}``.
    """
    spark = require_spark(spark)
    if _is_hive_partitioned(spark, path):
        # a flat rewrite would fold `col=value` directories into data
        # columns and destroy the partition layout (and its pruning);
        # compact each partition directory individually instead
        raise ValueError(
            f"compact_table: {path} is hive-partitioned; run compact_table "
            "on each partition directory (col=value/) instead"
        )
    n_files, total = data_file_stats(spark, path)
    target_bytes = max(1, int(target_file_mb * (1 << 20)))
    want = max(1, -(-total // target_bytes)) if total else 1
    if n_files < min_files or n_files <= want:
        return {"files_before": n_files, "bytes": total, "files_after": n_files, "compacted": False}
    df = spark.read.format(fmt).load(path)
    # hidden staging basename: when compacting a partition directory
    # inside a table root, a visible sibling containing '=' would be
    # discovered as a phantom partition by concurrent readers; hidden
    # names are skipped by Spark's file index (and by the partition
    # walkers here). Stale debris from a crashed run is dropped first.
    base_dir, base_name = os.path.split(path.rstrip("/"))
    import glob as _glob
    import shutil as _shutil

    for stale in _glob.glob(
        os.path.join(_glob.escape(base_dir or "."), "." + _glob.escape(base_name) + ".__compact_*")
    ) + _glob.glob(_glob.escape(path) + ".__compact_*"):
        _shutil.rmtree(stale, ignore_errors=True)
    staging = os.path.join(base_dir or ".", f".{base_name}.__compact_{uuid.uuid4().hex[:8]}")
    df.repartition(int(want)).write.format(fmt).mode("overwrite").save(staging)
    _swap_paths(spark, staging, path)
    after, _ = data_file_stats(spark, path)
    return {"files_before": n_files, "bytes": total, "files_after": after, "compacted": True}


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` range-clustered on ``cluster_by``: rows are
    range-partitioned and sorted within files on the cluster keys, so
    every output file covers a narrow, near-disjoint key range and
    parquet min/max statistics actually prune — a point/range
    predicate on the cluster key reads O(matching files), not the
    table. The poor-man's Z-order for the single-key-prefix case,
    with zero table-format dependencies.

    New tables only (overwrite): clustering is a physical property of
    the whole table, so incremental appends belong in a follow-up
    ``compact_table``-style re-cluster pass.
    """
    if not cluster_by:
        raise ValueError("cluster_by needs at least one column")
    cols = [F.col(c) for c in cluster_by]
    part = df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
    part.sortWithinPartitions(*cols).write.format(fmt).mode("overwrite").save(path)


def compact_partitioned_table(
    spark: SparkSession | None,
    path: str,
    target_file_mb: float = 128,
    fmt: str = "parquet",
    min_files: int = 2,
) -> dict:
    """Per-partition compaction for a hive-layout table (the case
    ``compact_table`` refuses, since a flat rewrite would fold the
    `col=value` directories into data columns): every partition
    directory compacts independently through the same crash-safe
    staging swap, so a failure mid-way leaves whole partitions either
    compacted or untouched, never half-rewritten. The driver loop is
    bounded by partition-directory count (warehouse metadata scale,
    not data scale); each partition's rewrite is a distributed job.

    Returns ``{partitions, compacted, files_before, files_after}``
    summed over all leaf partition directories."""
    spark = require_spark(spark)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)

    def _leaf_partition_dirs(p):
        subs = [
            st.getPath()
            for st in fs.listStatus(p)
            if st.isDirectory()
            and "=" in st.getPath().getName()
            and not st.getPath().getName().startswith((".", "_"))
        ]
        if not subs:
            return [p]
        out = []
        for sdir in subs:
            out.extend(_leaf_partition_dirs(sdir))
        return out

    leaves = _leaf_partition_dirs(root)
    if len(leaves) == 1 and leaves[0] == root:
        raise ValueError(
            f"compact_partitioned_table: {path} has no col=value partition "
            "directories — use compact_table"
        )
    totals = {"partitions": 0, "compacted": 0, "files_before": 0, "files_after": 0}
    for leaf in leaves:
        uri = leaf.toUri()
        # local paths come back as file:/ URIs — hand compact_table the
        # plain path form its local staging swap expects
        leaf_path = (
            uri.getPath() if uri.getScheme() in (None, "file") else leaf.toString()
        )
        stats = compact_table(
            spark, leaf_path, target_file_mb=target_file_mb, fmt=fmt,
            min_files=min_files,
        )
        totals["partitions"] += 1
        totals["compacted"] += int(stats["compacted"])
        totals["files_before"] += stats["files_before"]
        totals["files_after"] += stats["files_after"]
    return totals


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int | None = None,
    fmt: str = "parquet",
    bits: int = 8,
    relative_error: float = 0.001,
) -> None:
    """Write ``df`` clustered on a Z-order (Morton) curve over two or
    more numeric columns, so parquet min/max statistics prune on EVERY
    listed dimension — where ``write_clustered`` sharpens only a key
    prefix, a Z-ordered file covers a small hyper-rectangle, and a
    predicate on any single dimension (or any combination) skips most
    files.

    Shape: each dimension is bucketed into ``2**bits`` quantile
    buckets (approxQuantile boundaries — rank-based, so zipfian or
    lumpy value distributions still fill the curve evenly; the
    assignment itself is a JVM ml.Bucketizer, no Python in the row
    path), the bucket codes bit-interleave into one long, and the
    write is a range partition + within-file sort on that key — the
    same two-job cost as ``write_clustered``, plus one bounded
    approxQuantile pass per dimension over the pruned column.
    NULL/NaN values land in the top bucket (sort last, never error).

    New tables only (overwrite), same as ``write_clustered``; use
    ``cluster_ranges`` on each dimension to audit the result.
    """
    if len(zorder_by) < 2:
        raise ValueError(
            "write_zordered needs >= 2 columns (one-dimensional "
            "clustering is write_clustered's job)"
        )
    k = len(zorder_by)
    if bits < 1 or bits * k > 63:
        raise ValueError(f"bits*len(zorder_by) must fit a long, got {bits}*{k}")
    from pyspark.ml.feature import Bucketizer

    nb = 1 << bits
    probs = [j / nb for j in range(1, nb)]
    # ONE quantile job covers every dimension (approxQuantile takes a
    # column list and ignores nulls) — k separate full scans would
    # multiply the startup cost of large-table writes for nothing
    qcols = [f"__q{i}" for i in range(k)]
    from d2d_spark.functions.scalars import as_double

    def _dim(c: str) -> F.Column:
        # temporal z-order dimensions bin on epoch seconds; as_double
        # handles Spark 4's TIMESTAMP_NTZ/DATE -> double cast refusal
        return as_double(F.col(c), df.schema[c].dataType.simpleString())

    all_qs = df.select(
        *[_dim(c).alias(q) for c, q in zip(zorder_by, qcols)]
    ).approxQuantile(qcols, probs, relative_error)
    work = df
    codes = []
    for i, c in enumerate(zorder_by):
        qs = all_qs[i]
        # strictly-increasing splits: heavy repeated values collapse
        # duplicate boundaries (fewer, fuller buckets — still <= 2**bits)
        splits = [float("-inf"), *sorted(set(qs)), float("inf")]
        work = work.withColumn(f"__zin{i}", _dim(c))
        if len(splits) < 3:
            # all-NULL column: no boundaries to bucket on — the
            # dimension contributes a constant code instead of
            # crashing Bucketizer (needs >= 2 buckets)
            work = work.withColumn(f"__zb{i}", F.lit(0.0))
        else:
            work = (
                Bucketizer(
                    splits=splits,
                    inputCol=f"__zin{i}",
                    outputCol=f"__zb{i}",
                    handleInvalid="keep",  # NULL/NaN -> extra top bucket
                ).transform(work)
            )
        codes.append(
            F.least(F.col(f"__zb{i}").cast("long"), F.lit(nb - 1))
        )
    # Morton interleave: bit b of dimension j lands at position b*k + j.
    # Disjoint positions, so summing the shifted bits IS the bitwise or.
    z = None
    for bit in range(bits):
        for j, code in enumerate(codes):
            term = F.shiftleft(F.shiftright(code, bit).bitwiseAND(F.lit(1)), bit * k + j)
            z = term if z is None else z + term
    out = work.withColumn("__z", z)
    part = (
        out.repartitionByRange(n_files, F.col("__z"))
        if n_files
        else out.repartitionByRange(F.col("__z"))
    )
    part.sortWithinPartitions("__z").select(df.columns).write.format(fmt).mode(
        "overwrite"
    ).save(path)


def scan_pruning_report(
    spark: SparkSession, path: str, column: str, lo=None, hi=None
) -> dict:
    """How many of a table's files a range predicate ``lo <= column
    <= hi`` (either bound optional) could skip on parquet footer
    min/max statistics alone — the number clustered/z-ordered writes
    exist to drive up, measurable without reading a data page. A file
    with no statistics for the column must be read. Returns
    ``{files, read, skipped, skip_frac}``."""
    if lo is None and hi is None:
        raise ValueError("scan_pruning_report needs at least one of lo/hi")
    ranges = cluster_ranges(spark, path, column)
    read = 0
    for fmin, fmax in ranges:
        if fmin is None or fmax is None:
            read += 1  # no stats -> cannot skip
            continue
        if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
            continue  # provably disjoint from the predicate
        read += 1
    total = len(ranges)
    return {
        "files": total,
        "read": read,
        "skipped": total - read,
        "skip_frac": round((total - read) / total, 4) if total else 0.0,
    }


def cluster_ranges(spark: SparkSession, path: str, column: str) -> list[tuple]:
    """Per-file (min, max) of ``column`` from parquet footer metadata —
    the statistics a clustered write exists to sharpen. Diagnostic
    helper for tests/audits; footer-only, no data read."""
    import pyarrow.parquet as pq

    out = []
    root = local_path(path) or path  # plain or file: URI
    for name in sorted(os.listdir(root)):
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        md = pq.ParquetFile(os.path.join(root, name)).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        out.append((lo, hi))
    return out


def read_pruned(
    spark: SparkSession, path: str, column: str, lo=None, hi=None
) -> DataFrame:
    """Read only the files a range predicate ``lo <= column <= hi``
    can touch, decided on parquet FOOTER min/max statistics — the
    manifest-style data skipping Delta/Iceberg do with their file
    stats, modeled on plain parquet (scan_pruning_report MEASURES the
    skip rate; this reader ACTS on it). The exact predicate is
    re-applied as a residual filter, so correctness never depends on
    the statistics — stale/missing stats only cost extra reads, and a
    file with no stats for the column is always read.

    Scale shape: the footer sweep is a DRIVER-side listing (footers
    only, no data pages) — the honest cost of statsless parquet; at
    real table scale the listing IS the table format's manifest and
    this helper is the pattern the lakehouse formats productize.
    Combine with write_clustered / write_zordered, which exist to
    make exactly this prune bite. Empty survivor set returns an
    empty frame with the table's schema."""
    import pyarrow.parquet as pq

    if lo is None and hi is None:
        raise ValueError("read_pruned needs at least one of lo/hi")
    root = local_path(path) or path  # plain or file: URI
    keep: list[str] = []
    total = 0
    for name in sorted(os.listdir(root)):
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        total += 1
        full = os.path.join(root, name)
        md = pq.ParquetFile(full).metadata
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        if fmin is not None and fmax is not None:
            if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
                continue  # provably disjoint
        keep.append(full)
    if total == 0:
        raise ValueError(f"read_pruned: no parquet data files under {path!r}")
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(column) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(column) <= F.lit(hi))
    if not keep:
        return spark.read.parquet(path).filter(pred).limit(0)
    return spark.read.parquet(*keep).filter(pred)
