"""Write-mode semantics — SURVEY.md §2.6.

The reference picks per-batch SQL modes: INSERT / INSERT IGNORE /
REPLACE / ON DUPLICATE KEY UPDATE (d22d/utils/db/myutils.py:536-539,
693-752; gen_insert_sql d22d/utils/db/__init__.py:1066-1080). On a
data-lake target those become dataflow patterns:

  append        -> plain write
  insert ignore -> anti-join incoming against target keys, then append
  replace/upsert-> key-merge of target and incoming (incoming wins),
                   full rewrite (or MERGE on an ACID table format)

Single-writer assumption documented (SURVEY §7.4 hard part (b)): the
anti-join read-modify-write is not transactional; concurrent writers
need an ACID table format underneath.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d2d_spark.sources.base import local_path
from d2d_spark.sources.files import load_table


def filter_new_rows(
    incoming: DataFrame,
    target_keys: DataFrame,
    pks: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """INSERT IGNORE probe: keep only incoming rows whose PK is absent
    from the target — AND collapse duplicate keys WITHIN the incoming
    batch to one row (MySQL inserts the first occurrence, ignores the
    rest; appending both would break the target's PK uniqueness).
    ``order_col`` pins the in-batch winner (min value per key — the
    'first' row of the reference's ordered executemany); without it
    the pick is an explicit arbitrary-but-single dropDuplicates.

    target_keys need only contain the PK columns; at scale prefer
    handing a pushdown-pruned scan of just those columns. No broadcast
    hint: an explicit hint is honored regardless of size (AQE does NOT
    demote it), which would OOM on a billion-key target — size-based
    selection is Catalyst's call. The probe keeps duplicate target
    keys: a left-anti join only asks whether a key exists."""
    if order_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*pks).orderBy(F.col(order_col).asc())
        incoming = (
            incoming.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        incoming = incoming.dropDuplicates(pks)
    return incoming.join(target_keys.select(*pks), on=pks, how="left_anti")


def upsert_rows(
    target: DataFrame, incoming: DataFrame, pks: list[str], order_col: str | None = None
) -> DataFrame:
    """ON DUPLICATE KEY UPDATE as a dataflow: incoming wins on key
    collision, unmatched target rows survive. Equivalent to
    MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT.

    Duplicate keys WITHIN the incoming batch: the reference's
    executemany applies rows in order, so the last occurrence wins.
    A distributed batch has no inherent order — pass ``order_col``
    to pin the winner (max value per key); without it the choice
    among incoming duplicates is an explicit arbitrary-but-single
    pick (dropDuplicates). The anti-join probe takes the raw incoming
    keys: it only asks whether a key exists, so deduplicating them
    would only add a shuffle."""
    if order_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*pks).orderBy(F.col(order_col).desc())
        inc = (
            incoming.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        inc = incoming.dropDuplicates(pks)
    kept = target.join(incoming.select(*pks), on=pks, how="left_anti")
    return kept.unionByName(inc, allowMissingColumns=False)


def replace_rows(
    target: DataFrame, incoming: DataFrame, pks: list[str], order_col: str | None = None
) -> DataFrame:
    """MySQL REPLACE (delete+insert) — same end state as upsert for
    whole-row payloads."""
    return upsert_rows(target, incoming, pks, order_col)


def update_rows(df: DataFrame, set_exprs: dict[str, "F.Column"], where: "F.Column") -> DataFrame:
    """UPDATE … SET … WHERE as a dataflow (reference _update/_update2
    builders d22d/utils/db/myutils.py:970-1001 and the windowed mass
    update loop d22d/model/mysqlmodel.py:166-182): matched rows get
    the new values, others pass through unchanged. On a lake this is
    the full-column rewrite behind Delta UPDATE; the reference's
    LIMIT-n-until-done loop exists only because MySQL locks — a
    partitioned rewrite needs no windowing.

    All SET expressions and the predicate evaluate against the
    ORIGINAL row (SQL UPDATE semantics): applied in one projection,
    never chained — chaining would let an earlier assignment change
    what a later predicate/expression sees."""
    return df.withColumns(
        {c: F.when(where, e).otherwise(F.col(c)) for c, e in set_exprs.items()}
    )


def delete_rows(df: DataFrame, where: "F.Column") -> DataFrame:
    """DELETE WHERE pred (reference _delete builder
    d22d/utils/db/myutils.py:1003-1012; ES delete-by-query :406-409).
    SQL semantics: NULL predicates do NOT delete — rows survive unless
    the predicate is definitely true."""
    return df.filter(~F.coalesce(where, F.lit(False)))


def write_mode(
    df: DataFrame,
    path: str,
    mode: str = "append",
    pks: list[str] | None = None,
    fmt: str = "parquet",
    spark=None,
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
    order_col: str | None = None,
) -> None:
    """Apply an insert mode against a path-based table.

    `append` streams through; `ignore`/`replace`/`upsert` read the
    current target, compute the surviving set, and overwrite. On a
    production lake this maps to Delta/Iceberg MERGE; the dataflow and
    semantics are identical. ``options`` (header/sep/...) apply to
    BOTH the target read and every write — a keyed CSV merge that
    read the target with default options would mis-parse it. A
    Parquet target read with no options takes its schema from the
    first file's footer (``sources.files.load_table``) instead of Spark's
    schema-inference job, and falls back to inference where the footer
    cannot say it exactly.
    """
    options = options or {}

    def _writer(d: DataFrame):
        w = d.write.format(fmt)
        for k, v in options.items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        return w

    if mode == "append":
        _writer(df).mode("append").save(path)
        return
    if mode == "overwrite":
        _writer(df).mode("overwrite").save(path)
        return
    if pks is None or spark is None:
        raise ValueError(f"mode={mode!r} needs pks and spark")
    # ONLY a genuinely-missing target may fall through to a fresh
    # write: swallowing every read error would let a transient/corrupt
    # read replace accumulated data with just this batch. A target
    # missing because a crash landed between _swap_paths' two renames
    # is NOT genuinely missing — restore its backup first.
    if not _target_exists(spark, path) and not restore_swap_debris(spark, path):
        _writer(df).mode("overwrite").save(path)
        return
    target = load_table(spark, fmt, path, options)
    if mode == "ignore":
        out = target.unionByName(filter_new_rows(df, target, pks, order_col))
    elif mode in ("replace", "upsert"):
        out = upsert_rows(target, df, pks, order_col)
    else:
        raise ValueError(f"unknown write mode {mode!r}")
    # Write the merged set to a DURABLE staging path first, then swap
    # it in. cache()+count() is NOT a safe barrier: cached blocks can
    # evict or die with an executor, and recomputation would re-read
    # the target mid-overwrite — silent corruption. A completed write
    # to a sibling path has no lineage back to the target. (On an
    # object store the same pattern is write-new-prefix-then-repoint;
    # an ACID table format replaces all of this with MERGE.)
    import uuid as _uuid

    # single-writer contract: any .__stage_* sibling is a crashed
    # earlier attempt — without cleanup each failed keyed write leaks
    # a full staged copy of the table until the volume fills
    _drop_stage_debris(spark, path)
    staging = f"{path}.__stage_{_uuid.uuid4().hex[:8]}"
    _writer(out).mode("overwrite").save(staging)
    _swap_paths(spark, staging, path)


def _drop_stage_debris(spark, path: str) -> None:
    local = local_path(path)
    if local is not None:
        import glob as _glob
        import shutil as _shutil

        for stale in _glob.glob(_glob.escape(local) + ".__stage_*"):
            _shutil.rmtree(stale, ignore_errors=True)
        return
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    p = P(path)
    fs = p.getFileSystem(conf)
    parent = p.getParent()
    if parent is None or not fs.exists(parent):
        return
    prefix = p.getName() + ".__stage_"
    for st in fs.listStatus(parent):
        if st.getPath().getName().startswith(prefix):
            fs.delete(st.getPath(), True)


def _swap_paths(spark, staging: str, path: str) -> None:
    """Replace `path` with `staging`, crash-safe on any Hadoop-visible
    scheme (hdfs://, s3a://, file:) — not just the local FS.

    Sequence: target -> .__bak, staging -> target, drop .__bak. At no
    point is the data unrecoverable: a crash before the second rename
    leaves the old data in .__bak (and restore is attempted on error);
    a crash after it leaves the new data live and only backup debris.
    Local paths, plain or ``file:`` URIs (``sources.base.local_path``),
    use os.replace (atomic dir rename); remote schemes use the Hadoop
    FileSystem rename/delete that _target_exists already resolves.

    The backup basename is DOT-PREFIXED: when the target is a
    partition directory inside a table root (per-partition
    compaction), a visible sibling whose name contains `=` would be
    discovered as a phantom partition by any concurrent or post-crash
    reader — hidden files/dirs are skipped by Spark's file index.
    ``restore_swap_debris`` accepts both this and the older visible
    form.
    """
    suffix = os.path.basename(staging).rsplit("_", 1)[-1]
    backup = os.path.join(
        os.path.dirname(path) or ".", f".{os.path.basename(path)}.__bak_{suffix}"
    )
    if local_path(path) is not None:
        import shutil as _shutil

        path, staging, backup = local_path(path), local_path(staging), local_path(backup)
        os.replace(path, backup)
        try:
            os.replace(staging, path)
        except BaseException:
            os.replace(backup, path)  # restore the old target
            raise
        _shutil.rmtree(backup, ignore_errors=True)
        return
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(path).getFileSystem(conf)
    if not fs.rename(P(path), P(backup)):
        raise IOError(f"cannot stage-swap: rename {path} -> {backup} failed")
    ok = False
    try:
        ok = fs.rename(P(staging), P(path))
    finally:
        if not ok:
            fs.rename(P(backup), P(path))  # restore the old target
    if not ok:
        raise IOError(f"stage-swap rename {staging} -> {path} failed; target restored")
    fs.delete(P(backup), True)


def restore_swap_debris(spark, path: str) -> bool:
    """Recover from a crash inside :func:`_swap_paths`: if the target
    is missing but a ``.__bak_*`` sibling exists (the window between
    the two renames), restore the newest backup and return True.

    Without this, every keyed writer whose "missing target ⇒ fresh
    write" branch runs after such a crash would silently reinitialize
    the table from one batch, stranding all accumulated data in the
    backup directory."""
    local = local_path(path)
    if local is not None:
        import glob as _glob

        path = local
        if os.path.exists(path):
            return False
        # escape the path: glob metacharacters ('[', '*', '?') in a
        # table path would otherwise hide the very backup this
        # function exists to find. Both backup generations match:
        # the current hidden form and the older visible one.
        import os.path as _osp

        hidden = _osp.join(
            _glob.escape(_osp.dirname(path) or "."),
            "." + _glob.escape(_osp.basename(path)) + ".__bak_*",
        )
        baks = sorted(
            _glob.glob(_glob.escape(path) + ".__bak_*") + _glob.glob(hidden),
            key=os.path.getmtime,
        )
        if not baks:
            return False
        os.replace(baks[-1], path)
        return True
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    p = P(path)
    fs = p.getFileSystem(conf)
    if fs.exists(p):
        return False
    parent = p.getParent()
    if parent is None or not fs.exists(parent):
        return False
    prefixes = (p.getName() + ".__bak_", "." + p.getName() + ".__bak_")
    cands = [
        st
        for st in fs.listStatus(parent)
        if st.getPath().getName().startswith(prefixes)
    ]
    if not cands:
        return False
    newest = max(cands, key=lambda st: st.getModificationTime()).getPath()
    if not fs.rename(newest, p):
        raise IOError(f"cannot restore swap backup {newest} -> {path}")
    return True


def _target_exists(spark, path: str) -> bool:
    """True iff the target path exists — via Hadoop FS so non-local
    schemes (hdfs://, s3a://) answer correctly too."""
    local = local_path(path)
    if local is not None:
        return os.path.exists(local)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


# Widening numeric promotions must preserve every representable
# value — SQL's implicit-coercion RANK order is not enough, because a
# higher-rank float type can hold fewer integer digits than a
# lower-rank integral type (float's 24-bit mantissa truncates int
# 16777217; double's 53 bits truncate bigint): integral widenings go
# by rank, integral->fractional goes by mantissa capacity. Anything
# else (string->numeric, fractional->integral, timestamp->date,
# cross-flavor timestamps, decimal reshapes) must be spelled out by
# the caller.
_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
# integral types every value of which round-trips through the target
_FLOAT_OK = {"float": {"tinyint", "smallint"}, "double": {"tinyint", "smallint", "int"}}
_INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}
_DEC_RE = re.compile(r"decimal\((\d+),(\d+)\)")


def _cast_is_safe(src: str, dst: str) -> bool:
    if src == dst or src == "void":  # NULL literals cast to anything
        return True
    if dst == "string":
        # every ATOMIC value has a faithful string rendering — but
        # binary -> string reinterprets raw bytes as UTF-8 (garbles
        # non-UTF8 data), and complex-type renderings (array/map/
        # struct) are display formats, not round-trippable values:
        # all of those must be spelled out by the caller
        return src != "binary" and "<" not in src
    if src in _INT_RANK and dst in _INT_RANK:
        return _INT_RANK[dst] > _INT_RANK[src]
    if dst in _FLOAT_OK and src in _FLOAT_OK[dst]:
        return True
    if src == "float" and dst == "double":
        return True
    ms, md = _DEC_RE.fullmatch(src), _DEC_RE.fullmatch(dst)
    if ms and md:  # decimal reshape: keep every integer and fraction digit
        ps, ss = (int(g) for g in ms.groups())
        pd_, sd = (int(g) for g in md.groups())
        return sd >= ss and pd_ - sd >= ps - ss
    if ms and dst == "double":  # <=15 sig digits round-trip through double
        return int(ms.group(1)) <= 15
    if ms and dst == "float":
        return int(ms.group(1)) <= 6
    if src in _INT_DIGITS and md:
        pd_, sd = (int(g) for g in md.groups())
        return pd_ - sd >= _INT_DIGITS[src]
    if src == "date" and dst in ("timestamp", "timestamp_ntz"):
        return True
    return False


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    matched_update: dict[str, str] | None = None,
    matched_update_condition: str | None = None,
    matched_delete_condition: str | None = None,
    insert_unmatched: bool = True,
    insert_values: dict[str, str] | None = None,
    verify_unique: bool = True,
) -> DataFrame:
    """Multi-clause MERGE INTO as one dataflow — the Delta/Iceberg
    `MERGE INTO t USING s ON … WHEN MATCHED [AND cond] THEN
    UPDATE/DELETE WHEN NOT MATCHED THEN INSERT` statement computed as
    the new target snapshot (swap/write it with write_mode; on an
    ACID format this is the single-statement upsert+delete+insert the
    reference spreads over three SQL modes).

    Clause semantics (documented; engines differ):
      * matched rows check ``matched_delete_condition`` FIRST (drop),
        then ``matched_update_condition`` (default: all matched) for
        the ``matched_update`` SET map; unmatched-by-any-clause
        matched rows pass through unchanged;
      * NULL conditions are false (SQL WHERE discipline);
      * source rows matching nothing insert when ``insert_unmatched``
        — columns mapped by ``insert_values`` (target column ->
        expression), defaulting to same-named source columns and NULL
        elsewhere; join keys always carry over;
      * all expressions are SQL strings over aliases ``t`` (target)
        and ``s`` (source) — e.g. ``"s.price > t.price"`` — evaluated
        against ORIGINAL rows (update_rows' no-chaining rule).

    A source with duplicate keys makes MERGE ill-defined (Delta
    raises at runtime); ``verify_unique`` pre-checks with one tiny
    aggregate and raises with the offending count. Keys must be
    non-NULL on the source side (NULL never matches; such rows would
    silently insert — they raise instead).

    Shape: ONE full-outer equi-join on the keys plus per-row CASE
    projections — no shuffle beyond the join, broadcastable small
    sources welcome."""
    if not on:
        raise ValueError("merge_into: need at least one join key")
    for side, frame in (("target", target), ("source", source)):
        missing = [k for k in on if k not in frame.columns]
        if missing:
            raise ValueError(f"merge_into: join keys {missing} absent from the {side}")
    if matched_update is None and matched_delete_condition is None and not insert_unmatched:
        raise ValueError("merge_into: no clause given — nothing to do")
    bad = [c for c in (matched_update or {}) if c in on]
    if bad:
        raise ValueError(f"merge_into: refusing to UPDATE join keys {bad}")
    if verify_unique:
        stats = source.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(k) for k in on]).alias("nk"),
            F.sum(
                (sum(F.col(k).isNull().cast("int") for k in on) > 0).cast("int")
            ).alias("nulls"),
        ).collect()[0]
        if stats["nulls"]:
            raise ValueError(
                f"merge_into: {stats['nulls']} source rows have NULL join keys — "
                "NULL never matches; filter or fix upstream"
            )
        if stats["nk"] != stats["n"]:
            raise ValueError(
                f"merge_into: source has duplicate join keys ({stats['n']} rows, "
                f"{stats['nk']} distinct) — MERGE is ill-defined on multi-matches"
            )
    # presence-marker names must not shadow REAL columns (withColumn
    # silently overwrites, which would both corrupt a caller's __t
    # column and break matched-row detection)
    taken = {c.lower() for c in target.columns} | {c.lower() for c in source.columns}
    mk_t, mk_s = "__t", "__s"
    while mk_t.lower() in taken:
        mk_t += "_"
    while mk_s.lower() in taken or mk_s == mk_t:
        mk_s += "_"
    cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on]
    j = (
        target.withColumn(mk_t, F.lit(1))
        .alias("t")
        .join(source.withColumn(mk_s, F.lit(1)).alias("s"), cond, "full_outer")
    )
    t_present = F.col(f"t.{mk_t}").isNotNull()
    is_matched = t_present & F.col(f"s.{mk_s}").isNotNull()
    t_only = F.col(f"s.{mk_s}").isNull()
    del_c = (
        F.coalesce(F.expr(matched_delete_condition), F.lit(False))
        if matched_delete_condition
        else F.lit(False)
    )
    upd_c = (
        F.coalesce(F.expr(matched_update_condition), F.lit(False))
        if matched_update_condition
        else F.lit(True)
    )
    kept = j.filter(t_only | (is_matched & ~del_c) | (~t_present & F.lit(insert_unmatched)))
    ins = dict(insert_values or {})
    pre_cols = []
    branch_probe = []  # (colname, branchname, aliased expr) for the type check
    for c in target.columns:
        t_val = F.col(f"t.{c}")
        if matched_update and c in matched_update:
            upd_val = F.when(is_matched & upd_c, F.expr(matched_update[c])).otherwise(t_val)
        else:
            upd_val = t_val
        if c in ins:
            ins_val = F.expr(ins[c])
        elif c in on or c in source.columns:
            ins_val = F.col(f"s.{c}")
        else:
            ins_val = F.lit(None)
        i = len(pre_cols)
        branch_probe.append((c, "update", upd_val.alias(f"__u_{i}")))
        if insert_unmatched:  # the insert branch is unreachable otherwise
            branch_probe.append((c, "insert", ins_val.alias(f"__i_{i}")))
        pre_cols.append(F.when(t_present, upd_val).otherwise(ins_val).alias(c))
    # The final snapshot keeps the TARGET's dtypes. Verify each merged
    # expression coerces LOSSLESSLY before casting: under non-ANSI
    # mode a lossy .cast() (string source into an int target, double
    # into int, …) silently NULLs the value — against the module's
    # fail-loudly discipline. Each WHEN branch is checked SEPARATELY —
    # the combined when() would coerce the branches to a common type
    # first (int + string -> bigint under ANSI) and blame the wrong
    # cast. Analysis-only (schema walk), no job.
    t_types = dict(target.dtypes)
    probe_fields = kept.select(*[e for _, _, e in branch_probe]).schema.fields
    for (c, branch, _), field in zip(branch_probe, probe_fields):
        want = t_types[c]
        got = field.dataType.simpleString()
        if not _cast_is_safe(got, want):
            raise ValueError(
                f"merge_into: column {c!r} ({branch} branch) would cast "
                f"{got} -> {want} — a lossy/implicit coercion that can "
                "silently NULL or truncate values; cast explicitly in the "
                "source / insert_values / matched_update expression instead"
            )
    return kept.select(
        *[col.cast(t_types[c]).alias(c) for c, col in zip(target.columns, pre_cols)]
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    upsert_op: str = "u",
    delete_op: str = "d",
) -> DataFrame:
    """CDC change-feed apply (the Debezium/DLT APPLY CHANGES INTO
    shape): fold an ordered op log of upserts and deletes into the
    new target snapshot. Per key only the HIGHEST-``seq_col`` change
    decides the outcome — an upsert wins with its payload, a delete
    removes the key — and earlier changes for the key are superseded
    whole-row (out-of-order arrivals within the feed are fine: the
    sequence column is the order, not arrival). Keys absent from the
    feed pass through.

    Deterministic by construction only if (keys, seq_col) is unique —
    duplicate sequence numbers for one key make "last" meaningless,
    so they raise (one tiny aggregate), the merge_into discipline.

    Shape: one window shuffle on the feed (top-1 per key), then ONE
    anti-join + union against the target — the feed is typically tiny
    next to the table, so both joins broadcast."""
    from pyspark.sql.window import Window

    if not keys:
        raise ValueError("apply_changes: need at least one key column")
    for side, frame, need in (
        ("target", target, keys),
        ("changes", changes, keys + [seq_col, op_col]),
    ):
        missing = [c for c in need if c not in frame.columns]
        if missing:
            raise ValueError(f"apply_changes: {side} lacks columns {missing}")
    payload = [c for c in target.columns if c not in keys]
    missing_payload = [c for c in payload if c not in changes.columns]
    if missing_payload:
        raise ValueError(
            f"apply_changes: changes feed lacks payload columns {missing_payload} "
            "— CDC upserts carry whole rows"
        )
    stats = changes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(c) for c in keys + [seq_col]]).alias("nk"),
        F.sum(
            (~F.col(op_col).isin(upsert_op, delete_op)).cast("int")
        ).alias("badop"),
    ).collect()[0]
    if stats["badop"]:
        raise ValueError(
            f"apply_changes: {stats['badop']} rows have ops outside "
            f"({upsert_op!r}, {delete_op!r})"
        )
    if stats["nk"] != stats["n"]:
        raise ValueError(
            "apply_changes: duplicate (key, sequence) rows — 'latest change "
            "wins' is ill-defined; fix the feed's sequencing upstream"
        )
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    last = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    survivors = target.join(last.select(*keys), keys, "left_anti")
    inserts = last.filter(F.col(op_col) == upsert_op).select(*target.columns)
    return survivors.unionByName(inserts)


def evolve_and_append(
    df: DataFrame,
    path: str,
    spark=None,
    allow_new_columns: bool = True,
    allow_widening: bool = True,
    fmt: str = "parquet",
) -> dict:
    """Append a batch whose schema DRIFTED from the target's — the
    schema-evolution write (Delta's mergeSchema semantics on plain
    parquet): new columns append (older files read them as NULL under
    mergeSchema), missing columns fill NULL, and type drift is gated
    by the SAME lossless-cast ladder merge_into uses — a lossy drift
    (double -> int, string -> date) refuses LOUDLY instead of
    corrupting the table. Returns a model-sized report
    {"added": [...], "filled": [...], "widened": [(col, src, dst)],
    "n_rows": int}.

    Widening direction: the BATCH is cast up to the TARGET's type
    when the target is wider; when the BATCH is wider the append
    refuses (parquet files are immutable — the target's existing
    files can't be widened in place; rewrite/compact the table to the
    new type first, then append). A fresh target is a plain write.

    Readers must use mergeSchema (spark.read.option('mergeSchema',
    True)) once columns have evolved — documented contract, same as
    Delta's."""
    spark = spark or df.sparkSession
    if not _target_exists(spark, path):
        df.write.format(fmt).mode("append").save(path)
        return {"added": list(df.columns), "filled": [], "widened": [],
                "n_rows": df.count()}
    target = spark.read.format(fmt).load(path)
    tgt_types = dict(zip(target.schema.names, [f.dataType.simpleString() for f in target.schema.fields]))
    src_types = dict(zip(df.schema.names, [f.dataType.simpleString() for f in df.schema.fields]))
    added = [c for c in df.columns if c not in tgt_types]
    filled = [c for c in target.columns if c not in src_types]
    if added and not allow_new_columns:
        raise ValueError(
            f"evolve_and_append: batch adds columns {added} and "
            "allow_new_columns=False — drop them upstream or opt in"
        )
    widened: list[tuple] = []
    out_cols = []
    for c in target.columns:
        if c not in src_types:
            out_cols.append(F.lit(None).cast(tgt_types[c]).alias(c))
            continue
        s, t = src_types[c], tgt_types[c]
        if s == t:
            out_cols.append(F.col(c))
        elif _cast_is_safe(s, t):
            if not allow_widening:
                raise ValueError(
                    f"evolve_and_append: column {c!r} drifted {s} -> {t} and "
                    "allow_widening=False"
                )
            widened.append((c, s, t))
            out_cols.append(F.col(c).cast(t).alias(c))
        else:
            raise ValueError(
                f"evolve_and_append: column {c!r} drifted {s!r} vs target "
                f"{t!r} and the cast is not lossless — widening the TARGET "
                "needs a rewrite (compact to the new type), and a lossy "
                "append would corrupt the table"
            )
    out_cols += [F.col(c) for c in added]
    staged = df.select(*out_cols)
    staged.write.format(fmt).mode("append").save(path)
    return {
        "added": added,
        "filled": filled,
        "widened": widened,
        "n_rows": staged.count(),
    }


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
) -> dict:
    """Idempotent backfill: overwrite ONLY the hive partitions the
    batch touches, leaving every other partition's files untouched —
    Spark's dynamic partitionOverwriteMode, wrapped so (a) the conf
    flips to dynamic FOR THIS WRITE ONLY and restores after (a session
    left in dynamic mode silently changes other writers' overwrite
    semantics — the classic shared-session foot-gun), and (b) NULL
    partition values are REFUSED up front: they'd land in the
    __HIVE_DEFAULT_PARTITION__ bucket and a re-run would quietly
    overwrite unrelated NULL-keyed data. Returns
    {"partitions": [...], "n_rows": int} — the touched partition
    tuples, model-sized (reruns of the same batch converge to the
    same files: the idempotence replays and backfills depend on)."""
    if not partition_cols:
        raise ValueError("overwrite_partitions: need at least one partition column")
    missing = [c for c in partition_cols if c not in df.columns]
    if missing:
        raise ValueError(f"overwrite_partitions: frame lacks partition columns {missing}")
    any_null = F.lit(False)
    for c in partition_cols:
        any_null = any_null | F.col(c).isNull()
    touched = (
        df.select(*partition_cols)
        .withColumn("__bad", any_null)
        .groupBy(*partition_cols, "__bad")
        .count()
    ).collect()
    if any(r["__bad"] for r in touched):
        raise ValueError(
            "overwrite_partitions: NULL partition values — they'd fall into "
            "the default partition and a re-run would overwrite unrelated "
            "NULL-keyed data; filter or impute first"
        )
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        df.write.format(fmt).mode("overwrite").partitionBy(*partition_cols).save(path)
    finally:
        spark.conf.set(key, old)
    return {
        "partitions": sorted(
            tuple(r[c] for c in partition_cols) for r in touched
        ),
        "n_rows": int(sum(r["count"] for r in touched)),
    }
