"""Migration façades — the reference's two-lines-of-code API
(d22d/task.py Migration :31-180, Migration2DB :183-328) over the
Spark engine.

What changes under the hood (SURVEY §3.1 "Spark shape"): the
windows/batch/retry loop, progress math, and first-row DDL disappear —
partitioned execution, task retries, and plan schemas replace them.
What stays: the user-facing semantics — per-row ``format_data``
rename/add/drop/skip, ``quchong`` whole-row dedup, ``size`` row cap,
per-table PKs, insert modes, migrate-all-tables-when-unset.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from d2d_spark.operators.join import dedup_build_side, key_merge
from d2d_spark.sources.base import Sink, Source

RowFn = Callable[[dict], dict | None]


def _numpy_native(t: pa.DataType) -> bool:
    """Types whose null-free columns NumPy turns into the exact Python
    values ``Row.asDict`` holds (``int``, ``float``, ``bool``, ``str``,
    ``date``, naive ``datetime``)."""
    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_date32(t)
        or (pa.types.is_timestamp(t) and t.unit == "us" and t.tz is None)
    )


def _zone(tz: str):
    """The ``tzinfo`` pyarrow uses for time zone name ``tz``."""
    return pa.scalar(0, type=pa.timestamp("us", tz=tz)).as_py().tzinfo


def _fix(f, v):
    return v if f is None or v is None else f(v)


def _fixer(t: pa.DataType, tz: str):
    """The function that turns one ``to_pylist`` value of type ``t``
    into the ``Row.asDict(recursive=True)`` value, or None where the two
    already agree: a map becomes a dict and a zoned timestamp a naive
    wall-clock ``datetime`` in time zone ``tz``."""
    if pa.types.is_timestamp(t) and t.tz is not None:
        zone = _zone(tz)
        return lambda v: v.astimezone(zone).replace(tzinfo=None)
    if pa.types.is_map(t):
        vf = _fixer(t.item_type, tz)
        return lambda v: {k: _fix(vf, x) for k, x in v}
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        f = _fixer(t.value_type, tz)
        return None if f is None else (lambda v: [_fix(f, x) for x in v])
    if pa.types.is_struct(t):
        fields = [(fld.name, f) for fld in t if (f := _fixer(fld.type, tz)) is not None]
        if not fields:
            return None

        def fix(v):
            for name, f in fields:
                v[name] = _fix(f, v[name])
            return v

        return fix
    return None


def _column_values(col: pa.Array, tz: str) -> list:
    """One Arrow column as the Python values ``format_data`` receives:
    SQL NULL is None, a float NaN stays NaN, and a TIMESTAMP is the
    naive wall-clock time in session time zone ``tz``."""
    if pa.types.is_timestamp(col.type) and col.type.tz is not None:
        col = pc.local_timestamp(col.cast(pa.timestamp(col.type.unit, tz)))
    if col.null_count == 0 and _numpy_native(col.type):
        return col.to_numpy(zero_copy_only=False).tolist()
    values = col.to_pylist()
    f = _fixer(col.type, tz)
    return values if f is None else [_fix(f, v) for v in values]


def _batch_rows(batch: pa.RecordBatch, tz: str) -> list[dict]:
    """``batch``'s rows as the dicts ``format_data`` receives — the
    ``Row.asDict(recursive=True)`` values, built column by column. The
    driver-side sample and the workers both go through here."""
    names = batch.schema.names
    cols = [_column_values(c, tz) for c in batch.columns]
    return [dict(zip(names, r)) for r in zip(*cols)]


def _session_tz(df: DataFrame) -> str:
    return df.sparkSession.conf.get("spark.sql.session.timeZone")


def _infer_transform_schema(
    df: DataFrame, fn: RowFn, sample: int, on_error: str, tz: str
) -> T.StructType:
    """Run ``fn`` over a driver-side sample to infer the output schema
    (the plan-level analog of the reference's infer-from-first-row).
    The sample comes through the workers' row builder, so ``fn`` sees
    the same values on both sides. Sample-row failures respect
    ``on_error`` — under skip/quarantine a row that crashes the
    transform must not crash inference either. Types are Arrow's
    inference over each key's sampled values, so an integer key with a
    None in the sample stays ``bigint``."""
    # coalesce(1) first: a bare limit collected as Arrow runs a task on
    # every input partition plus a shuffle, where this is one task that
    # reads partitions in order and stops at `sample` rows
    table = df.coalesce(1).limit(sample).toArrow()
    rows = [r for b in table.to_batches() for r in _batch_rows(b, tz)]
    transformed = []
    for r in rows:
        try:
            t = fn(r)
        except Exception:
            if on_error == "raise":
                raise
            continue
        if t:
            transformed.append(t)
    if not transformed:
        raise ValueError(
            "format_data dropped or failed every sample row; cannot infer output schema"
        )
    keys = dict.fromkeys(k for t in transformed for k in t)
    table = pa.table({k: pa.array([t.get(k) for t in transformed]) for k in keys})
    return from_arrow_schema(table.schema)


def _stamp_fixer(t: pa.DataType, zoned: bool):
    """The function that keeps one kind of datetime in a ``format_data``
    output value bound for Arrow type ``t``, or None when ``t`` holds no
    zoned TIMESTAMP. At any depth, each datetime bound for a zoned
    TIMESTAMP that is of the kept kind stays (a zoned one as its naive
    UTC time, a naive one as it is) and the other kind becomes None.
    Output types are inferred, and Arrow infers a returned dict as a
    struct, so nested values sit in lists and structs only."""
    if pa.types.is_timestamp(t):
        if t.tz is None:
            return None
        if zoned:
            return lambda v: (
                None
                if getattr(v, "tzinfo", None) is None
                else v.astimezone(timezone.utc).replace(tzinfo=None)
            )
        return lambda v: v if getattr(v, "tzinfo", None) is None else None
    if pa.types.is_list(t):
        f = _stamp_fixer(t.value_type, zoned)
        return None if f is None else (lambda v: [_fix(f, x) for x in v])
    if pa.types.is_struct(t):
        fields = [(fld.name, f) for fld in t if (f := _stamp_fixer(fld.type, zoned))]
        if not fields:
            return None
        return lambda v: {**v, **{n: _fix(f, v[n]) for n, f in fields if n in v}}
    return None


def _naive(t: pa.DataType) -> pa.DataType:
    """``t`` with every timestamp type, at any depth, zone-free."""
    if pa.types.is_timestamp(t):
        return pa.timestamp(t.unit)
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(_naive(t.value_type)))
    if pa.types.is_struct(t):
        return pa.struct([f.with_type(_naive(f.type)) for f in t])
    return t


def _localize(wall: pa.Array, utc: pa.Array, t: pa.DataType, tz: str) -> pa.Array:
    """The arrays of type ``_naive(t)`` that ``_stamp_fixer`` values
    built, merged as one array of type ``t``: a time from ``utc`` is
    that instant, and one from ``wall`` is wall-clock time in time zone
    ``tz``. The two share their shape, and a leaf is set in at most one
    of them."""
    if pa.types.is_timestamp(t):
        if t.tz is None:
            return wall
        local = pc.assume_timezone(wall, tz, ambiguous="latest").cast(t)
        return pc.coalesce(utc.cast(t), local)
    if pa.types.is_list(t):
        values = _localize(wall.values, utc.values, t.value_type, tz)
        return pa.ListArray.from_arrays(wall.offsets, values, type=t, mask=wall.is_null())
    if pa.types.is_struct(t):
        children = [_localize(wall.field(i), utc.field(i), f.type, tz) for i, f in enumerate(t)]
        return pa.StructArray.from_arrays(children, fields=list(t), mask=wall.is_null())
    return wall


def _batch_builder(schema: T.StructType, tz: str):
    """The function that turns a list of ``format_data`` output dicts
    into one Arrow batch of ``schema``. A missing key is NULL, an
    integer stays exact, and a naive ``datetime`` bound for a TIMESTAMP
    is read as wall-clock time in session time zone ``tz`` while a
    zoned one keeps its exact instant, at the top level and inside
    arrays and structs alike: pyarrow would store either one's wall
    clock as UTC. Naive and zoned values are built as two arrays,
    because a zoned instant in a repeated fall-back hour has no wall
    clock that reads back as it."""
    arrow = to_arrow_schema(schema)
    stamped = [
        (i, f.name, wall, _stamp_fixer(f.type, True), _naive(f.type))
        for i, f in enumerate(arrow)
        if (wall := _stamp_fixer(f.type, False)) is not None
    ]

    def build(rows: list[dict]) -> pa.RecordBatch:
        batch = pa.RecordBatch.from_pylist(rows, schema=arrow)
        if not stamped:
            return batch
        cols = batch.columns
        for i, name, wall, utc, naive in stamped:
            values = [r.get(name) for r in rows]
            walled = pa.array([_fix(wall, v) for v in values], naive)
            instants = pa.array([_fix(utc, v) for v in values], naive)
            cols[i] = _localize(walled, instants, arrow.field(i).type, tz)
        return pa.RecordBatch.from_arrays(cols, schema=arrow)

    return build


def _refuse_unsampled_keys(rows: list[dict], cols: frozenset, sample: int) -> None:
    # a key the sample never saw would be silently dropped by the
    # fixed-schema batch — fail loudly instead (schema drift is a bug,
    # not a column to lose). The per-row subset test is the hot path;
    # the offending keys are only gathered for the message
    if all(map(cols.issuperset, rows)):
        return
    extra = set().union(*(t.keys() for t in rows)) - cols
    raise ValueError(
        f"format_data emitted keys absent from the sampled schema: "
        f"{sorted(extra)}; emit them in the first {sample} rows or "
        f"raise the sample size"
    )


def apply_format_data(
    df: DataFrame,
    fn: RowFn | dict[str, Column] | None,
    sample: int = 100,
    on_error: str = "raise",
) -> DataFrame:
    """The per-row transform bridge (format_data, d22d/task.py:113-125).

    Expression fast path: a {col: Column} dict becomes withColumns —
    pure Catalyst, codegen, no Python in the hot path. Callable path:
    the reference's dict->dict contract runs in Arrow-batched
    ``mapInArrow``; the output schema is inferred by running the
    transform over a driver-side sample, then applied distributed.
    Returning a falsy value drops the row (:115-117).

    ``fn`` receives what ``Row.asDict(recursive=True)`` holds, on the
    driver and the workers alike: None for SQL NULL, NaN for a float
    NaN, ``int`` for integer columns, ``Decimal``, ``bytes``,
    ``date``, naive ``datetime`` (a TIMESTAMP on the session time
    zone's wall clock), and dicts for map and struct columns. Rows are
    built column by column from Arrow and the output batch straight
    from the returned dicts.

    ``on_error``: ``'raise'`` is reference parity — failures re-raise
    carrying the offending row (d22d/task.py:172-180). ``'skip'``
    drops failing rows (a 100 TB run survives the one malformed
    record). For an auditable bad-row channel use
    ``format_data_with_quarantine``.
    """
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    if fn is None:
        return df
    if isinstance(fn, dict):
        out = df
        for name, expr in fn.items():
            out = out.withColumn(name, expr)
        return out

    tz = _session_tz(df)
    schema = _infer_transform_schema(df, fn, sample, on_error, tz)
    cols = frozenset(schema.names)
    build = _batch_builder(schema, tz)

    def run(batches):
        for batch in batches:
            out = []
            for rec in _batch_rows(batch, tz):
                try:
                    t = fn(rec)
                except Exception as e:
                    if on_error == "skip":
                        continue
                    # reference parity: failures carry the offending row
                    # (d22d/task.py:172-180 logs index + payload, re-raises)
                    raise RuntimeError(f"format_data failed on row {rec!r}") from e
                if t:
                    out.append(t)
            _refuse_unsampled_keys(out, cols, sample)
            yield build(out)

    return df.mapInArrow(run, schema=schema)


def format_data_with_quarantine(
    df: DataFrame, fn: RowFn, sample: int = 100, persist: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Per-row transform with an auditable bad-row channel.

    Returns ``(good, bad)``: ``good`` is the transformed frame exactly
    as ``apply_format_data`` would produce it, from the same
    ``Row.asDict`` values; ``bad`` has one row per failing input —
    ``(row_json, error)``, the row as sorted-key JSON with non-JSON
    values as ``str`` — ready to write to a quarantine table for replay
    after the transform is fixed.

    Both frames are filters over ONE wide ``mapInArrow`` stage, so the
    transform logic runs once per row per action. A caller consuming
    both sides should either write them in one pass (``Migration``'s
    ``quarantine`` mode persists the wide stage around its two writes)
    or persist the inputs themselves.
    """
    import json

    tz = _session_tz(df)
    schema = _infer_transform_schema(df, fn, sample, "skip", tz)
    cols = frozenset(schema.names)
    wide_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("__row", T.StringType()), T.StructField("__error", T.StringType())]
    )
    # good rows leave __row/__error NULL and bad rows the data columns;
    # one batch holds both without touching the good rows' values
    build = _batch_builder(wide_schema, tz)

    def run(batches):
        for batch in batches:
            out = []
            for rec in _batch_rows(batch, tz):
                try:
                    t = fn(rec)
                except Exception as e:
                    out.append(
                        {
                            "__row": json.dumps(rec, default=str, sort_keys=True),
                            "__error": f"{type(e).__name__}: {e}",
                        }
                    )
                    continue
                if t:
                    _refuse_unsampled_keys([t], cols, sample)
                    out.append(t)
            yield build(out)

    wide = df.mapInArrow(run, schema=wide_schema)
    if persist:
        from pyspark import StorageLevel

        # one materialization feeds both legs; blocks are reclaimed by
        # the context cleaner once the frames go out of scope
        wide = wide.persist(StorageLevel.MEMORY_AND_DISK)
    good = wide.filter(F.col("__error").isNull()).drop("__row", "__error")
    bad = wide.filter(F.col("__error").isNotNull()).select(
        F.col("__row").alias("row_json"), F.col("__error").alias("error")
    )
    return good, bad


def _split_pks(pks: str | list[str] | None) -> list[str]:
    if not pks:
        return []
    return [p.strip() for p in pks.split(",")] if isinstance(pks, str) else list(pks)


def _effective_mode(mode: str, pks: list[str]) -> str:
    """Keyed modes need keys: with no PKs declared, the reference's
    INSERT IGNORE / REPLACE degrade to plain INSERTs (no unique key to
    conflict on) — rows accumulate. Degrading to overwrite instead
    would wipe the target on every keyless default run."""
    if not pks and mode in ("ignore", "replace", "upsert"):
        return "append"
    return mode


class Migration:
    """table(s) from one connector to another.

    >>> Migration(CsvConnector("/in"), JsonlConnector("/out"),
    ...           table_from="user", format_data=lambda d: {**d, "k": 1}).run()
    """

    def __init__(
        self,
        database_from: Source,
        database_to: Sink,
        table_from: str | None = None,
        table_to: str | None = None,
        pks: str | list[str] = "",
        pkd: dict[str, str] | None = None,
        quchong: bool = False,
        size: int | None = None,
        mode: str = "ignore",
        format_data: RowFn | dict[str, Column] | None = None,
        write_kwargs: dict | None = None,
        on_error: str = "raise",
        quarantine_to: str | None = None,
    ):
        if on_error not in ("raise", "skip", "quarantine"):
            raise ValueError(
                f"on_error must be 'raise', 'skip' or 'quarantine', got {on_error!r}"
            )
        self.source = database_from
        self.sink = database_to
        self.table_from = table_from
        self.table_to = table_to
        self.pks = _split_pks(pks)
        self.pkd = {k: _split_pks(v) for k, v in (pkd or {}).items()}
        self.quchong = quchong
        self.size = size
        self.mode = mode
        self.format_data = format_data
        self.write_kwargs = write_kwargs or {}
        self.on_error = on_error
        self.quarantine_to = quarantine_to

    def run_one(self, table_from: str, table_to: str | None = None, pks: list[str] | None = None) -> DataFrame:
        df = self.source.read(table_from)
        bad = None
        if callable(self.format_data) and self.on_error == "quarantine":
            # bad rows land in `<table>_quarantine` (row_json, error)
            # for replay; expression (dict) transforms never fail
            # per-row, so quarantine only applies to the callable path
            df, bad = format_data_with_quarantine(df, self.format_data, persist=True)
        else:
            df = apply_format_data(
                df, self.format_data, on_error="raise" if self.on_error == "quarantine" else self.on_error
            )
        if self.quchong:
            # the reference's in-memory set (OOM-unsafe, README.md:154)
            # becomes a shuffled, spill-safe distinct
            df = df.dropDuplicates()
        if self.size is not None:
            df = df.limit(self.size)
        pks = pks if pks is not None else self.pks
        self.sink.write(
            df,
            table_to or table_from,
            mode=_effective_mode(self.mode, pks),
            pks=pks or None,
            **self.write_kwargs,
        )
        if bad is not None:
            self.sink.write(
                bad,
                self.quarantine_to or f"{table_to or table_from}_quarantine",
                mode="append",
            )
        return df

    def run(self) -> list[str]:
        """Migrate the named table, or every table the source holds
        (d22d/task.py:78-101), with per-table PKs from ``pkd``."""
        if self.table_from is not None:
            self.run_one(self.table_from, self.table_to, None)
            return [self.table_from]
        done = []
        for table in self.source.get_indexes():
            self.run_one(table, None, self.pkd.get(table, self.pks))
            done.append(table)
        return done


class IncrementalMigration(Migration):
    """High-watermark incremental migration — the reference's
    "scheduled incremental migration" (claimed as a TODO,
    README.md:13,559-560) made real: each run moves only source rows
    with ``watermark_col`` strictly greater than the target's current
    maximum, so a cron-style re-run is cheap and idempotent.

    The watermark predicate is a plain Column filter, so it reaches
    the source scan as a pushed filter (parquet min/max skipping, a
    JDBC WHERE clause) — an incremental run reads the new slice, not
    the table. The high watermark comes from the sink's metadata when
    the sink can answer exactly: a sink with a ``max_from_metadata``
    method (only ``ParquetConnector``) returns ``(value,)`` or None.
    ``ParquetConnector`` reads the Parquet footers' row-group max
    statistics on the driver, with no Spark job, for a local table of
    plain data files read without options and an integer watermark
    (byte/short/int/long). Every other sink, column type or layout
    runs one ``max()`` aggregate over the target. Callers who track
    the watermark externally can pass ``since=`` and skip the target
    entirely.

    First run (target missing/empty) is a full load. The sink must
    also be readable (every file/JDBC/memory connector here is) unless
    ``since`` is given. Combine with ``pks``/``mode='ignore'`` for
    belt-and-braces idempotence under watermark ties; the strict
    ``>`` comparison alone re-moves nothing when the source is
    append-only with a monotone watermark.
    """

    def __init__(self, *args, watermark_col: str, since=None, **kw):
        kw.setdefault("mode", "append")
        super().__init__(*args, **kw)
        self.watermark_col = watermark_col
        self.since = since

    def high_watermark(self, table_to: str):
        """Current max watermark in the target, or None when the
        target is missing/empty (-> full load)."""
        if self.since is not None:
            return self.since
        from_metadata = getattr(self.sink, "max_from_metadata", None)
        answer = from_metadata(table_to, self.watermark_col) if from_metadata else None
        if answer is not None:
            return answer[0]
        try:
            tgt = self.sink.read(table_to)
        except (AnalysisException, KeyError, FileNotFoundError):
            # target doesn't exist yet -> full load. ONLY the
            # missing-target read degrades to a full load: an
            # unreadable/corrupt target — or a bad watermark column in
            # the aggregation below, which deliberately sits OUTSIDE
            # this try — must raise, because silently re-loading
            # everything into append mode duplicates rows.
            return None
        row = tgt.agg(F.max(self.watermark_col).alias("hwm")).first()
        return row["hwm"] if row else None

    def run_one(self, table_from: str, table_to: str | None = None, pks: list[str] | None = None) -> DataFrame:
        hwm = self.high_watermark(table_to or table_from)
        source, self.source = self.source, _FilteredSource(
            self.source, self.watermark_col, hwm
        )
        try:
            return super().run_one(table_from, table_to, pks)
        finally:
            self.source = source


class _FilteredSource:
    """Source wrapper applying the watermark predicate below the
    transform, so it pushes into the scan."""

    def __init__(self, inner: Source, col: str, hwm):
        self.inner, self.col, self.hwm = inner, col, hwm

    def read(self, index: str, **kw) -> DataFrame:
        df = self.inner.read(index, **kw)
        return df if self.hwm is None else df.filter(F.col(self.col) > F.lit(self.hwm))

    def get_indexes(self) -> list[str]:
        return self.inner.get_indexes()


class Migration2DB:
    """Join two tables by key into a new table (d22d/task.py:183-328).

    ``how='left'`` is code-faithful (unmatched right rows dropped);
    ``how='full'`` is doc-faithful (README.md:283-320 shows right-only
    rows surviving). ``legacy_semantics`` collapses duplicate build
    keys last-wins like the reference's dict overwrite — requiring an
    ``order_col`` to define "last" deterministically.
    """

    def __init__(
        self,
        database_from1: Source,
        database_from2: Source,
        database_to: Sink,
        table_from1: str,
        table_from2: str,
        table_to: str,
        migration_key1: str,
        migration_key2: str,
        how: str = "full",
        pks: str | list[str] = "",
        quchong: bool = False,
        size: int | None = None,
        mode: str = "ignore",
        format_data: Callable[[DataFrame], DataFrame] | None = None,
        legacy_semantics: bool = False,
        order_col: str | None = None,
        broadcast_right: bool | str = "auto",
    ):
        self.src1, self.src2, self.sink = database_from1, database_from2, database_to
        self.t1, self.t2, self.t_out = table_from1, table_from2, table_to
        self.k1, self.k2 = migration_key1, migration_key2
        self.how = how
        self.pks = _split_pks(pks)
        self.quchong = quchong
        self.size = size
        self.mode = mode
        self.format_data = format_data
        self.legacy_semantics = legacy_semantics
        self.order_col = order_col
        self.broadcast_right = broadcast_right

    def run(self) -> DataFrame:
        left = self.src1.read(self.t1)
        right = self.src2.read(self.t2)
        if self.legacy_semantics:
            right = dedup_build_side(right, self.k2, self.order_col)
        df = key_merge(
            left, right, self.k1, self.k2, how=self.how, broadcast_right=self.broadcast_right
        )
        if self.format_data is not None:
            df = self.format_data(df)
        if self.quchong:
            df = df.dropDuplicates()
        if self.size is not None:
            df = df.limit(self.size)
        self.sink.write(
            df, self.t_out, mode=_effective_mode(self.mode, self.pks), pks=self.pks or None
        )
        return df
