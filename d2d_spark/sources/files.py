"""File-format connectors: CSV, delimited text, JSON-lines, Parquet.

The reference treats a directory of files as a database and each
file's basename as the table name (BaseFileD,
d22d/utils/db/__init__.py:491-551); CsvD :554-598, TxtD :601-637,
JsonListD :824-836. Reads stream via DictReader; writes back up an
existing target with a timestamp suffix before replacing it
(:546-547).

Spark-first: each table is a *path* — one file or a part-file
directory, transparently — read/written by the built-in DataSource
implementations (distributed scans, pushdown, schema inference for
free). The timestamped-backup-before-overwrite behavior is preserved
as ``backup=True``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from d2d_spark.sources.base import Connector, local_path, require_spark


def load_table(spark: SparkSession, fmt: str, path: str, options: dict[str, str]) -> DataFrame:
    """Table ``path`` read as ``fmt`` with ``options``. A Parquet read
    with no options takes its schema from a file footer where it gives
    it exactly (:func:`footer_schema`), so Spark runs no schema job."""
    reader = spark.read.format(fmt)
    schema = footer_schema(spark, path) if fmt == "parquet" and not options else None
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


class FileConnector(Connector):
    """Directory-of-tables connector; ``index`` = file basename."""

    fmt: str = ""
    ext: str = ""

    def __init__(self, root: str, spark: SparkSession | None = None, **options: str):
        self.root = root
        self.spark = require_spark(spark)
        self.options = options

    # -- paths ---------------------------------------------------------
    def path(self, index: str) -> str:
        return os.path.join(self.root, f"{index}{self.ext}")

    def get_indexes(self) -> list[str]:
        """Tables = entries (plain file or part-file directory) named
        ``<name><ext>``. Backups (``*.bak``) and dotfiles are never
        tables — read() appends the extension to whatever is returned
        here, so anything else would resolve to a phantom path."""
        root = local_path(self.root)
        if root is None or not os.path.isdir(root):
            return []
        return sorted(
            name[: -len(self.ext)]
            for name in os.listdir(root)
            if name.endswith(self.ext)
            and not name.startswith(".")
            and not name.endswith(".bak")
            and ".bak" not in name
        )

    # -- read ----------------------------------------------------------
    def _read_options(self, **kw) -> dict[str, str]:
        return {**self.options, **{k: str(v) for k, v in kw.items()}}

    def read(self, index: str, **kw) -> DataFrame:
        return load_table(self.spark, self.fmt, self.path(index), self._read_options(**kw))

    # -- write ---------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        index: str,
        mode: str = "overwrite",
        pks: list[str] | None = None,
        backup: bool = False,
        single_file: bool = False,
        **kw,
    ) -> None:
        """``mode`` follows §2.6: append/overwrite pass through to the
        DataFrameWriter; ignore/replace/upsert run the key-merge
        dataflow from operators.writes. ``backup`` snapshots the
        current target to ``<name>.<ts>.bak`` first (BaseFileD
        create_index semantics); ``single_file`` coalesces to one
        part (only for small exports — it serializes the write)."""
        target = self.path(index)
        local = local_path(target)
        if backup and local is not None and os.path.exists(local):
            stamp = time.strftime("%Y%m%d%H%M%S")
            bak = f"{local}.{stamp}.bak"
            (shutil.copytree if os.path.isdir(local) else shutil.copy2)(local, bak)
        if single_file:
            df = df.coalesce(1)
        if mode in ("append", "overwrite"):
            writer = df.write.format(self.fmt).mode(mode)
            for k, v in self._read_options(**kw).items():
                writer = writer.option(k, v)
            writer.save(target)
            return
        from d2d_spark.operators.writes import write_mode

        if pks is None:
            raise ValueError(f"mode={mode!r} requires pks")
        write_mode(
            df,
            target,
            mode=mode,
            pks=pks,
            fmt=self.fmt,
            spark=self.spark,
            # the target must be re-read and re-written with THIS
            # connector's format options (header/sep/...), not defaults
            options=self._read_options(**kw),
        )


class ParquetConnector(FileConnector):
    """Parquet tables. A read with no connector options and no read
    keywords takes its schema from the footer Spark's inference would
    read, on the driver (:func:`footer_schema`), instead of running
    Spark's one-task schema-inference job; where it cannot say the schema
    exactly, the read infers it as Spark always does."""

    fmt = "parquet"
    ext = ".parquet"

    def get_count(self, index: str) -> int:
        # metadata-only count: Catalyst serves COUNT(*) from parquet
        # row-group footers without reading data pages
        return self.read(index).count()

    def max_from_metadata(self, index: str, column: str) -> tuple | None:
        """``max(column)`` from the table's Parquet footers, read on the
        driver with pyarrow (no Spark job), as a one-element tuple: the
        largest row-group max statistic, or ``(None,)`` when every value
        is null or there are no rows. It answers only when the footers
        alone are exact:

        - the table is a local path (plain or ``file:``), read with no
          connector options;
        - it is one file, or a directory of data files with no
          subdirectory (names starting ``_`` or ``.`` are skipped, as
          Spark's file index skips them);
        - ``column`` is a top-level column of the same type in every
          file, physical INT32/INT64 with no logical type or a signed
          INT one (what Spark reads as a byte/short/int/long), and
          typed as an integer by the Spark schema in the footer where
          Spark wrote one (Spark stores intervals as plain INT64/INT32);
        - every non-empty row group has min/max statistics for it, or
          its null count says it is all-null.

        Anything else, an unreadable footer included, returns None, so
        the caller runs the Spark aggregate and sees what it sees."""
        path = local_path(self.path(index))
        # Spark reads a dotted or back-quoted name as a field reference,
        # not as the top-level column of that literal name
        if self.options or path is None or "." in column or "`" in column:
            return None
        import pyarrow as pa

        try:
            return _footer_int_max(path, column)
        except (OSError, pa.ArrowException):
            return None


#: footer key under which Spark stores the schema it wrote a file with
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
#: characters that make Spark read a path as a glob pattern (Hadoop's
#: ``SparkHadoopUtil.isGlobPath``), so the literal file is not what it reads
_GLOB_CHARS = frozenset("{}[]*?\\")
#: Parquet summary files: Spark's file index lists names starting with
#: these, and its schema inference prefers them to the data files
_SUMMARY_PREFIXES = ("_common_metadata", "_metadata")
#: file names that Hadoop's path string keeps as they are, so that
#: sorting them here orders them as Spark's file index does
_PLAIN_NAME = re.compile(r"[A-Za-z0-9._=+-]+")


def _parquet_data_files(path: str) -> tuple[list[str], bool] | None:
    """The data files Spark reads for table ``path`` and whether the
    table also holds a summary file (``_metadata``/``_common_metadata``),
    or None when that set is not a flat list of data files (a missing
    or glob path, a hidden single file, a subdirectory such as a
    partition, an in-flight copy, or no data file at all)."""
    if _GLOB_CHARS.intersection(path):
        return None
    if os.path.isfile(path):
        return None if os.path.basename(path).startswith(("_", ".")) else ([path], False)
    if not os.path.isdir(path):
        return None
    files, summary = [], False
    for entry in os.scandir(path):
        name = entry.name
        if name.startswith(_SUMMARY_PREFIXES):
            summary = True
            continue
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        if entry.is_dir() or name.startswith("_") or name.endswith("._COPYING_"):
            return None
        files.append(entry.path)
    return (files, summary) if files else None


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark's Parquet schema inference gives the local
    table ``path`` (a read then marks every column nullable), read from
    one footer on the driver with no Spark job, or None when that
    footer alone does not give it exactly.

    Without schema merging, Spark infers a table's schema from the
    first data file by sorted path: the Spark schema stored under its
    row-metadata key if there is one, else its Parquet schema converted
    by ``ParquetToSparkSchemaConverter``. This reads the same file and
    answers the same way, converting over py4j with Spark's own
    converter under the session's binary-as-string, INT96,
    timestamp-NTZ, nanos and unknown-annotation settings. One footer is
    read however many files the table holds.

    Anything else returns None, so the caller lets Spark infer and
    sees what it sees: a non-local path, a session that merges schemas,
    a summary file, a subdirectory or partition, a file name whose
    sort order Spark might see differently, an unreadable footer, any
    converter or py4j error (a TIMESTAMP(NANOS) column, for one), or
    two columns whose names differ only in case."""
    local = local_path(path)
    if local is None:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        listed = _parquet_data_files(local)
        if listed is None or listed[1] or not all(_PLAIN_NAME.fullmatch(os.path.basename(f)) for f in listed[0]):
            return None
        if spark.conf.get("spark.sql.parquet.mergeSchema").strip().lower() != "false":
            return None
        first = min(listed[0])
        raw = (pq.read_metadata(first).metadata or {}).get(_SPARK_ROW_METADATA)
    except (OSError, pa.ArrowException):
        return None
    try:
        schema = StructType.fromJson(json.loads(raw)) if raw is not None else _convert_footer(spark, first)
    except Exception:
        return None
    if schema is None or len({f.name.lower() for f in schema.fields}) < len(schema.fields):
        return None
    return schema


def _convert_footer(spark: SparkSession, file: str) -> StructType | None:
    """``file``'s Parquet schema as Spark's schema inference converts
    it: ``ParquetToSparkSchemaConverter`` built from the session's
    ``SQLConf``. Inference ignores the session's variant-annotation
    setting, so a session that changed it returns None."""
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pkg.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf())
    if converter.ignoreVariantAnnotation():
        return None
    hadoop_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path("file:" + os.path.abspath(file)), spark._jsc.hadoopConfiguration()
    )
    footer = pkg.ParquetFooterReader.readFooter(
        hadoop_file, jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    return StructType.fromJson(json.loads(converter.convert(footer.getFileMetaData().getSchema()).json()))


def _int_leaf(schema: "pq.ParquetSchema", column: str) -> int | None:
    """Index of the leaf that is top-level column ``column`` when it is
    a signed integer Spark resolves unambiguously, else None. Spark
    matches names case-insensitively by default, so any other column
    equal to ``column`` up to case also returns None."""
    low = column.lower()
    hits = [
        i
        for i in range(len(schema))
        if (p := schema.column(i).path.lower()) == low or p.startswith(low + ".")
    ]
    if len(hits) != 1:
        return None
    c = schema.column(hits[0])
    if c.path != column or c.name != column or c.max_repetition_level != 0:
        return None
    if c.physical_type not in ("INT32", "INT64"):
        return None
    logical = json.loads(c.logical_type.to_json())
    if logical["Type"] == "None" or (logical["Type"] == "Int" and logical["isSigned"]):
        return hits[0]
    return None


def _spark_reads_as_int(md: "pq.FileMetaData", column: str) -> bool:
    """False when the Spark schema in the footer, if there is one, types
    ``column`` as anything but byte/short/int/long. Spark stores its
    interval types as plain INT32/INT64 and reads them back as
    intervals from this schema."""
    raw = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if raw is None:
        return True
    return any(
        f["name"] == column and f["type"] in ("byte", "short", "integer", "long")
        for f in json.loads(raw).get("fields", [])
    )


def _footer_int_max(path: str, column: str) -> tuple | None:
    """``ParquetConnector.max_from_metadata`` on local table ``path``."""
    import pyarrow.parquet as pq

    listed = _parquet_data_files(path)
    if listed is None:
        return None
    kind, best = None, None
    for f in listed[0]:
        md = pq.read_metadata(f)
        leaf = _int_leaf(md.schema, column)
        if leaf is None or not _spark_reads_as_int(md, column):
            return None
        c = md.schema.column(leaf)
        if kind is None:
            kind = (c.physical_type, c.logical_type.to_json())
        elif kind != (c.physical_type, c.logical_type.to_json()):
            return None
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            if rg.num_rows == 0:
                continue
            st = rg.column(leaf).statistics
            if st is not None and st.has_min_max:
                best = st.max if best is None else max(best, st.max)
            elif st is None or not st.has_null_count or st.null_count != rg.num_rows:
                return None
    return (best,)


class CsvConnector(FileConnector):
    """CSV with header row (CsvD). `inferSchema` costs an extra pass;
    pass schema= at read time on large tables instead."""

    fmt = "csv"
    ext = ".csv"

    def __init__(self, root, spark=None, header=True, inferSchema=True, **options):
        super().__init__(
            root, spark, header=str(header).lower(), inferSchema=str(inferSchema).lower(), **options
        )

    def get_count(self, index: str) -> int:
        """Line count minus headers — one text scan, no schema
        inference pass (the reference's get_line_num_fast,
        d22d/utils/db/__init__.py:477-488). Multi-line quoted records
        would need the full CSV parse; header=false means raw lines."""
        import glob as _glob

        path = self.path(index)
        lines = self.spark.read.text(path).count()
        if self.options.get("header") != "true":
            return lines
        n_files = (
            len([p for p in _glob.glob(os.path.join(path, "part-*")) if os.path.isfile(p)])
            if os.path.isdir(path)
            else 1
        )
        return lines - n_files


class TxtConnector(CsvConnector):
    """Header + arbitrary-delimiter text (TxtD); quotes stripped by the
    CSV reader's quote handling."""

    ext = ".txt"

    def __init__(self, root, spark=None, sep="\t", **options):
        super().__init__(root, spark, sep=sep, **options)


class JsonlConnector(FileConnector):
    """JSON-lines (JsonListD) — one JSON object per line; nested
    values stay first-class structs/arrays instead of the reference's
    stringified JSON (§1.2 capability upgrade)."""

    fmt = "json"
    ext = ".jsonl"


class OrcConnector(FileConnector):
    """ORC (no reference counterpart — warehouse-interop extension).
    Columnar like parquet: predicate pushdown, column pruning and
    stripe-level statistics all apply, so it slots into the same
    scan-heavy plans without a penalty at scale."""

    fmt = "orc"
    ext = ".orc"


class AvroConnector(FileConnector):
    """Avro (row-oriented interop format, common as a Kafka/ingest
    landing format). The `spark-avro` datasource is a separate module
    not bundled with every distribution — construction probes for it
    and raises a clear gate error when absent rather than failing
    deep inside a job with a ClassNotFoundException."""

    fmt = "avro"
    ext = ".avro"

    def __init__(self, root: str, spark: SparkSession | None = None, **options: str):
        super().__init__(root, spark, **options)
        # the registration, not the class, is what's missing when the
        # module isn't deployed — ask Spark's own datasource resolver
        jvm = self.spark.sparkContext._jvm
        try:
            jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", self.spark._jsparkSession.sessionState().conf()
            )
        except Exception as e:
            # chain the cause: the probe touches internal APIs, and a
            # failure that is NOT a missing module (stopped session,
            # relocated internal class) must stay diagnosable
            raise NotImplementedError(
                "the avro datasource did not resolve — usually the spark-avro "
                "module is not on the classpath (submit with --packages "
                "org.apache.spark:spark-avro_2.13:<spark-version>); see the "
                "chained exception for the actual resolver error"
            ) from e
