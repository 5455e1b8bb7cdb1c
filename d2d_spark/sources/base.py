"""Source/Sink protocol — the reference's duck-typed connector
contract (get_indexes / get_count / get_data / save_data /
create_index, SURVEY.md §2.1) re-expressed over DataFrames.

A *table* ("index") stays the unit of work: a named collection whose
physical identity the connector owns (file basename, JDBC table,
in-memory list). ``read`` returns a lazy DataFrame (the reference's
pull generator); ``write`` applies an insert mode (§2.6); ``create``
is schema-driven DDL from ``df.schema`` — replacing the reference's
infer-from-first-row (d22d/task.py:126-129) with infer-from-plan,
which sees the whole schema instead of one row.
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame, SparkSession

#: insert modes shared by every sink (d22d/utils/db/myutils.py:536-539)
WRITE_MODES = ("append", "overwrite", "ignore", "replace", "upsert")


class Source(abc.ABC):
    """Read side of a connector."""

    @abc.abstractmethod
    def get_indexes(self) -> list[str]:
        """Names of the tables this source holds."""

    @abc.abstractmethod
    def read(self, index: str, **kw) -> DataFrame:
        """Lazy DataFrame over one table."""

    def get_count(self, index: str) -> int:
        """Row count; file formats override with metadata-only counts
        where possible (parquet footer)."""
        return self.read(index).count()


class Sink(abc.ABC):
    """Write side of a connector."""

    @abc.abstractmethod
    def write(
        self,
        df: DataFrame,
        index: str,
        mode: str = "append",
        pks: list[str] | None = None,
        **kw,
    ) -> None:
        """Write ``df`` as table ``index`` under an insert mode."""

    def create(self, index: str, df: DataFrame, pks: list[str] | None = None) -> None:
        """Create the target for ``df.schema``. File sinks are
        create-on-write; JDBC sinks emit DDL. Default: no-op."""


class Connector(Source, Sink, abc.ABC):
    """Bidirectional connector (most are)."""


def require_spark(spark: SparkSession | None) -> SparkSession:
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is None:
        raise RuntimeError("no active SparkSession; pass spark= explicitly")
    return active


def local_path(path: str) -> str | None:
    """The local filesystem path that ``path`` names, or None when only
    the Hadoop FileSystem API reaches it (hdfs://, s3a://, ...).

    A path with no scheme is local as it stands; a ``file:`` URI
    (``file:/x``, ``file:///x``) is local at its path part. The scheme is
    found the way Hadoop's ``Path`` finds it (a colon before the first
    slash), so os-level calls and Spark's own reads and writes agree on
    which table a path names."""
    colon, slash = path.find(":"), path.find("/")
    if colon == -1 or -1 < slash < colon:
        return path
    if path[:colon].lower() != "file":
        return None
    rest = path[colon + 1 :]
    if rest.startswith("//"):
        authority, _, tail = rest[2:].partition("/")
        if authority:
            return None
        rest = "/" + tail
    return rest


def check_executor_local_root(spark: SparkSession, root: str, what: str) -> None:
    """Fail fast for sinks whose executors write with plain ``open()``:
    a remote scheme never works through open(), and on a multi-node
    master a non-shared local path would scatter files across executor
    disks — a later scan silently returns partial data. Set
    ``D2D_BLOBSTORE_SHARED_ROOT=1`` to assert the mount is shared."""
    import os as _os

    if "://" in root:
        raise ValueError(
            f"{what} writes with plain open(); remote root {root!r} needs "
            "an fsspec/Hadoop opener — the scan side supports remote "
            "roots, the executor write side does not yet"
        )
    master = spark.sparkContext.master
    if not master.startswith("local") and not _os.environ.get("D2D_BLOBSTORE_SHARED_ROOT"):
        raise ValueError(
            f"master {master!r} is multi-node: {what} files written with "
            f"open() under {root!r} would land on executor-local disks and "
            "a later scan would silently return partial data. Point the "
            "root at a shared mount and set D2D_BLOBSTORE_SHARED_ROOT=1 "
            "to assert it is shared."
        )
