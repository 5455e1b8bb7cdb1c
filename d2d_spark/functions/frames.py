"""Driver-local rows -> DataFrame without the Python boundary.

``spark.createDataFrame(rows, schema)`` on a plain Python list routes
through ``sc.parallelize`` — up to ``min(len(rows),
defaultParallelism)`` tasks, each round-tripping pickled rows through
a Python worker. For the MODEL-SIZED results the stats/profile/graph
operators return (a correlation matrix, a PSI table, a fitted weight
vector — tens to hundreds of rows), that serialization machinery
costs more than the numbers themselves: measured 0.40 s warm /
1.7 s cold against 0.16 s for the same relation built from JVM
literals (guide §4 — eliminate the Python boundary; the data never
needed to LEAVE the driver's JVM-adjacent plan in the first place).

``local_frame`` builds the same relation as a single-row
``spark.range(1)`` projected through an exploded array of struct
literals — pure JVM expressions, one task, zero Python workers. Any
value the literal path cannot express (exotic nested types) falls
back to ``createDataFrame`` so callers never see a behavior change.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from py4j.protocol import Py4JError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: past this many rows the analyzer cost of a struct-literal plan
#: outweighs the Python-boundary saving — measured ~19 ms/row for the
#: literal path (9 s at 500 rows!) against a FLAT 0.22 s for a
#: single-slice parallelize and 0.35 s for stock createDataFrame
_MAX_LITERAL_ROWS = 16


def _schema_of(schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    return StructType.fromDDL(schema)


def local_frame(
    spark: SparkSession,
    rows: Sequence[tuple] | Iterable[tuple],
    schema: str | StructType,
) -> DataFrame:
    """A DataFrame over driver-local ``rows`` with ``schema``, built
    from JVM literals (one explode of an array of structs) instead of
    a parallelized-and-pickled Python RDD. Row order is preserved;
    values are CAST to the declared field types, which for the
    supported scalar and array values gives what ``createDataFrame``
    gives. A value that cannot cast still fails loudly under ANSI, but
    on this path the error comes when the plan runs, not when the
    frame is built. Falls back to ``createDataFrame`` for empty input,
    oversized row counts, or a value the literal path cannot express
    (a type or value error, or one raised from the JVM); any other
    exception propagates."""
    rows = list(rows)
    st = _schema_of(schema)
    if not rows:
        return spark.createDataFrame(rows, st)
    if len(rows) > _MAX_LITERAL_ROWS:
        # identical coercion machinery to createDataFrame(list) — the
        # same row converter runs, just in ONE task instead of
        # min(len(rows), defaultParallelism) Python tasks
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), st
        )
    try:
        structs = []
        for r in rows:
            if len(r) != len(st.fields):
                raise ValueError(f"row arity {len(r)} != schema arity {len(st.fields)}")
            cols = [
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(r, st.fields)
            ]
            structs.append(F.struct(*cols))
        return (
            spark.range(1)
            .select(F.explode(F.array(*structs)).alias("__s"))
            .select("__s.*")
        )
    except (TypeError, ValueError, CapturedException, Py4JError):
        # a value F.lit cannot express (or an arity/typing surprise):
        # the slow path is always correct
        return spark.createDataFrame(rows, st)
