"""The workloads: what one op runs, and how its output is checked.

Each op is what a D2D user runs: a reference-style per-row Python
transform (`row_transform`) and a cron-style keyed re-sync
(`keyed_resync`). README.md says why the full-table copy
(`bulk_migrate`) is not among them. Inputs are written with
pyarrow before the Spark session starts; outputs are checked with DuckDB
outside the timed op, never with d2d_spark.

A check compares an order-independent fingerprint after every op (row
count plus a per-column sum of value hashes) and, after the last op, the
full row multiset.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pandas as pd
import pyarrow as pa

from perfbench import inputs


def _fingerprint(con: duckdb.DuckDBPyConnection, relation: str, columns: dict[str, str]):
    """(row count, per-column hash sums) of ``relation`` with each column
    cast to the SQL type given in ``columns``."""
    sums = ", ".join(f"sum(hash(CAST({c} AS {t})))" for c, t in columns.items())
    return con.sql(f"SELECT count(*), {sums} FROM {relation}").fetchone()


def _same_rows(con: duckdb.DuckDBPyConnection, actual: str, expected: str, columns: dict[str, str]) -> bool:
    """True iff both relations hold the same rows with the same multiplicity."""
    cols = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in columns.items())
    a, e = f"(SELECT {cols} FROM {actual})", f"(SELECT {cols} FROM {expected})"
    diff = con.sql(
        f"SELECT count(*) FROM ((SELECT * FROM {a} EXCEPT ALL SELECT * FROM {e}) "
        f"UNION ALL (SELECT * FROM {e} EXCEPT ALL SELECT * FROM {a}))"
    ).fetchone()[0]
    return diff == 0


class Workload:
    """One workload. ``prepare`` runs before the Spark session exists;
    ``before_op`` and ``check`` run outside the timed op."""

    name: str
    #: rows one op usefully moves (for `keyed_resync`: change rows applied)
    useful_rows: int
    #: output column -> SQL type both sides are cast to before comparing
    columns: dict[str, str]
    #: DuckDB relation that reads the program's output
    actual: str

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed
        self.con = duckdb.connect(config={"threads": os.cpu_count() or 1})

    def prepare(self) -> None:
        raise NotImplementedError

    def before_op(self, op: int) -> None:
        pass

    def run_op(self, spark) -> None:
        raise NotImplementedError

    def check(self, op: int, last: bool) -> bool:
        """The output matches relation `expected`: by fingerprint after
        every op, and row by row when ``last``."""
        if _fingerprint(self.con, self.actual, self.columns) != _fingerprint(
            self.con, "expected", self.columns
        ):
            return False
        return not last or _same_rows(self.con, self.actual, "expected", self.columns)

    def close(self) -> None:
        self.con.close()


class ReshapeOrder:
    """Reference-style ``format_data``: a dict -> dict callable that
    renames and derives fields, and drops about 1 % of rows (returns
    None), chosen by the seed. Tuple-of-int hashes do not depend on
    PYTHONHASHSEED, so the driver and every worker drop the same rows."""

    def __init__(self, seed: int):
        self.seed = seed

    def __call__(self, d: dict) -> dict | None:
        key = d["o_orderkey"]
        if hash((self.seed, key)) % 100 == 0:
            return None
        return {
            "order_id": key,
            "customer_id": d["o_custkey"],
            "status": d["o_orderstatus"].lower(),
            "total": d["o_totalprice"],
            "order_year": d["o_orderdate"].year,
            "priority": int(d["o_orderpriority"][0]),
            "big": d["o_totalprice"] >= 250_000.0,
        }


class RowTransform(Workload):
    """`orders` (with exact duplicates) Parquet -> JSONL through a
    Python callable and `quchong` whole-row dedup."""

    name = "row_transform"
    useful_rows = inputs.ORDERS_ROWS
    columns = {
        "order_id": "BIGINT",
        "customer_id": "BIGINT",
        "status": "VARCHAR",
        "total": "DOUBLE",
        "order_year": "BIGINT",
        "priority": "BIGINT",
        "big": "BOOLEAN",
    }

    def prepare(self) -> None:
        table = inputs.orders_with_duplicates(self.seed)
        path = os.path.join(self.root, "in", "orders.parquet")
        inputs.write_table(table, path, files=inputs.ROW_TRANSFORM_FILES)
        fn = ReshapeOrder(self.seed)
        rows = [r for r in map(fn, table.to_pandas().to_dict("records")) if r is not None]
        self.con.register("transformed", pd.DataFrame(rows).drop_duplicates())
        self.con.sql("CREATE TABLE expected AS SELECT * FROM transformed")
        out = os.path.join(self.root, "out", "orders.jsonl")
        self.actual = f"read_json('{out}/*.json', format='newline_delimited')"

    def run_op(self, spark) -> None:
        from d2d_spark.migrate import Migration
        from d2d_spark.sources import JsonlConnector, ParquetConnector

        Migration(
            ParquetConnector(os.path.join(self.root, "in"), spark),
            JsonlConnector(os.path.join(self.root, "out"), spark),
            table_from="orders",
            mode="overwrite",
            quchong=True,
            format_data=ReshapeOrder(self.seed),
        ).run()


class KeyedResync(Workload):
    """Change batches landed as Parquet, upserted by key into a Parquet
    target through `IncrementalMigration`'s watermark."""

    name = "keyed_resync"
    useful_rows = inputs.CHANGE_ROWS
    columns = {
        "o_orderkey": "BIGINT",
        "o_custkey": "BIGINT",
        "o_orderstatus": "VARCHAR",
        "o_totalprice": "DOUBLE",
        "o_orderdate": "TIMESTAMP",
        "o_orderpriority": "VARCHAR",
        "updated_at": "BIGINT",
    }

    def prepare(self) -> None:
        target = inputs.resync_target(self.seed)
        path = os.path.join(self.root, "target", "orders.parquet")
        inputs.write_table(target, path)
        self.actual = f"read_parquet('{path}/*.parquet')"
        self.landing = os.path.join(self.root, "landing", "orders.parquet")
        self.state = target.to_pandas().set_index("o_orderkey")

    def before_op(self, op: int) -> None:
        batch = inputs.change_batch(self.seed, op)
        shutil.rmtree(self.landing, ignore_errors=True)
        inputs.write_table(batch, self.landing)
        changes = batch.to_pandas().set_index("o_orderkey")
        self.state.loc[changes.index, changes.columns] = changes  # last writer wins
        self.con.register("expected", pa.Table.from_pandas(self.state.reset_index()))

    def run_op(self, spark) -> None:
        from d2d_spark.migrate import IncrementalMigration
        from d2d_spark.sources import ParquetConnector

        IncrementalMigration(
            ParquetConnector(os.path.join(self.root, "landing"), spark),
            ParquetConnector(os.path.join(self.root, "target"), spark),
            table_from="orders",
            mode="upsert",
            pks="o_orderkey",
            watermark_col="updated_at",
        ).run()


WORKLOADS = {w.name: w for w in (RowTransform, KeyedResync)}
