"""Lead-table catalog: the one place that maps a table name to its
storage.

Each lead table is a TxTable (sources/txtable.py) rooted at
``<spark.sql.warehouse.dir>/<name>``.  Its transaction log is the
table's only record, so the next day's process finds yesterday's table
through the log — Spark's in-memory catalog forgets tables when the
session ends.  Reference parity: ``table_exists`` via
get_table-and-catch (the reference's big_uery_handler.py:56-61) and
schema introspection via ``get_table().schema`` (:139-144), both
answered from the head snapshot's manifest.  Readers reach a table by
name through a session temp view over ``TxTable.read()``, re-registered
after each commit (``register_view``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from .. import txlog
from .txtable import TxTable


def table_root(spark: SparkSession, table: str) -> str:
    """The table's TxTable root under the session's warehouse dir."""
    wh = txlog.manifest_path(spark.conf.get("spark.sql.warehouse.dir"))
    return os.path.join(wh, table)


def lead_table(spark: SparkSession, table: str) -> TxTable:
    return TxTable(spark, table_root(spark, table))


def table_exists(spark: SparkSession, table: str) -> bool:
    """big_uery_handler.py:56-61: the table has a committed version."""
    return lead_table(spark, table).snapshot() is not None


def table_schema(spark: SparkSession, table: str) -> StructType:
    """big_uery_handler.py:139-144: the head manifest's schema."""
    snap = lead_table(spark, table).snapshot()
    if snap is None:
        raise FileNotFoundError(
            f"no table {table!r} under {table_root(spark, table)}"
        )
    return StructType.fromJson(json.loads(snap.schema_json))


def register_view(spark: SparkSession, table: str) -> None:
    """(Re)point the by-name temp view at the table's head snapshot —
    call after each commit, or to open a table another process made."""
    lead_table(spark, table).read().createOrReplaceTempView(table)
