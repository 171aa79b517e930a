"""At-rest Annotate: the reference's ADD COLUMN + UPDATE pair
(big_uery_handler.py:173-194) on a lead table.

The engine's default is write-time stamping (sources/ingest.py): the
same visible result as the reference's post-load
``UPDATE t SET Ingestion_date = DATE(d) WHERE Ingestion_date IS NULL``
at O(batch) instead of O(table).  This module is the literal at-rest
form, for a table that needs backfilling (one created before the
column existed): ``TxTable.add_column`` is a metadata-only commit, and
``TxTable.update`` rewrites only the files holding NULL rows — every
other file carries into the new snapshot by reference — and commits
atomically, so a crash leaves the previous snapshot in place.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .catalog import lead_table, register_view, table_schema
from .ingest import INGESTION_DATE_COL


def ensure_ingestion_date_column(spark: SparkSession, table: str) -> bool:
    """ADD COLUMN Ingestion_date DATE if absent
    (big_uery_handler.py:173-181).  Returns True if added."""
    if INGESTION_DATE_COL in table_schema(spark, table).fieldNames():
        return False
    lead_table(spark, table).add_column(INGESTION_DATE_COL, "date")
    register_view(spark, table)
    return True


def set_ingestion_date_where_null(
    spark: SparkSession, table: str, run_date: date | None = None
) -> int:
    """UPDATE ... WHERE Ingestion_date IS NULL
    (big_uery_handler.py:183-194), adding the column first if absent.
    Returns the number of rows updated."""
    ensure_ingestion_date_column(spark, table)
    d = F.lit(str(run_date)).cast("date") if run_date else F.current_date()
    n = lead_table(spark, table).update(
        F.col(INGESTION_DATE_COL).isNull(), {INGESTION_DATE_COL: d}
    )
    register_view(spark, table)
    return n
