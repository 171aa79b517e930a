"""At-rest table maintenance — the reference's UPDATE semantics in
their literal form.

The engine's default is write-time stamping (sources/ingest.py): same
visible result as the reference's post-load
``UPDATE t SET Ingestion_date = DATE(d) WHERE Ingestion_date IS NULL``
(/root/reference/big_uery_handler.py:183-194) at O(batch) instead of
O(table).  This module provides the literal at-rest mutation for the
cases that genuinely need it (backfilling a table created before the
column existed): read -> conditional coalesce -> atomic overwrite.
On plain parquet that is an O(table) rewrite — exactly the cost the
reference paid on every load; on a Delta/Iceberg table the same call
becomes a metadata-managed ``UPDATE``/``MERGE`` and this module is the
single place to swap that in.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .ingest import INGESTION_DATE_COL


def ensure_ingestion_date_column(spark: SparkSession, table: str) -> bool:
    """ADD COLUMN Ingestion_date DATE if absent
    (big_uery_handler.py:173-181).  Returns True if added."""
    if INGESTION_DATE_COL in spark.table(table).columns:
        return False
    spark.sql(
        f"ALTER TABLE {table} ADD COLUMNS ({INGESTION_DATE_COL} DATE)"
    )
    return True


def set_ingestion_date_where_null(
    spark: SparkSession, table: str, run_date: date | None = None
) -> int:
    """UPDATE ... WHERE Ingestion_date IS NULL
    (big_uery_handler.py:183-194), as read-coalesce-overwrite.
    Returns the number of rows updated."""
    ensure_ingestion_date_column(spark, table)
    df = spark.table(table)
    n_null = df.filter(F.col(INGESTION_DATE_COL).isNull()).count()
    if n_null == 0:
        return 0
    d = F.lit(str(run_date)).cast("date") if run_date else F.current_date()
    updated = df.withColumn(
        INGESTION_DATE_COL, F.coalesce(F.col(INGESTION_DATE_COL), d)
    )
    # break lineage before overwriting the table being read
    updated.localCheckpoint(eager=True).write.mode("overwrite").saveAsTable(
        f"{table}__rewrite"
    )
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {table}__rewrite RENAME TO {table}")
    return n_null


def set_ingestion_date_where_null_tx(
    spark: SparkSession, root: str, run_date: date | None = None
) -> int:
    """The same UPDATE against a transaction-log table
    (sources/txtable.py): only the parquet files that actually contain
    NULL Ingestion_date rows are rewritten; every other file carries
    into the new snapshot by reference, and the commit is atomic.
    O(affected files) instead of O(table) — on a 100 TB table where
    only the last batch is unstamped, this touches one commit's worth
    of files — the self-contained equivalent of ``DeltaTable.update``."""
    from .txtable import TxTable

    t = TxTable(spark, root)
    d = F.lit(str(run_date)).cast("date") if run_date else F.current_date()
    return t.update(
        F.col(INGESTION_DATE_COL).isNull(), {INGESTION_DATE_COL: d}
    )
