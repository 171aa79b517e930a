"""Date-partitioned table sink — the SURVEY §7 stage-6 layout
decision: tables partitioned by Ingestion_date so (a) each daily batch
is one new partition directory (append = O(batch), no
read-modify-write), and (b) date-ranged queries prune to the touched
partitions at planning time (PartitionFilters in the scan — asserted
in tests/test_plans.py).  At 100 TB this is the difference between
scanning a day and scanning a decade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .ingest import INGESTION_DATE_COL


def write_partitioned(
    df: DataFrame, table: str, partition_col: str = INGESTION_DATE_COL,
    mode: str = "append",
) -> None:
    """Date-partitioned table write: each ingest run lands as new
    partition directories; queries filtering on the partition column
    scan only those."""
    df.write.mode(mode).partitionBy(partition_col).saveAsTable(table)


def read_partition(
    spark: SparkSession, table: str, partition_col: str, value
) -> DataFrame:
    """Read one partition — planner prunes to its directory."""
    from pyspark.sql import functions as F

    return spark.table(table).filter(F.col(partition_col) == value)
