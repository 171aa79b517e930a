"""Sources: readers, the lead-table catalog (name -> TxTable root),
reconciliation ingest, at-rest Annotate, the partitioned sink, and the
TxTable format."""

from .readers import (
    read_csv_inferred,
    read_json_inferred,
    read_table,
    register_tables,
    table_path,
)
from .catalog import table_exists, table_schema
from .ingest import (
    CAST_TARGETS,
    IngestResult,
    ingest_csv,
    ingest_directory,
    reconcile,
    spark_type_for,
    stamp_ingestion_date,
)
from .maintenance import (
    ensure_ingestion_date_column,
    set_ingestion_date_where_null,
)
from .sinks import (
    read_partition,
    write_partitioned,
)

__all__ = [
    "CAST_TARGETS",
    "IngestResult",
    "ensure_ingestion_date_column",
    "ingest_csv",
    "ingest_directory",
    "read_csv_inferred",
    "read_json_inferred",
    "read_partition",
    "read_table",
    "reconcile",
    "register_tables",
    "set_ingestion_date_where_null",
    "spark_type_for",
    "stamp_ingestion_date",
    "table_exists",
    "table_path",
    "table_schema",
    "write_partitioned",
]
