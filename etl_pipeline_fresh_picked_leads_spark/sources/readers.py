"""File readers.

Reference parity: the reference reads CSVs with a header row and
autodetected schema (/root/reference/big_uery_handler.py:110-118) from
a landing directory (:68-79).  Spark equivalents below; parquet is the
engine's native interchange/storage format (columnar, splittable,
predicate-pushdown-friendly — the right choice at 100 TB where CSV
scan cost dominates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns stored as parquet TIMESTAMP(NANOS), unrepresentable in
# Spark: read as raw nanos (spark.sql.legacy.parquet.nanosAsLong) and
# truncate to microsecond timestamps — the same ns->us truncation
# DuckDB applies on read, so both engines see identical values.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one of the standard tables as parquet.

    Plain ``spark.read.parquet``: Catalyst handles column pruning and
    predicate pushdown into the scan, so callers should filter/select
    on the returned DataFrame rather than pre-materializing.
    """
    from ..session import ensure_engine_confs

    ensure_engine_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in _NANOS_TS_COLS.get(name, ()):
        if col in df.columns and dict(df.dtypes).get(col) == "bigint":
            # integer div (not /, which goes through double and loses
            # precision above 2^53 ns) then micros -> timestamp; cast
            # to NTZ to match how Spark reads the other parquet
            # timestamps (isAdjustedToUTC=false -> TimestampNTZ)
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every standard table as a temp view so the entire
    engine surface is reachable from plain ``spark.sql(...)`` — the
    SQL-first entry point a BigQuery-habituated user of the reference
    expects."""
    registered = []
    for name in TABLES:
        p = table_path(sf_dir, name)
        if os.path.exists(p):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)
            registered.append(name)
    return registered


def read_json_inferred(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines scan with schema inference — same autodetect
    contract as the CSV reader (big_uery_handler.py:113 pattern) for
    the third common interchange format."""
    return spark.read.json(path)


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan with header + schema inference.

    Mirrors the reference's autodetect load
    (/root/reference/big_uery_handler.py:110-118: ``skip_leading_rows=1,
    autodetect=True``).  Ingest (ingest.py) infers on EVERY load, then
    reconciles an existing table's load to its stored schema: the
    reference SAFE_CASTs from autodetected staging types
    (:124-136), so ``"123.0"`` landing in a BIGINT column reads back
    123 (inferred double -> bigint), where a header-plus-string read
    would turn it into NULL.  Inference costs an extra pass over the
    file.

    ``multiLine`` matches BigQuery's handling of quoted embedded
    newlines (allow_quoted_newlines).  Tradeoff: a multiLine CSV file
    is not splittable — one task per file.  That matches the ingest
    shape (many daily files), and bulk analytics reads parquet, where
    splitting is structural.
    """
    return (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
