"""Ingestion engine: schema reconciliation + ingestion-date stamping.

This replicates the reference's complete computation semantics
(/root/reference/big_uery_handler.py):

- type-target map ``_CAST_TARGETS`` (:14-29) -> ``CAST_TARGETS``
- SAFE_CAST projection ``_safe_cast_expr`` (:32-42) -> ``try_cast``
  (bad values become NULL, never fail the load)
- append-via-staging reconciliation (:124-165): matched columns
  try_cast to the target type, target columns missing from the input
  NULL-filled, input-only columns silently dropped, output in target
  column order
- Ingestion_date maintenance (:173-194): ensure a DATE column exists
  and every row has it set

Deliberate deviations from the reference (documented in SURVEY.md
section 4.2 — these are scale/correctness fixes, not semantic drift):

- No materialized staging table: Spark pipelines the cast-projection
  straight into the append write, so the reference's extra full
  write+read of each batch (:126-136) disappears.
- Ingestion_date is stamped at write time (O(batch)) instead of a
  post-load full-table ``UPDATE ... WHERE Ingestion_date IS NULL``
  (:188-193, O(table) per batch — unusable at 100 TB).  Visible result
  is identical because the reference's UPDATE only touches NULLs.
- Files are moved to processed/ or failed/ instead of deleted even on
  failure (:84-89 deletes in ``finally`` — a data-loss bug we do not
  replicate).
- Exactly-once per table and content: each lead table is a TxTable
  (sources/catalog.py), and a file's load is ONE commit tagged with
  the sha256 of its bytes, so the load and its "already loaded" record
  are the same atomic manifest link.  Re-landed bytes are skipped; a
  crash before the file is archived reloads nothing.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from .catalog import lead_table, register_view, table_exists, table_schema
from .readers import read_csv_inferred
from .txtable import _DATA_DIR, _LOG_DIR

INGESTION_DATE_COL = "Ingestion_date"

# Reference _CAST_TARGETS (big_uery_handler.py:14-29) mapped to Spark
# types per SURVEY.md section 1.3.  Unknown types fall back to STRING
# (big_uery_handler.py:37).  Known narrowings: BIGNUMERIC (76,38) ->
# Decimal(38,18) (Spark max precision is 38); TIME and GEOGRAPHY have
# no Spark type and are carried as strings (HH:mm:ss / WKT).
CAST_TARGETS: dict[str, DataType] = {
    "STRING": StringType(),
    "BOOL": BooleanType(),
    "BOOLEAN": BooleanType(),
    "INT64": LongType(),
    "INTEGER": LongType(),
    "FLOAT64": DoubleType(),
    "FLOAT": DoubleType(),
    "NUMERIC": DecimalType(38, 9),
    "BIGNUMERIC": DecimalType(38, 18),
    "DATE": DateType(),
    "DATETIME": TimestampNTZType(),
    "TIMESTAMP": TimestampType(),
    "TIME": StringType(),
    "GEOGRAPHY": StringType(),
}


def spark_type_for(type_name: str) -> DataType:
    """Resolve a reference type name to a Spark type (default STRING,
    matching big_uery_handler.py:37)."""
    return CAST_TARGETS.get(type_name.upper(), StringType())


def reconcile(df: DataFrame, target: StructType) -> DataFrame:
    """Project ``df`` onto ``target``'s schema, reference-style
    (big_uery_handler.py:147-156):

    - column in both: ``try_cast`` to the target type (SAFE_CAST
      semantics, :32-42 — strings use a plain cast, which for Spark is
      the same total operation);
    - column only in target: NULL of the target type (:152-154);
    - column only in ``df``: dropped (select list iterates target
      columns only, :148);
    - output column order = target order (:147-156,159).

    Pure projection — Catalyst folds it into whatever read/write it is
    attached to; no shuffle, no materialization.
    """
    have = {f.name.lower(): f.name for f in df.schema.fields}
    cols = []
    for f in target.fields:
        src = have.get(f.name.lower())
        if src is None:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif isinstance(f.dataType, StringType):
            cols.append(F.col(src).cast("string").alias(f.name))
        else:
            c = F.col(src).try_cast(f.dataType)
            if isinstance(f.dataType, DateType):
                # BigQuery DATE is bounded to [0001-01-01, 9999-12-31];
                # Spark's try_cast happily parses '-1000' as year -1000.
                # Clamp to the reference's domain (out-of-range -> NULL,
                # the same answer BigQuery SAFE_CAST gives).
                c = F.when(
                    c.between(
                        F.lit("0001-01-01").cast("date"),
                        F.lit("9999-12-31").cast("date"),
                    ),
                    c,
                )
            elif isinstance(f.dataType, (TimestampType, TimestampNTZType)):
                lo = F.lit("0001-01-01 00:00:00").cast(f.dataType)
                hi = F.lit("9999-12-31 23:59:59.999999").cast(f.dataType)
                c = F.when(c.between(lo, hi), c)
            cols.append(c.alias(f.name))
    return df.select(*cols)


def stamp_ingestion_date(df: DataFrame, run_date: date | None = None) -> DataFrame:
    """Ensure every row carries a non-NULL Ingestion_date.

    Write-time form of the reference's ADD COLUMN + UPDATE pair
    (big_uery_handler.py:173-194): rows that already have a value keep
    it; NULL/missing rows get the run date.
    """
    d = F.lit(str(run_date)).cast("date") if run_date else F.current_date()
    if INGESTION_DATE_COL in df.columns:
        return df.withColumn(
            INGESTION_DATE_COL, F.coalesce(F.col(INGESTION_DATE_COL).cast("date"), d)
        )
    return df.withColumn(INGESTION_DATE_COL, d)


@dataclass
class IngestResult:
    """Per-run summary — the persistent cross-run record is each
    table's transaction log (a file's content checksum is its commit's
    txn tag), replacing the reference's delete-file-as-ledger
    (big_uery_handler.py:84-89)."""

    loaded: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    # populated by run_pipeline's post-load validator (pipeline.py):
    # {check_name: n_violations} for failed checks only
    dq_violations: dict[str, int] = field(default_factory=dict)


def file_checksum(path: str) -> str:
    """Content checksum (sha256) — identity of the *bytes*, so a
    re-landed copy of the same file is recognized."""
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def table_name_for_file(file_name: str) -> str:
    """File -> table name: stem, lower-cased
    (big_uery_handler.py:74-75)."""
    return os.path.splitext(os.path.basename(file_name))[0].lower()


def ingest_csv(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    run_date: date | None = None,
) -> bool:
    """Load one CSV into its lead table as ONE TxTable commit tagged
    ``txn=<sha256 of the file>``, reference-style
    (big_uery_handler.py:93-106):

    - table absent: autodetect-create (:104,108-122) — ``overwrite``
      of the uncreated root, the reference's WRITE_TRUNCATE create,
      committing data and tag as one version;
    - table present: reconcile to the head schema and ``append``
      (:97,124-165) — no staging table; the cast-select pipelines into
      the write;
    - either way, Ingestion_date ends up present and non-NULL
      (:173-194), stamped at write time.

    Returns False, reading nothing, when these bytes are already
    committed to the table.  Either way the by-name view is
    (re)registered, so a rerun's fresh process can read the table.  A
    root holding files but no transaction log (a table written some
    other way) is refused, never overwritten."""
    table = table or table_name_for_file(path)
    txn = file_checksum(path)
    t = lead_table(spark, table)
    exists = table_exists(spark, table)
    loaded = not (exists and t.has_txn(txn))
    if not exists and os.path.isdir(t.root) and (
        set(os.listdir(t.root)) - {_LOG_DIR, _DATA_DIR}
    ):
        raise FileExistsError(
            f"{t.root} holds files but no transaction log; move them "
            "out of the warehouse before loading this table"
        )
    if loaded:
        raw = read_csv_inferred(spark, path)
        if exists:
            target = table_schema(spark, table)
            df = stamp_ingestion_date(reconcile(raw, target), run_date)
            t.append(df, txn=txn)
        else:
            t.overwrite(stamp_ingestion_date(raw, run_date), txn=txn)
    register_view(spark, table)
    return loaded


def ingest_directory(
    spark: SparkSession,
    landing_dir: str,
    run_date: date | None = None,
    archive: bool = True,
    max_workers: int = 8,
) -> IngestResult:
    """Scan a landing directory and load every ``*.csv``
    (big_uery_handler.py:68-89), with per-file error isolation
    (:78-83).  Successful and skipped files move to processed/, failed
    files to failed/ (deviation from the reference's unconditional
    delete, :84-89).  A file whose bytes its table already committed
    is reported ``skipped`` — re-landed files, and a rerun after a
    crash between a load's commit and its archive, load nothing.

    Files are grouped by target table and tables load CONCURRENTLY
    (``max_workers`` driver threads, each submitting independent Spark
    jobs — the scheduler interleaves their stages across executors;
    the reference's one-at-a-time loop serialized cluster-wide I/O
    behind single-file reads).  Files of the SAME table stay
    sequential in name order: appends to one table must not race."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    result = IngestResult()
    lock = threading.Lock()

    def _archive(path: str, name: str, sub: str) -> None:
        dest = os.path.join(landing_dir, sub)
        os.makedirs(dest, exist_ok=True)
        target = os.path.join(dest, name)
        n = 1
        while os.path.exists(target):  # same name re-landed: keep both
            target = os.path.join(dest, f"{name}.{n}")
            n += 1
        shutil.move(path, target)

    def _load_one(table: str, name: str) -> None:
        path = os.path.join(landing_dir, name)
        try:
            loaded = ingest_csv(spark, path, table=table, run_date=run_date)
            with lock:
                (result.loaded if loaded else result.skipped).append(name)
            dest = "processed"
        except Exception as exc:  # noqa: BLE001 — per-file isolation (:78-83)
            with lock:
                result.failed[name] = str(exc)
            dest = "failed"
        if archive:
            _archive(path, name, dest)

    def _load_table(table: str, names: list[str]) -> None:
        for name in names:
            _load_one(table, name)

    by_table: dict[str, list[str]] = {}
    for name in sorted(os.listdir(landing_dir)):
        if name.lower().endswith(".csv"):
            by_table.setdefault(table_name_for_file(name), []).append(name)

    workers = max(1, min(max_workers, len(by_table)))
    if workers == 1:
        for table, names in by_table.items():
            _load_table(table, names)
    else:
        with ThreadPoolExecutor(workers) as pool:
            list(pool.map(_load_table, by_table.keys(), by_table.values()))
    result.loaded.sort()
    result.skipped.sort()
    return result
