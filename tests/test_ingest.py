"""Reconciliation-engine tests — every branch of the reference's load
path (/root/reference/big_uery_handler.py:32-42,124-194; SURVEY §5.2
item 2/3).
"""

from __future__ import annotations

import os
from datetime import date
from decimal import Decimal

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from etl_pipeline_fresh_picked_leads_spark.sources.ingest import (
    CAST_TARGETS,
    ingest_directory,
    reconcile,
    spark_type_for,
    stamp_ingestion_date,
    table_name_for_file,
)


def test_type_map_covers_reference_targets():
    # big_uery_handler.py:14-29 — every reference type resolves
    for t in [
        "STRING", "BOOL", "BOOLEAN", "INT64", "INTEGER", "FLOAT64",
        "FLOAT", "NUMERIC", "BIGNUMERIC", "DATE", "DATETIME",
        "TIMESTAMP", "TIME", "GEOGRAPHY",
    ]:
        assert t in CAST_TARGETS
    assert isinstance(spark_type_for("INT64"), LongType)
    assert isinstance(spark_type_for("NUMERIC"), DecimalType)
    # unknown types fall back to STRING (big_uery_handler.py:37)
    assert isinstance(spark_type_for("SOME_FUTURE_TYPE"), StringType)
    assert spark_type_for("numeric") == DecimalType(38, 9)


def test_reconcile_all_branches(spark):
    raw = spark.createDataFrame(
        [
            Row(b="1.5", a="7", extra="x", d="2024-01-02"),
            Row(b="oops", a="not_int", extra="y", d="bad-date"),
        ]
    )
    target = StructType(
        [
            StructField("a", LongType()),       # matched, retyped str->long
            StructField("b", DoubleType()),     # matched, retyped str->double
            StructField("c", StringType()),     # missing from input -> NULL
            StructField("d", DateType()),       # matched, str->date
        ]
    )
    out = reconcile(raw, target)
    # target order, extra column dropped (big_uery_handler.py:147-156)
    assert out.columns == ["a", "b", "c", "d"]
    rows = {r.a: r for r in out.collect()}
    assert rows[7].b == 1.5 and rows[7].d == date(2024, 1, 2)
    bad = rows[None]
    # SAFE_CAST: dirty values become NULL, never raise (:32-42)
    assert bad.b is None and bad.d is None
    assert all(r.c is None for r in rows.values())


def test_reconcile_case_insensitive_match(spark):
    raw = spark.createDataFrame([Row(LEAD_ID="5", Email="x@y.z")])
    target = StructType(
        [StructField("lead_id", LongType()), StructField("email", StringType())]
    )
    rows = reconcile(raw, target).collect()
    assert rows[0].lead_id == 5 and rows[0].email == "x@y.z"


@pytest.mark.parametrize(
    "value,type_name,expected",
    [
        ("true", "BOOL", True),
        ("maybe", "BOOLEAN", None),
        ("42", "INT64", 42),
        ("4.2e1", "FLOAT64", 42.0),
        ("abc", "INTEGER", None),
        ("2020-02-29", "DATE", date(2020, 2, 29)),
        ("2020-13-01", "DATE", None),
        ("12.345678901", "NUMERIC", Decimal("12.345678901")),
        ("n/a", "NUMERIC", None),
        ("anything", "GEOGRAPHY", "anything"),
        ("23:59:59", "TIME", "23:59:59"),
    ],
)
def test_safe_cast_per_type(spark, value, type_name, expected):
    raw = spark.createDataFrame([Row(v=value)])
    target = StructType([StructField("v", spark_type_for(type_name))])
    got = reconcile(raw, target).collect()[0].v
    assert got == expected


def test_safe_cast_temporal_types(spark):
    raw = spark.createDataFrame(
        [Row(dt="2024-03-01T12:30:00", bad="nope")]
    )
    target = StructType(
        [
            StructField("dt", TimestampNTZType()),
            StructField("bad", TimestampType()),
        ]
    )
    row = reconcile(raw, target).collect()[0]
    assert row.dt is not None and row.bad is None


def test_stamp_preserves_existing_dates(spark):
    df = spark.createDataFrame(
        [Row(k=1, Ingestion_date=date(2020, 1, 1)), Row(k=2, Ingestion_date=None)]
    )
    out = {
        r.k: r.Ingestion_date
        for r in stamp_ingestion_date(df, date(2024, 6, 1)).collect()
    }
    # big_uery_handler.py:183-194 — only NULLs get the run date
    assert out[1] == date(2020, 1, 1) and out[2] == date(2024, 6, 1)


def test_table_name_mapping():
    # big_uery_handler.py:74-75
    assert table_name_for_file("/tmp/x/Leads_Export.CSV") == "leads_export"


def _write(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)


def test_ingest_directory_end_to_end(spark, tmp_path):
    landing = str(tmp_path)
    # batch 1: clean -> creates table with inferred schema (:108-122)
    _write(
        os.path.join(landing, "leads_e2e.csv"),
        "lead_id,email,est_value,is_qualified,created_date\n"
        "1,a@x.com,10.5,true,2024-01-01\n"
        "2,b@y.com,20.25,false,2024-01-02\n",
    )
    r1 = ingest_directory(spark, landing, run_date=date(2024, 6, 1))
    assert r1.loaded == ["leads_e2e.csv"] and not r1.failed

    # batch 2: dirty + missing col + extra col + reordered (:124-165)
    _write(
        os.path.join(landing, "leads_e2e.csv"),
        "utm,is_qualified,lead_id,email,created_date\n"
        "c1,maybe,abc,c@z.com,2024-02-01\n"
        "c2,true,4,d@w.com,13/45/2020\n",
    )
    r2 = ingest_directory(spark, landing, run_date=date(2024, 6, 2))
    assert r2.loaded == ["leads_e2e.csv"] and not r2.failed

    t = spark.table("leads_e2e")
    assert t.columns == [
        "lead_id", "email", "est_value", "is_qualified", "created_date",
        "Ingestion_date",
    ]
    rows = {r.email: r for r in t.collect()}
    assert len(rows) == 4
    assert rows["c@z.com"].lead_id is None          # "abc" -> NULL
    assert rows["c@z.com"].is_qualified is None     # "maybe" -> NULL
    assert rows["c@z.com"].est_value is None        # missing col -> NULL
    assert rows["d@w.com"].created_date is None     # bad date -> NULL
    assert rows["d@w.com"].lead_id == 4
    assert "utm" not in t.columns                   # extra col dropped
    assert all(r.Ingestion_date is not None for r in rows.values())
    assert rows["a@x.com"].Ingestion_date == date(2024, 6, 1)
    assert rows["c@z.com"].Ingestion_date == date(2024, 6, 2)
    # both batches archived, no overwrite of same-named file
    processed = sorted(os.listdir(os.path.join(landing, "processed")))
    assert processed == ["leads_e2e.csv", "leads_e2e.csv.1"]


def test_ingest_quoted_and_unicode_csv(spark, tmp_path):
    """Quoted fields with embedded commas/newlines and non-ASCII text
    survive the inference load and a reconciled append untouched."""
    landing = str(tmp_path)
    _write(
        os.path.join(landing, "messy_t.csv"),
        'id,note,city\n'
        '1,"hello, world","München"\n'
        '2,"line one\nline two","São Paulo"\n',
    )
    r = ingest_directory(spark, landing)
    assert r.loaded == ["messy_t.csv"] and not r.failed
    rows = {r.id: r for r in spark.table("messy_t").collect()}
    assert rows[1].note == "hello, world" and rows[1].city == "München"
    assert rows[2].note == "line one\nline two"
    # second batch appends through reconciliation, keeping unicode
    _write(
        os.path.join(landing, "messy_t.csv"),
        'city,id,note\n"Zürich",3,"ok"\n',
    )
    r2 = ingest_directory(spark, landing)
    assert r2.loaded == ["messy_t.csv"]
    rows = {r.id: r for r in spark.table("messy_t").collect()}
    assert rows[3].city == "Zürich"


def test_ingest_header_only_csv(spark, tmp_path):
    # FIXTURES.md B3: header-only file loads without crashing
    _write(os.path.join(str(tmp_path), "empty_t.csv"), "a,b,c\n")
    r = ingest_directory(spark, str(tmp_path))
    assert r.loaded == ["empty_t.csv"] and not r.failed
    assert spark.table("empty_t").count() == 0


def test_ingest_ledger_exactly_once(spark, tmp_path):
    """Re-landing identical bytes for the same table is a no-op — the
    table's transaction log is the ledger (each load's txn tag is its
    file's checksum), so exactly-once holds across reruns with nothing
    to attach."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    content = "k,v\n1,a\n2,b\n"
    _write(os.path.join(landing, "ledg_t.csv"), content)
    r1 = ingest_directory(spark, landing)
    assert r1.loaded == ["ledg_t.csv"] and not r1.skipped
    assert spark.table("ledg_t").count() == 2

    # same bytes re-landed under the same name: skipped, no reload
    _write(os.path.join(landing, "ledg_t.csv"), content)
    r2 = ingest_directory(spark, landing)
    assert r2.skipped == ["ledg_t.csv"] and not r2.loaded
    assert spark.table("ledg_t").count() == 2  # unchanged

    # genuinely new bytes load normally
    _write(os.path.join(landing, "ledg_t.csv"), "k,v\n3,c\n")
    r3 = ingest_directory(spark, landing)
    assert r3.loaded == ["ledg_t.csv"]
    assert spark.table("ledg_t").count() == 3

    # exactly-once is per table: the same bytes under another stem
    # load into that other table
    _write(os.path.join(landing, "ledg_t_copy.csv"), content)
    r4 = ingest_directory(spark, landing)
    assert r4.loaded == ["ledg_t_copy.csv"]
    assert spark.table("ledg_t_copy").count() == 2


def test_ingest_error_isolation(spark, tmp_path):
    # big_uery_handler.py:78-83 — one bad file doesn't stop the run
    landing = str(tmp_path)
    _write(os.path.join(landing, "good_t.csv"), "x,y\n1,2\n")
    os.mkdir(os.path.join(landing, "bad_t.csv"))  # unreadable "file"
    r = ingest_directory(spark, landing, archive=False)
    assert "good_t.csv" in r.loaded
    assert "bad_t.csv" in r.failed
    assert spark.table("good_t").count() == 1


def test_ingest_parallel_multi_table(spark, tmp_path):
    """N files for N tables load concurrently (table-grouped thread
    pool) with per-file isolation preserved — one bad file fails alone
    while the others land."""
    landing = str(tmp_path)
    for i in range(6):
        _write(os.path.join(landing, f"par_t{i}.csv"), f"k,v\n{i},x{i}\n")
    os.mkdir(os.path.join(landing, "par_bad.csv"))  # unreadable "file"
    r = ingest_directory(spark, landing, archive=False, max_workers=4)
    assert sorted(r.loaded) == [f"par_t{i}.csv" for i in range(6)]
    assert list(r.failed) == ["par_bad.csv"]
    for i in range(6):
        assert spark.table(f"par_t{i}").count() == 1


def test_ingest_crash_before_archive_is_skipped(spark, tmp_path):
    """A crash between a file's commit and its archive (the file was
    loaded but is still in landing) reloads nothing on the rerun: the
    file is reported skipped and archived, with no operator step."""
    from etl_pipeline_fresh_picked_leads_spark.sources.ingest import ingest_csv

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    path = os.path.join(landing, "pend_t.csv")
    _write(path, "k,v\n1,a\n")
    assert ingest_csv(spark, path) is True  # committed, never archived
    assert spark.table("pend_t").count() == 1
    spark.catalog.dropTempView("pend_t")  # the rerun is a fresh process
    r = ingest_directory(spark, landing)
    assert r.skipped == ["pend_t.csv"] and not r.loaded and not r.failed
    assert spark.table("pend_t").count() == 1
    assert os.listdir(os.path.join(landing, "processed")) == ["pend_t.csv"]


def test_ingest_refuses_root_without_log(spark, tmp_path):
    """A table root that holds files but no transaction log (a table
    written some other way) fails that file's load, naming the
    directory, and its rows stay where they were."""
    from etl_pipeline_fresh_picked_leads_spark.sources.catalog import table_root

    root = table_root(spark, "legacy_t")
    spark.range(3).write.parquet(root)
    landing = str(tmp_path)
    _write(os.path.join(landing, "legacy_t.csv"), "id\n7\n")
    r = ingest_directory(spark, landing, archive=False)
    assert not r.loaded and root in r.failed["legacy_t.csv"]
    assert spark.read.parquet(root).count() == 3


def test_reconciled_append_reads_widened_integer(spark, tmp_path):
    """Every load infers its types before reconciling: ``"123.0"``
    landing in a BIGINT column infers as a double and try_casts to
    123, the reference's SAFE_CAST from autodetected staging types."""
    landing = str(tmp_path)
    _write(os.path.join(landing, "wide_t.csv"), "id,employees\n1,5000000000\n")
    assert ingest_directory(spark, landing).loaded == ["wide_t.csv"]
    assert dict(spark.table("wide_t").dtypes)["employees"] == "bigint"
    _write(os.path.join(landing, "wide_t.csv"), "id,employees\n2,123.0\n")
    assert ingest_directory(spark, landing).loaded == ["wide_t.csv"]
    got = {r.id: r.employees for r in spark.table("wide_t").collect()}
    assert got == {1: 5000000000, 2: 123}


_NEXT_DAY = """
import sys
sys.path.insert(0, sys.argv[1])
from etl_pipeline_fresh_picked_leads_spark.session import build_session
from etl_pipeline_fresh_picked_leads_spark.sources.ingest import ingest_directory

spark = build_session(
    app_name="fpl-next-day", master="local[1]", shuffle_partitions="1",
    extra_conf={"spark.sql.warehouse.dir": sys.argv[2],
                "spark.ui.enabled": "false"},
)
try:
    r = ingest_directory(spark, sys.argv[3])
    print("RESULT", r.loaded, r.failed, flush=True)
    print("ROWS", spark.table("fresh_t").count())
finally:
    spark.stop()
"""


def test_ingest_next_day_in_fresh_process(spark, tmp_path):
    """The daily batch: day 1 loads in this process, day 2 loads the
    same table from a fresh process pointed at the same warehouse —
    the table is found through its transaction log, not the session
    catalog, and both days' rows read by name."""
    import subprocess
    import sys

    from etl_pipeline_fresh_picked_leads_spark.sources.catalog import register_view

    day1, day2 = str(tmp_path / "day1"), str(tmp_path / "day2")
    os.makedirs(day1)
    os.makedirs(day2)
    _write(os.path.join(day1, "fresh_t.csv"), "k,v\n1,a\n2,b\n")
    _write(os.path.join(day2, "fresh_t.csv"), "v,k\nc,3\n")
    assert ingest_directory(spark, day1).loaded == ["fresh_t.csv"]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = spark.conf.get("spark.sql.warehouse.dir")
    child = subprocess.run(
        [sys.executable, "-c", _NEXT_DAY, repo, wh, day2],
        capture_output=True, text=True, timeout=300,
    )
    assert "RESULT ['fresh_t.csv'] {}\n" in child.stdout, child.stdout
    assert "ROWS 3\n" in child.stdout, child.stderr[-2000:]
    assert child.returncode == 0, child.stderr[-2000:]
    register_view(spark, "fresh_t")  # this session's view predates day 2
    got = sorted((r.k, r.v) for r in spark.table("fresh_t").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
