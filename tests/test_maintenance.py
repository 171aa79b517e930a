"""At-rest Annotate on a lead table (R12/R13 literal form), config,
error hook."""

from __future__ import annotations

from datetime import date

from pyspark.sql import Row

from etl_pipeline_fresh_picked_leads_spark.config import load_config
from etl_pipeline_fresh_picked_leads_spark.errors import (
    log_exception,
    register_reporter,
)
from etl_pipeline_fresh_picked_leads_spark.sources.catalog import table_root
from etl_pipeline_fresh_picked_leads_spark.sources.maintenance import (
    ensure_ingestion_date_column,
    set_ingestion_date_where_null,
)
from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable


def test_update_where_null_at_rest(spark):
    TxTable.create(
        spark,
        table_root(spark, "maint_t"),
        spark.createDataFrame([Row(k=1), Row(k=2), Row(k=3)]),
    )
    # ADD COLUMN (big_uery_handler.py:173-181)
    assert ensure_ingestion_date_column(spark, "maint_t") is True
    assert ensure_ingestion_date_column(spark, "maint_t") is False
    # UPDATE ... WHERE Ingestion_date IS NULL (:183-194)
    n = set_ingestion_date_where_null(spark, "maint_t", date(2024, 6, 1))
    assert n == 3
    rows = spark.table("maint_t").collect()
    assert all(r.Ingestion_date == date(2024, 6, 1) for r in rows)
    # idempotent: second run updates nothing (only NULLs are touched)
    assert set_ingestion_date_where_null(spark, "maint_t", date(2025, 1, 1)) == 0
    assert all(
        r.Ingestion_date == date(2024, 6, 1)
        for r in spark.table("maint_t").collect()
    )


def test_config_from_env(monkeypatch):
    monkeypatch.setenv("FPL_LANDING_DIR", "/data/in")
    cfg = load_config()
    assert cfg.landing_dir == "/data/in"
    assert cfg.error_webhook is None


def test_error_hook_never_raises():
    seen = []
    register_reporter(lambda exc, ctx: seen.append((str(exc), ctx)))
    register_reporter(lambda exc, ctx: 1 / 0)  # broken reporter ignored
    log_exception(ValueError("boom"), context="unit")
    assert seen == [("boom", "unit")]


def test_ml_lsh_variant_agrees_with_custom(spark):
    from conftest import SF_MEDIUM

    from etl_pipeline_fresh_picked_leads_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_ml,
    )
    from etl_pipeline_fresh_picked_leads_spark.sources.readers import read_table

    docs = read_table(spark, SF_MEDIUM, "documents")
    custom = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_lsh_pairs(docs, 0.5).collect()
    }
    ml = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_lsh_pairs_ml(docs, 0.5).collect()
    }
    # the high-similarity core must be found by both families
    assert custom and ml
    overlap = len(custom & ml) / max(len(custom), 1)
    assert overlap >= 0.8, (len(custom), len(ml), overlap)
