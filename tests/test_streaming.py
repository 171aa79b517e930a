"""Streaming invariants the batch oracle can't check: watermark
late-data exclusion via multi-file replay (FIXTURES.md B4), streaming
dedup, foreachBatch upsert (SURVEY §5.2 item 5).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from etl_pipeline_fresh_picked_leads_spark.streaming.dedup import dedup_by_id
from etl_pipeline_fresh_picked_leads_spark.streaming.runner import (
    run_available_now,
)
from etl_pipeline_fresh_picked_leads_spark.streaming.sinks import (
    foreach_batch_upsert,
)
from etl_pipeline_fresh_picked_leads_spark.streaming.windows import (
    watermarked_tumbling,
)


BASE_US = 1700000000_000000  # 2023-11-14 22:13:20 UTC, microseconds


@pytest.fixture()
def replay_dir(spark, tmp_path):
    """Two-stage replay for watermark semantics.  Late arrival is
    modeled the realistic way: run 1 sees the on-time stream (~4h of
    events), then the source gains a second file with newer events
    plus ancient stragglers and run 2 resumes from the same checkpoint
    — i.e. a restart, FIXTURES.md B4.  (Single-run multi-batch replay
    via maxFilesPerTrigger — honored under availableNow in Spark 4.1.2
    — is covered by tests/test_streaming_multibatch.py.)"""
    base = spark.range(0, 600).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.timestamp_micros(
            (F.lit(BASE_US) + F.col("id") * 30_000_000).cast("long")
        ).alias("ts"),
        (F.col("id") % 5.0).alias("value"),
    )
    d = str(tmp_path / "replay")
    os.makedirs(d)
    base.filter("event_id < 500").coalesce(1).write.mode("overwrite").parquet(
        d + "/b0"
    )
    late = spark.range(0, 5).select(
        (F.col("id") + 10_000).alias("event_id"),
        F.lit(0).cast("long").alias("user_id"),
        # ~83 h before the on-time data: far outside the 1h watermark
        F.timestamp_micros(F.lit(BASE_US - 300_000_000_000)).alias("ts"),
        F.lit(1.0).alias("value"),
    )
    base.filter("event_id >= 500").unionByName(late).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d + "/b1")

    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    staged = {}
    for i, sub in enumerate(["b0", "b1"]):
        for f in sorted(os.listdir(f"{d}/{sub}")):
            if f.endswith(".parquet"):
                staged[sub] = (f"{d}/{sub}/{f}", f"{flat}/batch{i}.parquet")
    shutil.copyfile(*staged["b0"])  # run 1 sees only the on-time file
    return {"dir": flat, "pending": staged["b1"]}


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def test_watermark_drops_late_rows(spark, replay_dir, tmp_path):
    """Rows arriving >1h behind the observed max ts must be excluded
    from their (already-finalized) windows across a checkpointed
    restart; finalized on-time windows are emitted exactly once."""
    import shutil

    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")

    def run():
        q = (
            watermarked_tumbling(
                _stream(spark, replay_dir["dir"]), "1 hour", "1 hour"
            )
            .writeStream.format("parquet")  # file sink: checkpoint-recoverable
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run()
    # watermark after run1 = (b0 max ts) - 1h -> b1's ancient rows are
    # hopelessly late when run2 resumes from the checkpoint
    shutil.copyfile(*replay_dir["pending"])
    run()
    emitted = [
        (r.window_start.replace(tzinfo=None), r.n_events)
        for r in spark.read.parquet(out).collect()
    ]

    # exactly-once: no window emitted twice across the restart
    assert len({w for w, _ in emitted}) == len(emitted)
    # the late stragglers' ancient window (5 rows ~83h early) never
    # appears, and nothing smaller than a real window leaked
    batch = (
        spark.read.parquet(replay_dir["dir"])
        .filter("event_id < 10000")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    batch_counts = {
        (r.w.start.replace(tzinfo=None), r.n) for r in batch.collect()
    }
    assert emitted, "finalized on-time windows should have been emitted"
    for ws, n in emitted:
        assert (ws, n) in batch_counts, (ws, n)
    ancient = min(w for w, _ in emitted)
    assert ancient.year == 2023 and ancient.month == 11 and ancient.day == 14


def test_streaming_dedup_two_batches(spark, replay_dir):
    """The same event_id arriving twice (within the watermark) must be
    dropped: replay the source twice via union."""
    s = _stream(spark, replay_dir["dir"])
    doubled = s.unionByName(_stream(spark, replay_dir["dir"]))
    out = run_available_now(
        dedup_by_id(doubled, lateness="200 hours"), spark, "append"
    )
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == len(set(ids))
    assert len(ids) == spark.read.parquet(replay_dir["dir"]).select(
        "event_id"
    ).distinct().count()


def test_foreach_batch_upsert_idempotent_merge(spark, replay_dir, tmp_path):
    """TxTable upsert: exactly one row per key and full stamping
    after the replay."""
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable

    target = str(tmp_path / "tbl")
    s = _stream(spark, replay_dir["dir"]).select(
        "event_id", "user_id", "ts", "value"
    )
    q = foreach_batch_upsert(s, spark, target, "event_id")
    assert q.awaitTermination(120)
    final = TxTable(spark, target).read()
    assert final.count() == final.select("event_id").distinct().count()
    assert final.filter(F.col("Ingestion_date").isNull()).count() == 0

