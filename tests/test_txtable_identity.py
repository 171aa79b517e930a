"""Identity columns (r12, VERDICT r11 #5 — Delta GENERATED ALWAYS AS
IDENTITY parity): create-time spec, shuffle-free monotone assignment
from a manifest high-watermark, ALWAYS-semantics refusals, and
watermark continuity across restore/clone."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
    TxConflictError,
    TxTable,
)


def _df(spark, lo, hi, v="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v")
    )


def test_create_and_append_assign_dense_monotone_ids(spark, tmp_path):
    t = TxTable.create(
        spark, str(tmp_path / "t"), _df(spark, 0, 100), identity="row_id"
    )
    assert t.snapshot().identity == {
        "col": "row_id",
        "start": 1,
        "step": 1,
        "next": 101,
    }
    assert t.read().columns[0] == "row_id"
    assert sorted(r.row_id for r in t.read().collect()) == list(
        range(1, 101)
    )
    # each append takes the next contiguous block; ids are unique
    t.append(_df(spark, 100, 150, "b").repartition(7))
    t.append(_df(spark, 150, 160, "c"))
    assert sorted(r.row_id for r in t.read().collect()) == list(
        range(1, 161)
    )
    # the id block maps 1:1 onto the batch (no dropped/dup rows)
    got = {
        (r.k, r.v)
        for r in t.read().filter(F.col("row_id") > 150).collect()
    }
    assert got == {(k, "c") for k in range(150, 160)}


def test_custom_start_step_and_negative_step(spark, tmp_path):
    t = TxTable.create(
        spark,
        str(tmp_path / "a"),
        _df(spark, 0, 5),
        identity={"col": "sk", "start": 100, "step": 10},
    )
    assert sorted(r.sk for r in t.read().collect()) == [
        100,
        110,
        120,
        130,
        140,
    ]
    d = TxTable.create(
        spark,
        str(tmp_path / "b"),
        _df(spark, 0, 3),
        identity={"col": "sk", "start": -1, "step": -1},
    )
    assert sorted(r.sk for r in d.read().collect()) == [-3, -2, -1]
    assert d.snapshot().identity["next"] == -4


def test_always_semantics_refusals(spark, tmp_path):
    with pytest.raises(ValueError, match="ALWAYS"):
        TxTable.create(
            spark,
            str(tmp_path / "x"),
            _df(spark, 0, 5).withColumn("row_id", F.lit(0)),
            identity="row_id",
        )
    t = TxTable.create(
        spark, str(tmp_path / "t"), _df(spark, 0, 5), identity="row_id"
    )
    with pytest.raises(ValueError, match="ALWAYS"):
        t.append(t.read().limit(1))
    with pytest.raises(ValueError, match="identity"):
        t.update(F.col("k") == 1, {"row_id": F.lit(999)})
    # the DV and range update spellings must refuse identically
    # (ADVICE r12: update_dv silently rewrote GENERATED ALWAYS ids)
    with pytest.raises(ValueError, match="identity"):
        t.update_dv(F.col("k") == 1, {"row_id": F.lit(999)})
    with pytest.raises(ValueError, match="identity"):
        t.update_range("k", 0, 2, {"row_id": F.lit(999)})
    with pytest.raises(ValueError, match="identity"):
        t.upsert(_df(spark, 0, 1), "k")
    with pytest.raises(ValueError, match="identity"):
        t.merge(_df(spark, 0, 1), on="k")
    with pytest.raises(ValueError, match="identity"):
        t.replace_where(_df(spark, 0, 1), "k < 1")
    with pytest.raises(ValueError, match="identity"):
        t.rename_column("row_id", "rid")
    with pytest.raises(ValueError, match="identity"):
        t.drop_column("row_id")
    with pytest.raises(ValueError, match="non-zero"):
        TxTable.create(
            spark,
            str(tmp_path / "z"),
            _df(spark, 0, 5),
            identity={"col": "sk", "step": 0},
        )


def test_rejected_identity_append_releases_pin(spark, tmp_path):
    # a constraint rejection AFTER _assign_identity must unpersist the
    # pinned frame (ADVICE r12: the leak lived between assignment and
    # the old try/finally around _write_data)
    t = TxTable.create(
        spark, str(tmp_path / "t"), _df(spark, 0, 5), identity="row_id"
    )
    t.add_constraint("k_pos", "k >= 0")
    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    with pytest.raises(Exception):
        t.append(_df(spark, -5, 5))  # violates k_pos after assignment
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_after == n_before
    # and a schema mismatch (checked post-assignment too)
    with pytest.raises(Exception):
        t.append(_df(spark, 0, 3).withColumnRenamed("v", "nope"))
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == n_before


def test_update_delete_preserve_assigned_ids(spark, tmp_path):
    t = TxTable.create(
        spark, str(tmp_path / "t"), _df(spark, 0, 50), identity="row_id"
    )
    before = {r.k: r.row_id for r in t.read().collect()}
    t.update(F.col("k") == 5, {"v": F.lit("UPD")})
    t.delete(F.col("k") == 7)
    after = {r.k: r.row_id for r in t.read().collect()}
    assert after == {k: v for k, v in before.items() if k != 7}
    assert t.read().filter(F.col("k") == 5).first().v == "UPD"


def test_restore_and_clone_keep_watermark_monotone(spark, tmp_path):
    t = TxTable.create(
        spark, str(tmp_path / "t"), _df(spark, 0, 10), identity="row_id"
    )
    t.append(_df(spark, 10, 30, "b"))
    wm = t.snapshot().identity["next"]
    assert wm == 31
    t.restore(1)
    # the head's watermark survives the restore: restored-away ids are
    # never reassigned
    assert t.snapshot().identity["next"] == wm
    t.append(_df(spark, 50, 55, "c"))
    new_ids = sorted(
        r.row_id for r in t.read().filter(F.col("k") >= 50).collect()
    )
    assert new_ids == list(range(wm, wm + 5))
    c = t.clone_to(str(tmp_path / "c"))
    assert c.snapshot().identity["next"] == wm + 5
    c.append(_df(spark, 90, 92, "d"))
    cids = sorted(
        r.row_id for r in c.read().filter(F.col("k") >= 90).collect()
    )
    assert cids == [wm + 5, wm + 6]
    shutil.rmtree(str(tmp_path / "c"))


def test_identity_composes_with_partition_and_constraints(spark, tmp_path):
    pdf = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        F.lit("x").alias("v"),
    )
    t = TxTable.create(
        spark,
        str(tmp_path / "t"),
        pdf,
        identity="rid",
        partition_by=["p"],
    )
    assert sorted(r.rid for r in t.read().collect()) == list(range(1, 61))
    assert all("__txp_p=" in f for f in t.snapshot().files)
    t.add_constraint("rid_pos", "rid > 0")
    t.append(
        spark.range(60, 70).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("p"),
            F.lit("y").alias("v"),
        )
    )
    assert t.read().count() == 70


def test_concurrent_identity_appends_never_collide(spark, tmp_path):
    """Two handles appending concurrently: the loser of the manifest
    race surfaces TxConflictError (ids are not commuting), and a
    re-invoke assigns a fresh block — never duplicates."""
    root = str(tmp_path / "t")
    t1 = TxTable.create(spark, root, _df(spark, 0, 10), identity="row_id")
    t2 = TxTable(spark, root)
    base1 = t1.snapshot()

    # t2 wins the race; t1's staged commit must not land stale ids
    t2.append(_df(spark, 10, 20, "b"))
    with pytest.raises(TxConflictError):
        # replay t1's commit against its stale base
        t1._commit(list(base1.files), "append", base1)
    # the sanctioned path: re-invoke against the fresh head
    t1.append(_df(spark, 20, 25, "c"))
    ids = [r.row_id for r in t1.read().collect()]
    assert len(ids) == len(set(ids)) == 25
    assert sorted(ids) == list(range(1, 26))


def test_identity_sink_guard_refuses(spark, tmp_path):
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        _sink_guards,
    )

    t = TxTable.create(
        spark, str(tmp_path / "t"), _df(spark, 0, 5), identity="row_id"
    )
    with pytest.raises(ValueError, match="identity"):
        _sink_guards(t.snapshot(), t.read().drop("row_id").schema, "append")


def test_streaming_prepared_sink_assigns_ids_exactly_once(
    spark, tmp_path
):
    """txtable_sink_prepared into an identity+partitioned table: the
    engine-assisted append assigns watermark ids per micro-batch and
    the content-fingerprint txn makes checkpoint-loss replay no-op
    BEFORE any watermark is burned — ids stay dense and unique."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.sinks import (
        txtable_sink_prepared,
    )

    root = str(tmp_path / "t")
    landing = str(tmp_path / "landing")
    base_df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("p"),
        F.lit("seed").alias("v"),
    )
    t = TxTable.create(
        spark, root, base_df, identity="row_id", partition_by=["p"]
    )
    inc = spark.range(40, 70).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("p"),
        F.lit("inc").alias("v"),
    )
    inc.coalesce(1).write.parquet(landing)

    def drain(chk):
        q = txtable_sink_prepared(
            spark.readStream.schema(inc.schema).parquet(landing),
            spark,
            root,
            str(tmp_path / chk),
        )
        assert q.awaitTermination(300)

    drain("chk1")
    v1 = t.snapshot().version
    wm1 = t.snapshot().identity["next"]
    drain("chk2")  # checkpoint loss: same content replays
    assert t.snapshot().version == v1, "replay must no-op"
    assert t.snapshot().identity["next"] == wm1, "replay burned ids"
    ids = [r.row_id for r in t.read().collect()]
    assert sorted(ids) == list(range(1, 71))
    assert all("__txp_p=" in f for f in t.snapshot().files)
