"""Partition spec on TxTable (r12, VERDICT r11 #3): declared at
CREATE, immutable, file-per-partition-value layout enforced by the
writer, partition pruning via the existing stats machinery, and
maintenance (compact/vacuum) scoped to one partition window."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )


def _mk(spark, tmp_path, **kw):
    root = str(tmp_path / "t")
    return TxTable.create(
        spark, root, _df(spark, 0, 300), partition_by=["p"], **kw
    )


def test_create_records_spec_and_single_valued_files(spark, tmp_path):
    t = _mk(spark, tmp_path, stats_cols=["k"])
    snap = t.snapshot()
    assert snap.partition_by == ("p",)
    assert snap.files and all("__txp_p=" in f for f in snap.files)
    # partition cols forced into stats: min == max tags each file
    assert all(
        s["min"]["p"] == s["max"]["p"] for s in snap.stats.values()
    )
    # the real column stays in the row data — reads untouched
    assert t.read().count() == 300
    assert {r.p for r in t.read().select("p").distinct().collect()} == {
        0,
        1,
        2,
    }


def test_append_and_mutations_keep_invariant(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 300, 400))
    t.delete(F.col("k") == 5)
    t.update(F.col("k") == 7, {"v": F.lit("UPD")})
    snap = t.snapshot()
    assert all("__txp_p=" in f for f in snap.files)
    # every file still single-valued on p (the layout invariant)
    per_file = (
        t.read()
        .withColumn("_fp", F.col("_metadata.file_path"))
        .groupBy("_fp")
        .agg(F.count_distinct("p").alias("nv"))
        .collect()
    )
    assert per_file and all(r.nv == 1 for r in per_file)
    assert t.read().count() == 399
    assert t.read().filter(F.col("k") == 7).first().v == "UPD"


def test_partition_pruned_reads_via_stats(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 300, 400))
    files = t.files_in_range("p", 1, 1)
    assert files and all("__txp_p=1" in f for f in files)
    assert len(files) < len(t.snapshot().files)
    got = sorted(r.k for r in t.read_range("p", 1, 1).collect())
    assert got == sorted(k for k in range(400) if k % 3 == 1)


def test_partitions_listing_metadata_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    parts = t.partitions()
    assert [p["p"] for p in parts] == ["0", "1", "2"]
    assert sum(p["n_rows"] for p in parts) == 300
    assert sum(p["n_files"] for p in parts) == len(t.snapshot().files)


def test_compact_scoped_to_one_partition(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 300, 400))
    before = t.snapshot()
    out_of_scope = [f for f in before.files if "__txp_p=1" not in f]
    t.compact(target_bytes=1 << 30, partition={"p": 1})
    after = t.snapshot()
    # out-of-scope files carry BY REFERENCE (same paths, not rewritten)
    assert set(out_of_scope) <= set(after.files)
    p1 = [f for f in after.files if "__txp_p=1" in f]
    assert len(p1) == 1  # coalesced
    assert t.read().count() == 400
    # unknown scope column refused
    with pytest.raises(ValueError, match="unknown partition"):
        t.compact(partition={"nope": 1})


def test_vacuum_scoped_to_one_partition(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 300, 400))
    t.compact(target_bytes=1 << 30)  # rewrites -> old files dead
    removed = t.vacuum(
        retain=1, min_age_seconds=0.0, force=True, partition={"p": 1}
    )
    assert removed and all("__txp_p=1" in f for f in removed)
    # other partitions' dead files remain for a later global pass
    rest = t.vacuum(retain=1, min_age_seconds=0.0, force=True)
    assert rest and all("__txp_p=1" not in f for f in rest)
    assert t.read().count() == 400


def test_schema_guards_refuse_spec_changes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("p", "q")
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("p")
    with pytest.raises(ValueError, match="partition column"):
        t.overwrite(_df(spark, 0, 10).drop("p"))
    # non-partition schema evolution still works
    t.add_column("extra", "integer")
    t.rename_column("v", "val")
    assert t.read().filter(F.col("k") == 1).first().val == "v1"
    # ... and writes through the colmap keep the layout invariant
    t.append(
        _df(spark, 400, 410)
        .withColumnRenamed("v", "val")
        .withColumn("extra", F.lit(None).cast("integer"))
    )
    assert all("__txp_p=" in f for f in t.snapshot().files)


def test_create_refuses_generated_partition_and_missing_col(spark, tmp_path):
    with pytest.raises(ValueError, match="absent"):
        TxTable.create(
            spark,
            str(tmp_path / "a"),
            _df(spark, 0, 10),
            partition_by=["nope"],
        )
    with pytest.raises(ValueError, match="generated"):
        TxTable.create(
            spark,
            str(tmp_path / "b"),
            _df(spark, 0, 10),
            partition_by=["p"],
            generated={"p": "k % 3"},
        )


def test_clone_and_restore_carry_spec(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.snapshot().version
    t.append(_df(spark, 300, 400))
    c = t.clone_to(str(tmp_path / "c"))
    assert c.snapshot().partition_by == ("p",)
    c.append(_df(spark, 400, 450))  # clone writes stay partitioned
    assert all("__txp_p=" in f for f in c.snapshot().files)
    shutil.rmtree(str(tmp_path / "c"))
    t.restore(v1)
    assert t.snapshot().partition_by == ("p",)
    assert t.read().count() == 300
    t.append(_df(spark, 300, 350))
    assert all("__txp_p=" in f for f in t.snapshot().files)


def test_native_batch_sink_writes_partitioned_layout(spark, tmp_path):
    """r13 (VERDICT r12 #3): the native format('txtable') sink lays
    out __txp_ value splits in its Arrow writer — partitioned targets
    no longer refuse.  Sink-written files must be indistinguishable
    from engine-written ones: path layout, single-valuedness, stats
    (min==max on spec cols), pruning and partition-scoped
    maintenance."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        register,
    )

    register(spark)
    t = _mk(spark, tmp_path, stats_cols=["k"])
    before = set(t.snapshot().files)
    _df(spark, 300, 400).write.format("txtable").mode("append").option(
        "path", t.root
    ).save()
    t2 = TxTable(spark, t.root)
    snap = t2.snapshot()
    new = set(snap.files) - before
    assert new and all("__txp_p=" in f for f in new)
    # per-file stats ride the sink commit: spec col single-valued,
    # k bounds present -> sink files prune like engine files
    for f in new:
        s = snap.stats[f]
        assert s["min"]["p"] == s["max"]["p"]
        assert s["min"]["k"] >= 300 and s["max"]["k"] <= 399
    pruned = t2.files_in_range("p", 1, 1)
    assert pruned and all("__txp_p=1" in f for f in pruned)
    assert len(pruned) < len(snap.files)
    # the layout invariant end-to-end
    per_file = (
        t2.read()
        .withColumn("_fp", F.col("_metadata.file_path"))
        .groupBy("_fp")
        .agg(F.count_distinct("p").alias("nv"))
        .collect()
    )
    assert per_file and all(r.nv == 1 for r in per_file)
    assert t2.read().count() == 400
    # partition-scoped maintenance matches sink-written paths
    t2.compact(target_bytes=1 << 30, partition={"p": 1})
    after = t2.snapshot()
    assert len([f for f in after.files if "__txp_p=1" in f]) == 1
    assert t2.read().count() == 400


def test_native_streaming_sink_partitioned_and_null_values(
    spark, tmp_path
):
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        register,
    )

    register(spark)
    root = str(tmp_path / "s")
    seed = spark.createDataFrame(
        [(0, "north region"), (1, None)], "k bigint, region string"
    )
    t = TxTable.create(spark, root, seed, partition_by=["region"])
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    tmp = str(tmp_path / "tmp")
    spark.createDataFrame(
        [(2, "north region"), (3, "south:east"), (4, None)],
        "k bigint, region string",
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.rename(os.path.join(tmp, src), os.path.join(landing, "b0.parquet"))
    q = (
        spark.readStream.schema("k bigint, region string")
        .parquet(landing)
        .writeStream.format("txtable")
        .option("path", root)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    t2 = TxTable(spark, root)
    assert t2.read().count() == 5
    # escaped + null partition values round-trip through the sink's
    # path encoder exactly as through the engine's partitionBy writer
    parts = {p["region"]: p["n_rows"] for p in t2.partitions()}
    assert parts == {"north region": 2, "south:east": 1, None: 2}
    t2.compact(target_bytes=1 << 30, partition={"region": None})
    assert t2.read().filter(F.col("region").isNull()).count() == 2


def test_native_sink_nullable_int_partition_paths(spark, tmp_path):
    """ADVICE r13 (medium): an int64 partition column with any NULL in
    the batch becomes float64 in pandas, so path values derived from
    the pandas frame wrote '__txp_p=1.0' while the engine writes
    '__txp_p=1' — the same logical partition split across path keys
    and partition-scoped maintenance silently missed sink files.  The
    writer now derives segment values from the ARROW column; sink and
    engine paths must be byte-identical."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        register,
    )

    register(spark)
    root = str(tmp_path / "ni")
    t = TxTable.create(
        spark,
        root,
        spark.createDataFrame([(0, 1), (1, None)], "k bigint, p bigint"),
        partition_by=["p"],
    )
    engine_files = set(t.snapshot().files)
    engine_segs = {f.split("/")[-2] for f in engine_files}
    spark.createDataFrame(
        [(2, 1), (3, 2), (4, None)], "k bigint, p bigint"
    ).write.format("txtable").mode("append").option("path", root).save()
    t2 = TxTable(spark, root)
    sink_files = set(t2.snapshot().files) - engine_files
    sink_segs = {f.split("/")[-2] for f in sink_files}
    assert "__txp_p=1" in sink_segs and "__txp_p=1.0" not in sink_segs
    assert engine_segs <= {"__txp_p=1", "__txp_p=2",
                           "__txp_p=__HIVE_DEFAULT_PARTITION__"}
    assert sink_segs <= {"__txp_p=1", "__txp_p=2",
                         "__txp_p=__HIVE_DEFAULT_PARTITION__"}
    # one logical partition = one path key across both writers
    # (partitions() lists path-parsed values — strings by contract)
    parts = {p["p"]: p["n_rows"] for p in t2.partitions()}
    assert parts == {"1": 2, "2": 1, None: 2}
    # stats from the Arrow slice: int columns stay INT (pandas would
    # promote the nulled batch to float64 and record 1.0/2.0)
    snap = t2.snapshot()
    for f in sink_files:
        st = (snap.stats or {}).get(f)
        if st and st["min"].get("p") is not None:
            assert isinstance(st["min"]["p"], int), st
            assert isinstance(st["max"]["p"], int), st
    # partition-scoped maintenance sees the sink-written file
    t2.compact(target_bytes=1 << 30, partition={"p": 1})
    after = t2.snapshot()
    assert len([f for f in after.files if "__txp_p=1/" in f or
                f.split("/")[-2] == "__txp_p=1"]) == 1
    assert t2.read().filter(F.col("p") == 1).count() == 2


def test_native_sink_still_refuses_identity(spark, tmp_path):
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        register,
    )

    register(spark)
    root = str(tmp_path / "i")
    TxTable.create(
        spark,
        root,
        spark.range(3).select(F.col("id").alias("k")),
        identity="row_id",
    )
    with pytest.raises(Exception, match="txtable_sink_prepared"):
        spark.range(3, 5).select(F.col("id").alias("k")).write.format(
            "txtable"
        ).mode("append").option("path", root).save()


def test_txtable_source_reads_partitioned_table(spark, tmp_path):
    """The pyarrow-based data source reads partitioned layouts
    unchanged (real columns live in the files)."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        register,
    )

    register(spark)
    t = _mk(spark, tmp_path)
    got = (
        spark.read.format("txtable")
        .option("path", t.root)
        .load()
        .groupBy("p")
        .count()
        .collect()
    )
    assert {r.p: r["count"] for r in got} == {0: 100, 1: 100, 2: 100}


def test_string_partition_values_roundtrip(spark, tmp_path):
    """Escaped path values (spaces etc.) parse back exactly."""
    root = str(tmp_path / "s")
    df = spark.createDataFrame(
        [(1, "north region"), (2, "south:east"), (3, None)],
        "k int, region string",
    )
    t = TxTable.create(spark, root, df, partition_by=["region"])
    parts = t.partitions()
    assert {p["region"] for p in parts} == {
        "north region",
        "south:east",
        None,
    }
    t.compact(target_bytes=1 << 30, partition={"region": "north region"})
    assert t.read().count() == 3
    removedk = t.vacuum(
        retain=1,
        min_age_seconds=0.0,
        force=True,
        partition={"region": "north region"},
    )
    assert all("__txp_region=" in f for f in removedk)


def test_escaped_partition_paths_stats_dv_and_cow(spark, tmp_path):
    """r13 regression: _metadata.file_path is URI-encoded, so every
    driver-side boundary where Spark-derived names meet manifest
    paths must unquote — on a partition dir with a space, stats
    landed under a never-matched key, CoW rewrites matched no file
    (silently skipping rows) and DV dict keys were auto-pruned
    (resurrecting deletes)."""
    root = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(i, "north region" if i % 2 == 0 else "plain") for i in range(10)],
        "k int, region string",
    )
    t = TxTable.create(
        spark, root, df, partition_by=["region"], stats_cols=["k"]
    )
    snap = t.snapshot()
    # stats keyed by the manifest's raw path — space dirs included
    assert all(f in snap.stats for f in snap.files), "stats key mismatch"
    # CoW update/delete must actually rewrite the spaced partition
    assert t.update(F.col("k") == 2, {"k": F.lit(200)}) == 1
    assert t.read().filter(F.col("k") == 200).count() == 1
    assert t.delete(F.col("k") == 4) == 1
    assert t.read().count() == 9
    # DV delete: the dvs dict key must survive the auto-prune
    assert t.delete_dv(F.col("k") == 6) == 1
    assert t.snapshot().dvs, "dv entry pruned away"
    assert t.read().count() == 8
    assert t.read().filter(F.col("k") == 6).count() == 0
    # ... and must keep suppressing rows across an unrelated commit
    t.append(
        spark.createDataFrame([(100, "plain")], "k int, region string")
    )
    assert t.read().filter(F.col("k") == 6).count() == 0
    # purge sees the spaced file's dead fraction
    v = t.purge_dvs(min_deleted_frac=0.01)
    assert v > 0 and not t.snapshot().dvs
    assert t.read().count() == 9


def test_merge_and_dv_paths_keep_layout(spark, tmp_path):
    """Every write path lands in _write_data, so merge rewrites and
    update_dv's new files keep the file-per-partition-value layout."""
    t = _mk(spark, tmp_path, stats_cols=["k"])
    assert t.delete_dv(F.col("k") == 10) == 1
    assert t.update_dv(F.col("k") == 11, {"v": F.lit("U")}) == 1
    t.merge(
        spark.range(0, 5).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("p"),
            F.lit("m").alias("v"),
        ),
        on="k",
        update={"v": F.col("s.v")},
    )
    t.purge_dvs(min_deleted_frac=0.0)
    snap = t.snapshot()
    assert all("__txp_p=" in f for f in snap.files)
    per_file = (
        t.read()
        .withColumn("_fp", F.col("_metadata.file_path"))
        .groupBy("_fp")
        .agg(F.count_distinct("p").alias("nv"))
        .collect()
    )
    assert per_file and all(r.nv == 1 for r in per_file)
    assert t.read().count() == 299
    assert t.read().filter(F.col("k") == 4).first().v == "m"


def test_compact_partition_composes_with_zorder_clustering(spark, tmp_path):
    """Per-window OPTIMIZE ZORDER (the PLANS.md maintenance shape):
    clustering scoped to one partition rewrites only that partition's
    files, sorted on the cluster key, and range reads on the clustered
    column prune files WITHIN the partition."""
    t = _mk(spark, tmp_path, stats_cols=["k"])
    t.append(_df(spark, 300, 600))
    t.append(_df(spark, 600, 900))
    before = t.snapshot()
    untouched = [f for f in before.files if "__txp_p=2" not in f]
    sz = sum(os.path.getsize(f) for f in before.files if "__txp_p=2" in f)
    t.compact(
        target_bytes=max(1, sz // 3),
        cluster_by=["k"],
        partition={"p": 2},
    )
    after = t.snapshot()
    assert set(untouched) <= set(after.files), "out-of-window rewritten"
    p2 = [f for f in after.files if "__txp_p=2" in f]
    assert len(p2) >= 2, "clustering should split the partition"
    # clustered: a k-range read inside p=2 opens a strict subset
    opened = [
        f for f in t.files_in_range("k", 2, 50) if "__txp_p=2" in f
    ]
    assert 0 < len(opened) < len(p2), (len(opened), len(p2))
    assert t.read().count() == 900


def test_maintain_policy_compacts_only_qualifying_partitions(
    spark, tmp_path
):
    """r13 (VERDICT r12 #4): maintain(policy) walks manifest metadata
    and touches ONLY partitions whose file count crosses the
    threshold; the rest carry by reference untouched."""
    t = _mk(spark, tmp_path)  # one file per p value
    # fragment p=0 and p=1 with two extra appends each; p=2 stays
    # single-file and must NOT qualify
    for lo, hi in ((300, 302), (303, 305)):
        t.append(_df(spark, lo, hi).filter(F.col("p") < 2))
    before = t.snapshot()
    p2_files = [f for f in before.files if "__txp_p=2" in f]
    assert len(p2_files) == 1
    assert len([f for f in before.files if "__txp_p=0" in f]) == 3
    report = t.maintain(
        {"compact": {"min_files": 3, "target_bytes": 1 << 30}}
    )
    assert report["compacted"] == [{"p": "0"}, {"p": "1"}]
    after = t.snapshot()
    assert [f for f in after.files if "__txp_p=2" in f] == p2_files, (
        "non-qualifying partition was rewritten"
    )
    assert len([f for f in after.files if "__txp_p=0" in f]) == 1
    assert len([f for f in after.files if "__txp_p=1" in f]) == 1
    assert t.read().count() == 304
    # idempotent: nothing qualifies on the second pass
    assert t.maintain({"compact": {"min_files": 3}})["compacted"] == []


def test_maintain_composes_purge_and_vacuum(spark, tmp_path):
    t = _mk(spark, tmp_path, stats_cols=["k"])
    t.append(_df(spark, 300, 400))
    # DV-delete most of one partition -> purge threshold crossed
    assert t.delete_dv((F.col("p") == 0) & (F.col("k") < 250)) > 0
    report = t.maintain(
        {
            "compact": {"min_files": 2, "target_bytes": 1 << 30},
            "purge_dvs": {"min_deleted_frac": 0.3},
            "vacuum": {"retain": 1, "min_age_seconds": 0.0, "force": True},
        }
    )
    assert report["compacted"], "fragmented partitions must compact"
    assert report["vacuumed"], "stranded pre-compact files must GC"
    assert not t.snapshot().dvs, "compaction/purge must retire DVs"
    assert t.read().count() == 400 - 84  # k<250 & k%3==0: 84 keys
    with pytest.raises(ValueError, match="unknown maintain"):
        t.maintain({"optimize": {}})


def test_maintain_unpartitioned_whole_table(spark, tmp_path):
    root = str(tmp_path / "u")
    t = TxTable.create(spark, root, _df(spark, 0, 100))
    t.append(_df(spark, 100, 200))
    t.append(_df(spark, 200, 300))
    n_before = len(t.snapshot().files)
    assert n_before >= 3
    report = t.maintain(
        {"compact": {"min_files": 3, "target_bytes": 1 << 30}}
    )
    assert report["compacted"] == [{}]
    assert len(t.snapshot().files) == 1
    assert t.read().count() == 300


def test_repartitioned_to_is_the_spec_change_path(spark, tmp_path):
    """r13 decision (VERDICT r12 #7): the spec is immutable on a live
    table (Delta parity; refusals pinned in
    test_schema_guards_refuse_spec_changes) — changing it is an
    explicit REWRITE via repartitioned_to."""
    t = _mk(spark, tmp_path, stats_cols=["k"])
    t.add_constraint("k_nonneg", "k >= 0")
    assert t.delete_dv(F.col("k") == 7) == 1
    # p -> (p, parity-of-k) respec; also exercises spec REMOVAL below
    t2 = t.repartitioned_to(str(tmp_path / "r2"), ["p"])
    snap2 = t2.snapshot()
    assert snap2.partition_by == ("p",)
    assert all("__txp_p=" in f for f in snap2.files)
    assert t2.read().count() == 299, "DV must materialize in the rewrite"
    assert "k_nonneg" in (snap2.constraints or {}), "constraints carry"
    # old stats columns keep their tags in the new table
    assert all("k" in s["min"] for s in snap2.stats.values())
    # spec removal: None -> unpartitioned layout
    t3 = t2.repartitioned_to(str(tmp_path / "r3"), None)
    assert t3.snapshot().partition_by is None
    assert t3.read().count() == 299
    # refusals: existing destination, identity tables
    with pytest.raises(ValueError, match="already a TxTable"):
        t.repartitioned_to(str(tmp_path / "r2"), ["p"])
    ti = TxTable.create(
        spark,
        str(tmp_path / "ident"),
        spark.range(3).select(F.col("id").alias("k")),
        identity="row_id",
    )
    with pytest.raises(ValueError, match="clone_to"):
        ti.repartitioned_to(str(tmp_path / "r4"), ["k"])
    # the source is untouched throughout
    assert t.snapshot().partition_by == ("p",)
    assert t.read().count() == 299


def test_repartitioned_to_carries_colmap_tables_logically(
    spark, tmp_path
):
    """A column-mapped source (renamed/dropped columns) repartitions
    through its LOGICAL read — the new table starts identity-mapped
    with the current logical schema, old physical names left behind."""
    t = _mk(spark, tmp_path)
    t.rename_column("v", "val")
    t.add_column("extra", "integer")
    t2 = t.repartitioned_to(str(tmp_path / "r"), None)
    snap = t2.snapshot()
    assert snap.colmap is None, "fresh table starts identity-mapped"
    assert t2.read().columns == ["k", "p", "val", "extra"]
    assert t2.read().count() == 300
    assert t2.read().filter(F.col("k") == 1).first().val == "v1"


def test_sink_commit_refuses_mid_stream_spec_change(spark, tmp_path):
    """A table dropped+recreated with a DIFFERENT spec under a live
    stream: linking files laid out under the old spec would silently
    break file-per-partition-value, so the commit refuses (r13 guard,
    the partition analogue of the mid-stream-rename refusal)."""
    import shutil as _sh
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_pipeline_fresh_picked_leads_spark.streaming import (
        txtable_source as src,
    )

    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1, "a")], "k bigint, p bigint, v string")
    TxTable.create(spark, root, df, partition_by=["p"])
    # a task file staged under the OLD spec's layout
    d = os.path.join(root, "data", uuid.uuid4().hex, "__txp_p=1")
    os.makedirs(d)
    path = os.path.join(d, "part-00000.parquet")
    pq.write_table(pa.table({"k": [9], "p": [1], "v": ["x"]}), path)
    # the table is dropped and recreated UNPARTITIONED mid-stream
    _sh.rmtree(os.path.join(root, "_txlog"))
    TxTable.create(spark, root, df)
    with pytest.raises(ValueError, match="partition spec changed"):
        src._sink_commit(
            root, df.schema, [path], txn=None, wrote_pby=["p"]
        )
    # and the reverse: spec appeared under an unpartitioned stream
    root2 = str(tmp_path / "u")
    TxTable.create(spark, root2, df, partition_by=["p"])
    with pytest.raises(ValueError, match="partition spec changed"):
        src._sink_commit(
            root2, df.schema, [path], txn=None, wrote_pby=None
        )


def test_native_sink_split_vectorized_exactness(tmp_path):
    """The r16 vectorized partition split (pyarrow group_by replacing
    the r15 per-row Python loop) must keep the loop's exact-value
    semantics: two int64 keys >= 2^53 that collide in float64 write
    SEPARATE files; NaN joins None in the Hive null partition; -0.0
    groups WITH +0.0 (Python equality, not Arrow's bitwise hash); and
    group order / in-group row order stay first-appearance/ascending
    (file contents byte-stable vs the loop)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        _write_task,
    )

    big = 2**53
    schema = StructType(
        [StructField("k", LongType()), StructField("p", LongType())]
    )
    batch = pa.record_batch(
        {
            "k": pa.array([0, 1, 2], type=pa.int64()),
            "p": pa.array([big, big + 1, big], type=pa.int64()),
        }
    )
    wf = _write_task(
        str(tmp_path / "a"), schema, iter([batch]), partition_by=["p"]
    )
    segs = sorted(f.split("/")[-2] for f in wf.files)
    assert segs == [f"__txp_p={big}", f"__txp_p={big+1}"]
    by_seg = {}
    for f in wf.files:
        by_seg[f.split("/")[-2]] = pq.read_table(f)
    assert by_seg[f"__txp_p={big}"].column("k").to_pylist() == [0, 2]
    assert by_seg[f"__txp_p={big+1}"].column("k").to_pylist() == [1]

    schema_f = StructType(
        [StructField("k", LongType()), StructField("p", DoubleType())]
    )
    batch_f = pa.record_batch(
        {
            "k": pa.array([0, 1, 2, 3, 4], type=pa.int64()),
            "p": pa.array([-0.0, float("nan"), 0.0, None, 2.5]),
        }
    )
    wf2 = _write_task(
        str(tmp_path / "b"), schema_f, iter([batch_f]), partition_by=["p"]
    )
    got = {
        f.split("/")[-2]: pq.read_table(f).column("k").to_pylist()
        for f in wf2.files
    }
    # -0.0 and 0.0 one group (seg from the first occurrence, like the
    # loop); NaN and None share the null partition
    assert got == {
        "__txp_p=-0.0": [0, 2],
        "__txp_p=__HIVE_DEFAULT_PARTITION__": [1, 3],
        "__txp_p=2.5": [4],
    }
