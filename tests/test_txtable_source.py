"""TxTable as a Spark data source (streaming/txtable_source.py, r9):
batch + streaming reads via the Python Data Source API, tailing the
commit log with version offsets — Delta-source semantics on plain
parquet.  Colmap projection, DV application, replay determinism and
the add-only feed contract all pinned here.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable
from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
    register,
)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(lo, hi)],
        "k bigint, name string, price double",
    )


@pytest.fixture()
def reg(spark):
    register(spark)
    return spark


def _drain(spark, root, out, chk):
    q = (
        spark.readStream.format("txtable")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "stream stalled"


def test_batch_read_head_snapshot_with_colmap_and_dvs(reg, tmp_path):
    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 0, 50).coalesce(2))
    t.delete_dv(F.col("k") < 5)
    t.rename_column("price", "amount")
    got = spark.read.format("txtable").option("path", root).load()
    assert got.columns == ["k", "name", "amount"]
    assert got.count() == 45
    assert got.filter(F.col("k") < 5).count() == 0, "DVs applied"
    assert got.agg(F.sum("amount")).first()[0] == float(sum(range(5, 50)))


def test_stream_tails_commits_exactly_once(reg, tmp_path):
    spark = reg
    root, out, chk = (
        str(tmp_path / "t"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )
    t = TxTable.create(spark, root, _df(spark, 0, 30).coalesce(2))
    _drain(spark, root, out, chk)
    assert spark.read.parquet(out).count() == 30, "initial snapshot"
    t.append(_df(spark, 100, 110).coalesce(1))
    t.append(_df(spark, 200, 205).coalesce(1))
    _drain(spark, root, out, chk)
    got = spark.read.parquet(out)
    assert got.count() == 45, "both appended commits delivered once"
    _drain(spark, root, out, chk)  # replay: no new commits
    assert spark.read.parquet(out).count() == 45
    keys = {r.k for r in got.collect()}
    assert set(range(100, 110)) <= keys and set(range(200, 205)) <= keys


def test_stream_applies_end_snapshot_dvs_to_new_files(reg, tmp_path):
    spark = reg
    root, out, chk = (
        str(tmp_path / "t"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )
    t = TxTable.create(spark, root, _df(spark, 0, 10).coalesce(1))
    _drain(spark, root, out, chk)
    # append then DV-delete part of the APPENDED file before draining:
    # the dead rows must never be delivered
    t.append(_df(spark, 100, 110).coalesce(1))
    t.delete_dv(F.col("k") == 105)
    _drain(spark, root, out, chk)
    keys = {r.k for r in spark.read.parquet(out).collect()}
    assert 105 not in keys and len(keys) == 19
    # ...and a DV on an ALREADY-delivered file is not retracted
    t.delete_dv(F.col("k") == 3)
    _drain(spark, root, out, chk)
    assert 3 in {r.k for r in spark.read.parquet(out).collect()}, (
        "add-only feed cannot retract (documented contract)"
    )


def test_source_requires_path_and_committed_table(reg, tmp_path):
    spark = reg
    with pytest.raises(Exception):
        spark.read.format("txtable").load().count()
    with pytest.raises(Exception):
        spark.read.format("txtable").option(
            "path", str(tmp_path / "nope")
        ).load().count()


def test_stream_delivers_evolved_schema_nulls(reg, tmp_path):
    """A merge-evolved column reads NULL from pre-evolution files —
    the arrow cast in the partition reader must widen, not crash."""
    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "a")], "k bigint, name string"
        ).coalesce(1),
    )
    t.merge(
        spark.createDataFrame(
            [(2, "b", 9.0)], "k bigint, name string, score double"
        ),
        "k",
        schema_evolution=True,
    )
    got = spark.read.format("txtable").option("path", root).load()
    rows = {r.k: r.score for r in got.collect()}
    assert rows == {1: None, 2: 9.0}


def test_batch_writer_roundtrip_and_interop(reg, tmp_path):
    """df.write.format('txtable'): overwrite creates, append commits
    all task files in ONE manifest, and the TxTable API operates on
    the sink-written table (CoW delete, history)."""
    spark = reg
    root = str(tmp_path / "t")
    _df(spark, 0, 20).write.format("txtable").mode("overwrite").option(
        "path", root
    ).save()
    t = TxTable(spark, root)
    assert t.snapshot().version == 1 and t.read().count() == 20
    _df(spark, 100, 103).write.format("txtable").mode("append").option(
        "path", root
    ).save()
    assert t.read().count() == 23 and t.snapshot().op == "append"
    assert t.delete(F.col("k") == 100) == 1
    assert t.read().count() == 22
    # append with a mismatched schema is refused loudly
    with pytest.raises(Exception, match="schema"):
        spark.createDataFrame([(1,)], "k bigint").write.format(
            "txtable"
        ).mode("append").option("path", root).save()


def test_stream_writer_exactly_once_per_batch(reg, tmp_path):
    """writeStream.format('txtable'): one atomic manifest per
    micro-batch under a txsink|<batchId> tag; a checkpointed replay
    delivers nothing and the version stays put."""
    spark = reg
    root = str(tmp_path / "t")
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    TxTable.create(spark, root, _df(spark, 0, 10).coalesce(1))

    def land(name, lo, hi):
        tmp = str(tmp_path / "tmp")
        _df(spark, lo, hi).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(os.path.join(tmp, src), os.path.join(landing, name))

    land("b0.parquet", 100, 110)
    schema = spark.read.parquet(landing).schema

    def drain(chk):
        q = (
            spark.readStream.schema(schema)
            .parquet(landing)
            .writeStream.format("txtable")
            .option("path", root)
            .option("checkpointLocation", str(tmp_path / chk))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)

    drain("chk")
    t = TxTable(spark, root)
    assert t.read().count() == 20
    assert t.snapshot().txn.startswith("txsink|")
    v = t.snapshot().version
    drain("chk")  # replay over same checkpoint: nothing new
    assert t.read().count() == 20 and t.snapshot().version == v
    # checkpoint LOSS with the SAME single landing file: the re-split
    # batch carries identical content, so the content tag no-ops it
    drain("chk_lost")
    assert t.read().count() == 20, "content tag must absorb the replay"
    land("b1.parquet", 200, 205)
    drain("chk")
    assert t.read().count() == 25


def test_sink_guards_constraints_and_colmap_overwrite(reg, tmp_path):
    """Features the manifest-only sink cannot honor are refused at
    stream/batch start — never silently skipped.  Since r10 only
    constraints and colmap OVERWRITE refuse; colmap appends write
    physical names (see test_sink_append_into_column_mapped_table)."""
    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 0, 5).coalesce(1))
    t.add_constraint("k_pos", "k >= 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        _df(spark, 5, 6).write.format("txtable").mode("append").option(
            "path", root
        ).save()
    t.drop_constraint("k_pos")
    t.rename_column("price", "amount")
    df2 = spark.createDataFrame(
        [(9, "z", 9.0)], "k bigint, name string, amount double"
    )
    with pytest.raises(Exception, match="column mapping"):
        df2.write.format("txtable").mode("overwrite").option(
            "path", root
        ).save()


def test_sink_append_into_column_mapped_table(reg, tmp_path):
    """r10: batch and streaming appends into a RENAMED table write
    files under PHYSICAL names per the snapshot's colmap — the engine
    reads them back under logical names; a mid-stream rename refuses
    at commit instead of linking stale-named files."""
    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 0, 3).coalesce(1))
    t.rename_column("price", "amount")
    df2 = spark.createDataFrame(
        [(9, "z", 99.0)], "k bigint, name string, amount double"
    )
    df2.write.format("txtable").mode("append").option("path", root).save()
    got = {r.k: r.amount for r in t.read().collect()}
    assert got[9] == 99.0 and len(got) == 4
    # the new file physically speaks the pre-rename name
    new_file = [
        f for f in t.snapshot().files if "part-00000.parquet" in f
    ]
    assert new_file, "sink-written file present"
    raw = spark.read.parquet(new_file[0])
    assert "price" in raw.columns and "amount" not in raw.columns
    # streaming append works the same way
    landing = str(tmp_path / "landing")
    df2.withColumn("k", df2.k + 1).coalesce(1).write.parquet(landing)
    q = (
        spark.readStream.schema(df2.schema)
        .parquet(landing)
        .writeStream.format("txtable")
        .option("path", root)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    got = {r.k: r.amount for r in t.read().collect()}
    assert got[10] == 99.0 and len(got) == 5
    # a rename landing after files were staged refuses at commit
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        _sink_commit,
    )

    with pytest.raises(ValueError, match="column mapping changed"):
        _sink_commit(
            root, t._current_schema(t.snapshot()), [], txn=None,
            wrote_colmap=None,
        )


def test_source_starting_version_latest_skips_backfill(reg, tmp_path):
    """startingVersion='latest' tails changes only: the pre-existing
    snapshot is never delivered, later appends are."""
    spark = reg
    root, out, chk = (
        str(tmp_path / "t"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )
    t = TxTable.create(spark, root, _df(spark, 0, 30).coalesce(1))

    def drain():
        q = (
            spark.readStream.format("txtable")
            .option("path", root)
            .option("startingVersion", "latest")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)

    drain()
    assert not os.path.isdir(out) or spark.read.parquet(out).count() == 0
    t.append(_df(spark, 100, 105).coalesce(1))
    drain()
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == list(range(100, 105)), "changes only, no backfill"


def test_source_max_versions_per_trigger_paces_batches(reg, tmp_path):
    """maxVersionsPerTrigger=1: each availableNow run advances one
    committed version — a 100 TB backfill paces instead of landing as
    one giant batch."""
    spark = reg
    root, out, chk = (
        str(tmp_path / "t"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )
    t = TxTable.create(spark, root, _df(spark, 0, 10).coalesce(1))
    t.append(_df(spark, 100, 110).coalesce(1))
    t.append(_df(spark, 200, 210).coalesce(1))

    def drain():
        q = (
            spark.readStream.format("txtable")
            .option("path", root)
            .option("maxVersionsPerTrigger", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)

    counts = []
    for _ in range(4):
        drain()
        counts.append(
            spark.read.parquet(out).count() if os.path.isdir(out) else 0
        )
    assert counts == [10, 20, 30, 30], counts


def test_sink_commit_retries_lost_append_race(reg, tmp_path):
    """The sink's driver-side manifest append must absorb a racing
    TxTable commit (blind appends commute): simulate losing the race
    by pre-linking the next version before the sink commits."""
    import json as _json

    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        _sink_commit,
        _WroteFiles,
    )

    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 0, 5).coalesce(1))
    # stage a sink file the manual way
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(root, "data", "sinkrace")
    os.makedirs(d)
    f = os.path.join(d, "part-00000.parquet")
    pq.write_table(
        pa.table(
            {"k": pa.array([9], pa.int64()),
             "name": pa.array(["z"]),
             "price": pa.array([9.0])}
        ),
        f,
    )
    # racer lands version 2 first
    t.append(_df(spark, 100, 101).coalesce(1))
    v = _sink_commit(root, t.read().schema, [f], txn="txsink|race")
    assert v == 3, "sink re-linked against the racer's head"
    got = sorted(r.k for r in TxTable(spark, root).read().collect())
    assert got == [0, 1, 2, 3, 4, 9, 100]
    # idempotent under the tag
    assert _sink_commit(root, t.read().schema, [f], txn="txsink|race") == 3


def test_sink_overwrite_refuses_constrained_or_mapped_tables(reg, tmp_path):
    """Overwrite through the sink must not silently DROP a CHECK
    constraint or break a column-mapped table's physical contract —
    same loud refusal as append (r9 review fix)."""
    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 0, 5).coalesce(1))
    t.add_constraint("k_pos", "k >= 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        _df(spark, 0, 3).write.format("txtable").mode("overwrite").option(
            "path", root
        ).save()
    assert "k_pos" in (t.snapshot().constraints or {}), "nothing dropped"
    t.drop_constraint("k_pos")
    t.rename_column("price", "amount")
    df2 = spark.createDataFrame(
        [(9, "z", 9.0)], "k bigint, name string, amount double"
    )
    with pytest.raises(Exception, match="column mapping"):
        df2.write.format("txtable").mode("overwrite").option(
            "path", root
        ).save()
    got = {r.k for r in t.read().collect()}
    assert got == set(range(5)), "refused overwrite left no trace"


def test_stream_read_change_feed(reg, tmp_path):
    """readChangeFeed=true: the stream delivers row-level changes —
    DV deletes as exact delete rows (payload = the deleted images),
    DV updates as delete+insert pairs with postimage values, appends
    as inserts, compaction silent; replay delivers nothing."""
    spark = reg
    root, out, chk = (
        str(tmp_path / "t"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )
    t = TxTable.create(spark, root, _df(spark, 0, 10).coalesce(1))

    def drain():
        q = (
            spark.readStream.format("txtable")
            .option("path", root)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)

    drain()
    got = sorted(
        (r._commit_version, r._change_type, r.k)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, "insert", k) for k in range(10)], got[:5]
    t.delete_dv(F.col("k") < 2)                            # v2
    t.update_dv(F.col("k") == 5, {"price": F.lit(99.0)})   # v3
    t.compact(target_bytes=1 << 30, small_frac=1.0)        # v4: silent
    t.append(_df(spark, 100, 102).coalesce(1))             # v5
    drain()
    rows = spark.read.parquet(out).collect()
    got = sorted(
        (r._commit_version, r._change_type, r.k)
        for r in rows
        if r._commit_version > 1
    )
    assert got == [
        (2, "delete", 0), (2, "delete", 1),
        (3, "delete", 5), (3, "insert", 5),
        (5, "insert", 100), (5, "insert", 101),
    ], got
    post = [
        r
        for r in rows
        if r._commit_version == 3 and r._change_type == "insert"
    ][0]
    assert post.price == 99.0, "postimage value"
    n = len(rows)
    drain()  # replay: nothing new
    assert len(spark.read.parquet(out).collect()) == n


def test_stream_source_interleaved_with_mutations(reg, tmp_path):
    """Source drains interleaved with table mutations (r10, VERDICT r9
    #8): after every drain the DELIVERED key multiset is a subset of
    the union of rows ever committed, no version is delivered twice
    (offset monotonicity), and a replay over the same checkpoint
    delivers nothing — even across CoW rewrites, DV deletes and a
    restore landing between drains."""
    spark = reg
    root, out, chk = (
        str(tmp_path / "t"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )
    t = TxTable.create(spark, root, _df(spark, 0, 10).coalesce(1))

    def drain():
        _drain(spark, root, out, chk)
        if not os.path.isdir(out):
            return []
        return [r.k for r in spark.read.parquet(out).collect()]

    ever_committed = set(range(10))
    seen = drain()
    assert sorted(seen) == list(range(10))
    # mutation storm between drains
    t.append(_df(spark, 100, 103).coalesce(1))          # adds
    ever_committed |= set(range(100, 103))
    t.delete_dv(F.col("k") < 2)                          # DV delete
    t.update(F.col("k") == 5, {"price": F.lit(5.5)})     # CoW rewrite
    seen2 = drain()
    assert set(seen2) <= ever_committed, set(seen2) - ever_committed
    assert len(seen2) >= len(seen), "offsets never move backwards"
    n_after = len(seen2)
    # replay: nothing new
    assert len(drain()) == n_after
    # restore to v1 between drains: the add-only feed re-delivers at
    # most previously-committed rows, never unseen ones
    t.restore(1)
    t.append(_df(spark, 200, 202).coalesce(1))
    ever_committed |= set(range(200, 202))
    seen3 = drain()
    assert set(seen3) <= ever_committed, set(seen3) - ever_committed


def test_batch_version_and_timestamp_as_of_options(reg, tmp_path):
    """Batch reader time travel (r10): versionAsOf pins a committed
    version (with ITS schema), timestampAsOf resolves the newest
    commit <= the bound via the r10 manifest timestamps; both refuse
    out-of-range bounds and cannot be combined."""
    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 0, 5).coalesce(1))   # v1
    t.append(_df(spark, 5, 8).coalesce(1))                          # v2
    t.add_column("flag", "integer")                                 # v3
    t.overwrite(_df(spark, 100, 102).coalesce(1))                   # v4

    def rd(**opts):
        r = spark.read.format("txtable").option("path", root)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    assert sorted(r.k for r in rd(versionAsOf=1).collect()) == [0, 1, 2, 3, 4]
    assert rd(versionAsOf=2).count() == 8
    # pinned schema: v2 predates add_column — no flag column
    assert "flag" not in rd(versionAsOf=2).columns
    assert "flag" in rd(versionAsOf=3).columns
    ts = {e["version"]: e["timestamp"] for e in t.history()}
    got = rd(timestampAsOf=ts[2].isoformat()).count()
    assert got == 8
    # epoch-seconds form; midpoint resolves DOWN
    mid = (ts[1].timestamp() + ts[2].timestamp()) / 2
    assert rd(timestampAsOf=str(mid)).count() == 5
    with pytest.raises(Exception, match="predates"):
        rd(timestampAsOf=str(ts[1].timestamp() - 10)).count()
    with pytest.raises(Exception, match="not both"):
        rd(versionAsOf=1, timestampAsOf=str(mid)).count()
    with pytest.raises(Exception, match="does not exist"):
        rd(versionAsOf=99).count()


def test_stream_starting_timestamp(reg, tmp_path):
    """startingTimestamp (r10, Delta parity): deliver every commit AT
    OR AFTER the bound; a future bound backfills nothing and tails
    later commits only."""
    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 0, 10).coalesce(1))  # v1
    t.append(_df(spark, 100, 103).coalesce(1))                      # v2
    ts = {e["version"]: e["timestamp"] for e in t.history()}

    def drain(out, chk, bound):
        q = (
            spark.readStream.format("txtable")
            .option("path", root)
            .option("startingTimestamp", bound)
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / out))
            .option("checkpointLocation", str(tmp_path / chk))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)
        p = str(tmp_path / out)
        if not os.path.isdir(p):
            return []
        return sorted(r.k for r in spark.read.parquet(p).collect())

    # bound at v2's timestamp: only v2's rows
    assert drain("o1", "c1", ts[2].isoformat()) == [100, 101, 102]
    # bound before v1: everything
    assert len(drain("o2", "c2", str(ts[1].timestamp() - 10))) == 13
    # future bound: nothing yet; a later append IS delivered
    future = str(ts[2].timestamp() + 3600)
    assert drain("o3", "c3", future) == []
    t.append(_df(spark, 200, 201).coalesce(1))
    # the checkpoint pinned the start offset at the then-head, so the
    # re-drain tails exactly the commits that landed after stream
    # start — the "start a consumer now, from now" production shape
    assert drain("o3", "c3", future) == [200]


def test_batch_reader_manifest_stats_file_skipping(reg, tmp_path):
    """pushFilters (r11): interval filters on a stats column prune the
    PARTITION list to the stat-admitted files (the 100 TB key-range
    read plans one slice, not every file), while every filter is
    returned for Spark's row-level re-application — results stay
    exact, pruning is only ever a superset."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        LessThan,
    )

    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        TxTableDataSource,
        _bounds_from_filters,
    )

    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark, root, _df(spark, 0, 10).coalesce(1), stats_cols=["k"]
    )
    t.append(_df(spark, 100, 110).coalesce(1))
    t.append(_df(spark, 200, 210).coalesce(1))
    assert len(t.snapshot().files) == 3

    def reader_with(filters):
        ds = TxTableDataSource({"path": root})
        r = ds.reader(ds.schema())
        returned = r.pushFilters(filters)
        assert list(returned) == list(filters), "all filters re-applied"
        return r

    # equality on the stats column: ONE file planned
    parts = reader_with([EqualTo(("k",), 105)]).partitions()
    assert len(parts) == 1 and parts[0].file, parts
    # range spanning two stripes: two files
    parts = reader_with(
        [GreaterThanOrEqual(("k",), 100), LessThan(("k",), 250)]
    ).partitions()
    assert len(parts) == 2
    # IN-list collapses to its hull
    parts = reader_with([In(("k",), (205, 209))]).partitions()
    assert len(parts) == 1
    # no matching stripe: the empty sentinel, zero file reads
    parts = reader_with([EqualTo(("k",), 999)]).partitions()
    assert len(parts) == 1 and not parts[0].file
    # filter on a non-stats column prunes nothing
    parts = reader_with([EqualTo(("name",), "n5")]).partitions()
    assert len(parts) == 3
    # incomparable bound types admit conservatively
    parts = reader_with([EqualTo(("k",), "oops")]).partitions()
    assert len(parts) == 3
    # bounds helper: conjunction tightens, unknown shapes ignored
    b = _bounds_from_filters(
        [GreaterThanOrEqual(("k",), 10), LessThan(("k",), 50)]
    )
    assert b == {"k": (10, 50)}
    # escape hatch: .option("pushdown","false") returns a reader that
    # does NOT implement pushFilters (plannable in sessions where
    # spark.sql.python.filterPushdown.enabled is off)
    from pyspark.sql.datasource import DataSourceReader

    ds_off = TxTableDataSource({"path": root, "pushdown": "false"})
    r_off = ds_off.reader(ds_off.schema())
    assert (
        getattr(r_off.pushFilters, "__func__", None)
        is DataSourceReader.pushFilters
    ), "pushdown=false reader must not override pushFilters"
    assert len(r_off.partitions()) == 3
    n_off = (
        spark.read.format("txtable")
        .option("path", root)
        .option("pushdown", "false")
        .load()
        .filter("k = 105")
        .count()
    )
    assert n_off == 1
    # end-to-end through SQL: values exact under pruning (Spark
    # re-applies the filter row-level)
    got = (
        spark.read.format("txtable")
        .option("path", root)
        .load()
        .filter("k >= 100 AND k < 104")
    )
    assert sorted(r.k for r in got.collect()) == [100, 101, 102, 103]
    assert (
        spark.read.format("txtable")
        .option("path", root)
        .load()
        .filter("k = 999")
        .count()
        == 0
    )
    # decimal and timestamp stats columns: pruning must agree with the
    # engine's own read, never drop a matching file
    import datetime as _dt
    from decimal import Decimal

    def same_as_engine(tbl, where):
        got = (
            spark.read.format("txtable")
            .option("path", tbl.root)
            .load()
            .filter(where)
            .collect()
        )
        want = tbl.read().filter(where).collect()
        assert sorted(got) == sorted(want) and want, where

    dec = "k bigint, d decimal(10,2)"
    td = TxTable.create(
        spark,
        str(tmp_path / "dec"),
        spark.createDataFrame(
            [(1, Decimal("9.50")), (2, Decimal("10.00"))], dec
        ).coalesce(1),
        stats_cols=["d"],
    )
    td.append(
        spark.createDataFrame(
            [(3, Decimal("1.00")), (4, Decimal("1.50"))], dec
        ).coalesce(1)
    )
    same_as_engine(td, "d >= 2")
    ts = "k bigint, t timestamp"
    day = [_dt.datetime(2024, 1, d) for d in (1, 2, 3, 4)]
    tt = TxTable.create(
        spark,
        str(tmp_path / "ts"),
        spark.createDataFrame([(1, day[0]), (2, day[1])], ts).coalesce(1),
        stats_cols=["t"],
    )
    tt.append(
        spark.createDataFrame([(3, day[2]), (4, day[3])], ts).coalesce(1)
    )
    same_as_engine(tt, "t = timestamp'2024-01-02 00:00:00'")
    same_as_engine(tt, "t >= timestamp'2024-01-02 00:00:00'")


def test_sink_and_engine_append_record_equal_stats(reg, tmp_path):
    """The same rows appended by TxTable.append and by the native
    format("txtable") writer record equal manifest stats for every
    stats column type, so engine pruning (update's read set,
    read_range) sees a sink-written file exactly like its own."""
    import datetime as _dt
    from decimal import Decimal

    spark = reg
    ddl = "k int, s string, dt date, t timestamp, d decimal(10,2)"
    x = _dt.datetime(2024, 2, 1)

    def rows(keys):
        return spark.createDataFrame(
            [
                (
                    k,
                    f"s{k}",
                    _dt.date(2024, 1, k),
                    x + _dt.timedelta(days=k - 3),
                    Decimal(f"{k}.50"),
                )
                for k in keys
            ],
            ddl,
        ).coalesce(1)

    def table(name):
        return TxTable.create(
            spark,
            str(tmp_path / name),
            rows([1, 2]),
            stats_cols=["k", "s", "dt", "t", "d"],
        )

    def new_file_stats(t, before):
        snap = t.snapshot()
        (f,) = [f for f in snap.files if f not in before]
        return snap.stats[f]

    eng = table("eng")
    before = set(eng.snapshot().files)
    eng.append(rows([3, 4]))
    sink = table("sink")
    sinked = set(sink.snapshot().files)
    rows([3, 4]).write.format("txtable").mode("append").option(
        "path", sink.root
    ).save()
    assert new_file_stats(sink, sinked) == new_file_stats(eng, before)
    # x is the sink file's min: its stats must admit the bound
    assert sorted(r.k for r in sink.read_range("t", None, x).collect()) == [
        1, 2, 3,
    ]
    assert sink.update(F.col("t") == F.lit(x), {"s": F.lit("hit")}) == 1


# ---- escaped partition paths: one read plan, one key form ------------


@pytest.fixture(scope="module")
def escaped(spark, tmp_path_factory):
    """A table partitioned on ``p = "north region"`` (its data dir is
    %-encoded in Spark's file URIs), 20 rows: v2 deletion-vectors
    k < 5, v3 updates k == 7 through a vector."""
    register(spark)
    root = str(tmp_path_factory.mktemp("escaped") / "t")
    t = TxTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, "north region", float(i)) for i in range(20)],
            "k bigint, p string, price double",
        ).coalesce(1),
        partition_by=["p"],
    )
    assert t.delete_dv(F.col("k") < 5) == 5
    assert t.update_dv(F.col("k") == 7, {"price": F.lit(99.0)}) == 1
    assert any("north region" in f for f in t.snapshot().files)
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "p", "price").collect())


def test_batch_reader_masks_dvs_on_escaped_partition_path(escaped):
    """The batch format("txtable") reader matches DV sidecar rows (URI
    form) to manifest paths (raw form) the way the engine does."""
    spark = escaped.spark
    want = _rows(escaped.read())
    assert len(want) == 15
    got = spark.read.format("txtable").option("path", escaped.root).load()
    assert _rows(got) == want


def test_stream_masks_dvs_on_escaped_partition_path(escaped, tmp_path):
    """The add-only stream delivers the head's live rows: no DV-dead
    row, no pre-update image."""
    spark = escaped.spark
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    _drain(spark, escaped.root, out, chk)
    assert _rows(spark.read.parquet(out)) == _rows(escaped.read())


def test_stream_change_feed_on_escaped_partition_path(escaped, tmp_path):
    """readChangeFeed with labels="delta" equals
    read_changes(1, labels="delta"): the five DV deletes at v2 and the
    update_dv pre/postimage pair at v3."""
    spark = escaped.spark
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        spark.readStream.format("txtable")
        .option("path", escaped.root)
        .option("readChangeFeed", "true")
        .option("labels", "delta")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "stream stalled"

    def feed(df):
        return sorted(
            (r._commit_version, r._change_type, r.k, r.price)
            for r in df.collect()
            if r._commit_version > 1
        )

    batch = feed(escaped.read_changes(1, labels="delta"))
    assert batch == [
        *[(2, "delete", k, float(k)) for k in range(5)],
        (3, "update_postimage", 7, 99.0),
        (3, "update_preimage", 7, 7.0),
    ], batch
    assert feed(spark.read.parquet(out)) == batch


def test_change_steps_plan_is_session_less(tmp_path):
    """TxTable._change_steps plans from manifests alone (the handle has
    no session, so a Spark job could not even start): content-neutral
    steps yield nothing, a CDF-bearing commit reads its sidecar,
    update_dv tags by labeling, removed files read under the previous
    version's vectors."""
    from etl_pipeline_fresh_picked_leads_spark import txlog

    root = str(tmp_path / "t")
    log_dir = os.path.join(root, "_txlog")
    schema = (
        '{"type": "struct", "fields": [{"name": "k", "type": "long",'
        ' "nullable": true, "metadata": {}}]}'
    )
    for v, op, files, dvs, cdf in [
        (1, "append", ["a", "b"], None, None),
        (2, "delete_dv", ["a", "b"], {"a": ["dv1"]}, None),
        (3, "update_dv", ["a", "b", "c"], {"a": ["dv1", "dv2"]}, None),
        (4, "overwrite", ["d"], None, None),
        (5, "compact", ["e"], None, None),
        (6, "purge", ["f"], None, None),
        (7, "update", ["g"], None, ["s7"]),
    ]:
        txlog.write_manifest(
            log_dir,
            {
                "version": v,
                "op": op,
                "files": files,
                "schema": schema,
                "dvs": dvs,
                "cdf": cdf,
            },
        )
    t = TxTable(None, root)

    def plan(labels="simple", **kw):
        return [
            (s.version, s.snap.version, s.files, s.tag, s.dv,
             s.snap.dvs_for(s.files))
            for s in t._change_steps(1, labels=labels, **kw)
        ]

    simple = plan()
    assert simple == [
        (2, 2, ["a"], "delete", "semi", {"a": ["dv1"]}),
        (3, 3, ["c"], "insert", "anti", {}),
        (3, 3, ["a"], "delete", "semi", {"a": ["dv2"]}),
        # removed files under v3's vectors, not v4's (it has none)
        (4, 4, ["d"], "insert", "anti", {}),
        (4, 3, ["a", "b", "c"], "delete", "anti", {"a": ["dv1", "dv2"]}),
        (7, 7, ["s7"], None, "cdf", {}),
    ], simple
    delta = plan("delta")
    assert [s[3] for s in delta if s[0] == 3] == [
        "update_postimage",
        "update_preimage",
    ]
    assert [s for s in delta if s[0] != 3] == [
        s for s in simple if s[0] != 3
    ]
    # with neutral steps kept, compact and purge read as file diffs
    assert [s[:5] for s in plan(skip_neutral=False) if s[0] in (5, 6)] == [
        (5, 5, ["e"], "insert", "anti"),
        (5, 4, ["d"], "delete", "anti"),
        (6, 6, ["f"], "insert", "anti"),
        (6, 5, ["e"], "delete", "anti"),
    ]


def test_change_feed_partitions_across_add_and_rename_column(reg, tmp_path):
    """readChangeFeed's partitions read every step's files through the
    stream schema's physical columns: rows older than an added column
    read NULL in it, as in read_changes, and a later rename keeps the
    values (planned and read here without a streaming query)."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        _TxStreamReader,
    )

    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, name string")
        .coalesce(1),
    )
    t.add_column("price", "double")
    t.append(
        spark.createDataFrame(
            [(3, "c", 3.0)], "k bigint, name string, price double"
        )
    )
    batch = sorted(
        (r._commit_version, r._change_type, r.k, r.name, r.price)
        for r in t.read_changes(0).collect()
    )
    t.rename_column("name", "label")
    reader = _TxStreamReader(root, t.read().schema, change_feed=True)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["label"],
         r["price"])
        for p in reader._partitions({"version": 0}, {"version": 4})
        for b in reader.read(p)
        for r in b.to_pylist()
    )
    assert got == batch == [
        (1, "insert", 1, "a", None),
        (1, "insert", 2, "b", None),
        (3, "insert", 3, "c", 3.0),
    ], got


def test_change_feed_reads_cdf_sidecar_across_rename(reg, tmp_path):
    """A CoW update's CDF sidecar holds the column names of its commit;
    after a rename, batch read_changes and the stream's partitions both
    read it under the new name (by physical column), never NULL."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        _TxStreamReader,
    )

    spark = reg
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark, root, spark.createDataFrame([(1, 10.0)], "k bigint, price double")
    )
    t.update(F.col("k") == 1, {"price": F.lit(11.0)})  # v2: sidecar
    t.rename_column("price", "amount")
    batch = sorted(
        (r._commit_version, r._change_type, r.k, r.amount)
        for r in t.read_changes(0).collect()
    )
    reader = _TxStreamReader(root, t.read().schema, change_feed=True)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["amount"])
        for p in reader._partitions({"version": 0}, {"version": 3})
        for b in reader.read(p)
        for r in b.to_pylist()
    )
    assert got == batch == [
        (1, "insert", 1, 10.0),
        (2, "delete", 1, 10.0),
        (2, "insert", 1, 11.0),
    ], (got, batch)
