"""Deletion vectors (sources/txtable.py delete_dv/update_dv, r9):
merge-on-read DELETE/UPDATE.  A mutation writes a (file, row-position)
sidecar instead of rewriting data files — the fix for copy-on-write
amplification at 100 TB with scattered small mutations (VERDICT r8
item 2).  Every committed read must subtract the vectors; every
file-rewriting op materializes them and retires the vector; vacuum
GCs superseded sidecars but never live ones.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
    TxConstraintViolation,
    TxTable,
)


def _df(spark, n=100):
    return spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(n)],
        "k bigint, name string, price double",
    )


def _dv_paths(snap) -> list[str]:
    return sorted({p for v in (snap.dvs or {}).values() for p in v})


def test_delete_dv_no_file_rewrite_and_read_merge(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2), stats_cols=["k"])
    before = set(t.snapshot().files)
    n = t.delete_dv(F.col("k") % 10 == 3)
    assert n == 10
    snap = t.snapshot()
    assert set(snap.files) == before, "data files carried by reference"
    assert snap.op == "delete_dv" and snap.dvs
    got = sorted(r.k for r in t.read().collect())
    assert got == [i for i in range(100) if i % 10 != 3]
    # already-deleted rows never double-count; no-match still commits
    assert t.delete_dv(F.col("k") % 10 == 3) == 0
    assert t.snapshot().version == snap.version + 1
    assert set(t.snapshot().files) == before
    # NULL predicate rows survive (SQL DELETE semantics)
    assert t.delete_dv(F.lit(None).cast("boolean")) == 0


def test_update_dv_appends_never_rewrites(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2))
    before = set(t.snapshot().files)
    n = t.update_dv(F.col("k") < 3, {"price": F.col("price") + 1000})
    assert n == 3
    snap = t.snapshot()
    assert before < set(snap.files), "old files intact, images appended"
    assert snap.dvs and snap.op == "update_dv"
    got = {r.k: r.price for r in t.read().collect()}
    assert got[0] == 1000.0 and got[1] == 1001.0 and len(got) == 100
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_dv(F.col("k") == 1, {"nope": F.lit(1)})


def test_dv_timetravel_restore_and_history(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2))
    t.delete_dv(F.col("k") < 10)
    assert t.read(1).count() == 100, "pre-DV snapshot reads full"
    assert t.read().count() == 90
    ops = [h["op"] for h in t.history()]
    assert "delete_dv" in ops
    t.restore(1)
    assert t.read().count() == 100 and not t.snapshot().dvs
    # restore BACK to the DV'd version resurrects the vectors
    t.restore(2)
    assert t.read().count() == 90 and t.snapshot().dvs


def test_compact_materializes_and_vacuum_gcs_superseded(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2))
    t.delete_dv(F.col("k") < 10)
    dead = _dv_paths(t.snapshot())
    t.compact(target_bytes=1 << 30, small_frac=1.0)
    assert not t.snapshot().dvs, "rewrite retires the vectors"
    assert t.read().count() == 90
    t.vacuum(retain=1, min_age_seconds=0)
    assert all(not os.path.exists(p) for p in dead), "superseded DVs GC'd"
    assert t.read().count() == 90


def test_vacuum_never_gcs_referenced_dvs(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2))
    t.delete_dv(F.col("k") == 50)
    live = _dv_paths(t.snapshot())
    # a NEW file's k=50 row is untouched: DV identity is (file, pos)
    t.append(_df(spark, 51).filter(F.col("k") == 50).coalesce(1))
    t.vacuum(retain=1, min_age_seconds=0)
    assert all(os.path.exists(p) for p in live)
    assert t.read().filter(F.col("k") == 50).count() == 1  # the appended twin
    assert t.read().count() == 100


def test_cow_mutations_on_dv_table_dont_resurrect(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2), stats_cols=["k"])
    t.delete_dv(F.col("k") == 50)
    # CoW update hits the file holding k=50: deletes materialize
    n = t.update(F.col("k").between(45, 55), {"price": F.lit(1.0)})
    assert n == 10, "DV'd row is not live, not updated"
    assert t.read().filter(F.col("k") == 50).count() == 0
    assert not t.snapshot().dvs, "rewritten file's vector retired"


def test_merge_and_upsert_see_dv_deletes(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2))
    t.delete_dv(F.col("k") == 5)
    src = spark.createDataFrame(
        [(5, "back", 5.0), (6, "upd", 66.0)],
        "k bigint, name string, price double",
    )
    res = t.merge(src, "k", update="all")
    assert res["inserted"] == 1 and res["updated"] == 1, res
    got = {r.k: r.name for r in t.read().collect()}
    assert got[5] == "back" and got[6] == "upd" and len(got) == 100
    t.delete_dv(F.col("k") == 7)
    t.upsert(
        spark.createDataFrame(
            [(8, "up8", 8.8)], "k bigint, name string, price double"
        ),
        "k",
    )
    got = {r.k: r.name for r in t.read().collect()}
    assert 7 not in got and got[8] == "up8"


def test_replace_where_respects_dvs(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(4), stats_cols=["k"])
    t.delete_dv(F.col("k") == 40)
    rep = spark.createDataFrame(
        [(41, "r", 1.0)], "k bigint, name string, price double"
    )
    t.replace_where(rep, "k >= 40 AND k < 45")
    got = sorted(
        r.k
        for r in t.read().filter(F.col("k").between(38, 46)).collect()
    )
    assert got == [38, 39, 41, 45, 46], got


def test_clone_carries_dvs_then_diverges(spark, tmp_path):
    src, cl = str(tmp_path / "src"), str(tmp_path / "cl")
    t = TxTable.create(spark, src, _df(spark).coalesce(2))
    t.delete_dv(F.col("k") == 1)
    c = t.clone_to(cl)
    assert c.read().count() == 99
    c.delete_dv(F.col("k") == 2)
    assert c.read().count() == 98 and t.read().count() == 99


def test_dv_under_column_mapping(spark, tmp_path):
    """DV row identity is (file, position) — logical renames must not
    disturb it (the colmap projection happens above the scan)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2))
    t.rename_column("price", "amount")
    n = t.delete_dv(F.col("amount") < 5)
    assert n == 5
    assert t.read().count() == 95
    t.update_dv(F.col("k") == 10, {"amount": F.lit(0.5)})
    got = {r.k: r.amount for r in t.read().collect()}
    assert got[10] == 0.5 and len(got) == 95


def test_update_dv_gated_by_constraints(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 10).coalesce(1))
    t.add_constraint("price_low", "price < 10000")
    with pytest.raises(TxConstraintViolation):
        t.update_dv(F.col("k") == 1, {"price": F.lit(99999.0)})
    assert t.read().count() == 10, "failed update changed nothing"
    # the failed attempt's version bookkeeping: no partial commit
    before = t.snapshot()
    assert not before.dvs
    # zero match: the empty-change version commits before validation,
    # with the same file list (no empty data file, no vector)
    assert t.update_dv(F.col("k") < 0, {"price": F.lit(99999.0)}) == 0
    snap = t.snapshot()
    assert snap.version == before.version + 1 and snap.op == "update_dv"
    assert list(snap.files) == list(before.files) and not snap.dvs


def test_read_since_applies_head_dvs_to_new_files(spark, tmp_path):
    """Changefeed semantics under DVs: rows of NEW files that are
    deleted at the head are not delivered; DV deletes on files the
    consumer already saw are not retracted (add-only feed — same
    contract as restore)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 10).coalesce(1))
    v1 = t.snapshot().version
    t.append(_df(spark, 30).filter(F.col("k") >= 10).coalesce(1))
    t.delete_dv(F.col("k").isin(5, 15))
    got = sorted(r.k for r in t.read_since(v1).collect())
    assert got == [k for k in range(10, 30) if k != 15], got


def test_delete_dv_stats_minmax_pruning_still_sound(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(4), stats_cols=["k"])
    t.delete_dv(F.col("k") == 30)
    hit = t.files_in_range("k", 25, 35, t.snapshot())
    assert len(hit) < len(t.snapshot().files), "pruning survives DVs"
    assert t.read_range("k", 25, 35).count() == 10


def test_merge_dv_mode_fires_without_rewrites(spark, tmp_path):
    """merge(mode='dv'): fired update/delete targets DV out in place,
    updated images + inserts append — every original data file
    survives by reference (Delta's DV merge path).  Same clause
    semantics, counts, txn replay and empty-change behavior as CoW."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark).coalesce(2))
    files0 = set(t.snapshot().files)
    src = spark.createDataFrame(
        [(5, "UPD", 5.5), (7, None, 0.0), (200, "NEW", 2.0)],
        "k bigint, name string, price double",
    )
    res = t.merge(
        src,
        "k",
        update="all",
        update_condition="s.k <> 7",
        delete_condition="s.k = 7",
        mode="dv",
        txn="m1",
    )
    assert res["updated"] == 1 and res["deleted"] == 1 and res["inserted"] == 1
    snap = t.snapshot()
    assert files0 < set(snap.files), "originals carried by reference"
    assert snap.op == "merge_dv" and snap.dvs
    got = {r.k: r.name for r in t.read().collect()}
    assert got[5] == "UPD" and 7 not in got and got[200] == "NEW"
    assert len(got) == 100
    # txn replay no-ops (idempotency checked before any work)
    res2 = t.merge(src, "k", update="all", mode="dv", txn="m1")
    assert res2 == {
        "updated": 0,
        "deleted": 0,
        "inserted": 0,
        "version": snap.version,
    }
    # nothing-fired dv merge commits an empty-change version
    v = t.snapshot().version
    res3 = t.merge(
        spark.createDataFrame(
            [(5, "UPD", 5.5)], "k bigint, name string, price double"
        ),
        "k",
        update="all",
        update_condition="s.name <> t.name",
        insert=False,
        mode="dv",
    )
    assert res3["updated"] == 0 and t.snapshot().version == v + 1
    # compact materializes the DV'd merge and equals the logical state
    t.compact(target_bytes=1 << 30, small_frac=1.0)
    assert not t.snapshot().dvs
    assert {r.k: r.name for r in t.read().collect()} == got
    with pytest.raises(ValueError, match="cow.*dv|dv.*cow"):
        t.merge(src, "k", mode="zzz")


def test_merge_dv_equals_cow_merge_state(spark, tmp_path):
    """The two merge modes are semantically indistinguishable: same
    clause matrix applied to twin tables converges on identical
    visible rows."""
    srcrows = [(2, "B2", 2.2), (3, None, 0.0), (300, "NEW", 3.0)]
    src = spark.createDataFrame(
        srcrows, "k bigint, name string, price double"
    )
    finals = []
    for mode in ("cow", "dv"):
        root = str(tmp_path / mode)
        t = TxTable.create(spark, root, _df(spark, 20).coalesce(2))
        t.merge(
            src,
            "k",
            update="all",
            update_condition="s.k <> 3",
            delete_condition="s.k = 3",
            insert_condition="s.k >= 100",
            mode=mode,
        )
        finals.append(
            sorted(
                (r.k, r.name, r.price) for r in t.read().collect()
            )
        )
    assert finals[0] == finals[1]


def test_merge_schema_evolution(spark, tmp_path):
    """merge(schema_evolution=True) — Delta withSchemaEvolution: new
    source columns extend the table schema in the merge commit itself;
    old rows read NULL; without the flag the same source is refused.
    The dropped-name fence holds through evolution (a re-added name
    gets a fresh physical column, old values never resurrect) — in
    merge-on-read mode too, where old files survive verbatim."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(10)], "k bigint, name string"
        ).coalesce(1),
    )
    src = spark.createDataFrame(
        [(3, "U3", 33.0), (100, "NEW", 1.0)],
        "k bigint, name string, score double",
    )
    with pytest.raises(Exception):
        t.merge(src, "k")  # unexpected column: refused without the flag
    res = t.merge(src, "k", schema_evolution=True)
    assert res["updated"] == 1 and res["inserted"] == 1
    got = {r.k: (r.name, r.score) for r in t.read().collect()}
    assert got[3] == ("U3", 33.0) and got[100] == ("NEW", 1.0)
    assert got[0] == ("n0", None) and len(got) == 11
    assert "score" not in t.read(1).columns, "pre-evolution time travel"

    # dropped-name re-add through evolution, merge-on-read: the old
    # file still holds the retired physical values and survives
    # VERBATIM (no rewrite) — only the fresh physical name saves us
    root2 = str(tmp_path / "t2")
    t2 = TxTable.create(
        spark,
        root2,
        spark.createDataFrame(
            [(1, "a", 9.9)], "k bigint, name string, score double"
        ).coalesce(1),
    )
    t2.drop_column("score")
    files0 = set(t2.snapshot().files)
    src2 = spark.createDataFrame(
        [(1, "A", 5.0), (2, "b", 6.0)],
        "k bigint, name string, score double",
    )
    t2.merge(src2, "k", schema_evolution=True, mode="dv")
    assert files0 < set(t2.snapshot().files), "originals intact"
    got2 = {r.k: r.score for r in t2.read().collect()}
    assert got2 == {1: 5.0, 2: 6.0}, "dropped 9.9 must not resurrect"
    phys = {c["name"]: c["phys"] for c in t2.snapshot().colmap}
    assert phys["score"] != "score", "fresh physical name"

    # dict-update can target the evolved column
    root3 = str(tmp_path / "t3")
    t3 = TxTable.create(
        spark,
        root3,
        spark.createDataFrame(
            [(3, "x"), (4, "y")], "k bigint, name string"
        ).coalesce(1),
    )
    t3.merge(src, "k", update={"score": "s.score + 1"}, schema_evolution=True)
    got3 = {r.k: r.score for r in t3.read().collect()}
    assert got3 == {3: 34.0, 4: None, 100: 1.0}, got3


def test_purge_dvs_rewrites_only_dirty_files(spark, tmp_path):
    """REORG APPLY PURGE (r9): only files whose DV fraction crosses
    the threshold rewrite — clean files and lightly-vectored files
    carry by reference; their vectors survive; the purged files'
    vectors retire; visible rows never change."""
    root = str(tmp_path / "t")
    # 4 files of 25 rows each (k ranges by repartitionByRange)
    t = TxTable.create(
        spark,
        root,
        _df(spark).repartitionByRange(4, "k"),
        stats_cols=["k"],
    )
    t.delete_dv(F.col("k") < 10)  # ~40% of one file: dirty
    t.delete_dv(F.col("k") == 40)  # 1 row of another: light
    before = t.snapshot()
    want = sorted(r.k for r in t.read().collect())
    v = t.purge_dvs(min_deleted_frac=0.2)
    snap = t.snapshot()
    assert v == snap.version and snap.op == "purge"
    carried = set(before.files) & set(snap.files)
    assert len(set(before.files) - carried) == 1, "one dirty file rewrote"
    assert snap.dvs and all(
        f in carried for f in snap.dvs
    ), "light vector survives on its carried file"
    assert sorted(r.k for r in t.read().collect()) == want
    # below-threshold call is a maintenance no-op: version unchanged
    assert t.purge_dvs(min_deleted_frac=0.2) == snap.version
    # threshold 0 purges everything vectored
    t.purge_dvs(min_deleted_frac=0.0)
    assert not t.snapshot().dvs
    assert sorted(r.k for r in t.read().collect()) == want


def test_read_changes_row_level_cdf(spark, tmp_path):
    """read_changes (r9 CDF-lite): exact row-level deletes from DV
    sidecars, delete+insert pairs for update_dv, plain inserts for
    appends, silence for content-neutral compaction, and rows already
    dead under the previous version's vectors never re-emit."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 20).coalesce(2))
    t.delete_dv(F.col("k") < 3)                                  # v2
    t.update_dv(F.col("k") == 5, {"price": F.lit(555.0)})        # v3
    t.append(
        spark.createDataFrame(
            [(100, "x", 1.0)], "k bigint, name string, price double"
        ).coalesce(1)
    )                                                            # v4
    t.compact(target_bytes=1 << 30, small_frac=1.0)              # v5
    got = sorted(
        (r._commit_version, r._change_type, r.k)
        for r in t.read_changes(1).collect()
    )
    assert got == [
        (2, "delete", 0), (2, "delete", 1), (2, "delete", 2),
        (3, "delete", 5), (3, "insert", 5),
        (4, "insert", 100),
    ], got
    ins5 = [
        r
        for r in t.read_changes(2, 3).collect()
        if r._change_type == "insert"
    ]
    assert len(ins5) == 1 and ins5[0].price == 555.0, "postimage values"
    # CoW rewrite after compact: with the exact _cdf sidecar (r10) the
    # update emits ONLY the changed row's delete+insert pair — the
    # rewritten file's carried-along rows never re-emit
    n = t.update(F.col("k") == 7, {"price": F.lit(7.7)})
    assert n == 1
    ch = sorted(
        (r._change_type, r.k, r.price) for r in t.read_changes(5).collect()
    )
    assert ch == [("delete", 7, 7.0), ("insert", 7, 7.7)], ch
    # folding the full feed + untouched initial rows equals the head
    # (the consumer contract): every key's LAST change wins
    full = t.read_changes(1).collect()
    last = {}
    for r in sorted(full, key=lambda r: (r._commit_version,
                                         r._change_type == "insert")):
        last[r.k] = (r._change_type, r.price)
    head = {r.k: r.price for r in t.read().collect()}
    for k, (kind, price) in last.items():
        if kind == "insert":
            assert head.get(k) == price, (k, kind, price, head.get(k))
        else:
            assert k not in head, k
    # exactness (r10): the untouched key 10 never appears in the feed
    # at all (pre-r10 the CoW rewrite re-emitted it file-granularly),
    # and the v2-deleted keys stayed dead through the rewrite
    assert 10 not in last and head[10] == 10.0
    assert last[0][0] == "delete" and 0 not in head


def test_read_changes_empty_window_and_missing_since(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 5).coalesce(1))
    ch = t.read_changes(1)
    assert ch.count() == 0
    assert ch.columns[:2] == ["_change_type", "_commit_version"]
    with pytest.raises(FileNotFoundError):
        t.read_changes(99)

def test_read_changes_keeps_a_renamed_column_whole(spark, tmp_path):
    """A column renamed inside the window is ONE column of the feed,
    under the ``until`` snapshot's name, with values on both sides of
    the rename — data-file steps and the update's CDF sidecar alike."""
    schema = "k bigint, price double"
    t = TxTable.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([(1, 10.0)], schema)
    )
    t.append(spark.createDataFrame([(2, 20.0)], schema))  # v2
    t.rename_column("price", "amount")  # v3
    t.append(spark.createDataFrame([(3, 30.0)], "k bigint, amount double"))
    t.update(F.col("k") == 1, {"amount": F.lit(11.0)})  # v5
    ch = t.read_changes(1)
    assert ch.columns == ["_change_type", "_commit_version", "k", "amount"]
    got = sorted(
        (r._commit_version, r._change_type, r.k, r.amount) for r in ch.collect()
    )
    assert got == [
        (2, "insert", 2, 20.0),
        (4, "insert", 3, 30.0),
        (5, "delete", 1, 10.0),
        (5, "insert", 1, 11.0),
    ], got


def test_read_changes_restore_applies_dvs_to_added_files(spark, tmp_path):
    """ADVICE r9 (medium): a commit that (re-)adds DV-carrying files —
    restore() to a DV'd version — must read the added files under the
    restored snapshot's vectors, or DV-dead rows resurrect as 'insert'
    in the feed while absent from read()."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 20).coalesce(2))  # v1
    t.delete_dv(F.col("k") < 5)                                  # v2 (DV'd)
    t.overwrite(
        spark.createDataFrame(
            [(100, "x", 1.0)], "k bigint, name string, price double"
        ).coalesce(1)
    )                                                            # v3
    t.restore(2)                                                 # v4: RE-ADDS
    snap = t.snapshot()
    assert snap.op == "restore" and snap.dvs, "restored state carries DVs"
    prev_files = set(t.snapshot(3).files)
    assert set(snap.files) - prev_files, "restore re-added data files"
    feed = t.read_changes(3).collect()
    ins = sorted(r.k for r in feed if r._change_type == "insert")
    assert ins == list(range(5, 20)), (
        f"DV-dead rows resurrected as insert: {[k for k in ins if k < 5]}"
    )
    # fold-equals-head through the restore step
    head = sorted(r.k for r in t.read().collect())
    assert head == list(range(5, 20)), head
    # the keys restored away (k=100) emit as delete
    dels = sorted(r.k for r in feed if r._change_type == "delete")
    assert 100 in dels


def test_scan_reserved_names_guard(spark, tmp_path):
    """ADVICE r9 (low): _fp/_pos are reserved on EVERY scan that
    projects them, not just merge(mode='dv') — delete_dv on a table
    whose schema contains either name must refuse instead of silently
    dropping the column, and the copy-on-write affected-file search
    (which projects _fp) refuses an _fp column."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a")], "k bigint, _pos string"
    )
    t = TxTable.create(spark, root, df.coalesce(1))
    with pytest.raises(ValueError, match="_fp/_pos"):
        t.delete_dv(F.col("k") == 1)
    # a CoW update projects only _fp: the _pos column is not in its way
    assert t.update(F.col("k") == 1, {"_pos": F.lit("b")}) == 1
    assert [r._pos for r in t.read().collect()] == ["b"]
    fp = TxTable.create(
        spark,
        str(tmp_path / "f"),
        spark.createDataFrame([(1, "a")], "k bigint, _fp string"),
    )
    with pytest.raises(ValueError, match="_fp/_pos"):
        fp.update(F.col("k") == 1, {"_fp": F.lit("b")})
    # a clean table is unaffected
    t2 = TxTable.create(
        spark, str(tmp_path / "u"), _df(spark, 5).coalesce(1)
    )
    assert t2.delete_dv(F.col("k") == 0) == 1


def test_read_range_scans_one_snapshot(spark, tmp_path, monkeypatch):
    """read_range prunes and scans the SAME snapshot.  A head re-read
    between the two would scan the newer file list under the older
    snapshot's vectors: rows a racer appended and then delete_dv'd
    would come back."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 10).coalesce(1))
    racer = TxTable(spark, root)
    real = TxTable.snapshot
    raced = []

    def snapshot(self, version=None):
        snap = real(self, version)
        if self is t and version is None and not raced:
            raced.append(True)  # land two commits after t's head read
            racer.append(
                _df(spark, 110).filter(F.col("k") >= 100).coalesce(1)
            )
            racer.delete_dv((F.col("k") >= 100) & (F.col("k") < 105))
        return snap

    monkeypatch.setattr(TxTable, "snapshot", snapshot)
    got = sorted(r.k for r in t.read_range("k", 0, 200).collect())
    monkeypatch.undo()
    assert raced
    assert got == list(range(10)), got
    head = sorted(r.k for r in t.read_range("k", 0, 200).collect())
    assert head == [*range(10), *range(105, 110)], head


def test_read_changes_since_zero_vacuumed_log(spark, tmp_path):
    """ADVICE r9 (low): since=0 on a vacuum-truncated log raises a
    retention-oriented error, not a bare 'version N does not exist'."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 10).coalesce(1))
    t.append(_df(spark, 3).coalesce(1))
    t.append(_df(spark, 2).coalesce(1))
    t.vacuum(retain=1, min_age_seconds=0.0)
    with pytest.raises(FileNotFoundError, match="retention"):
        t.read_changes(0)
    # the source plans through the same checks: no streaming query,
    # just the partition planning of a window the log no longer holds
    from pyspark.sql.types import StructType

    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        _TxStreamReader,
    )

    schema = StructType.fromJson(json.loads(t.snapshot().schema_json))
    head = {"version": t.snapshot().version}
    for feed, start in ((True, 0), (False, 1)):
        reader = _TxStreamReader(root, schema, change_feed=feed)
        with pytest.raises(FileNotFoundError, match="retention"):
            reader._partitions({"version": start}, head)
    # a retained-window read still works
    assert t.read_changes(t.snapshot().version).count() == 0

def test_exact_cow_cdf_merge_upsert_replace(spark, tmp_path):
    """Exact CoW CDF (r10): merge/upsert/replace_where commits carry a
    _cdf sidecar, so read_changes emits ONLY the rows that actually
    changed — never the rewritten files' carried-along rows."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 20).coalesce(2))  # v1
    src = spark.createDataFrame(
        [(3, "u3", 33.0), (7, "gone", 0.0), (100, "new", 1.0)],
        "k bigint, name string, price double",
    )
    res = t.merge(                                               # v2
        src,
        on="k",
        update={"price": "s.price"},
        update_condition="s.name like 'u%'",
        delete_condition="s.name = 'gone'",
    )
    assert (res["updated"], res["deleted"], res["inserted"]) == (1, 1, 1)
    assert t.snapshot().cdf, "merge commit carries the sidecar"
    ch = sorted(
        (r._change_type, r.k, r.price) for r in t.read_changes(1).collect()
    )
    assert ch == [
        ("delete", 3, 3.0), ("delete", 7, 7.0),
        ("insert", 3, 33.0), ("insert", 100, 1.0),
    ], ch
    # upsert: replaced key emits delete+insert, fresh key insert-only,
    # carried rows of the rewritten file silent
    t.upsert(
        spark.createDataFrame(
            [(4, "up", 44.0), (200, "ins", 2.0)],
            "k bigint, name string, price double",
        ),
        key="k",
    )                                                            # v3
    ch3 = sorted(
        (r._change_type, r.k) for r in t.read_changes(2).collect()
    )
    assert ch3 == [("delete", 4), ("insert", 4), ("insert", 200)], ch3
    # replace_where: slice preimages delete, incoming frame inserts
    t.replace_where(
        spark.createDataFrame(
            [(5, "r5", 55.0)], "k bigint, name string, price double"
        ),
        (F.col("k") >= 5) & (F.col("k") <= 6),
    )                                                            # v4
    ch4 = sorted(
        (r._change_type, r.k) for r in t.read_changes(3).collect()
    )
    assert ch4 == [("delete", 5), ("delete", 6), ("insert", 5)], ch4
    # fold-equals-head across the mixed history
    full = t.read_changes(1).collect()
    last = {}
    for r in sorted(full, key=lambda r: (r._commit_version,
                                         r._change_type == "insert")):
        last[r.k] = (r._change_type, r.price)
    head = {r.k: r.price for r in t.read().collect()}
    for k, (kind, price) in last.items():
        if kind == "insert":
            assert head.get(k) == price, (k, kind, price)
        else:
            assert k not in head, k
    # vacuum keeps sidecars referenced by retained manifests
    t.vacuum(retain=len(t._versions()), min_age_seconds=0.0)
    assert t.read_changes(1).count() == len(full), "sidecars survive"
    # dropping history GCs the now-unreferenced sidecars
    old_cdf = [p for v_ in (2, 3) for p in t.snapshot(v_).cdf]
    t.vacuum(retain=1, min_age_seconds=0.0)
    assert all(not os.path.exists(p) for p in old_cdf)


def test_stream_cdf_matches_batch_for_cow_merge(spark, tmp_path):
    """The streaming readChangeFeed and batch read_changes must agree
    on an exact-CDF CoW merge commit (ADVICE r9: the two feeds once
    disagreed on DV handling; pin parity for the r10 sidecar too)."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        register,
    )

    register(spark)
    root, out, chk = (
        str(tmp_path / "t"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )
    t = TxTable.create(spark, root, _df(spark, 10).coalesce(1))
    t.merge(
        spark.createDataFrame(
            [(2, "u", 22.0), (300, "i", 3.0)],
            "k bigint, name string, price double",
        ),
        on="k",
        update={"price": "s.price"},
    )
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
    stream_rows = sorted(
        (r._commit_version, r._change_type, r.k, r.price)
        for r in spark.read.parquet(out).collect()
        if r._commit_version == 2
    )
    batch_rows = sorted(
        (r._commit_version, r._change_type, r.k, r.price)
        for r in t.read_changes(1).collect()
    )
    assert stream_rows == [
        (2, "delete", 2, 2.0), (2, "insert", 2, 22.0),
        (2, "insert", 300, 3.0),
    ], stream_rows
    assert stream_rows == batch_rows


def test_zorder_clustering_survives_dv_and_purge(spark, tmp_path):
    """Z-order + DV interplay (r10 probe): manifest min/max pruning on
    a clustered table stays SOUND (never wrong) and EFFECTIVE (still
    skips files) while DVs accumulate, and purge_dvs rewrites only the
    dirty files — carried clean files keep their stats, so clustering
    survives the purge without a re-sort."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, i % 7, float(i)) for i in range(4000)],
            "a bigint, b bigint, price double",
        ).coalesce(1),
        stats_cols=["a", "b"],
    )
    sz = sum(os.path.getsize(f) for f in t.snapshot().files)
    t.compact(target_bytes=max(1, sz // 8), cluster_by=["a", "b"],
              zorder=True)
    n_files = len(t.snapshot().files)
    assert n_files > 3, "clustering produced a multi-file layout"
    opened0 = len(t.files_in_range("a", 100, 300))
    assert 0 < opened0 < n_files, "clustered pruning effective"
    # scattered DV deletes inside and outside the probe range
    assert t.delete_dv((F.col("a") % 13 == 5)) > 0
    want = sorted(
        i for i in range(100, 301) if i % 13 != 5
    )
    got = sorted(r.a for r in t.read_range("a", 100, 300).collect())
    assert got == want, "pruned + DV'd range read stays exact"
    assert len(t.files_in_range("a", 100, 300)) == opened0, (
        "DVs never widen the pruned set (vectors only remove rows)"
    )
    # purge only the dirty files; clean files carry by reference
    before = set(t.snapshot().files)
    t.purge_dvs(min_deleted_frac=0.0)
    snap = t.snapshot()
    assert not snap.dvs
    carried = before & set(snap.files)
    # every file had a 1-in-13 hit here, so all rewrote — the general
    # invariant is about the pruning AFTER the purge:
    opened1 = len(t.files_in_range("a", 100, 300))
    assert 0 < opened1 < len(snap.files), (
        "clustering (and its stats-based pruning) survives the purge"
    )
    got = sorted(r.a for r in t.read_range("a", 100, 300).collect())
    assert got == want
    _ = carried


def test_read_changes_delta_labels(spark, tmp_path):
    """labels='delta' (r10): updates pair as update_preimage/
    update_postimage — from CoW merge/update/upsert sidecars AND from
    update_dv's op; the default 'simple' labeling and the streaming
    feed stay on the two-tag form."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _df(spark, 10).coalesce(1))      # v1
    t.merge(                                                         # v2
        spark.createDataFrame(
            [(2, "u", 22.0), (3, "gone", 0.0), (100, "i", 1.0)],
            "k bigint, name string, price double",
        ),
        on="k",
        update={"price": "s.price"},
        update_condition="s.name = 'u'",
        delete_condition="s.name = 'gone'",
    )
    t.update(F.col("k") == 5, {"price": F.lit(5.5)})                 # v3
    t.upsert(
        spark.createDataFrame(
            [(6, "up", 66.0), (200, "new", 2.0)],
            "k bigint, name string, price double",
        ),
        key="k",
    )                                                                # v4
    t.update_dv(F.col("k") == 7, {"price": F.lit(7.7)})              # v5
    rows = sorted(
        (r._commit_version, r._change_type, r.k)
        for r in t.read_changes(1, labels="delta").collect()
    )
    assert rows == [
        (2, "delete", 3),
        (2, "insert", 100),
        (2, "update_postimage", 2), (2, "update_preimage", 2),
        (3, "update_postimage", 5), (3, "update_preimage", 5),
        (4, "insert", 200),
        (4, "update_postimage", 6), (4, "update_preimage", 6),
        (5, "update_postimage", 7), (5, "update_preimage", 7),
    ], rows
    # default labeling collapses to the two-tag form
    simple = sorted(
        (r._commit_version, r._change_type, r.k)
        for r in t.read_changes(1).collect()
    )
    assert {c for _, c, _ in simple} == {"delete", "insert"}
    assert len(simple) == len(rows)
    with pytest.raises(ValueError, match="labels"):
        t.read_changes(1, labels="bogus")
