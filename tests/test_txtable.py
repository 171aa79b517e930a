"""TxTable (sources/txtable.py): transaction-log parquet tables.

Covers the four properties that make it 'transactional':
snapshot isolation, atomic commit (crash = previous snapshot),
file-granular copy-on-write (upsert/update rewrite only affected
files), and optimistic-concurrency conflict detection.
"""

from __future__ import annotations

import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from etl_pipeline_fresh_picked_leads_spark.sources.catalog import table_root
from etl_pipeline_fresh_picked_leads_spark.sources.maintenance import (
    set_ingestion_date_where_null,
)
from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
    TxConflictError,
    TxTable,
)


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_roundtrip_overwrite_append(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a"), (2, "b")]))
    assert t.snapshot().version == 1
    t.append(_mkdf(spark, [(3, "c")]))
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    t.overwrite(_mkdf(spark, [(9, "z")]))
    assert [(r.k, r.v) for r in t.read().collect()] == [(9, "z")]
    assert t.snapshot().version == 3


def test_upsert_is_file_granular(spark, tmp_path):
    """Keys 1..4 land in separate commits; upserting key 1 must carry
    the other commits' files by reference (same paths in the new
    manifest), rewriting only the file that held key 1."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]).coalesce(1))
    for k, v in [(2, "b"), (3, "c"), (4, "d")]:
        t.append(_mkdf(spark, [(k, v)]).coalesce(1))
    before = t.snapshot()
    t.upsert(_mkdf(spark, [(1, "A"), (5, "e")]).coalesce(1), "k")
    after = t.snapshot()
    carried = set(before.files) & set(after.files)
    # the three untouched single-key files survive byte-identically
    assert len(carried) == 3
    got = dict((r.k, r.v) for r in t.read().collect())
    assert got == {1: "A", 2: "b", 3: "c", 4: "d", 5: "e"}


def test_update_rewrites_only_matching_files(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "x"), (2, "y")]).coalesce(1))
    t.append(_mkdf(spark, [(3, "z")]).coalesce(1))
    before = t.snapshot()
    n = t.update(F.col("k") == 3, {"v": F.lit("Z")})
    assert n == 1
    after = t.snapshot()
    # the (1,2) file is carried by reference; only the k=3 file was COW'd
    assert set(before.files) & set(after.files), "untouched file not carried"
    got = dict((r.k, r.v) for r in t.read().collect())
    assert got == {1: "x", 2: "y", 3: "Z"}
    # no matching rows -> empty-change commit (Delta parity, r8)
    v = t.snapshot().version
    assert t.update(F.col("k") == 99, {"v": F.lit("!")}) == 0
    head = t.snapshot()
    assert head.version == v + 1 and set(head.files) == set(after.files)


def test_crash_before_commit_preserves_snapshot(spark, tmp_path):
    """Simulate a writer dying after materializing data but before the
    manifest link: the table must still read as the old version, and
    vacuum must clear the orphan."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))
    # "crashed" writer: data files exist, no manifest references them
    orphan_files = t._write_data(_mkdf(spark, [(2, "b")]))
    assert [(r.k, r.v) for r in t.read().collect()] == [(1, "a")]
    assert t.snapshot().version == 1
    removed = t.vacuum(retain=1, min_age_seconds=0)
    assert set(removed) == set(orphan_files)
    assert [(r.k, r.v) for r in t.read().collect()] == [(1, "a")]


def test_concurrent_commit_conflict(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))
    base = t.snapshot()
    files = t._write_data(_mkdf(spark, [(2, "b")]))
    t._commit(list(base.files) + files, "append", base)  # winner
    loser_files = t._write_data(_mkdf(spark, [(3, "c")]))
    with pytest.raises(TxConflictError):
        t._commit(list(base.files) + loser_files, "append", base)
    # loser retries against the fresh snapshot and succeeds
    fresh = t.snapshot()
    t._commit(list(fresh.files) + loser_files, "append", fresh)
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]


def test_vacuum_drops_old_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))
    old_files = set(t.snapshot().files)
    t.overwrite(_mkdf(spark, [(2, "b")]))
    removed = t.vacuum(retain=1, min_age_seconds=0)
    assert old_files <= set(removed)
    assert t._versions() == [2]
    assert [r.k for r in t.read().collect()] == [2]


def test_tx_ingestion_date_backfill(spark):
    """R13 at-rest UPDATE (big_uery_handler.py:183-194) on a lead
    table: only NULL rows get the run date, and only files containing
    NULLs are rewritten."""
    root = table_root(spark, "tx_backfill_t")
    stamped = spark.createDataFrame(
        [(1, date(2024, 1, 1))], "k int, Ingestion_date date"
    ).coalesce(1)
    unstamped = spark.createDataFrame(
        [(2, None), (3, None)], "k int, Ingestion_date date"
    ).coalesce(1)
    t = TxTable.create(spark, root, stamped)
    t.append(unstamped)
    before = t.snapshot()
    n = set_ingestion_date_where_null(spark, "tx_backfill_t", date(2025, 6, 1))
    assert n == 2
    after = TxTable(spark, root).snapshot()
    assert set(before.files) & set(after.files), "stamped file was rewritten"
    got = dict(
        (r.k, r.Ingestion_date) for r in TxTable(spark, root).read().collect()
    )
    assert got == {
        1: date(2024, 1, 1),
        2: date(2025, 6, 1),
        3: date(2025, 6, 1),
    }
    # idempotent: second run touches nothing
    assert (
        set_ingestion_date_where_null(spark, "tx_backfill_t", date(2025, 6, 2))
        == 0
    )


def test_compact_coalesces_small_files(spark, tmp_path):
    """Ten tiny single-row appends -> compact folds them into one
    file; a deliberately 'large' file carries by reference; contents
    are untouched and vacuum can then drop the fragments."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(0, "x0")]).coalesce(1))
    for k in range(1, 10):
        t.append(_mkdf(spark, [(k, f"x{k}")]).coalesce(1))
    before = t.snapshot()
    assert len(before.files) == 10
    # every fragment is tiny, so all 10 coalesce into ceil(total/target)=1
    v = t.compact(target_bytes=1 << 20)
    after = t.snapshot()
    assert v == after.version == before.version + 1
    assert after.op == "compact"
    assert len(after.files) == 1
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(k, f"x{k}") for k in range(10)]
    # threshold respected: nothing under small_frac -> no-op commit
    assert t.compact(target_bytes=1) == after.version
    # fragments are unreferenced now; vacuum reclaims them
    removed = t.vacuum(retain=1, min_age_seconds=0)
    assert set(removed) >= set(before.files)
    assert sorted((r.k, r.v) for r in t.read().collect()) == got


def test_add_column_is_metadata_only(spark, tmp_path):
    """R12 ADD COLUMN on a TxTable: same file list (no rewrite), old
    rows read NULL, later writes carry values, and a copy-on-write
    update of mixed-schema files keeps the evolved column."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a"), (2, "b")]).coalesce(1))
    before = t.snapshot()
    v = t.add_column("score", "double")
    after = t.snapshot()
    assert after.files == before.files  # metadata-only
    assert after.op == "add_column" and v == before.version + 1
    got = t.read()
    assert got.columns == ["k", "v", "score"]
    assert all(r.score is None for r in got.collect())
    assert t.add_column("score", "double") == v  # idempotent no-op
    t.append(
        spark.createDataFrame(
            [(3, "c", 0.5)], "k int, v string, score double"
        ).coalesce(1)
    )
    assert {r.k: r.score for r in t.read().collect()} == {
        1: None,
        2: None,
        3: 0.5,
    }
    # update touches the file holding k=1 (pre-evolution schema) while
    # the k=3 file (post-evolution) carries over — both keep score
    t.update(F.col("k") == 1, {"v": F.lit("A")})
    vals = {r.k: (r.v, r.score) for r in t.read().collect()}
    assert vals == {1: ("A", None), 2: ("b", None), 3: ("c", 0.5)}


def test_stats_file_skipping(spark, tmp_path):
    """Manifest min/max stats: range reads open only admissible
    files; rewrites refresh stats; skipping never changes results."""
    root = str(tmp_path / "t")

    def kdf(a, b):
        return spark.createDataFrame(
            [(i, f"v{i}") for i in range(a, b)], "k int, v string"
        ).coalesce(1)

    t = TxTable.create(spark, root, kdf(0, 10), stats_cols=["k"])
    t.append(kdf(10, 20))
    t.append(kdf(20, 30))
    snap = t.snapshot()
    assert snap.stats is not None and len(snap.stats) == 3
    # range [12,15] lives in exactly the middle file
    assert len(t.files_in_range("k", 12, 15)) == 1
    assert sorted(r.k for r in t.read_range("k", 12, 15).collect()) == [
        12, 13, 14, 15,
    ]
    assert len(t.files_in_range("k", lo=20)) == 1  # open-ended
    assert t.read_range("k", 100, 200).count() == 0  # empty but typed
    # compaction rewrites the fragments and refreshes their stats
    t.compact(target_bytes=1 << 20)
    snap2 = t.snapshot()
    assert len(snap2.files) == 1
    st = snap2.stats[snap2.files[0]]
    assert (st["rows"], st["min"]["k"], st["max"]["k"]) == (30, 0, 29)
    # a stats-less reopen keeps reading correctly (conservative keep)
    t2 = TxTable(spark, root)
    assert t2.read_range("k", 5, 6).count() == 2


def test_time_travel_reads_old_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]).coalesce(1))
    t.append(_mkdf(spark, [(2, "b")]).coalesce(1))
    t.overwrite(_mkdf(spark, [(9, "z")]).coalesce(1))
    assert [(r.k, r.v) for r in t.read(version=1).collect()] == [(1, "a")]
    assert sorted((r.k, r.v) for r in t.read(version=2).collect()) == [
        (1, "a"), (2, "b"),
    ]
    assert [(r.k, r.v) for r in t.read().collect()] == [(9, "z")]
    with pytest.raises(FileNotFoundError):
        t.read(version=99)
    # vacuum drops the history; travel then fails loudly, head survives
    t.vacuum(retain=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        t.read(version=1)
    assert [(r.k, r.v) for r in t.read().collect()] == [(9, "z")]


def test_read_since_incremental_appends(spark, tmp_path):
    """Append-only history: read_since(v) returns exactly the rows
    landed after v; a compact's rewritten files re-surface (documented
    over-approximation, never a miss)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]).coalesce(1))
    v1 = t.snapshot().version
    t.append(_mkdf(spark, [(2, "b")]).coalesce(1))
    t.append(_mkdf(spark, [(3, "c")]).coalesce(1))
    since = sorted((r.k, r.v) for r in t.read_since(v1).collect())
    assert since == [(2, "b"), (3, "c")]
    assert t.read_since(t.snapshot().version).count() == 0

def test_vacuum_spares_young_inflight_commit_dir(spark, tmp_path):
    """ADVICE r2: a staged-but-not-yet-committed data dir belongs to a
    concurrent writer that wrote data BEFORE linking its manifest.
    Default vacuum must leave young unreferenced dirs alone (age
    threshold); only min_age_seconds=0 — an explicit 'no concurrent
    writers' assertion — reclaims them immediately."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))
    staged = t._write_data(_mkdf(spark, [(2, "b")]))  # in-flight writer
    assert t.vacuum(retain=1) == []  # young dir survives the default
    # ...so the in-flight writer can still commit successfully
    base = t.snapshot()
    t._commit(list(base.files) + staged, "append", base)
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_append_upsert_reject_schema_mismatch(spark, tmp_path):
    """ADVICE r2: a misnamed/missing/extra column used to be written
    as-is and silently read back NULL-filled (manifest schema governs
    by name).  Delta rejects such writes; so do we."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))
    bad_name = spark.createDataFrame([(2, "b")], "k int, value string")
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.append(bad_name)
    extra = spark.createDataFrame([(2, "b", 1.0)], "k int, v string, w double")
    with pytest.raises(ValueError, match="unexpected columns \\['w'\\]"):
        t.upsert(extra, "k")
    # the sanctioned path: evolve first, then write
    t.add_column("w", "double")
    t.append(extra)
    got = {r.k: (r.v, r.w) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 1.0)}


def test_files_in_range_date_bounds(spark, tmp_path):
    """ADVICE r2: date/timestamp stats JSON-serialize as ISO strings;
    date bounds must normalize (not TypeError), Decimal must raise a
    clear error instead of mis-comparing lexically."""
    from decimal import Decimal

    root = str(tmp_path / "t")
    jan = spark.createDataFrame([(1, date(2024, 1, 5))], "k int, d date").coalesce(1)
    jun = spark.createDataFrame([(2, date(2024, 6, 5))], "k int, d date").coalesce(1)
    t = TxTable.create(spark, root, jan, stats_cols=["d"])
    t.append(jun)
    assert len(t.snapshot().files) == 2
    hit = t.files_in_range("d", lo=date(2024, 3, 1))
    assert len(hit) == 1  # january file skipped via ISO-string compare
    rows = t.read_range("d", lo=date(2024, 3, 1)).collect()
    assert [r.k for r in rows] == [2]
    with pytest.raises(TypeError, match="Decimal"):
        t.files_in_range("d", lo=Decimal("1.5"))


def test_two_writers_conflict_retry_exactly_once(spark, tmp_path):
    """VERDICT r4 #7: two concurrent appenders race the same base
    version; append's internal optimistic retry re-reads the snapshot
    and re-commits the loser's ALREADY-WRITTEN data files — neither
    caller sees TxConflictError, and BOTH rows land exactly once."""
    import threading

    root = str(tmp_path / "t")
    TxTable.create(spark, root, _mkdf(spark, [(0, "base")]))
    barrier = threading.Barrier(2, timeout=60)
    errors = []

    class SyncTable(TxTable):
        """First _commit of each writer waits on the barrier so both
        writers provably snapshotted the SAME base version."""

        def _commit(self, *a, **kw):
            b, self_barrier = barrier, getattr(self, "_synced", False)
            if not self_barrier:
                self._synced = True
                b.wait()
            return super()._commit(*a, **kw)

    def writer(k, v):
        try:
            SyncTable(spark, root).append(_mkdf(spark, [(k, v)]))
        except Exception as exc:  # noqa: BLE001
            errors.append(f"writer {k}: {exc}")

    threads = [
        threading.Thread(target=writer, args=(1, "a")),
        threading.Thread(target=writer, args=(2, "b")),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not errors  # the losing writer retried internally
    t = TxTable(spark, root)
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2]
    assert t.snapshot().version == 3  # create + two appends, no dupes


def test_append_conflict_exhaustion_surfaces(spark, tmp_path, monkeypatch):
    """Zero commit retries restore the old surface-the-conflict
    behavior — the bounded loop cannot spin forever."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(0, "base")]))

    class StaleTable(TxTable):
        def snapshot(self, version=None):
            snap = super().snapshot(version)
            # sabotage: every snapshot is immediately made stale
            TxTable(spark, root).append(_mkdf(spark, [(9, "x")]))
            return snap

    monkeypatch.setattr(TxTable, "_COMMIT_RETRIES", 0)
    with pytest.raises(TxConflictError):
        StaleTable(spark, root).append(_mkdf(spark, [(1, "a")]))
    # and a bounded retry count gives up rather than spinning
    monkeypatch.setattr(TxTable, "_COMMIT_RETRIES", 2)
    with pytest.raises(TxConflictError):
        StaleTable(spark, root).append(_mkdf(spark, [(2, "b")]))


def test_compact_trivial_table_guard(spark, tmp_path):
    """ADVICE r4: compact(cluster_by) on an empty-manifest table must
    return the current version, not raise from a pathless scan."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))
    base = t.snapshot()
    # a files=[] manifest (e.g. a delete-all rewrite) — the clustered
    # path used to hand spark.read.parquet() zero paths and raise
    t._commit([], "overwrite", base, schema_json=base.schema_json)
    v = t.snapshot().version
    assert t.snapshot().files == ()
    assert t.compact(cluster_by=["k"]) == v
    assert t.compact() == v


def test_clustered_compact_enables_file_skipping(spark, tmp_path):
    """compact(cluster_by=...) is OPTIMIZE ZORDER's 1-D sibling:
    append order interleaves every key range across every file (range
    stats prune nothing); after a clustered rewrite each file owns a
    disjoint range and a point/range read opens ~1 file."""
    root = str(tmp_path / "t")

    def batch(mod):  # ids striped across batches: 0,4,8,.. / 1,5,9,..
        return spark.createDataFrame(
            [(i, f"v{i}") for i in range(mod, 400, 4)], "k int, v string"
        ).coalesce(1)

    t = TxTable.create(spark, root, batch(0), stats_cols=["k"])
    for m in (1, 2, 3):
        t.append(batch(m))
    # every file spans nearly the full key range -> no pruning at all
    assert len(t.files_in_range("k", 100, 110)) == 4
    before = sorted((r.k, r.v) for r in t.read().collect())

    # force ~4 clustered outputs by sizing target_bytes below the data
    sz = sum(
        __import__("os").path.getsize(f) for f in t.snapshot().files
    )
    v = t.compact(target_bytes=max(1, sz // 4), cluster_by=["k"])
    after = t.snapshot()
    assert after.version == v and after.op == "compact"
    assert len(after.files) >= 3
    # disjoint ranges: the same range query now touches 1 file
    assert len(t.files_in_range("k", 100, 110)) == 1
    # content-neutral
    assert sorted((r.k, r.v) for r in t.read().collect()) == before


def test_zorder_compact_prunes_on_both_columns(spark, tmp_path):
    """zorder=True clusters on the Morton curve: a 2-D key space cut
    into ~4 files becomes ~quadrants, so a narrow range on EITHER
    column skips files.  Lexicographic clustering is the control: it
    prunes the leading column perfectly but every file spans the full
    range of the second."""
    import os as _os

    root = str(tmp_path / "tz")
    rows = [(i, (i * 37) % 400) for i in range(400)]

    def batch(mod):
        return spark.createDataFrame(
            [r for r in rows if r[0] % 4 == mod], "k1 int, k2 int"
        ).coalesce(1)

    t = TxTable.create(spark, root, batch(0), stats_cols=["k1", "k2"])
    for m in (1, 2, 3):
        t.append(batch(m))
    before = sorted((r.k1, r.k2) for r in t.read().collect())
    sz = sum(_os.path.getsize(f) for f in t.snapshot().files)

    # control: lexicographic cluster — k1 prunes, k2 cannot
    t.compact(target_bytes=max(1, sz // 4), cluster_by=["k1", "k2"])
    n_files = len(t.snapshot().files)
    assert n_files >= 3
    assert len(t.files_in_range("k1", 10, 60)) < n_files
    assert len(t.files_in_range("k2", 10, 60)) == n_files  # no pruning

    # z-order: BOTH columns prune
    t.compact(
        target_bytes=max(1, sz // 4), cluster_by=["k1", "k2"], zorder=True
    )
    n_files = len(t.snapshot().files)
    assert n_files >= 3
    assert len(t.files_in_range("k1", 10, 60)) < n_files
    assert len(t.files_in_range("k2", 10, 60)) < n_files
    # content-neutral
    assert sorted((r.k1, r.k2) for r in t.read().collect()) == before


def test_zorder_on_date_column(spark, tmp_path):
    """Temporal cluster keys bin on their epoch number: z-order on
    (event_date, k) must prune files for BOTH a date range and a
    numeric range."""
    from datetime import date, timedelta

    root = str(tmp_path / "tzd")
    rows = [
        (date(2024, 1, 1) + timedelta(days=i % 120), (i * 37) % 400)
        for i in range(400)
    ]

    def batch(mod):
        return spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == mod],
            "d date, k int",
        ).coalesce(1)

    t = TxTable.create(spark, root, batch(0), stats_cols=["d", "k"])
    t.append(batch(1))
    before = sorted((str(r.d), r.k) for r in t.read().collect())
    sz = sum(
        __import__("os").path.getsize(f) for f in t.snapshot().files
    )
    t.compact(target_bytes=max(1, sz // 4), cluster_by=["d", "k"], zorder=True)
    n_files = len(t.snapshot().files)
    assert n_files >= 3
    assert 0 < len(
        t.files_in_range("d", date(2024, 1, 10), date(2024, 1, 30))
    ) < n_files
    assert 0 < len(t.files_in_range("k", 10, 60)) < n_files
    assert sorted((str(r.d), r.k) for r in t.read().collect()) == before


def test_zorder_edge_distributions(spark, tmp_path):
    """Quantile binning must survive hostile distributions: negative
    values, heavy duplicates (repeated boundaries -> empty bins) and a
    CONSTANT column (every boundary identical).  Content neutrality is
    the invariant; pruning is best-effort on the degenerate column."""
    import os as _os

    root = str(tmp_path / "tze")
    rows = (
        [(-i, 7, i % 3) for i in range(200)]      # negative keys, const col
        + [(i, 7, 5) for i in range(200)]         # duplicate-heavy
    )
    df = spark.createDataFrame(rows, "a int, b int, c int").coalesce(1)
    t = TxTable.create(spark, root, df, stats_cols=["a", "b"])
    t.append(df.select((F.col("a") + 1000).alias("a"), "b", "c").coalesce(1))
    before = sorted((r.a, r.b, r.c) for r in t.read().collect())
    sz = sum(_os.path.getsize(f) for f in t.snapshot().files)
    v = t.compact(
        target_bytes=max(1, sz // 4), cluster_by=["a", "b"], zorder=True
    )
    assert t.snapshot().version == v
    assert sorted((r.a, r.b, r.c) for r in t.read().collect()) == before
    n_files = len(t.snapshot().files)
    # the varying column still prunes; the constant column degrades
    # gracefully (opens everything, loses nothing)
    assert 0 < len(t.files_in_range("a", -50, -10)) < n_files
    assert len(t.files_in_range("b", 7, 7)) == n_files


def test_delete_file_granular_and_null_predicate(spark, tmp_path):
    """delete() rewrites only files containing matches; rows where the
    predicate evaluates NULL are KEPT (SQL DELETE semantics), and a
    no-match delete commits no new version."""
    root = str(tmp_path / "del")
    a = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k int, v double"
    ).coalesce(1)
    b = spark.createDataFrame([(4, 40.0), (5, 50.0)], "k int, v double").coalesce(1)
    t = TxTable.create(spark, root, a)
    t.append(b)
    before = set(t.snapshot().files)
    n = t.delete(F.col("v") < 15.0)  # matches k=1; NULL for k=2
    assert n == 1
    after = set(t.snapshot().files)
    assert before & after, "the b-stripe file must carry over by reference"
    assert sorted(r.k for r in t.read().collect()) == [2, 3, 4, 5]
    v = t.snapshot().version
    assert t.delete(F.col("v") > 999.0) == 0  # empty-change commit (r8)
    head = t.snapshot()
    assert head.version == v + 1 and set(head.files) == after


def test_drop_column_is_metadata_only(spark, tmp_path):
    """DROP COLUMN: same file list (no rewrite), reads lose the
    column, pre-drop snapshots still time-travel with it, post-drop
    appends write without it, and copy-on-write rewrites physically
    shed it from the files they touch."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark, root, _mkdf(spark, [(1, "a"), (2, "b")]).coalesce(1)
    )
    before = t.snapshot()
    v = t.drop_column("v")
    after = t.snapshot()
    assert after.files == before.files  # metadata-only
    assert after.op == "drop_column" and v == before.version + 1
    assert t.read().columns == ["k"]
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    # pre-drop snapshot still reads the column (time travel)
    old = t.read(version=before.version)
    assert old.columns == ["k", "v"]
    assert {r.k: r.v for r in old.collect()} == {1: "a", 2: "b"}
    # post-drop writers append without the column
    t.append(spark.createDataFrame([(3,)], "k int").coalesce(1))
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    # a rewrite (delete) of an old file writes it back WITHOUT v
    t.delete(F.col("k") == 1)
    assert sorted(r.k for r in t.read().collect()) == [2, 3]
    assert t.read().columns == ["k"]


def test_drop_column_guards(spark, tmp_path):
    """Dropping a missing column fails loudly; the last column cannot
    be dropped; re-adding a dropped name is SAFE (r8 column-mapping
    ids): the re-added column reads NULL from pre-drop files instead
    of resurrecting their values, even across unrelated commits."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark, root, _mkdf(spark, [(1, "a")]).coalesce(1)
    )
    with pytest.raises(KeyError):
        t.drop_column("nope")
    t.drop_column("v")
    t.append(spark.createDataFrame([(2,)], "k int").coalesce(1))
    with pytest.raises(ValueError, match="last remaining"):
        t.drop_column("k")
    t.add_column("v2", "string")
    assert t.read().columns == ["k", "v2"]
    # safe re-add after drop: fresh field id + physical name, so the
    # k=1 file's old 'v' value must NOT resurface
    t.add_column("v", "string")
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: None, 2: None}, got
    snap = t.snapshot()
    assert snap.colmap is not None  # mapping materialized by the re-add
    phys = {c["name"]: c["phys"] for c in snap.colmap}
    assert phys["v"] != "v" and "v" in snap.retired


def test_drop_column_prunes_skipping_stats(spark, tmp_path):
    """The dropped column's min/max bounds leave the manifest (dead
    skipping metadata); the surviving column's bounds remain usable."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double")
    t = TxTable(spark, root, stats_cols=["k", "x"])
    t.overwrite(df.coalesce(1))
    assert any("x" in s["min"] for s in t.snapshot().stats.values())
    t.drop_column("x")  # self-strips x from this writer's stats_cols
    assert t.stats_cols == ["k"]
    stats = t.snapshot().stats
    assert stats and all("x" not in s["min"] for s in stats.values())
    assert all("k" in s["min"] for s in stats.values())
    assert t.files_in_range("k", lo=1, hi=2)  # skipping still works


def test_restore_rolls_back_metadata_only(spark, tmp_path):
    """RESTORE re-commits an old file list as the new head without
    touching data; rolled-back commits stay time-travelable; restore
    of the current head no-ops; vacuumed targets fail loudly."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]).coalesce(1))
    v1 = t.snapshot().version
    t.append(_mkdf(spark, [(2, "b")]).coalesce(1))
    t.overwrite(_mkdf(spark, [(9, "z")]).coalesce(1))  # the bad write
    v3 = t.snapshot().version
    v4 = t.restore(v1)
    assert v4 == v3 + 1 and t.snapshot().op == "restore"
    assert [(r.k, r.v) for r in t.read().collect()] == [(1, "a")]
    assert t.snapshot().files == t.snapshot(v1).files  # by reference
    # the bad write remains auditable
    assert [(r.k, r.v) for r in t.read(version=v3).collect()] == [(9, "z")]
    assert t.restore(v4) == v4  # restoring the head no-ops
    # history surfaces the whole story, newest first
    ops = [h["op"] for h in t.history()]
    assert ops == ["restore", "overwrite", "append", "overwrite"]
    # vacuum away the rolled-back commits, then restoring to a
    # vacuumed version must fail loudly
    t.vacuum(retain=1)
    with pytest.raises(FileNotFoundError):
        t.restore(v3)


def test_history_reports_rows_and_txns(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, x double")
    t = TxTable(spark, root, stats_cols=["k"])
    t.overwrite(df.coalesce(1))
    t.append(df.coalesce(1), txn="batch-0")
    h = t.history()
    assert [x["version"] for x in h] == [2, 1]
    assert h[0]["txn"] == "batch-0" and h[0]["n_rows"] == 4
    assert h[1]["txn"] is None and h[1]["n_rows"] == 2


def test_read_since_across_restore_keeps_addonly_contract(spark, tmp_path):
    """Change feed over a rollback: re-surfaced files the consumer's
    pin predates are delivered (over-approximation), rows the rollback
    removed are never retracted — the documented add-only contract."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]).coalesce(1))
    v1 = t.snapshot().version
    t.append(_mkdf(spark, [(2, "b")]).coalesce(1))
    v2 = t.snapshot().version
    t.overwrite(_mkdf(spark, [(9, "z")]).coalesce(1))
    v3 = t.snapshot().version
    t.restore(v2)
    v4 = t.snapshot().version
    # consumer pinned at v1 (has row 1): the restore re-exposes the
    # v2 append it never saw -> delivered
    assert sorted(r.k for r in t.read_since(v1, until=v4).collect()) == [2]
    # consumer pinned at v3 (consumed row 9): rollback redelivers the
    # restored files (over-approximation) and cannot retract row 9
    got = sorted(r.k for r in t.read_since(v3, until=v4).collect())
    assert got == [1, 2]


def test_drop_column_cross_instance_stats_writer_self_heals(spark, tmp_path):
    """A SECOND writer instance still configured with the dropped
    column in stats_cols must not crash its next write — _stats_for
    collects bounds only for columns that exist in the data."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0)], "k int, x double")
    TxTable(spark, root, stats_cols=["k", "x"]).overwrite(df.coalesce(1))
    TxTable(spark, root).drop_column("x")
    stale_writer = TxTable(spark, root, stats_cols=["k", "x"])  # old config
    stale_writer.append(
        spark.createDataFrame([(2,)], "k int").coalesce(1)
    )
    stats = stale_writer.snapshot().stats
    assert all("x" not in s["min"] for s in stats.values() if s.get("min"))
    assert sorted(r.k for r in stale_writer.read().collect()) == [1, 2]


def test_history_reports_unknown_rows_on_partial_stats(spark, tmp_path):
    """A stats-less writer's append leaves the manifest with bounds
    for only SOME files; history must report n_rows=None, never a
    confidently wrong partial sum.  Since stats_cols became a table
    property (late r8), a DEFAULT handle adopts the committed value —
    the stats-less writer here opts out explicitly (stats_cols=[],
    the legacy/external-writer shape)."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, x double")
    TxTable(spark, root, stats_cols=["k"]).overwrite(df.coalesce(1))
    TxTable(spark, root, stats_cols=[]).append(df.coalesce(1))  # opt-out
    h = TxTable(spark, root).history()
    assert h[0]["n_rows"] is None and h[1]["n_rows"] == 2
    # ...while a DEFAULT handle adopts the property and keeps stats
    t = TxTable(spark, root)
    t.append(df.coalesce(1))
    assert t.history()[0]["n_rows"] is None  # partial files remain
    assert t.stats_cols == ["k"]


def test_no_match_mutation_commits_empty_version(spark, tmp_path):
    """Delta-parity no-op mutation semantics (r8, VERDICT r7 item 1):
    a zero-match delete/update commits an EMPTY-CHANGE version — same
    file list, advanced version — so callers' restore()/history()
    arithmetic is predictable whether or not the predicate matched.
    Pins the exact r7 property-test failure shape: create → no-match
    delete → overwrite → restore(2) must return the (empty-change)
    post-delete state, which equals the create state."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int").coalesce(1),
    )
    assert t.snapshot().version == 1
    files_v1 = set(t.snapshot().files)

    assert t.delete(F.col("k") == 99) == 0  # matches nothing
    head = t.snapshot()
    assert head.version == 2, "no-match delete must commit a version"
    assert set(head.files) == files_v1, "empty-change: same file list"
    assert t.history()[0]["op"] == "delete"

    assert t.update(F.col("k") == 99, {"v": F.lit(0)}) == 0
    assert t.snapshot().version == 3, "no-match update must commit too"

    t.overwrite(
        spark.createDataFrame([(9, 90)], "k int, v int").coalesce(1)
    )
    assert t.snapshot().version == 4
    t.restore(2)  # the empty-change post-delete state == create state
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        (1, 10),
        (2, 20),
    ]

    with pytest.raises(FileNotFoundError):
        t.restore(99)  # never-committed version raises, not silent


def test_rename_column_metadata_only_with_stats_and_time_travel(
    spark, tmp_path
):
    """RENAME COLUMN (r8): metadata-only (same file list), values
    survive under the new name, per-file skipping stats re-key so
    files_in_range prunes on the NEW name, appends after the rename
    land under the ORIGINAL physical name, and time travel shows each
    version's own column name (Delta column-mapping behavior)."""
    root = str(tmp_path / "t")
    t = TxTable(spark, root, stats_cols=["x"])
    t.overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(3, 30.0)], "k int, x double").coalesce(1)
    )
    files_before = set(t.snapshot().files)

    with pytest.raises(KeyError):
        t.rename_column("nope", "y")
    with pytest.raises(ValueError, match="target exists"):
        t.rename_column("x", "k")

    t.rename_column("x", "y")
    assert t.stats_cols == ["y"]  # writer config self-renames
    snap = t.snapshot()
    assert set(snap.files) == files_before, "rename must not rewrite data"
    assert t.read().columns == ["k", "y"]
    assert {(r.k, r.y) for r in t.read().collect()} == {
        (1, 10.0),
        (2, 20.0),
        (3, 30.0),
    }
    # stats re-keyed to the new logical name -> skipping still prunes
    assert all("y" in s["min"] for s in snap.stats.values())
    pruned = t.files_in_range("y", lo=25.0)
    assert len(pruned) == 1 and len(files_before) == 2
    assert {(r.k, r.y) for r in t.read_range("y", lo=25.0).collect()} == {
        (3, 30.0)
    }
    # time travel shows the pre-rename name and values
    old = t.read(version=2)
    assert old.columns == ["k", "x"]
    assert {(r.k, r.x) for r in old.collect()} == {
        (1, 10.0),
        (2, 20.0),
        (3, 30.0),
    }
    # appends speak the new logical name; the file keeps the original
    # physical column so every data file of the table stays uniform
    t.append(
        spark.createDataFrame([(4, 40.0)], "k int, y double").coalesce(1)
    )
    assert {r.k for r in t.read().collect()} == {1, 2, 3, 4}
    new_file = sorted(set(t.snapshot().files) - files_before)
    raw = spark.read.parquet(*new_file)
    assert raw.columns == ["k", "x"], "files speak physical names"
    # new-file stats landed under the logical name
    assert t.snapshot().stats[new_file[0]]["min"]["y"] == 40.0


def test_rename_column_then_mutations_and_restore(spark, tmp_path):
    """Copy-on-write mutations keyed on a renamed column stay
    file-granular; restore across the rename reverts the name AND a
    later re-add of the dropped original name still reads NULL."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"
        ).coalesce(1),
    )
    t.append(
        spark.createDataFrame([(3, "c")], "k int, v string").coalesce(1)
    )
    t.rename_column("v", "w")  # v3
    before = set(t.snapshot().files)
    assert t.update(F.col("w") == "c", {"w": F.lit("C")}) == 1
    after = set(t.snapshot().files)
    assert before & after, "untouched stripe must carry by reference"
    assert t.delete(F.col("w") == "a") == 1
    t.upsert(
        spark.createDataFrame([(2, "B"), (9, "z")], "k int, w string")
        .coalesce(1),
        "k",
    )
    assert {(r.k, r.w) for r in t.read().collect()} == {
        (2, "B"),
        (3, "C"),
        (9, "z"),
    }
    # compact under the mapping keeps contents
    t.compact(target_bytes=1 << 30, small_frac=1.0)
    assert {(r.k, r.w) for r in t.read().collect()} == {
        (2, "B"),
        (3, "C"),
        (9, "z"),
    }
    # restore to the pre-rename version: old name, old rows
    t.restore(2)
    assert t.read().columns == ["k", "v"]
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
    }


def test_check_constraints_gate_every_write_path(spark, tmp_path):
    """CHECK constraints (Delta semantics: FALSE violates, NULL
    passes): add_constraint validates existing data first; append/
    overwrite/upsert/update refuse violating frames atomically
    (version unchanged, nothing committed); delete is exempt; NULLs
    pass; drop_constraint lifts the gate; constraints survive
    unrelated commits and show in history ops."""
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxConstraintViolation,
    )

    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a"), (2, "b")]))

    # can't be born violated
    with pytest.raises(TxConstraintViolation):
        t.add_constraint("k_big", "k > 1")
    assert t.snapshot().version == 1  # nothing committed

    v = t.add_constraint("k_pos", "k > 0")
    assert v == 2 and t.snapshot().constraints == {"k_pos": "k > 0"}
    with pytest.raises(ValueError):
        t.add_constraint("k_pos", "k > 10")

    # append: violating frame refused atomically, valid frame commits
    with pytest.raises(TxConstraintViolation):
        t.append(_mkdf(spark, [(0, "bad")]))
    assert t.snapshot().version == 2
    t.append(_mkdf(spark, [(3, "c")]))

    # NULL passes (SQL CHECK semantics)
    t.append(spark.createDataFrame([(None, "n")], "k int, v string"))
    assert t.read().filter(F.col("k").isNull()).count() == 1

    # update INTO violation refused; overwrite and upsert gated too
    with pytest.raises(TxConstraintViolation):
        t.update(F.col("v") == "c", {"k": F.lit(-3)})
    with pytest.raises(TxConstraintViolation):
        t.overwrite(_mkdf(spark, [(-1, "x")]))
    with pytest.raises(TxConstraintViolation):
        t.upsert(_mkdf(spark, [(-9, "u")]), "k")
    assert {r.k for r in t.read().collect()} == {1, 2, 3, None}

    # delete never violates; constraint rides its commit
    assert t.delete(F.col("k") == 1) == 1
    assert t.snapshot().constraints == {"k_pos": "k > 0"}

    # history records the metadata ops; drop lifts the gate
    t.drop_constraint("k_pos")
    ops = [h["op"] for h in t.history()]
    assert "add_constraint" in ops and "drop_constraint" in ops
    with pytest.raises(ValueError):
        t.drop_constraint("k_pos")
    t.append(_mkdf(spark, [(-5, "now ok")]))
    assert t.read().filter(F.col("k") < 0).count() == 1


def test_constraint_schema_interactions(spark, tmp_path):
    """r8 review fixes: (1) rename/drop of a constraint-referenced
    column is refused (Delta parity) — never a bricked table; (2) an
    overwrite that narrows the schema under a live constraint raises
    an actionable ValueError, not an AnalysisException; (3) RESTORE
    restores the TARGET version's constraint set with the state, so
    the head never advertises a rule its restored data violates;
    (4) _safe_phys picks the next free suffix when a user column
    collides with the id-suffixed candidate."""
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxConstraintViolation,
        TxTable,
    )

    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a"), (2, "b")]))
    t.add_constraint("k_pos", "k > 0")  # v2

    # (1) guard rename/drop of the constrained column; table usable after
    with pytest.raises(ValueError, match="would break CHECK"):
        t.rename_column("k", "kk")
    with pytest.raises(ValueError, match="would break CHECK"):
        t.drop_column("k")
    assert t.snapshot().version == 2
    t.append(_mkdf(spark, [(3, "c")]))  # still writable (v3)
    t.rename_column("v", "w")  # unreferenced column renames fine (v4)

    # (2) overwrite without the constrained column: actionable refusal
    with pytest.raises(ValueError, match="cannot resolve CHECK"):
        t.overwrite(
            spark.createDataFrame([("x",)], "w string")
        )
    assert t.snapshot().version == 4

    # (3) restore carries the TARGET's constraints with its state
    t.restore(1)  # v5: pre-constraint state, pre-constraint rules
    assert not (t.snapshot().constraints or {})
    t.append(_mkdf(spark, [(-7, "neg ok again")]))  # v6
    t.restore(2)  # v7: constraint era returns WITH its rule set...
    assert set(t.snapshot().constraints or {}) == {"k_pos"}
    with pytest.raises(TxConstraintViolation):  # ...and it gates again
        t.append(_mkdf(spark, [(0, "bad")]))


def test_append_replay_noop_beats_new_constraint(spark, tmp_path):
    """Exactly-once ordering (r8 review): a txn-tagged batch REPLAYED
    after a constraint was added that would reject it must no-op (the
    idempotency check runs BEFORE validation), not crash the
    replayer."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(5, "a")]))
    batch = _mkdf(spark, [(1, "b")])
    t.append(batch, txn="batch-1")  # v2
    t.delete(F.col("k") == 1)  # v3
    t.add_constraint("k_big", "k > 3")  # v4: passes on current data
    v = t.append(batch, txn="batch-1")  # replay: would violate now
    assert v == 4 and t.snapshot().version == 4  # no-op, no raise
    assert {r.k for r in t.read().collect()} == {5}


def test_overwrite_retry_revalidates_racing_constraint(
    spark, tmp_path, monkeypatch
):
    """A constraint committed BETWEEN overwrite's validation and its
    manifest link must gate the retry (r8 review: append's retry
    already did; overwrite's didn't)."""
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxConstraintViolation,
        TxTable,
    )

    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))
    rival = TxTable(spark, root)
    orig = TxTable._commit
    state = {"raced": False}

    def racing(self, *a, **k):
        if self is t and not state["raced"]:
            state["raced"] = True  # rival wins the version race with a
            rival.add_constraint("k_pos", "k > 0")  # constraint commit
        return orig(self, *a, **k)

    monkeypatch.setattr(TxTable, "_commit", racing)
    with pytest.raises(TxConstraintViolation):
        t.overwrite(_mkdf(spark, [(-1, "bad")]))
    monkeypatch.undo()
    assert set(t.snapshot().constraints or {}) == {"k_pos"}
    assert [(r.k, r.v) for r in t.read().collect()] == [(1, "a")]


def test_safe_phys_sidesteps_user_column_collision(spark, tmp_path):
    """A user schema containing a column shaped like the id-suffixed
    candidate ('a__v4') must push the re-added column to the next free
    physical name instead of asserting (r8 review)."""
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, "x")], "a int, a__v4 int, b string"
    )
    t = TxTable.create(spark, root, df)
    t.rename_column("b", "c")  # materialize colmap ids (1..3)
    t.drop_column("a")  # retires phys 'a'
    t.add_column("a", "integer")  # new id 4 -> candidate a__v4 COLLIDES
    cm = {c["name"]: c["phys"] for c in t.snapshot().colmap}
    assert cm["a"] not in ("a", "a__v4"), cm
    t.append(
        spark.createDataFrame([(20, "y", 2)], "a__v4 int, c string, a int")
    )
    rows = {(r.a, r.a__v4, r.c) for r in t.read().collect()}
    assert rows == {(None, 10, "x"), (2, 20, "y")}


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k bigint, name string, price double")


def test_merge_full_clause_matrix(spark, tmp_path):
    """One merge exercising all three WHEN clauses with conditions:
    matched+update_condition updates, matched+delete_condition deletes,
    not-matched+insert_condition filters inserts; counts and final
    state pinned."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        _pdf(spark, [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)]),
    )
    res = t.merge(
        _pdf(spark, [(2, "B", 200.0), (3, "c", -1.0), (5, "e", 50.0), (6, "f", -5.0)]),
        "k",
        update="all",
        update_condition="s.price > 0",
        delete_condition="s.price < 0",
        insert_condition="s.price > 0",
    )
    assert (res["updated"], res["deleted"], res["inserted"]) == (1, 1, 1), res
    got = sorted((r.k, r.name, r.price) for r in t.read().collect())
    assert got == [(1, "a", 10.0), (2, "B", 200.0), (4, "d", 40.0), (5, "e", 50.0)]


def test_merge_dict_update_references_both_sides(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(4, "d", 40.0)]))
    t.merge(
        _pdf(spark, [(4, "x", 1.5)]),
        "k",
        update={"price": "t.price + s.price"},
        insert=False,
    )
    assert [(r.k, r.name, r.price) for r in t.read().collect()] == [(4, "d", 41.5)]


def test_merge_insert_only_carries_base_files_by_reference(spark, tmp_path):
    """update=None means matched rows are untouched — the merge must
    NOT rewrite the files the batch keys live in (cost = inserts only,
    the 100 TB contract for append-flavored merges)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0)]).coalesce(1))
    t.append(_pdf(spark, [(2, "b", 20.0)]).coalesce(1))
    before = set(t.snapshot().files)
    res = t.merge(
        _pdf(spark, [(1, "zzz", 999.0), (7, "g", 70.0)]),
        "k",
        update=None,
        insert=True,
    )
    assert res["updated"] == 0 and res["inserted"] == 1
    assert before <= set(t.snapshot().files), "base files must carry by reference"
    got = dict((r.k, r.price) for r in t.read().collect())
    assert got == {1: 10.0, 2: 20.0, 7: 70.0}


def test_merge_noop_commits_empty_version(spark, tmp_path):
    """Nothing matched, insert disabled: Delta-parity empty-change
    commit (same file list, version advances)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0)]))
    v = t.snapshot().version
    res = t.merge(
        _pdf(spark, [(99, "q", 1.0)]), "k", update=None, insert=False
    )
    assert res == {"updated": 0, "deleted": 0, "inserted": 0, "version": v + 1}
    assert set(t.snapshot().files) == set(t.snapshot(v).files)


def test_merge_ambiguous_source_raises_and_unmatched_dups_insert(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(2, "b", 20.0)]))
    v = t.snapshot().version
    with pytest.raises(ValueError, match="multiple source rows"):
        t.merge(_pdf(spark, [(2, "p", 1.0), (2, "q", 2.0)]), "k")
    assert t.snapshot().version == v, "refused merge must commit nothing"
    # duplicates that match NOTHING are plain inserts (Delta parity)
    res = t.merge(
        _pdf(spark, [(100, "p", 1.0), (100, "q", 2.0)]), "k", update=None
    )
    assert res["inserted"] == 2


def test_merge_null_source_keys_insert(spark, tmp_path):
    """Equality matching: NULL keys never match, so NULL-keyed source
    rows take the NOT MATCHED path (Delta parity)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0)]))
    res = t.merge(_pdf(spark, [(None, "nul", 5.0)]), "k")
    assert res["inserted"] == 1 and res["updated"] == 0
    assert t.read().count() == 2


def test_merge_txn_replay_noops(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0)]))
    r1 = t.merge(_pdf(spark, [(1, "A", 11.0)]), "k", txn="m1")
    r2 = t.merge(_pdf(spark, [(1, "AGAIN", 12.0)]), "k", txn="m1")
    assert r1["updated"] == 1
    assert r2 == {"updated": 0, "deleted": 0, "inserted": 0, "version": r1["version"]}
    assert [(r.name, r.price) for r in t.read().collect()] == [("A", 11.0)]


def test_merge_constraint_gated_and_replay_beats_constraint(spark, tmp_path):
    """Updated/inserted rows pass through CHECK validation; a replayed
    txn no-ops BEFORE validation even if a younger constraint would
    reject it (same contract as append)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0)]))
    r1 = t.merge(_pdf(spark, [(2, "b", -5.0)]), "k", txn="m1")  # inserts -5
    assert r1["inserted"] == 1
    t.delete(F.col("price") < 0)  # clean up so the constraint can be born
    t.add_constraint("price_pos", "price > 0")
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxConstraintViolation,
    )

    v = t.snapshot().version
    with pytest.raises(TxConstraintViolation):
        t.merge(_pdf(spark, [(1, "a", -1.0)]), "k")  # update into violation
    with pytest.raises(TxConstraintViolation):
        t.merge(_pdf(spark, [(9, "z", -9.0)]), "k")  # insert in violation
    assert t.snapshot().version == v, "refused merges must commit nothing"
    # replayed txn no-ops instead of raising (idempotency before validation)
    r3 = t.merge(_pdf(spark, [(2, "b", -5.0)]), "k", txn="m1")
    assert r3 == {"updated": 0, "deleted": 0, "inserted": 0, "version": v}


def test_merge_on_renamed_column_table(spark, tmp_path):
    """Merge keys/conditions bind to LOGICAL names on a column-mapped
    table (rename materializes a colmap; the merge writes physical
    names under the hood)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0), (2, "b", 20.0)]))
    t.rename_column("price", "amount")
    src = spark.createDataFrame(
        [(2, "B", 200.0), (3, "c", 30.0)], "k bigint, name string, amount double"
    )
    res = t.merge(src, "k", update={"amount": "s.amount"})
    assert res["updated"] == 1 and res["inserted"] == 1
    got = sorted((r.k, r.name, r.amount) for r in t.read().collect())
    assert got == [(1, "a", 10.0), (2, "b", 200.0), (3, "c", 30.0)]


def test_merge_multi_target_rows_per_source_key(spark, tmp_path):
    """Target tables are not key-constrained: ONE source row matching
    several target rows updates them all (Delta parity — the ambiguity
    guard is about duplicate SOURCE rows only)."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark, root, _pdf(spark, [(1, "a", 10.0), (1, "a2", 11.0), (2, "b", 20.0)])
    )
    res = t.merge(_pdf(spark, [(1, "X", 99.0)]), "k", insert=False)
    assert res["updated"] == 2
    got = sorted((r.k, r.name, r.price) for r in t.read().collect())
    assert got == [(1, "X", 99.0), (1, "X", 99.0), (2, "b", 20.0)]


def test_replace_where_file_granular(spark, tmp_path):
    """Only files holding predicate-matching rows are rewritten; the
    slice is swapped atomically in ONE commit."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0)]).coalesce(1))
    t.append(_pdf(spark, [(2, "b", 20.0)]).coalesce(1))
    t.append(_pdf(spark, [(4, "d", 40.0)]).coalesce(1))
    before = t.snapshot()
    res = t.replace_where(
        _pdf(spark, [(2, "b2", 21.0), (20, "t", 22.0)]), F.col("k") % 2 == 0
    )
    after = t.snapshot()
    assert res["deleted"] == 2 and res["inserted"] == 2
    assert after.version == before.version + 1
    # the odd-key file carries by reference
    assert len(set(before.files) & set(after.files)) == 1
    got = sorted((r.k, r.name, r.price) for r in t.read().collect())
    assert got == [(1, "a", 10.0), (2, "b2", 21.0), (20, "t", 22.0)]


def test_replace_where_rejects_out_of_slice_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(2, "b", 20.0)]))
    v = t.snapshot().version
    with pytest.raises(ValueError, match="do not satisfy"):
        t.replace_where(_pdf(spark, [(9, "odd", 1.0)]), F.col("k") % 2 == 0)
    assert t.snapshot().version == v, "refused replace must commit nothing"


def test_replace_where_null_predicate_target_rows_kept(spark, tmp_path):
    """SQL DELETE semantics on the outgoing side: rows where the
    predicate evaluates NULL are NOT part of the replaced slice."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark, root, _pdf(spark, [(None, "nul", 5.0), (2, "b", 20.0)])
    )
    res = t.replace_where(_pdf(spark, [(4, "d", 40.0)]), F.col("k") % 2 == 0)
    assert res["deleted"] == 1
    got = sorted(
        (r.k if r.k is not None else -1, r.name) for r in t.read().collect()
    )
    assert got == [(-1, "nul"), (4, "d")]


def test_replace_where_txn_replay_and_constraints(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(2, "b", 20.0)]))
    t.add_constraint("price_pos", "price > 0")
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxConstraintViolation,
    )

    v = t.snapshot().version
    with pytest.raises(TxConstraintViolation):
        t.replace_where(_pdf(spark, [(2, "b", -1.0)]), "k = 2")
    assert t.snapshot().version == v
    r1 = t.replace_where(_pdf(spark, [(2, "b2", 2.0)]), "k = 2", txn="rw1")
    r2 = t.replace_where(_pdf(spark, [(2, "b3", 3.0)]), "k = 2", txn="rw1")
    assert r2 == {"deleted": 0, "inserted": 0, "version": r1["version"]}
    assert [(r.name, r.price) for r in t.read().collect()] == [("b2", 2.0)]


def test_merge_upsert_prune_candidate_files_by_key_stats(spark, tmp_path):
    """With stats on the merge key, the affected-file search opens
    only files whose [min,max] intersects the batch's key range —
    manifest-level pruning, no footer opens for disjoint files.
    Correctness is unchanged (pruning is a superset filter)."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        _pdf(spark, [(0, "a", 1.0), (9, "b", 2.0)]).coalesce(1),
        stats_cols=["k"],
    )
    t.append(_pdf(spark, [(10, "c", 3.0), (19, "d", 4.0)]).coalesce(1))
    t.append(_pdf(spark, [(20, "e", 5.0), (29, "f", 6.0)]).coalesce(1))
    base = t.snapshot()
    batch = _pdf(spark, [(10, "X", 9.0)])
    cand = t._candidate_files_for_keys(base, batch, ["k"])
    assert len(cand) == 1, f"one file intersects [10,10], got {len(cand)}"
    # all-NULL batch keys: nothing can match, scan skipped entirely
    null_batch = _pdf(spark, [(None, "n", 1.0)])
    assert t._candidate_files_for_keys(base, null_batch, ["k"]) == []
    # correctness through the pruned path
    res = t.merge(batch, "k", insert=False)
    assert res["updated"] == 1
    got = dict((r.k, r.name) for r in t.read().collect())
    assert got[10] == "X" and got[0] == "a" and got[29] == "f"
    # untouched-range files carried by reference
    assert len(set(base.files) & set(t.snapshot().files)) == 2
    # upsert takes the same pruned path
    v = t.upsert(_pdf(spark, [(25, "Y", 1.0)]).coalesce(1), "k")
    assert v == t.snapshot().version
    assert dict((r.k, r.name) for r in t.read().collect())[25] == "Y"


def test_candidate_pruning_no_stats_falls_back_to_full_list(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 1.0)]))
    base = t.snapshot()
    cand = t._candidate_files_for_keys(base, _pdf(spark, [(1, "x", 2.0)]), ["k"])
    assert set(cand) == set(base.files)


def test_replace_range_prunes_search_and_matches_replace_where(spark, tmp_path):
    """replace_range's affected-file search must touch only the files
    whose stats admit the range; result state identical to the generic
    replace_where."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        root,
        _pdf(spark, [(0, "a", 1.0), (9, "b", 2.0)]).coalesce(1),
        stats_cols=["k"],
    )
    t.append(_pdf(spark, [(10, "c", 3.0), (19, "d", 4.0)]).coalesce(1))
    t.append(_pdf(spark, [(20, "e", 5.0), (29, "f", 6.0)]).coalesce(1))
    before = set(t.snapshot().files)
    res = t.replace_range(
        _pdf(spark, [(12, "X", 9.0), (15, "Y", 8.0)]), "k", 10, 19
    )
    assert res["deleted"] == 2 and res["inserted"] == 2
    assert len(before & set(t.snapshot().files)) == 2, "disjoint files carry"
    got = sorted((r.k, r.name) for r in t.read().collect())
    assert got == [(0, "a"), (9, "b"), (12, "X"), (15, "Y"), (20, "e"), (29, "f")]
    # out-of-range incoming rows refused like replace_where
    with pytest.raises(ValueError, match="do not satisfy"):
        t.replace_range(_pdf(spark, [(50, "z", 1.0)]), "k", 10, 19)
    # bound-less call is a caller bug
    with pytest.raises(ValueError, match="at least one bound"):
        t.replace_range(_pdf(spark, [(1, "q", 1.0)]), "k")


def _cdc(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, name string, price double, _op string, _seq bigint"
    )


def test_cdc_apply_batch_collapses_and_applies_all_ops(spark, tmp_path):
    """One CDC batch with within-batch key churn: last-seq op per key
    wins (delete beats insert on a seq tie), then a single atomic
    merge applies update/delete/insert; unmatched deletes no-op."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.sinks import (
        cdc_apply_batch,
    )

    root = str(tmp_path / "t")
    TxTable.create(
        spark, root, _pdf(spark, [(1, "a", 10.0), (2, "b", 20.0)])
    )
    batch = _cdc(
        spark,
        [
            (1, "zz", 0.0, "insert", 1),   # superseded by seq 2
            (1, "A", 11.0, "update", 2),
            (2, None, None, "delete", 1),
            (3, "c", 30.0, "insert", 1),
            (4, None, None, "delete", 1),  # never existed: no-op
            (5, "e", 50.0, "insert", 3),
            (5, None, None, "delete", 3),  # seq tie: delete wins
        ],
    )
    res = cdc_apply_batch(spark, batch, root, "k", txn="b0")
    assert res["updated"] == 1 and res["deleted"] == 1 and res["inserted"] == 1
    got = sorted((r.k, r.name, r.price) for r in TxTable(spark, root).read().collect())
    assert got == [(1, "A", 11.0), (3, "c", 30.0)]
    # exact replay no-ops under the txn tag
    res2 = cdc_apply_batch(spark, batch, root, "k", txn="b0")
    assert res2["updated"] == 0 and res2["inserted"] == 0
    # checkpoint-loss shape: re-apply WITHOUT the tag — full-state CDC
    # rows converge (update to same values, delete of absent no-ops,
    # insert of present key flips to update)
    res3 = cdc_apply_batch(spark, batch, root, "k", txn=None)
    got3 = sorted((r.k, r.name, r.price) for r in TxTable(spark, root).read().collect())
    assert got3 == got, (res3, got3)


def test_merge_source_derived_from_target_table(spark, tmp_path):
    """Self-referential merge: the source is computed FROM the current
    table state (the compact-and-reprice pattern).  The t/s aliasing
    must keep the two lineages distinct through the full-outer clause
    join."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark, root, _pdf(spark, [(1, "a", 10.0), (2, "b", 20.0)])
    )
    src = (
        t.read()
        .filter(F.col("k") == 1)
        .withColumn("price", F.col("price") * 2)
    )
    res = t.merge(src, "k", insert=False)
    assert res["updated"] == 1, res
    got = sorted((r.k, r.price) for r in t.read().collect())
    assert got == [(1, 20.0), (2, 20.0)]


def test_merge_on_table_with_marker_shaped_columns(spark, tmp_path):
    """A user schema containing '_t_marker'/'_s_marker' must not
    collide with merge's internal class flags."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, True, False)], "k bigint, _t_marker boolean, _s_marker boolean"
    )
    t = TxTable.create(spark, root, df)
    src = spark.createDataFrame(
        [(1, False, True), (2, True, True)],
        "k bigint, _t_marker boolean, _s_marker boolean",
    )
    res = t.merge(src, "k")
    assert res["updated"] == 1 and res["inserted"] == 1
    got = sorted((r.k, r._t_marker, r._s_marker) for r in t.read().collect())
    assert got == [(1, False, True), (2, True, True)]


def test_merge_vs_racing_append_auto_resolves(spark, tmp_path):
    """r9 conflict matrix: a PURE-APPEND commit racing in between
    merge's snapshot and its commit auto-resolves — the appended file
    joins the survivor list, the same already-written outputs
    re-commit, and BOTH writers' rows land exactly once (Delta
    WriteSerializable: blind appends don't conflict with merge)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0)]))

    class RacedTable(TxTable):
        def _commit(self, *a, **kw):
            if not getattr(self, "_raced", False):
                self._raced = True
                TxTable(self.spark, self.root).append(
                    _pdf(self.spark, [(9, "race", 90.0)])
                )
            return super()._commit(*a, **kw)

    rt = RacedTable(spark, root)
    res = rt.merge(_pdf(spark, [(1, "A", 11.0)]), "k", txn="m1")
    assert res["updated"] == 1
    got = sorted((r.k, r.name) for r in TxTable(spark, root).read().collect())
    assert got == [(1, "A"), (9, "race")], "both writers landed once"


def test_merge_conflict_vs_rewrite_raises_and_commits_nothing(spark, tmp_path):
    """A NON-append commit (here a delete, which rewrites the file
    list) racing a merge must still surface TxConflictError — the
    merge's survivor list derives from its snapshot and is stale —
    and leave the table on the racer's state; the caller's re-invoke
    then applies cleanly."""
    root = str(tmp_path / "t")
    t = TxTable.create(
        spark, root, _pdf(spark, [(1, "a", 10.0), (5, "z", 50.0)])
    )

    class RacedTable(TxTable):
        def _commit(self, *a, **kw):
            if not getattr(self, "_raced", False):
                self._raced = True
                TxTable(self.spark, self.root).delete(F.col("k") == 5)
            return super()._commit(*a, **kw)

    rt = RacedTable(spark, root)
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxConflictError,
    )

    with pytest.raises(TxConflictError):
        rt.merge(_pdf(spark, [(1, "A", 11.0)]), "k", txn="m1")
    snap = TxTable(spark, root).snapshot()
    assert snap.op == "delete", "create + racer delete only"
    got = sorted((r.k, r.name) for r in TxTable(spark, root).read().collect())
    assert got == [(1, "a")], "refused merge left no trace"
    res = t.merge(_pdf(spark, [(1, "A", 11.0)]), "k", txn="m1")  # re-invoke
    assert res["updated"] == 1
    got = sorted((r.k, r.name) for r in t.read().collect())
    assert got == [(1, "A")]


def test_merge_and_replace_conform_types_to_manifest_schema(spark, tmp_path):
    """A dict-update expression (or replace batch) whose type drifts
    from the manifest schema must NOT poison the table: the write
    casts back to the manifest type (ANSI: unconvertible values fail
    THIS write loudly), and every later read still works."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0), (2, "b", 20.0)]))
    # CaseWhen(string, double) coerces to string without the conform
    t.merge(
        _pdf(spark, [(1, "a", 1.0)]),
        "k",
        update={"price": "CAST(42 AS INT)"},  # int, manifest says double
        insert=False,
    )
    got = {r.k: r.price for r in t.read().collect()}
    assert got == {1: 42.0, 2: 20.0}
    assert dict(t.read().dtypes)["price"] == "double"
    # replace path: narrower incoming type widens to the manifest's
    narrow = spark.createDataFrame(
        [(2, "b2", 9)], "k bigint, name string, price int"
    )
    t.replace_where(narrow, "k = 2")
    assert dict(t.read().dtypes)["price"] == "double"
    assert {r.k: r.price for r in t.read().collect()} == {1: 42.0, 2: 9.0}
    # update / update_range / upsert / append: a bigint value into an
    # int column lands as int, and the table stays readable
    root2 = str(tmp_path / "t2")
    t2 = TxTable.create(
        spark, root2, spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v int")
    )
    wide = F.lit(7).cast("bigint")
    t2.update(F.col("k") == 1, {"v": wide})
    t2.update_range("k", 2, 2, {"v": wide + 1})
    t2.upsert(spark.createDataFrame([(2, 9), (3, 30)], "k bigint, v bigint"), "k")
    t2.append(spark.createDataFrame([(4, 40)], "k bigint, v bigint"))
    back = TxTable(spark, root2).read()
    assert dict(back.dtypes)["v"] == "int"
    assert {r.k: r.v for r in back.collect()} == {1: 7, 2: 9, 3: 30, 4: 40}


def test_update_reads_head_once_like_delete(spark, tmp_path, monkeypatch):
    """update/update_range run their guards, search, write and commit
    against ONE head snapshot: as many snapshot() reads as delete."""
    root = str(tmp_path / "t")
    TxTable.create(spark, root, _mkdf(spark, [(1, "a"), (2, "b"), (3, "c")]))
    calls = []
    orig = TxTable.snapshot

    def counting(self, version=None):
        calls.append(version)
        return orig(self, version)

    monkeypatch.setattr(TxTable, "snapshot", counting)

    def reads(mutation) -> int:
        del calls[:]
        mutation(TxTable(spark, root))  # fresh handle: nothing cached
        return len(calls)

    n_delete = reads(lambda t: t.delete(F.col("k") == 1))
    n_update = reads(lambda t: t.update(F.col("k") == 2, {"v": F.lit("B")}))
    n_range = reads(lambda t: t.update_range("k", 3, 3, {"v": F.lit("C")}))
    assert n_update == n_delete and n_range == n_delete, (
        n_update,
        n_range,
        n_delete,
    )


def test_stats_cols_persist_in_manifest_for_fresh_handles(spark, tmp_path):
    """stats_cols is a table property: a handle built WITHOUT it (the
    CDC/upsert sink shape) adopts the committed value on snapshot
    read, so its commits keep recording per-file stats and pruning
    never erodes."""
    root = str(tmp_path / "t")
    TxTable.create(
        spark, root, _pdf(spark, [(1, "a", 1.0)]).coalesce(1),
        stats_cols=["k"],
    )
    fresh = TxTable(spark, root)  # no stats_cols given
    fresh.append(_pdf(spark, [(100, "z", 2.0)]).coalesce(1))
    snap = fresh.snapshot()
    assert fresh.stats_cols == ["k"]
    new_file = [f for f in snap.files if f not in TxTable(spark, root).snapshot(1).files]
    assert len(new_file) == 1
    st = snap.stats[new_file[0]]
    assert st["min"]["k"] == 100 and st["max"]["k"] == 100, st
    # and pruning works through yet another fresh handle
    again = TxTable(spark, root)
    cand = again._candidate_files_for_keys(
        again.snapshot(), _pdf(spark, [(100, "q", 1.0)]), ["k"]
    )
    assert len(cand) == 1


def test_shallow_clone_metadata_only_and_independent(spark, tmp_path):
    """clone_to: v1 references the SOURCE's files (no data copied),
    then the two tables evolve independently — mutations on the clone
    copy-on-write into the CLONE's data dir and never touch the
    source; the clone's vacuum cannot GC source files."""
    src_root, cl_root = str(tmp_path / "src"), str(tmp_path / "cl")
    t = TxTable.create(
        spark,
        src_root,
        _pdf(spark, [(1, "a", 10.0), (2, "b", 20.0)]).coalesce(1),
        stats_cols=["k"],
    )
    t.append(_pdf(spark, [(3, "c", 30.0)]).coalesce(1))
    c = t.clone_to(cl_root)
    assert set(c.snapshot().files) == set(t.snapshot().files)
    assert not os.path.isdir(c.data_dir) or not os.listdir(c.data_dir)
    assert c.snapshot().version == 1 and c.snapshot().op == "clone"
    assert c.stats_cols == ["k"], "stats policy carried"
    got = sorted((r.k, r.name) for r in c.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # clone mutates independently; source state untouched
    assert c.delete(F.col("k") == 1) == 1
    c.append(_pdf(spark, [(9, "z", 90.0)]).coalesce(1))
    assert sorted(r.k for r in c.read().collect()) == [2, 3, 9]
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    # clone vacuum walks only the clone's data dir
    removed = c.vacuum(retain=1, min_age_seconds=0)
    assert all(f.startswith(c.data_dir) for f in removed), removed
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    # stats carried: pruning works immediately on the clone
    assert len(c.files_in_range("k", 2, 2)) < len(c.snapshot().files)
    # refusing to clone over an existing table
    with pytest.raises(ValueError, match="already a TxTable"):
        t.clone_to(cl_root)


def test_shallow_clone_carries_constraints_and_colmap(spark, tmp_path):
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxConstraintViolation,
    )

    src_root, cl_root = str(tmp_path / "src"), str(tmp_path / "cl")
    t = TxTable.create(spark, src_root, _pdf(spark, [(1, "a", 10.0)]))
    t.rename_column("price", "amount")  # materializes the colmap
    t.add_constraint("amount_pos", "amount > 0")
    c = t.clone_to(cl_root)
    assert [x["name"] for x in c.snapshot().colmap] == ["k", "name", "amount"]
    got = [(r.k, r.amount) for r in c.read().collect()]
    assert got == [(1, 10.0)], "logical names resolve through the colmap"
    with pytest.raises(TxConstraintViolation):
        c.append(
            spark.createDataFrame(
                [(2, "b", -1.0)], "k bigint, name string, amount double"
            )
        )


def test_clone_carries_stats_cols_from_optout_handle(spark, tmp_path):
    """stats_cols is a TABLE property: a stats-opt-out handle
    (stats_cols=[]) cloning the table must still carry the COMMITTED
    policy into the clone's first manifest (ADVICE r8)."""
    src_root, cl_root = str(tmp_path / "src"), str(tmp_path / "cl")
    TxTable.create(
        spark, src_root, _pdf(spark, [(1, "a", 10.0)]), stats_cols=["k"]
    )
    optout = TxTable(spark, src_root, stats_cols=[])
    c = optout.clone_to(cl_root)
    assert c.snapshot().stats_cols == ("k",), "committed policy carried"
    # a fresh stats-less handle on the clone adopts it on first read
    fresh = TxTable(spark, cl_root)
    fresh.read().count()
    assert fresh.stats_cols == ["k"]


def test_merge_extra_source_col_clashing_table_column_raises(spark, tmp_path):
    """An extra_source_cols name that is ALSO a table column must
    surface as the intended clash ValueError, not a confusing
    missing-columns schema mismatch (ADVICE r8)."""
    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _pdf(spark, [(1, "a", 10.0)]))
    src = _pdf(spark, [(1, "b", 11.0)])
    with pytest.raises(ValueError, match="collide with table columns"):
        t.merge(src, "k", update="all", extra_source_cols=["name"])


def test_cdc_collapse_total_order_deterministic(spark, tmp_path):
    """Same-sequence pairs collapse by a TOTAL order (op precedence,
    then row hash), not partition luck: a seq-tied insert+update pair
    lands the update payload on every replay, under any batch
    partitioning (ADVICE r8)."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.sinks import (
        cdc_apply_batch,
    )

    rows = [
        (1, "ins-payload", 1.0, "insert", 7),
        (1, "upd-payload", 2.0, "update", 7),  # same seq, op wins
        (2, "x1", 1.0, "update", 3),
        (2, "x2", 2.0, "update", 3),  # same seq+op: hash decides
    ]
    finals = []
    for i, nparts in enumerate((1, 7, 32)):
        root = str(tmp_path / f"t{i}")
        TxTable.create(spark, root, _pdf(spark, [(2, "seed", 0.0)]))
        batch = _cdc(spark, rows).repartition(nparts)
        cdc_apply_batch(spark, batch, root, "k", txn=None)
        finals.append(
            sorted(
                (r.k, r.name, r.price)
                for r in TxTable(spark, root).read().collect()
            )
        )
    assert finals[0] == finals[1] == finals[2], finals
    assert ("1", "upd-payload") not in finals[0]  # type sanity
    assert [r for r in finals[0] if r[0] == 1][0][1] == "upd-payload"


def test_vacuum_refuses_to_break_live_clone(spark, tmp_path):
    """Clone-fate guard (r9, VERDICT r8 #4): source vacuum must refuse
    to GC files a live shallow clone references; force=True overrides
    (and demonstrably breaks the clone); a compacted clone releases
    the source files and vacuum then passes."""
    import shutil

    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxCloneFateError,
    )

    src = str(tmp_path / "src")
    t = TxTable.create(spark, src, _pdf(spark, [(1, "a", 10.0)]).coalesce(1))
    c1 = t.clone_to(str(tmp_path / "c1"))
    t.overwrite(_pdf(spark, [(2, "b", 20.0)]).coalesce(1))
    with pytest.raises(TxCloneFateError, match="shallow clone"):
        t.vacuum(retain=1, min_age_seconds=0)
    assert [(r.k, r.name) for r in c1.read().collect()] == [(1, "a")], (
        "refused vacuum left the clone readable"
    )
    # compact() re-materializes the clone onto its own files...
    c1.append(_pdf(spark, [(3, "c", 30.0)]).coalesce(1))
    c1.compact(target_bytes=1 << 30, small_frac=1.0)
    # ...but its OLD manifests still reference source files: vacuum
    # the clone's history down, then the source passes cleanly
    c1.vacuum(retain=1, min_age_seconds=0)
    removed = t.vacuum(retain=1, min_age_seconds=0)
    assert removed, "source GC proceeded once the clone let go"
    assert sorted(r.k for r in c1.read().collect()) == [1, 3]

    # force=True on a still-attached clone: loud opt-in data loss
    c2 = t.clone_to(str(tmp_path / "c2"))
    t.overwrite(_pdf(spark, [(9, "z", 90.0)]).coalesce(1))
    t.vacuum(retain=1, min_age_seconds=0, force=True)
    with pytest.raises(Exception):
        c2.read().collect()

    # a DELETED clone releases its hold (marker pruned)
    c3 = t.clone_to(str(tmp_path / "c3"))
    t.overwrite(_pdf(spark, [(4, "d", 40.0)]).coalesce(1))
    shutil.rmtree(c3.root)
    t.vacuum(retain=1, min_age_seconds=0)  # no raise
    assert [(r.k) for r in t.read().collect()] == [4]


def test_cdc_apply_high_watermark_rejects_stale_cross_batch(spark, tmp_path):
    """r9 CDC ordering: a replica created WITH the order column runs
    in high-watermark mode — an older change landing in a LATER batch
    (source re-delivery, partition lag) no-ops instead of silently
    rewinding the row; equal-sequence re-delivery stays idempotent;
    genuinely newer changes and fresh keys still apply."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.sinks import (
        cdc_apply_batch,
    )

    root = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(1, "a", 10.0, 0), (2, "b", 20.0, 5)],
        "k bigint, name string, price double, _seq bigint",
    )
    TxTable.create(spark, root, seed)

    def cdc(rows):
        return spark.createDataFrame(
            rows,
            "k bigint, name string, price double, _seq bigint, _op string",
        )

    cdc_apply_batch(spark, cdc([(1, "A10", 11.0, 10, "update")]), root, "k")
    t = TxTable(spark, root)
    got = {r.k: (r.name, r._seq) for r in t.read().collect()}
    assert got[1] == ("A10", 10), "watermark advanced with the update"

    # STALE cross-batch update + delete: both no-op
    v = t.snapshot().version
    cdc_apply_batch(
        spark,
        cdc([(1, "stale", 1.0, 5, "update"), (2, None, None, 3, "delete")]),
        root,
        "k",
    )
    got = {r.k: (r.name, r._seq) for r in t.read().collect()}
    assert got[1] == ("A10", 10) and got[2] == ("b", 5), got
    assert t.snapshot().version == v + 1, "nothing-fired merge, empty commit"

    # equal-seq re-delivery of the SAME change: idempotent
    cdc_apply_batch(spark, cdc([(1, "A10", 11.0, 10, "update")]), root, "k")
    got = {r.k: (r.name, r._seq) for r in t.read().collect()}
    assert got[1] == ("A10", 10)

    # newer changes + fresh keys still land
    cdc_apply_batch(
        spark,
        cdc(
            [
                (1, "A12", 12.0, 12, "update"),
                (3, "c", 30.0, 1, "insert"),
                (2, None, None, 7, "delete"),
            ]
        ),
        root,
        "k",
    )
    got = {r.k: (r.name, r._seq) for r in t.read().collect()}
    assert got == {1: ("A12", 12), 3: ("c", 1)}, got


def test_cdc_apply_batch_dv_mode_no_rewrites(spark, tmp_path):
    """CDC apply with mode='dv' (r9): the per-trigger merge fires
    merge-on-read — original replica files survive every batch by
    reference; final state identical to CoW mode."""
    from etl_pipeline_fresh_picked_leads_spark.streaming.sinks import (
        cdc_apply_batch,
    )

    batch = _cdc(
        spark,
        [
            (1, "A", 11.0, "update", 2),
            (2, None, None, "delete", 1),
            (3, "c", 30.0, "insert", 1),
        ],
    )
    finals = []
    for mode in ("cow", "dv"):
        root = str(tmp_path / mode)
        t = TxTable.create(
            spark, root, _pdf(spark, [(1, "a", 10.0), (2, "b", 20.0)])
        )
        files0 = set(t.snapshot().files)
        res = cdc_apply_batch(spark, batch, root, "k", mode=mode)
        assert res["updated"] == 1 and res["deleted"] == 1
        if mode == "dv":
            assert files0 < set(t.snapshot().files), "originals intact"
            assert t.snapshot().dvs
        finals.append(
            sorted((r.k, r.name, r.price) for r in t.read().collect())
        )
    assert finals[0] == finals[1]

# ------------------------------------------------ commit timestamps (r10)


def test_commit_timestamps_monotone_and_in_history(spark, tmp_path):
    """Every commit stamps a monotone epoch-µs timestamp; history()
    exposes it as a tz-aware UTC datetime."""
    from datetime import timezone

    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))
    t.append(_mkdf(spark, [(2, "b")]))
    t.append(_mkdf(spark, [(3, "c")]))
    snaps = [t.snapshot(v) for v in (1, 2, 3)]
    tss = [s.ts for s in snaps]
    assert all(isinstance(ts, int) for ts in tss)
    assert tss[0] < tss[1] < tss[2], "strictly monotone over versions"
    h = t.history()
    assert [e["version"] for e in h] == [3, 2, 1]
    for e in h:
        assert e["timestamp"].tzinfo == timezone.utc
    assert h[0]["timestamp"] > h[2]["timestamp"]


def test_timestamp_as_of_read(spark, tmp_path):
    """read(timestamp=...) resolves to the newest commit <= the bound;
    bounds between commits land on the earlier one; a bound before the
    first commit raises; version+timestamp together is an error."""
    from datetime import timedelta

    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))      # v1
    t.append(_mkdf(spark, [(2, "b")]))                             # v2
    t.overwrite(_mkdf(spark, [(9, "z")]))                          # v3
    h = {e["version"]: e["timestamp"] for e in t.history()}
    # exact bounds hit their version
    assert sorted(r.k for r in t.read(timestamp=h[2]).collect()) == [1, 2]
    assert [r.k for r in t.read(timestamp=h[3]).collect()] == [9]
    # between v1 and v2 resolves to v1 (ts are µs-granular, midpoint works)
    mid = h[1] + (h[2] - h[1]) / 2
    assert [r.k for r in t.read(timestamp=mid).collect()] == [1]
    # ISO string and epoch-seconds forms accepted
    assert t.version_at(h[3].isoformat()) == 3
    assert t.version_at(h[3].timestamp()) == 3
    with pytest.raises(FileNotFoundError, match="predates"):
        t.read(timestamp=h[1] - timedelta(seconds=1))
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, timestamp=h[1])


def test_vacuum_retain_hours_time_window(spark, tmp_path):
    """vacuum(retain_hours=...) keeps every manifest committed within
    the window (union with the count criterion) and GCs the rest."""
    import json as _json
    import os as _os

    root = str(tmp_path / "t")
    t = TxTable.create(spark, root, _mkdf(spark, [(1, "a")]))      # v1
    t.overwrite(_mkdf(spark, [(2, "b")]))                         # v2
    t.overwrite(_mkdf(spark, [(3, "c")]))                         # v3
    t.overwrite(_mkdf(spark, [(4, "d")]))                         # v4
    # age v1/v2 artificially: rewrite their manifests with old ts.
    # Manifests are immutable in production, so the commit index
    # (r11) caches their ts — hand-editing must drop the index so the
    # aged timestamps heal back from the manifests themselves.
    for v in (1, 2):
        p = _os.path.join(t.log_dir, f"v{v:010d}.json")
        m = _json.load(open(p))
        m["ts"] = m["ts"] - 10 * 3600 * 1_000_000  # 10h ago
        _json.dump(m, open(p, "w"))
    _os.unlink(_os.path.join(t.log_dir, "_idx.jsonl"))
    removed = t.vacuum(retain=1, retain_hours=1.0, min_age_seconds=0.0)
    assert t._versions() == [3, 4], "recent window kept, old GC'd"
    assert removed, "v1/v2 data files deleted"
    assert [r.k for r in t.read().collect()] == [4]
    assert [r.k for r in t.read(version=3).collect()] == [3]
    # count criterion still floors retention: retain=2 keeps v3+v4
    # even with a zero-width time window
    removed2 = t.vacuum(retain=2, retain_hours=0.0, min_age_seconds=0.0)
    assert t._versions() == [3, 4] and removed2 == []

# --------------------------------------------- generated columns (r10)


def test_generated_columns_compute_validate_and_guard(spark, tmp_path):
    """Delta generation expressions: writes that omit the column get
    it computed, provided values are validated row-for-row, direct
    UPDATEs of a generated column refuse, schema changes that would
    break the expression refuse, restore adopts the target's map."""
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxGeneratedColumnViolation,
    )

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "ab"), (2, "xyz")], "k int, name string"
    )
    t = TxTable.create(
        spark, root, df.coalesce(1),
        generated={"name_len": "length(name)"},
    )
    got = {r.k: r.name_len for r in t.read().collect()}
    assert got == {1: 2, 2: 3}, "create computed the omitted column"
    # append omitting the column: computed
    t.append(
        spark.createDataFrame([(3, "hello")], "k int, name string")
        .coalesce(1)
    )
    assert {r.name_len for r in t.read().filter(F.col("k") == 3).collect()} == {5}
    # append PROVIDING consistent values: accepted
    t.append(
        spark.createDataFrame(
            [(4, "xx", 2)], "k int, name string, name_len int"
        ).coalesce(1)
    )
    # ...and inconsistent values: refused, nothing committed
    v = t.snapshot().version
    with pytest.raises(TxGeneratedColumnViolation, match="name_len"):
        t.append(
            spark.createDataFrame(
                [(5, "xx", 99)], "k int, name string, name_len int"
            ).coalesce(1)
        )
    assert t.snapshot().version == v
    # upsert and merge validate too (merge via result frame)
    with pytest.raises(TxGeneratedColumnViolation):
        t.upsert(
            spark.createDataFrame(
                [(1, "abcd", 1)], "k int, name string, name_len int"
            ).coalesce(1),
            "k",
        )
    t.upsert(
        spark.createDataFrame(
            [(1, "abcd")], "k int, name string"
        ).coalesce(1),
        "k",
    )
    assert {r.name_len for r in t.read().filter(F.col("k") == 1).collect()} == {4}
    # direct UPDATE of a generated column refuses; updating the INPUT
    # without the generated column raises (consistency validation)
    with pytest.raises(ValueError, match="generated column"):
        t.update(F.col("k") == 1, {"name_len": F.lit(9)})
    with pytest.raises(TxGeneratedColumnViolation):
        t.update(F.col("k") == 1, {"name": F.lit("longer")})
    # schema guards: renaming the input or the generated column refuses
    with pytest.raises(ValueError, match="generated"):
        t.rename_column("name", "nm")
    with pytest.raises(ValueError, match="generated"):
        t.rename_column("name_len", "nl")
    with pytest.raises(ValueError, match="generated"):
        t.drop_column("name")
    # restore carries the generated map with the state
    t.drop_column("name_len")  # dropping the generated col is fine
    assert not (t.snapshot().generated or {})
    t.append(
        spark.createDataFrame([(9, "zz")], "k int, name string")
        .coalesce(1)
    )
    t.restore(2)
    assert "name_len" in (t.snapshot().generated or {})
    with pytest.raises(TxGeneratedColumnViolation):
        t.append(
            spark.createDataFrame(
                [(6, "xx", 42)], "k int, name string, name_len int"
            ).coalesce(1)
        )


def test_generated_columns_sink_refuses(spark, tmp_path):
    from etl_pipeline_fresh_picked_leads_spark.streaming.txtable_source import (
        register,
    )

    register(spark)
    root = str(tmp_path / "t")
    TxTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a")], "k int, name string").coalesce(1),
        generated={"name_len": "length(name)"},
    )
    with pytest.raises(Exception, match="generated columns"):
        spark.createDataFrame(
            [(2, "b", 1)], "k int, name string, name_len int"
        ).write.format("txtable").mode("append").option(
            "path", root
        ).save()


def test_clone_carries_generated_columns(spark, tmp_path):
    """A shallow clone must enforce the source's generation
    expressions from its first write (the r8 stats_cols clone-drop
    bug class)."""
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxGeneratedColumnViolation,
    )

    src = str(tmp_path / "src")
    t = TxTable.create(
        spark,
        src,
        spark.createDataFrame([(1, "ab")], "k int, name string")
        .coalesce(1),
        generated={"name_len": "length(name)"},
    )
    c = t.clone_to(str(tmp_path / "clone"))
    assert (c.snapshot().generated or {}) == {"name_len": "length(name)"}
    c.append(
        spark.createDataFrame([(2, "xyz")], "k int, name string")
        .coalesce(1)
    )
    assert {r.name_len for r in c.read().filter(F.col("k") == 2).collect()} == {3}
    with pytest.raises(TxGeneratedColumnViolation):
        c.append(
            spark.createDataFrame(
                [(3, "x", 7)], "k int, name string, name_len int"
            ).coalesce(1)
        )


# -- r15: parquet-footer stats fast path ------------------------------


def test_footer_stats_match_scan_stats(spark, tmp_path, monkeypatch):
    """_stats_for's footer fast path (no Spark job) must produce
    byte-identical entries to the aggregate-scan path for every type
    it accepts — int (with NULLs), string, double, date."""
    from datetime import date as _d

    root = str(tmp_path / "t")
    rows = [
        (1, "aa", 1.5, _d(2024, 1, 2)),
        (None, "zz", -3.25, _d(2024, 3, 4)),
        (7, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "k int, s string, x double, d date"
    ).coalesce(1)
    t = TxTable.create(
        spark, root, df, stats_cols=["k", "s", "x", "d"]
    )
    files = list(t.snapshot().files)
    footer = t._stats_from_footers(files, {})
    assert footer is not None and set(footer) == set(files)
    monkeypatch.setattr(
        TxTable, "_stats_from_footers", lambda self, f, p: None
    )
    scan = t._stats_for(files)
    assert footer == scan


def test_footer_stats_fall_back_on_untrusted_bounds(spark, tmp_path):
    """Bounds the fast path cannot prove equal to the aggregate form
    (timestamps, NaN doubles, ±0.0 doubles — the last measured
    row-order-dependent in the Spark aggregate) must return None so
    the scan path stays authoritative; table stats stay correct."""
    from datetime import datetime as _dt

    root = str(tmp_path / "ts")
    df = spark.createDataFrame(
        [(1, _dt(2024, 1, 1, 12))], "k int, ts timestamp"
    ).coalesce(1)
    t = TxTable.create(spark, root, df, stats_cols=["k", "ts"])
    assert t._stats_from_footers(list(t.snapshot().files), {}) is None
    st = t.snapshot().stats[t.snapshot().files[0]]
    assert st["min"]["k"] == 1  # scan fallback still produced stats

    for name, vals in (
        ("nan", [(float("nan"),), (1.0,)]),
        ("negz", [(-0.0,), (0.0,)]),
    ):
        r2 = str(tmp_path / name)
        d2 = spark.createDataFrame(vals, "x double").coalesce(1)
        t2 = TxTable.create(spark, r2, d2, stats_cols=["x"])
        assert t2._stats_from_footers(list(t2.snapshot().files), {}) is None
