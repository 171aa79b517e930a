"""Concurrent-writer conflict matrix (r9, VERDICT r8 item 3).

Delta's WriteSerializable matrix, pinned per op pair: a lost manifest
race against PURE-APPEND commits auto-resolves for every
snapshot-derived mutation (the appended files join the survivor list,
nothing recomputes — ``_commit_vs_appends``); any other interleaving
(rewrite, schema/constraint/colmap/DV change) raises TxConflictError
and commits NOTHING.  Races are injected deterministically at the
commit boundary (subclass hook firing a competing writer between
snapshot and ``os.link``) — the same interleaving threads would
produce, without the flake.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
    TxConflictError,
    TxTable,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, name string, price double"
    ).coalesce(1)


def _raced(spark, root, racer):
    """A TxTable whose FIRST commit attempt loses a race to ``racer``
    (called with a fresh handle on the same root)."""

    class RacedTable(TxTable):
        def _commit(self, *a, **kw):
            if not getattr(self, "_raced_once", False):
                self._raced_once = True
                racer(TxTable(self.spark, self.root))
            return super()._commit(*a, **kw)

    return RacedTable(spark, root)


def _append_racer(spark):
    def racer(t):
        t.append(_df(spark, [(900, "race", 9.0)]))

    return racer


BASE = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]


@pytest.mark.parametrize(
    "op",
    [
        "delete",
        "update",
        "delete_dv",
        "update_dv",
        "upsert",
        "merge",
        "replace_where",
    ],
)
def test_mutations_auto_resolve_vs_pure_append(spark, tmp_path, op):
    """Every snapshot-derived mutation ∥ blind append: BOTH land
    exactly once, mutation applied, appended row untouched."""
    root = str(tmp_path / "t")
    TxTable.create(spark, root, _df(spark, BASE))
    rt = _raced(spark, root, _append_racer(spark))
    if op == "delete":
        assert rt.delete(F.col("k") == 2) == 1
        want = {1: "a", 3: "c", 900: "race"}
    elif op == "update":
        assert rt.update(F.col("k") == 2, {"name": F.lit("B")}) == 1
        want = {1: "a", 2: "B", 3: "c", 900: "race"}
    elif op == "delete_dv":
        assert rt.delete_dv(F.col("k") == 2) == 1
        want = {1: "a", 3: "c", 900: "race"}
    elif op == "update_dv":
        assert rt.update_dv(F.col("k") == 2, {"name": F.lit("B")}) == 1
        want = {1: "a", 2: "B", 3: "c", 900: "race"}
    elif op == "upsert":
        rt.upsert(_df(spark, [(2, "B", 2.0), (7, "g", 7.0)]), "k")
        want = {1: "a", 2: "B", 3: "c", 7: "g", 900: "race"}
    elif op == "merge":
        res = rt.merge(_df(spark, [(2, "B", 2.0), (7, "g", 7.0)]), "k")
        assert res["updated"] == 1 and res["inserted"] == 1
        want = {1: "a", 2: "B", 3: "c", 7: "g", 900: "race"}
    elif op == "replace_where":
        rt.replace_where(_df(spark, [(2, "B", 2.0)]), "k = 2")
        want = {1: "a", 2: "B", 3: "c", 900: "race"}
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    assert got == want, (op, got)


@pytest.mark.parametrize("racer_kind", ["delete", "delete_dv", "constraint"])
def test_mutations_refuse_vs_non_append(spark, tmp_path, racer_kind):
    """Mutation ∥ rewrite / DV-change / constraint-change: the loser
    raises and leaves NO trace (its files stay unreferenced for vacuum
    — never half a commit)."""
    root = str(tmp_path / "t")
    TxTable.create(spark, root, _df(spark, BASE))

    def racer(t):
        if racer_kind == "delete":
            t.delete(F.col("k") == 3)
        elif racer_kind == "delete_dv":
            t.delete_dv(F.col("k") == 3)
        else:
            t.add_constraint("k_pos", "k > 0")

    rt = _raced(spark, root, racer)
    with pytest.raises(TxConflictError):
        rt.delete_dv(F.col("k") == 2)
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    racer_state = (
        {1: "a", 2: "b", 3: "c"}  # metadata racer: rows intact
        if racer_kind == "constraint"
        else {1: "a", 2: "b"}
    )
    assert got == racer_state, "racer won, loser left no trace"
    if racer_kind == "constraint":
        assert "k_pos" in (TxTable(spark, root).snapshot().constraints or {})
    # re-invoke applies cleanly against the new snapshot
    assert TxTable(spark, root).delete_dv(F.col("k") == 2) == 1
    want = {1, 3} if racer_kind == "constraint" else {1}
    assert {r.k for r in TxTable(spark, root).read().collect()} == want


def test_append_vs_append_both_land(spark, tmp_path):
    root = str(tmp_path / "t")
    TxTable.create(spark, root, _df(spark, [(1, "a", 1.0)]))
    rt = _raced(spark, root, _append_racer(spark))
    rt.append(_df(spark, [(2, "b", 2.0)]))
    got = sorted(r.k for r in TxTable(spark, root).read().collect())
    assert got == [1, 2, 900]


def test_constraint_vs_append_refuses(spark, tmp_path):
    """add_constraint ∥ append is NOT auto-resolved: the racing
    append's rows were never validated under the new rule, so the
    constraint writer must re-scan — conservative refusal (Delta:
    metadata changes conflict with everything)."""
    root = str(tmp_path / "t")
    TxTable.create(spark, root, _df(spark, [(1, "a", 1.0)]))
    rt = _raced(spark, root, _append_racer(spark))
    with pytest.raises(TxConflictError):
        rt.add_constraint("k_small", "k < 100")
    snap = TxTable(spark, root).snapshot()
    assert not (snap.constraints or {}), "no constraint landed"
    # re-invoke now validates the appended row too — and refuses,
    # because k=900 violates the rule
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import (
        TxConstraintViolation,
    )

    with pytest.raises(TxConstraintViolation):
        TxTable(spark, root).add_constraint("k_small", "k < 100")


def test_merge_vs_disjoint_merge_refuses_then_reinvokes(spark, tmp_path):
    """merge ∥ key-disjoint merge: conservative refusal (each merge's
    survivor list derives from its snapshot — even disjoint keys can
    share a data file), but the loser's re-invoke composes: both
    merges' effects land exactly once."""
    root = str(tmp_path / "t")
    TxTable.create(spark, root, _df(spark, BASE))

    def racer(t):
        t.merge(_df(spark, [(1, "A", 1.0)]), "k")

    rt = _raced(spark, root, racer)
    with pytest.raises(TxConflictError):
        rt.merge(_df(spark, [(3, "C", 3.0)]), "k", txn="m2")
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    assert got == {1: "A", 2: "b", 3: "c"}, "only the racer applied"
    res = TxTable(spark, root).merge(
        _df(spark, [(3, "C", 3.0)]), "k", txn="m2"
    )
    assert res["updated"] == 1
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    assert got == {1: "A", 2: "b", 3: "C"}


def test_mutation_vs_append_storm_retries_to_success(spark, tmp_path):
    """Several appends landing during ONE mutation's commit window:
    the retry loop absorbs each (bounded by _COMMIT_RETRIES) and every
    writer's rows land exactly once."""
    root = str(tmp_path / "t")
    TxTable.create(spark, root, _df(spark, BASE))

    class StormTable(TxTable):
        _storms = 3

        def _commit(self, *a, **kw):
            if self._storms > 0:
                self._storms -= 1
                TxTable(self.spark, self.root).append(
                    _df(self.spark, [(900 + self._storms, "race", 9.0)])
                )
            return super()._commit(*a, **kw)

    rt = StormTable(spark, root)
    assert rt.delete_dv(F.col("k") == 2) == 1
    got = sorted(r.k for r in TxTable(spark, root).read().collect())
    assert got == [1, 3, 900, 901, 902]


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_interleavings_linearize(spark, data, tmp_path_factory):
    """Randomized (mutation, racer) pairs: whatever the interleaving,
    the outcome is one of the two serial orders — auto-resolved
    winners equal racer-then-mutation, refusals equal racer-only —
    and never a torn state."""
    root = str(tmp_path_factory.mktemp("txcc") / "t")
    rows = [(i, f"n{i}", float(i)) for i in range(6)]
    TxTable.create(spark, root, _df(spark, rows))
    model = {k: n for k, n, _ in rows}

    mut_kind = data.draw(
        st.sampled_from(["delete", "delete_dv", "update_dv", "merge"]),
        label="mut",
    )
    racer_kind = data.draw(
        st.sampled_from(["append", "delete", "delete_dv"]), label="racer"
    )
    key = data.draw(st.integers(0, 5), label="key")
    rkey = data.draw(st.integers(0, 5), label="rkey")

    def racer(t):
        if racer_kind == "append":
            t.append(_df(spark, [(99, "r", 9.0)]))
            model[99] = "r"
        elif racer_kind == "delete":
            t.delete(F.col("k") == rkey)
            model.pop(rkey, None)
        else:
            t.delete_dv(F.col("k") == rkey)
            model.pop(rkey, None)

    rt = _raced(spark, root, racer)

    def mutate(t):
        if mut_kind == "delete":
            t.delete(F.col("k") == key)
            model.pop(key, None)
        elif mut_kind == "delete_dv":
            t.delete_dv(F.col("k") == key)
            model.pop(key, None)
        elif mut_kind == "update_dv":
            t.update_dv(F.col("k") == key, {"name": F.lit("U")})
            if key in model:
                model[key] = "U"
        else:
            t.merge(_df(spark, [(key, "M", 0.0)]), "k")
            model[key] = "M"

    try:
        mutate(rt)  # racer fires inside; may auto-resolve or refuse
    except TxConflictError:
        mutate(TxTable(spark, root))  # serial re-invoke must succeed
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    assert got == model, (mut_kind, racer_kind, key, rkey, got, model)

def _two_file_table(spark, root):
    """Keys 0-9 in file A, 100-109 in file B, k-stats recorded — so a
    merge keyed inside one range prunes its candidate set to ONE file."""
    t = TxTable.create(
        spark,
        root,
        _df(spark, [(i, f"a{i}", float(i)) for i in range(10)]),
        stats_cols=["k"],
    )
    t.append(_df(spark, [(i, f"b{i}", float(i)) for i in range(100, 110)]))
    return t


def test_merge_vs_file_disjoint_merge_both_succeed(spark, tmp_path):
    """r10 widened conflict matrix: merge ∥ merge on DISJOINT FILES
    auto-rebases — the racer rewrote only files outside my pruned read
    set, so both merges land exactly once with no caller retry."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root)

    def racer(t):
        res = t.merge(_df(spark, [(105, "R", 1.0)]), "k")
        assert res["updated"] == 1

    rt = _raced(spark, root, racer)
    res = rt.merge(_df(spark, [(5, "M", 2.0)]), "k")  # no raise
    assert res["updated"] == 1
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    assert got[5] == "M" and got[105] == "R", got
    assert len(got) == 20, "no row lost or duplicated"


def test_merge_vs_overlapping_file_merge_still_refuses(spark, tmp_path):
    """Two merges whose candidate sets share a file still conflict:
    each survivor list derives from its snapshot."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root)

    def racer(t):
        t.merge(_df(spark, [(3, "R", 1.0)]), "k")

    rt = _raced(spark, root, racer)
    with pytest.raises(TxConflictError):
        rt.merge(_df(spark, [(5, "M", 2.0)]), "k")
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    assert got[3] == "R" and got[5] == "a5", "racer won, loser no trace"


def test_merge_dv_vs_disjoint_merge_dv_composes_vectors(spark, tmp_path):
    """DV-mode merges on disjoint files rebase AND compose deletion
    vectors: the dv_delta re-applies over the racer's base, keeping
    both writers' sidecars."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root)

    def racer(t):
        res = t.merge(
            _df(spark, [(105, "x", 0.0)]),
            "k",
            update=None,
            delete_condition="true",
            insert=False,
            mode="dv",
        )
        assert res["deleted"] == 1

    rt = _raced(spark, root, racer)
    res = rt.merge(
        _df(spark, [(5, "x", 0.0)]),
        "k",
        update=None,
        delete_condition="true",
        insert=False,
        mode="dv",
    )
    assert res["deleted"] == 1
    final = TxTable(spark, root)
    got = sorted(r.k for r in final.read().collect())
    assert 5 not in got and 105 not in got and len(got) == 18, got
    assert len(final.snapshot().dvs or {}) == 2, "both vectors carried"


def test_replace_range_vs_disjoint_replace_range_both_land(spark, tmp_path):
    """Slice overwrites of different key ranges (different files)
    compose without caller retry — the 100 TB daily-partition-recompute
    pattern with two concurrent backfills."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root)

    def racer(t):
        t.replace_range(_df(spark, [(101, "RR", 1.0)]), "k", 100, 109)

    rt = _raced(spark, root, racer)
    rt.replace_range(_df(spark, [(1, "MM", 2.0)]), "k", 0, 9)
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    assert got == {1: "MM", 101: "RR"}, got


def test_update_stats_pruned_predicate_composes_with_disjoint_rewrite(
    spark, tmp_path
):
    """r11 (VERDICT r10 #5): plain update/delete with a predicate
    whose interval bounds derive from the expression tree declare a
    stats-pruned read set — so UPDATE k=5 ∥ DELETE k=105 on different
    files compose without caller retry, exactly like update_range."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root)

    def racer(t):
        assert t.delete(F.col("k") == 105) == 1

    rt = _raced(spark, root, racer)
    assert rt.update(F.col("k") == 5, {"name": F.lit("M")}) == 1
    got = {r.k: r.name for r in TxTable(spark, root).read().collect()}
    assert got[5] == "M" and 105 not in got and len(got) == 19, got


def test_predicate_bounds_analysis(spark):
    """The expression-tree walk behind auto-pruning: necessary
    intervals for the recognized shapes, {} (never a wrong bound)
    for everything else."""
    from datetime import date

    pb = TxTable._predicate_bounds
    assert pb(F.col("k") == 5) == {"k": (5, 5)}
    assert pb((F.col("k") >= 1) & (F.col("k") <= 9)) == {"k": (1, 9)}
    assert pb(F.col("k").between(1, 9)) == {"k": (1, 9)}
    assert pb(F.col("k") < 5) == {"k": (None, 5)}
    assert pb(F.lit(5) <= F.col("k")) == {"k": (5, None)}
    assert pb(F.col("k").isin(3, 1, 7)) == {"k": (1, 7)}
    assert pb((F.col("k") == 5) | (F.col("k") == 9)) == {"k": (5, 9)}
    # OR across different columns implies no single-column bound
    assert pb((F.col("k") == 5) | (F.col("j") == 9)) == {}
    # opaque shapes: contribute nothing, never a wrong bound
    assert pb(F.col("k") % 3 == 0) == {}
    assert pb(~(F.col("k") == 5)) == {}
    assert pb(F.col("k").isNull()) == {}
    # an opaque conjunct only NARROWS matches: the sound bound stays
    assert pb((F.col("k") == 5) & (F.col("k") % 2 == 0)) == {"k": (5, 5)}
    # multi-column conjunction keeps both; date literals convert
    d = date(2020, 1, 2)
    assert pb((F.col("k") >= 5) & (F.col("d") == F.lit(d))) == {
        "k": (5, None),
        "d": (d, d),
    }


def test_update_equality_predicate_prunes_search(spark, tmp_path):
    """UPDATE k=5 on a k-clustered two-file table rewrites ONLY the
    file whose stats admit k=5 — the other carries by reference (the
    same file-granularity update_range gives, now automatic)."""
    root = str(tmp_path / "t")
    t = _two_file_table(spark, root)
    before = set(t.snapshot().files)
    assert t.update(F.col("k") == 5, {"name": F.lit("M")}) == 1
    after = set(t.snapshot().files)
    assert len(before & after) == 1, "upper file must carry by reference"
    got = {r.k: r.name for r in t.read().collect()}
    assert got[5] == "M" and got[105] == "b105" and len(got) == 20


def test_update_opaque_predicate_still_refuses_rewrites(spark, tmp_path):
    """A predicate the bounds analysis cannot decompose (modular
    arithmetic) keeps the whole-table read contract: ANY racing
    rewrite — even of a file with no matching rows — conflicts."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root)

    def racer(t):
        t.delete(F.col("k") == 105)

    rt = _raced(spark, root, racer)
    with pytest.raises(TxConflictError):
        rt.update(F.col("k") % 1000 == 5, {"name": F.lit("M")})
    # re-invoke composes
    assert TxTable(spark, root).update(
        F.col("k") % 1000 == 5, {"name": F.lit("M")}
    ) == 1


def test_update_pruned_overlapping_rewrite_still_refuses(spark, tmp_path):
    """Pruned read sets only admit DISJOINT racers: a racing rewrite
    of a file INSIDE the loser's declared range still conflicts."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root)

    def racer(t):
        t.delete(F.col("k") == 7)  # same file as the loser's k=5

    rt = _raced(spark, root, racer)
    with pytest.raises(TxConflictError):
        rt.update(F.col("k") == 5, {"name": F.lit("M")})
    assert TxTable(spark, root).update(
        F.col("k") == 5, {"name": F.lit("M")}
    ) == 1

def test_delete_range_vs_disjoint_delete_range_both_land(spark, tmp_path):
    """Range deletes of disjoint slices (different files) compose —
    the concurrent-retention-job shape (r10 delete_range: stats-pruned
    read set => disjoint-writer admission)."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root)

    def racer(t):
        assert t.delete_range("k", 100, 104) == 5

    rt = _raced(spark, root, racer)
    assert rt.delete_range("k", 0, 4) == 5
    got = sorted(r.k for r in TxTable(spark, root).read().collect())
    assert got == [5, 6, 7, 8, 9, 105, 106, 107, 108, 109], got


def test_update_range_matches_update_and_prunes(spark, tmp_path):
    """update_range equals the generic update on the same predicate
    and exposes the same exact CDF."""
    root = str(tmp_path / "t")
    t = _two_file_table(spark, root)
    n = t.update_range("k", 100, 102, {"price": F.lit(1.5)})
    assert n == 3
    got = {r.k: r.price for r in t.read().collect()}
    assert all(got[k] == 1.5 for k in (100, 101, 102))
    assert got[0] == 0.0 and len(got) == 20
    ch = sorted(
        (r._change_type, r.k)
        for r in t.read_changes(t.snapshot().version - 1).collect()
    )
    assert ch == [
        ("delete", 100), ("delete", 101), ("delete", 102),
        ("insert", 100), ("insert", 101), ("insert", 102),
    ], ch
    # zero-match range still commits an empty-change version
    v = t.snapshot().version
    assert t.delete_range("k", 500, 600) == 0
    assert t.snapshot().version == v + 1


def test_sink_commit_races_engine_append_both_land(spark, tmp_path):
    """The native sink's driver-side commit (_sink_commit) vs a
    racing ENGINE append on the same partitioned table: the sink's
    blind append must retry against the new head and land WITHOUT
    dropping the racer's files, the partition spec, or either side's
    stats (r13 — the sink now carries partition_by + new-file stats,
    so the race path has more state to preserve than in r9)."""
    import json as _json
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_pipeline_fresh_picked_leads_spark.streaming import (
        txtable_source as src,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b")], "k bigint, p bigint, v string"
    )
    t = TxTable.create(
        spark, root, base, partition_by=["p"], stats_cols=["k"]
    )
    # stage a sink task file under the partition layout (p=1)
    d = os.path.join(root, "data", uuid.uuid4().hex, "__txp_p=1")
    os.makedirs(d)
    path = os.path.join(d, "part-00000.parquet")
    pq.write_table(
        pa.table({"k": [10], "p": [1], "v": ["sink"]}), path
    )
    stats = {path: {"rows": 1, "min": {"k": 10, "p": 1}, "max": {"k": 10, "p": 1}}}

    real = src.txlog.write_manifest
    fired = {"n": 0}

    def racing_write(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            TxTable(spark, root).append(
                spark.createDataFrame([(20, 2, "eng")], "k bigint, p bigint, v string")
            )
        return real(*a, **kw)

    src.txlog.write_manifest = racing_write
    try:
        v = src._sink_commit(
            root,
            base.schema,
            [path],
            txn="race-sink-1",
            wrote_pby=["p"],
            stats=stats,
        )
    finally:
        src.txlog.write_manifest = real
    t2 = TxTable(spark, root)
    snap = t2.snapshot()
    assert snap.version == v == 3  # create + racer + sink
    got = {r.k for r in t2.read().collect()}
    assert got == {1, 2, 10, 20}, "both writers' rows must land"
    assert snap.partition_by == ("p",), "spec must ride the retried commit"
    assert path in snap.stats and snap.stats[path]["rows"] == 1
    # the racer's file kept its stats through the sink's rebase
    racer_files = [f for f in snap.files if f != path]
    assert all(f in snap.stats for f in racer_files)
    # replaying the sink txn no-ops
    v2 = src._sink_commit(
        root, base.schema, [path], txn="race-sink-1",
        wrote_pby=["p"], stats=stats,
    )
    assert v2 == 3 and TxTable(spark, root).read().count() == 4
