"""The benchmark's own pins.  Run from the checkout root:

    python3 -m pytest perfbench/tests -q

The first four groups need no Spark.  The last runs traced workloads
twice per seed (about seven minutes on a 4-core machine).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, run
from perfbench.spans import Ledger
from perfbench.workloads import WORKLOADS, AnalyticsMix, DailyEtl

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------ generator determinism --


def _digest(tables, tmp_path, tag) -> str:
    h = hashlib.sha256()
    for i, t in enumerate(tables):
        p = tmp_path / f"{tag}-{i}.parquet"
        pq.write_table(t, p)
        h.update(p.read_bytes())
    return h.hexdigest()


def _inputs(seed: int, tmp_path, tag: str) -> str:
    h = hashlib.sha256()
    for day in range(4):
        for f in gen.lead_day(seed, day):
            h.update(f.text.encode())
            h.update(json.dumps(f.expected_nulls, sort_keys=True).encode())
    days = gen.master_days(seed)
    ops = [op for _ in range(3) for op in next(days)]
    h.update(repr([(o["kind"], o.get("lo"), o.get("hi")) for o in ops]).encode())
    tables = [gen.master_base(seed)] + [o["rows"] for o in ops if "rows" in o]
    corpus, piles = gen.corpus(seed)
    h.update(repr(piles).encode())
    tables += [corpus] + list(gen.tpch_tables(seed).values())
    h.update(_digest(tables, tmp_path, tag).encode())
    h.update(repr([gen.query_order(seed, r) for r in range(3)]).encode())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _inputs(5, tmp_path, "a") == _inputs(5, tmp_path, "b")
    assert _inputs(5, tmp_path, "a") != _inputs(6, tmp_path, "c")


def test_generators_plant_what_the_checks_expect():
    bad = sum(f.bad_cells for d in range(1, 6) for f in gen.lead_day(3, d))
    assert bad > 0 and all(f.bad_cells == 0 for f in gen.lead_day(3, 0))
    corpus, piles = gen.corpus(3)
    assert sorted(corpus.column("doc_id").to_pylist()) == list(range(corpus.num_rows))
    assert len(piles) == 2 * gen.CORPUS_PILES and all(len(p) >= 2 for p in piles)
    days = gen.master_days(3)
    kinds = Counter(op["kind"] for _ in range(2) for op in next(days))
    assert set(kinds) == {"merge", "update", "append", "delete", "maintain"}


# ------------------------------------------------- declared metric names --


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_declares_what_the_runner_prints():
    b = _declared()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == [
        tuple(m) for m in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        tuple(m) for m in run.PER_LAYER]


def test_layer_metrics_cover_every_declared_name():
    spans = [
        {"id": 1, "name": "op", "start": 0.0, "end": 100.0, "parent": None, "op": 1},
        {"id": 2, "name": "txtable.merge", "start": 10.0, "end": 90.0, "parent": 1, "op": 1},
    ]
    jobs = {0: {"group": "pb-span-2", "start": 20, "end": 40, "stages": [0]}}
    stages = {0: Counter(stages=1, tasks=4, executor_run_ms=60)}
    m = run.layer_metrics(Ledger(spans, jobs, stages), {}, [0.5], [0.1], [0.1])
    assert set(m) == {n for n, _, _ in run.PER_LAYER}
    assert m["spark.jobs"] == 1 and m["txtable.jobs_per_commit"] == 1
    assert m["txtable.driver_gap_s"] == pytest.approx(0.06)
    assert m["txtable.merge_s"] == pytest.approx(0.08)


# ------------------------------------- a wrong result trips the checks --


class _Frame:
    """Stands in for a DataFrame: just enough for the checks."""

    def __init__(self, table: pa.Table):
        self.table = table

    def select(self, *cols):
        return _Frame(self.table.select(list(cols)))

    def toArrow(self):
        return self.table


def _curation(seed: int) -> AnalyticsMix:
    wl = AnalyticsMix.__new__(AnalyticsMix)
    corpus, wl.piles = gen.corpus(seed)
    wl.n_docs = corpus.num_rows
    cluster = {d: d for d in range(wl.n_docs)}
    for p in wl.piles:
        cluster.update({d: min(p) for d in p})
    ids = sorted(cluster)
    clusters = pa.table({
        "doc_id": ids,
        "cluster_id": [cluster[d] for d in ids],
        "is_canonical": [cluster[d] == d for d in ids],
    })
    wl.curated = {"clusters": _Frame(clusters), "survivors": _Frame(
        pa.table({"doc_id": [d for d in ids if cluster[d] == d]}))}
    return wl


def test_curation_check_catches_a_split_pile():
    wl = _curation(4)
    assert wl._check_curation() == []
    t = wl.curated["clusters"].table
    victim = max(wl.piles[0])  # a non-canonical member leaves its pile
    flags = [d == victim or c for d, c in zip(t.column("doc_id").to_pylist(),
                                               t.column("is_canonical").to_pylist())]
    wl.curated["clusters"] = _Frame(t.set_column(
        1, "cluster_id", pa.array([d if d == victim else c for d, c in zip(
            t.column("doc_id").to_pylist(), t.column("cluster_id").to_pylist())]))
        .set_column(2, "is_canonical", pa.array(flags)))
    assert wl._check_curation()


class _Table:
    """Stands in for a TxTable whose reads return prepared results."""

    def __init__(self, snapshot: pa.Table, feed: pa.Table):
        self.snapshot_t, self.feed = snapshot, feed

    def read(self):
        return _Frame(self.snapshot_t)

    def read_changes(self, since):
        return _Frame(self.feed)


def _master(seed: int, n_days: int) -> DailyEtl:
    wl = DailyEtl.__new__(DailyEtl)
    wl.seed = seed
    days = gen.master_days(seed)
    wl.log = [next(days) for _ in range(n_days)]
    state = {r[0]: r for r in zip(*(
        gen.master_base(seed).column(i).to_pylist() for i in range(5)))}
    feed, version = [], 0
    for d, ops in enumerate(wl.log):
        for j, op in enumerate(ops):
            version += 1
            dels, ins = gen.master_apply(state, op)
            if op["kind"] == "maintain":  # the feed the check reads starts here
                wl.maintained, feed = (d, j, version), []
            feed += [r + ("delete", version) for r in dels]
            feed += [r + ("insert", version) for r in ins]
    names = gen.MASTER_SCHEMA.names + ["_change_type", "_commit_version"]
    snap = pa.Table.from_pylist(
        [dict(zip(gen.MASTER_SCHEMA.names, state[k])) for k in sorted(state)],
        schema=gen.MASTER_SCHEMA)
    wl.table = _Table(snap, pa.Table.from_pylist([dict(zip(names, r)) for r in feed]))
    return wl


def test_master_check_catches_a_wrong_row_and_a_lost_change():
    n = 3  # the warm-up day and two measured days, so two maintenances
    assert _master(8, n)._check_master() == []
    wl = _master(8, n)
    t = wl.table.snapshot_t
    scores = t.column("score").to_pylist()
    scores[17] += 0.01
    wl.table.snapshot_t = t.set_column(2, "score", pa.array(scores))
    assert any("snapshot" in p for p in wl._check_master())
    wl = _master(8, n)
    wl.table.feed = wl.table.feed.slice(1)
    assert any("change feed" in p for p in wl._check_master())


def test_ingest_check_catches_a_silent_null():
    wl = DailyEtl.__new__(DailyEtl)
    wl.rows, wl.nulls = Counter(), {t: Counter() for t in gen.LEAD_TABLES}
    for day in range(3):
        for f in gen.lead_day(9, day):
            wl.rows[f.table] += f.rows
            wl.nulls[f.table].update(f.expected_nulls)
    truth = {t: {"n": wl.rows[t], "Ingestion_date": 0,
                 **{c: wl.nulls[t][c] for c in gen.LEAD_COLS}} for t in gen.LEAD_TABLES}
    wl._observed = lambda: truth
    assert wl._check_leads() == []
    truth["leads_fair"]["score"] += 1
    assert wl._check_leads() == ["leads_fair.score: %d NULLs, planted %d" % (
        truth["leads_fair"]["score"], wl.nulls["leads_fair"]["score"])]


def test_oracle_comparison_is_order_insensitive_and_exact():
    from perfbench.workloads import _canon

    a = pa.table({"k": [2, 1], "v": [0.5, 1.25]})
    b = pa.table({"v": [1.25, 0.5], "k": [1, 2]})
    assert _canon(a) == _canon(b)
    assert _canon(a) != _canon(pa.table({"k": [2, 1], "v": [0.5, 1.26]}))


# ------------------------- deterministic counts repeat for a fixed seed --

COUNTS = {
    "daily_etl": ("readers.read_csv_jobs", "ingest.jobs_per_file", "ingest.cast_nulls",
                  "txtable.files_added", "txtable.files_removed",
                  "txtable.bytes_written", "txlog.manifest_bytes",
                  "txlog.load_manifest_calls", "txtable.jobs_per_commit",
                  "spark.jobs", "spark.stages"),
    "analytics_mix": tuple(f"queries.{q}_jobs" for q in gen.ANALYTICS_QUERIES) + (
        "dedup.exact_groups", "dedup.verified_pairs", "dedup.survivor_frac",
        "spark.jobs", "spark.stages"),
}


def _traced(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {n for n, _, _ in run.PER_LAYER}
    return {k: v["value"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_counts_repeat_exactly_for_a_fixed_seed(workload):
    a, b = _traced(workload, 21), _traced(workload, 21)
    assert {k: a[k] for k in COUNTS[workload]} == {k: b[k] for k in COUNTS[workload]}
    assert all(a[k] > 0 for k in COUNTS[workload])
