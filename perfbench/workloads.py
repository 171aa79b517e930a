"""The workloads.  Each is one closed-loop client: it issues an
operation, waits for it, checks nothing inside the timed region, and
issues the next.

A workload object owns one fresh state under ``root``:

- ``generate(seed)`` builds the seeded inputs in memory (untimed; the
  generators cache them for the set-ups);
- ``setup()``  builds the initial state (timed as set-up);
- ``warmup()`` runs the timed paths once so the JVM reaches steady
  state (JIT and code generation are per JVM, so it runs once per
  process, unless ``warmup_is_state``: then its operations are part of
  the state and every state gets them);
- ``prepare(i)`` lands operation i's inputs (untimed);
- ``run(i)``   is the timed operation;
- ``finish(i)`` does untimed bookkeeping after it;
- ``check()``  returns a list of problems, each one a wrong result;
- ``patch(tracer)`` wraps the engine-internal layer calls to trace;
- ``layer_counts()`` returns the per-layer counts only it can know.
"""

from __future__ import annotations

import functools
import os
from collections import Counter
from datetime import date, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen


class OpFailed(RuntimeError):
    """An operation returned without error but with a wrong outcome."""


class Workload:
    name = ""
    trace_ops = 1  # operations per phase of a traced run
    round_len = 1  # the time limit is checked only between rounds
    warmup_is_state = False

    @classmethod
    def generate(cls, seed: int) -> None: ...

    def __init__(self, seed: int, root: str, spark, tracer):
        self.seed, self.root, self.spark, self.tracer = seed, root, spark, tracer
        os.makedirs(root, exist_ok=True)

    def setup(self) -> None: ...
    def warmup(self) -> None: ...
    def prepare(self, i: int) -> None: ...
    def run(self, i: int) -> None: ...
    def finish(self, i: int) -> None: ...
    def check(self) -> list[str]: return []
    def patch(self, tracer) -> None: ...
    def layer_counts(self) -> dict: return {}


def _write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# -------------------------------------------------------------- daily_etl --


class DailyEtl(Workload):
    """One day of the lead ETL, the batch job that waits for each step:
    four lead CSVs land and ``run_pipeline`` loads them with a DQ
    validator; the day's CDC batch is merged into the lead-master
    ``TxTable`` and followed by the day's further mutations
    (``gen.MASTER_DAY``); then the analyst's report reads the master.
    One operation is one of those steps (the pipeline run, a mutation,
    the report); a round is one day."""

    name = "daily_etl"
    # the pipeline run, the merge, the day's further mutations, the report
    DAY_STEPS = 3 + len(gen.MASTER_DAY)
    round_len = trace_ops = DAY_STEPS
    warmup_is_state = True  # the warm-up day is in the master's history

    @classmethod
    def generate(cls, seed):
        gen.master_base(seed)

    def setup(self):
        from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable

        self.landing = os.path.join(self.root, "landing")
        self.rows: Counter = Counter()
        self.nulls: dict[str, Counter] = {t: Counter() for t in gen.LEAD_TABLES}
        self.bad_cells = 0
        self._land(0)
        self._ingest(0, validate=False)  # autodetect-creates the tables
        base = _write_parquet(gen.master_base(self.seed),
                              os.path.join(self.root, "cdc", "base.parquet"))
        self.table = TxTable.create(
            self.spark, os.path.join(self.root, "lead_master"),
            self.spark.read.parquet(base), stats_cols=["lead_id"],
        )
        self.days = gen.master_days(self.seed)
        self.log: list[list[dict]] = []  # the master's mutations, by day
        self.versions = [self._version()]  # the master's version after each day
        # (day, op index, version after it) of the last maintenance
        self.maintained: tuple | None = None
        self.counts: Counter = Counter()

    def warmup(self):
        self._start_day(-1)
        for step in self._steps(-1):
            step()
        self._end_day(-1)

    # -- lead CSVs

    def _land(self, day: int) -> None:
        os.makedirs(self.landing, exist_ok=True)
        self.pending = gen.lead_day(self.seed, day)
        for f in self.pending:
            with open(os.path.join(self.landing, f"{f.table}.csv"), "w",
                      encoding="utf-8", newline="") as out:
                out.write(f.text)

    @staticmethod
    def run_date(day: int) -> date:
        return date(2026, 1, 1) + timedelta(days=day)

    def _validator(self, day: int):
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from etl_pipeline_fresh_picked_leads_spark.operators import dq

        def validate(spark, result):
            with self.tracer.span("dq.validate"):
                landed = functools.reduce(DataFrame.unionByName, (
                    spark.table(t).where(
                        F.col("Ingestion_date") == F.lit(self.run_date(day)))
                    for t in gen.LEAD_TABLES))
                rows = dq.dq_report([
                    dq.check_not_null(landed, "ingestion_date_set", "Ingestion_date"),
                    dq.check_unique(landed, "lead_id_unique", "lead_id"),
                    dq.check_not_null(landed, "score_present", "score"),
                ]).collect()
            return spark.createDataFrame(rows, "check_name string, n_violations long")

        return validate

    def _ingest(self, day: int, validate: bool = True) -> None:
        from etl_pipeline_fresh_picked_leads_spark import pipeline

        res = self.tracer.call(
            "pipeline.run", pipeline.run_pipeline, self.spark, self.landing,
            run_date=self.run_date(day),
            validator=self._validator(day) if validate else None,
        )
        want = sorted(f"{f.table}.csv" for f in self.pending)
        if res.loaded != want or res.failed:
            raise OpFailed(f"day {day}: loaded {res.loaded}, failed {res.failed}")
        if validate:
            # the planted bad score cells are exactly what DQ must flag
            expect = {"score_present": sum(f.expected_nulls["score"] for f in self.pending)}
            if res.dq_violations != expect:
                raise OpFailed(f"day {day}: dq {res.dq_violations} != {expect}")
        for f in self.pending:
            self.rows[f.table] += f.rows
            self.nulls[f.table].update(f.expected_nulls)
            self.bad_cells += f.bad_cells

    # -- lead master

    def _version(self) -> int:
        self.tracer.quiet += 1
        try:
            return self.table.snapshot().version
        finally:
            self.tracer.quiet -= 1

    def _files(self) -> set:
        self.tracer.quiet += 1
        try:
            return set(self.table.snapshot().files)
        finally:
            self.tracer.quiet -= 1

    def _log_files(self) -> dict:
        d = self.table.log_dir
        return {n: os.path.getsize(os.path.join(d, n)) for n in os.listdir(d)}

    def _mutate(self, op: dict) -> None:
        from pyspark.sql import functions as F

        t, kind = self.table, op["kind"]
        with self.tracer.span(f"txtable.{kind}"):
            if kind == "merge":
                t.merge(self.spark.read.parquet(op["path"]), "lead_id")
            elif kind == "append":
                t.append(self.spark.read.parquet(op["path"]))
            elif kind == "update":
                t.update(F.col("lead_id").between(op["lo"], op["hi"]), {
                    "score": F.col("score") + F.lit(gen.UPDATE_SCORE_DELTA),
                    "stage": F.lit(gen.UPDATE_STAGE),
                    "step": F.lit(op["step"]).cast("long"),
                })
            elif kind == "delete":
                t.delete(F.col("lead_id").between(op["lo"], op["hi"]))
            else:
                t.maintain({
                    "compact": {"min_files": 2},
                    "vacuum": {"retain": 12, "min_age_seconds": 0},
                })

    # -- one day

    def prepare(self, i):
        day, j = divmod(i, self.DAY_STEPS)
        if j == 0:
            self._start_day(day)

    def run(self, i):
        day, j = divmod(i, self.DAY_STEPS)
        self._steps(day)[j]()

    def finish(self, i):
        day, j = divmod(i, self.DAY_STEPS)
        if 0 < j <= len(self.ops) and self.ops[j - 1]["kind"] == "maintain":
            self.maintained = (len(self.log), j - 1, self._version())
        if j == self.DAY_STEPS - 1:
            self._end_day(day)

    def _steps(self, day: int) -> list:
        return ([functools.partial(self._ingest, day + 2)]
                + [functools.partial(self._mutate, op) for op in self.ops]
                + [self._report])

    def _start_day(self, day: int) -> None:
        self._land(day + 2)
        self.ops = next(self.days)
        for op in self.ops:
            if "rows" in op:
                op["path"] = _write_parquet(
                    op["rows"],
                    os.path.join(self.root, "cdc", f"step-{op['step']:05d}.parquet"),
                )
        if self.tracer.enabled:
            self.before = (self._files(), self._log_files())

    def _report(self) -> None:
        """The analyst's end-of-day read: the snapshot by stage, the hot
        key range (pruned by the key stats), and the change feed since
        the day before."""
        from pyspark.sql import functions as F

        with self.tracer.span("txtable.read"):
            self.table.read().groupBy("stage").agg(
                F.count(F.lit(1)), F.sum("score")).collect()
        with self.tracer.span("txtable.read"):
            self.table.read_range(
                "lead_id", lo=gen.MASTER_BASE_ROWS - gen.MASTER_HOT).count()
        with self.tracer.span("txtable.read_changes"):
            self.table.read_changes(self.versions[-1]).groupBy("_change_type").count().collect()

    def _end_day(self, day: int) -> None:
        for op in self.ops:
            op.pop("path", None)
        self.log.append(self.ops)
        self.versions.append(self._version())
        if self.tracer.enabled and day >= 0:
            files, logs = self._files(), self._log_files()
            added = files - self.before[0]
            self.counts["txtable.files_added"] += len(added)
            self.counts["txtable.files_removed"] += len(self.before[0] - files)
            self.counts["txtable.bytes_written"] += sum(os.path.getsize(f) for f in added)
            self.counts["txlog.manifest_bytes"] += sum(
                n for name, n in logs.items()
                if name.endswith(".json") and name not in self.before[1])

    # -- checks

    def check(self):
        return self._check_leads() + self._check_master()

    def _observed(self) -> dict:
        from pyspark.sql import functions as F

        out = {}
        for t in gen.LEAD_TABLES:
            cols = list(gen.LEAD_COLS) + ["Ingestion_date"]
            r = self.spark.table(t).agg(
                F.count(F.lit(1)).alias("n"),
                *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols],
            ).collect()[0]
            out[t] = r.asDict()
        return out

    def _check_leads(self) -> list[str]:
        problems = []
        self.observed = self._observed()
        for t, got in self.observed.items():
            if got["n"] != self.rows[t]:
                problems.append(f"{t}: {got['n']} rows, expected {self.rows[t]}")
            if got["Ingestion_date"]:
                problems.append(f"{t}: {got['Ingestion_date']} NULL Ingestion_date")
            for c in gen.LEAD_COLS:
                if got[c] != self.nulls[t][c]:
                    problems.append(f"{t}.{c}: {got[c]} NULLs, planted {self.nulls[t][c]}")
        return problems

    def _check_master(self) -> list[str]:
        """The final snapshot, and the change feed since the last
        maintenance (older manifests may be vacuumed), equal a
        pure-Python replay of the mutation log."""
        problems = []
        state = {r[0]: r for r in zip(*(
            gen.master_base(self.seed).column(i).to_pylist() for i in range(5)))}
        changes = [gen.master_apply(state, op) for ops in self.log for op in ops]
        got = self.table.read().toArrow().sort_by("lead_id")
        got_rows = list(zip(*(got.column(n).to_pylist() for n in gen.MASTER_SCHEMA.names)))
        if got_rows != [state[k] for k in sorted(state)]:
            problems.append(
                f"final snapshot: {len(got_rows)} rows differ from the replay "
                f"({len(state)} rows)")
        day, j, since = self.maintained or (0, -1, self.versions[0])
        first = sum(len(ops) for ops in self.log[:day]) + j + 1
        want = []  # one change set per mutation that changed rows, in commit order
        for dels, ins in changes[first:]:
            c = Counter([("delete", r) for r in dels] + [("insert", r) for r in ins])
            if c:
                want.append(c)
        feed = self.table.read_changes(since).toArrow()
        by_version: dict[int, Counter] = {}
        cols = [feed.column(n).to_pylist() for n in gen.MASTER_SCHEMA.names]
        for j, (kind, v) in enumerate(zip(feed.column("_change_type").to_pylist(),
                                          feed.column("_commit_version").to_pylist())):
            by_version.setdefault(v, Counter())[(kind, tuple(c[j] for c in cols))] += 1
        got_feed = [by_version[v] for v in sorted(by_version)]
        if got_feed != want:
            problems.append(
                f"change feed: {len(got_feed)} commits / {sum(map(len, got_feed))} "
                f"rows, replay {len(want)} / {sum(map(len, want))}")
        return problems

    def patch(self, tracer):
        from etl_pipeline_fresh_picked_leads_spark import pipeline, txlog
        from etl_pipeline_fresh_picked_leads_spark.sources import ingest

        tracer.patch(pipeline, "ingest_directory", "ingest.ingest_directory")
        tracer.patch(ingest, "ingest_csv", "ingest.ingest_csv")
        tracer.patch(ingest, "read_csv_inferred", "readers.read_csv")
        tracer.patch(ingest, "table_exists", "catalog.table_exists")
        tracer.patch(ingest, "table_schema", "catalog.table_schema")
        tracer.patch(ingest, "reconcile", "ingest.reconcile")
        tracer.patch(txlog, "write_manifest", "txlog.write_manifest", jobs=False)
        tracer.patch(txlog, "load_manifest", "txlog.load_manifest", jobs=False,
                     counter="txlog.load_manifest_calls")

    def layer_counts(self):
        total = sum(v[c] for v in self.observed.values() for c in gen.LEAD_COLS)
        dropped = sum(sum(n.values()) for n in self.nulls.values()) - self.bad_cells
        return {"ingest.cast_nulls": total - dropped, **self.counts}


# ---------------------------------------------------------- analytics_mix --


class AnalyticsMix(Workload):
    """The read-only side: one operation = one step the analyst waits
    for, either a registry query over a TPC-H-shaped database or a
    curation pass over a document corpus with planted duplicates
    (near-dup dedup, then quality scores and duplicated-span removal on
    the survivors).  A round is the curation pass and then every query
    of the mix in a seeded order; runs measure whole rounds."""

    name = "analytics_mix"
    round_len = trace_ops = len(gen.ANALYTICS_QUERIES) + 1
    WARM_SCALE = 0.02  # the warm-up database, as a share of the measured one

    @classmethod
    def generate(cls, seed):
        gen.tpch_tables(seed)
        gen.tpch_tables(seed, cls.WARM_SCALE)
        gen.corpus(seed)

    def setup(self):
        self.sf_dir = self._write(os.path.join(self.root, "sf"), gen.tpch_tables(self.seed))
        corpus, self.piles = gen.corpus(self.seed)
        self.n_docs = corpus.num_rows
        self.corpus = _write_parquet(corpus, os.path.join(self.root, "corpus.parquet"))
        self.results: dict = {}

    def warmup(self):
        # every query over a small database: run cold, a query costs
        # about twice a warm run, mostly code generation and JIT, which
        # depend on the plan rather than on the data size.  The curation
        # pass is not warmed: warming it costs another 10 s of every run
        # (its cold cost is mostly fixed), and the curation pass is one
        # step in 13, so its cold cost is a fixed part of round_s
        warm = self._write(os.path.join(self.root, "warm"),
                           gen.tpch_tables(self.seed, self.WARM_SCALE))
        for q in gen.ANALYTICS_QUERIES:
            self._query(q, warm)

    @staticmethod
    def _write(d: str, tables: dict) -> str:
        for name, t in tables.items():
            _write_parquet(t, os.path.join(d, f"{name}.parquet"))
        return d

    def _query(self, q: str, sf_dir: str) -> pa.Table:
        from etl_pipeline_fresh_picked_leads_spark.queries import QUERIES

        return QUERIES[q](self.spark, sf_dir).toArrow()

    def _curate(self, path: str) -> dict:
        from etl_pipeline_fresh_picked_leads_spark.operators.dedup import dedup_pipeline
        from etl_pipeline_fresh_picked_leads_spark.operators.text import (
            quality_scores, remove_dup_spans,
        )

        span = self.tracer.span
        with span("dedup.pipeline"):
            res = dedup_pipeline(self.spark.read.parquet(path))
        with span("text.quality"):
            quality_scores(res["survivors"]).write.format("noop").mode("overwrite").save()
        with span("text.remove_dup_spans"):
            remove_dup_spans(res["survivors"]).write.format("noop").mode("overwrite").save()
        return res

    def run(self, i):
        q = gen.query_order(self.seed, i // self.round_len)[i % self.round_len]
        if q == gen.CURATION_OP:
            self.curated = self._curate(self.corpus)
        else:
            with self.tracer.span(f"queries.{q}"):
                self.results[q] = self._query(q, self.sf_dir)

    def check(self):
        return self._check_queries() + self._check_curation()

    def _check_queries(self) -> list[str]:
        import duckdb

        from etl_pipeline_fresh_picked_leads_spark.queries import ORACLE

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for f in sorted(os.listdir(self.sf_dir)):
                path = os.path.join(self.sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
            return [f"{q}: result differs from the oracle"
                    for q, got in sorted(self.results.items())
                    if not _canon(got).equals(_canon(con.execute(ORACLE[q]).arrow()))]
        finally:
            con.close()

    def _check_curation(self) -> list[str]:
        """Each planted pile is one cluster, every other doc a singleton,
        and the survivors are exactly one canonical doc per cluster."""
        problems = []
        cl = self.curated["clusters"].select(
            "doc_id", "cluster_id", "is_canonical").toArrow()
        ids = cl.column("doc_id").to_pylist()
        if sorted(ids) != list(range(self.n_docs)):
            problems.append(f"clusters cover {len(set(ids))} of {self.n_docs} docs "
                            f"({len(ids)} rows)")
        members: dict = {}
        for d, c in zip(ids, cl.column("cluster_id").to_pylist()):
            members.setdefault(c, set()).add(d)
        want = {min(p): set(p) for p in self.piles}
        planted = set().union(*want.values())
        want.update({d: {d} for d in range(self.n_docs) if d not in planted})
        if members != want:
            bad = sum(1 for c in set(want) | set(members) if members.get(c) != want.get(c))
            problems.append(f"{bad} clusters differ from the planted piles")
        surv = sorted(self.curated["survivors"].select("doc_id").toArrow()
                      .column("doc_id").to_pylist())
        canon = sorted(d for d, k in zip(ids, cl.column("is_canonical").to_pylist()) if k)
        if surv != sorted(want) or canon != surv:
            problems.append(f"{len(surv)} survivors, {len(canon)} canonical, "
                            f"expected {len(want)}")
        return problems

    def patch(self, tracer):
        from etl_pipeline_fresh_picked_leads_spark.operators import graph

        tracer.patch(graph, "dedup_clusters", "graph.cc")

    def layer_counts(self):
        return {
            "dedup.exact_groups": self.curated["exact_groups"].count(),
            "dedup.verified_pairs": self.curated["pairs"].count(),
            "dedup.survivor_frac": self.curated["survivors"].count() / self.n_docs,
        }


def _canon(t: pa.Table) -> pa.Table:
    """Order-insensitive comparable form of a result table: columns by
    name, strings as ``string``, timestamps as zone-free wall-clock
    time, integers (and whole decimals) as int64, other numbers as
    float64 rounded to 9 significant digits; rows sorted."""
    import numpy as np
    import pyarrow.compute as pc

    cols = {}
    for n in sorted(t.column_names):
        c, ty = t.column(n).combine_chunks(), t.schema.field(n).type
        if pa.types.is_timestamp(ty) and ty.tz:
            c = pc.local_timestamp(c)
        elif pa.types.is_integer(ty) or (pa.types.is_decimal(ty) and ty.scale == 0):
            c = c.cast(pa.int64())
        elif pa.types.is_floating(ty) or pa.types.is_decimal(ty):
            x = c.cast(pa.float64()).to_numpy(zero_copy_only=False)
            with np.errstate(divide="ignore", invalid="ignore"):
                m = 10.0 ** (8 - np.floor(np.log10(np.abs(x))))
                x = np.where(np.isfinite(m), np.round(x * m) / m, x)
            c = pa.array(x, pa.float64(), mask=c.is_null().to_numpy(zero_copy_only=False))
        elif pa.types.is_large_string(ty):
            c = c.cast(pa.string())
        cols[n] = c
    out = pa.table(cols)
    return out.sort_by([(n, "ascending") for n in out.column_names])


WORKLOADS = {w.name: w for w in (DailyEtl, AnalyticsMix)}
