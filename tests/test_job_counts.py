"""Spark-job-count regression pins (VERDICT r15 #5).

Wall-clock on the bench/driver boxes swings ±20-70% between sessions
(CLAUDE.md), so the TxTable tier's r15 optimizations were repeatedly
flagged by raw seconds while their job counts had demonstrably
dropped.  Job counts are DETERMINISTIC and box-independent — measured
identical at sf0.001/sf0.1 and at 8/32 shuffle partitions — so this
test enforces them as ceilings: a future change that re-introduces a
removed scan/pass fails here on any box, while further cuts pass.

Counts come from tools/count_jobs.py's marker-job bracketing (job ids
are monotone ints; two marker jobs in a named group bound the query's
submissions exactly).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

from count_jobs import count_jobs  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"

# Measured ceilings (r16 HEAD, stable across SF and shuffle-partition
# settings).  A legitimate optimization may LOWER a count — update the
# pin with the new measurement in the same commit.
JOB_CEILINGS = {
    "q_txtable_zorder": 10,
    "q_txtable_replace_range": 15,
    "q_txtable_identity": 16,
    "q_txtable_constraint": 17,
    "q_txtable_merge": 18,
    "q_txtable_delete_dv": 26,
    "q_txtable_maintain": 28,
    "q_txtable_cdf_cow": 32,
    "q_graph_closure": 19,
    "q_dedup_fuzzy": 30,
    "q_dedup_pipeline": 59,
}


@pytest.mark.parametrize("qid", sorted(JOB_CEILINGS))
def test_job_count_ceiling(spark, qid):
    n = count_jobs(spark, qid, SF_SMALL)
    assert n <= JOB_CEILINGS[qid], (
        f"{qid} now submits {n} Spark jobs (ceiling "
        f"{JOB_CEILINGS[qid]}): a removed scan/pass came back — see "
        "tools/count_jobs.py and OPTIMIZATION_r16.md"
    )


# ------------------------------------------------- per-mutation pins
#
# One TxTable mutation's Spark jobs, counted by job group.  Fixture:
# 400 rows range-partitioned into 4 files with stats on ``k``, plus
# one appended file; the 2-row batch collides on key 3 and inserts
# key 1000.  ``*_checked`` cases run on the same table with a CHECK
# constraint and a generated column, so the validation passes count
# too.  Ceilings are the counts measured before TxTable's mutations
# shared one executor (identical at local[2] and local[4]), lowered
# where the executor cut a job and where merge stopped joining the
# rows no batch key can touch; a change may lower them, never raise
# them.
MUTATION_JOB_CEILINGS = {
    "update": 4,
    "update_nomatch": 1,
    "update_range": 4,
    "delete": 4,
    "delete_range": 4,
    "update_dv": 4,
    "update_dv_nomatch": 1,
    "delete_dv": 3,
    "upsert": 16,
    "merge": 14,
    "merge_dv": 13,
    "merge_insert_only": 12,
    "replace_where": 6,
    "replace_range": 6,
    "purge_dvs": 5,
    "update_checked": 8,
    "update_range_checked": 8,
    "update_dv_checked": 8,
    "upsert_checked": 22,
    "merge_checked": 18,
    "merge_dv_checked": 17,
    "replace_where_checked": 10,
}


def _mutation_table(spark, root, name):
    from pyspark.sql import functions as F

    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable

    checked = name.endswith("_checked")
    rows = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("int").alias("v")
    )
    t = TxTable.create(
        spark,
        root,
        rows.repartitionByRange(4, "k"),
        stats_cols=["k"],
        generated={"g": "k * 2"} if checked else None,
    )
    if checked:
        t.add_constraint("v_nonneg", "v >= 0")
    t.append(spark.createDataFrame([(400, 1)], "k bigint, v int"))
    if name == "purge_dvs":
        t.delete_dv(F.col("k") < 20)  # the vectors purge materializes
    return t


def _mutation(spark, t, name):
    from pyspark.sql import functions as F

    schema = "k bigint, v int"
    batch, slice_ = [(3, 30), (1000, 5)], [(3, 9)]
    if name.endswith("_checked"):  # the generated column, provided
        name = name[: -len("_checked")]
        schema += ", g bigint"
        batch, slice_ = [(3, 30, 6), (1000, 5, 2000)], [(3, 9, 6)]
    batch = spark.createDataFrame(batch, schema)
    slice_ = spark.createDataFrame(slice_, schema)
    set_v = {"v": F.lit(0)}
    return {
        "update": lambda: t.update(F.col("k") == 3, set_v),
        "update_nomatch": lambda: t.update(F.col("k") == -1, set_v),
        "update_range": lambda: t.update_range("k", 0, 9, set_v),
        "delete": lambda: t.delete(F.col("k") == 3),
        "delete_range": lambda: t.delete_range("k", 0, 9),
        "update_dv": lambda: t.update_dv(F.col("k") == 3, set_v),
        "update_dv_nomatch": lambda: t.update_dv(F.col("k") == -1, set_v),
        "delete_dv": lambda: t.delete_dv(F.col("k") == 3),
        "upsert": lambda: t.upsert(batch, "k"),
        "merge": lambda: t.merge(batch, "k"),
        "merge_dv": lambda: t.merge(batch, "k", mode="dv"),
        "merge_insert_only": lambda: t.merge(batch, "k", update=None),
        "replace_where": lambda: t.replace_where(slice_, F.col("k") == 3),
        "replace_range": lambda: t.replace_range(slice_, "k", 3, 3),
        "purge_dvs": lambda: t.purge_dvs(min_deleted_frac=0.01),
    }[name]


def _mutation_jobs(spark, t, name) -> int:
    run = _mutation(spark, t, name)
    sc = spark.sparkContext
    group = f"mutation-jobs-{name}-{os.getpid()}-{id(t)}"
    sc.setJobGroup(group, name)
    try:
        run()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(MUTATION_JOB_CEILINGS))
def test_mutation_job_count_ceiling(spark, tmp_path, name):
    t = _mutation_table(spark, str(tmp_path / "t"), name)
    n = _mutation_jobs(spark, t, name)
    assert n <= MUTATION_JOB_CEILINGS[name], (
        f"TxTable.{name} now submits {n} Spark jobs (ceiling "
        f"{MUTATION_JOB_CEILINGS[name]})"
    )
