"""Per-engine-call wall-clock profiler for a single bench query.

Usage: python tools/profile_query.py q_txtable_cdf_cow [sf_dir]

Wraps the hot TxTable/operator entry points with timers, runs the
query once through the bench's noop-sink methodology, and prints a
call-site cost table — the measurement step the optimization guide
(§1) asks for before touching anything.  Diagnostic only: never
imported by the engine or the bench.
"""

from __future__ import annotations

import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_fresh_picked_leads_spark.queries import QUERIES  # noqa: E402
from etl_pipeline_fresh_picked_leads_spark.session import build_session  # noqa: E402

CALLS: list[tuple[str, float]] = []


def _wrap(obj, name: str, label: str | None = None):
    import inspect

    fn = getattr(obj, name)
    raw = inspect.getattr_static(obj, name)
    tag = label or f"{obj.__name__}.{name}" if hasattr(obj, "__name__") else name

    @functools.wraps(fn)
    def timed(*a, **kw):
        t0 = time.time()
        try:
            return fn(*a, **kw)
        finally:
            CALLS.append((tag, time.time() - t0))

    if isinstance(raw, staticmethod):
        setattr(obj, name, staticmethod(timed))
    elif isinstance(raw, classmethod):
        setattr(obj, name, classmethod(functools.wraps(fn)(
            lambda cls, *a, **kw: timed(*a, **kw)
        )))
    else:
        setattr(obj, name, timed)


def instrument():
    from etl_pipeline_fresh_picked_leads_spark.sources import txtable as tx

    T = tx.TxTable
    for m in [
        "_write_data", "_stats_for", "_commit", "_commit_new", "append",
        "read",
        "_scan", "_affected", "_mutate", "merge",
        "update", "delete", "replace_where", "delete_dv", "update_dv",
        "compact", "read_changes", "_validate_constraints",
        "_committed_txns", "snapshot", "vacuum", "upsert",
        "replace_range", "_candidate_files_for_keys",
    ]:
        if hasattr(T, m):
            _wrap(T, m, f"TxTable.{m}")
    try:
        _wrap(T, "create", "TxTable.create")
    except Exception:
        pass
    from etl_pipeline_fresh_picked_leads_spark.functions import fingerprint as fp

    _wrap(fp, "df_fingerprint", "df_fingerprint")
    from etl_pipeline_fresh_picked_leads_spark.operators import graph

    for m in ["connected_components", "connected_components_star",
              "_pointer_double", "closure", "dedup_clusters"]:
        _wrap(graph, m, f"graph.{m}")
    from etl_pipeline_fresh_picked_leads_spark.operators import dedup

    for m in ["minhash_signatures", "_collapse_groups", "_band_candidates",
              "verify_jaccard", "content_hash_map", "_exact_pairs_from_sh",
              "dedup_pipeline", "_lsh_pairs_from_base"]:
        if hasattr(dedup, m):
            _wrap(dedup, m, f"dedup.{m}")


def main():
    qid = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = build_session(app_name=f"profile-{qid}")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup (same as bench)
    QUERIES["q_agg_group"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    instrument()
    t0 = time.time()
    QUERIES[qid](spark, sf_dir).write.format("noop").mode("overwrite").save()
    total = time.time() - t0
    print(f"\n== {qid}: total {total:.3f}s ==")
    agg: dict[str, list[float]] = {}
    for tag, dt in CALLS:
        agg.setdefault(tag, []).append(dt)
    # NOTE: nested wrapped calls double-count (create calls _write_data
    # etc.) — read the table as a call tree, not a partition of total.
    for tag, ds in sorted(agg.items(), key=lambda kv: -sum(kv[1])):
        print(f"{sum(ds):8.3f}s  n={len(ds):3d}  {tag}")


if __name__ == "__main__":
    main()
