"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the session at ``local[min(4, nproc)]``, sets up the workload
``SETUPS`` times (each time in a fresh session and a fresh state), then
drives the last set-up state as a closed loop for ``--seconds``, checks
the outputs, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` instead
runs the workload's fixed operation prefix three times from identical
states (to warm the JVM, plain, and traced with spans, job groups and
an event log) and reports the per-layer metrics plus the tracing
overhead.

Every input, table, event log and Spark temp file lives under
``.perfbench_scratch/`` in the checkout (``SPARK_LOCAL_DIRS`` and
``TMPDIR`` point there) and is removed at exit; a traced run leaves its
span ledger in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:  # run as a script: import from the checkout root
    sys.path[0] = ROOT

from perfbench.gen import ANALYTICS_QUERIES  # noqa: E402

# the first set-up starts the JVM, so the median of three is the slower
# of two warm ones
SETUPS = 3
CORES = min(4, len(os.sched_getaffinity(0)))

# (name, unit, better, bound): printed by every untraced run
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("round_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
)

MUTATIONS = ("txtable.merge", "txtable.update", "txtable.delete", "txtable.append")
# per-layer metric -> the span names whose summed self time it reports
SELF_TIME = {
    "pipeline.run_s": ("pipeline.run",),
    "readers.read_csv_s": ("readers.read_csv",),
    "catalog.lookup_s": ("catalog.table_exists", "catalog.table_schema"),
    "ingest.ingest_csv_s": ("ingest.ingest_csv",),
    "ingest.reconcile_s": ("ingest.reconcile",),
    "dq.validate_s": ("dq.validate",),
    **{f"{m}_s": (m,) for m in MUTATIONS},
    "txtable.maintain_s": ("txtable.maintain",),
    "txtable.read_s": ("txtable.read",),
    "txtable.read_changes_s": ("txtable.read_changes",),
    "txlog.write_manifest_s": ("txlog.write_manifest",),
    "dedup.pipeline_s": ("dedup.pipeline",),
    "graph.cc_s": ("graph.cc",),
    "text.quality_s": ("text.quality",),
    "text.remove_dup_spans_s": ("text.remove_dup_spans",),
    **{f"queries.{q}_s": (f"queries.{q}",) for q in ANALYTICS_QUERIES},
}
# per-layer metric -> the span names whose Spark jobs it counts
JOBS = {
    "readers.read_csv_jobs": ("readers.read_csv",),
    **{f"queries.{q}_jobs": (f"queries.{q}",) for q in ANALYTICS_QUERIES},
}
SPARK = (
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.shuffle_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.parallelism", "frac", "higher"),
)
# (name, unit, better): printed by every traced run, 0 where the
# workload does not exercise the layer
PER_LAYER = (
    (("session.build_s", "s", "lower"),)
    + tuple((n, "s", "lower") for n in SELF_TIME)
    + tuple((n, "count", "lower") for n in JOBS)
    + (
        ("ingest.jobs_per_file", "count", "lower"),
        ("ingest.cast_nulls", "count", "lower"),
        ("txtable.jobs_per_commit", "count", "lower"),
        ("txtable.driver_gap_s", "s", "lower"),
        ("txtable.files_added", "count", "lower"),
        ("txtable.files_removed", "count", "lower"),
        ("txtable.bytes_written", "bytes", "lower"),
        ("txlog.load_manifest_calls", "count", "lower"),
        ("txlog.manifest_bytes", "bytes", "lower"),
        ("dedup.exact_groups", "count", "higher"),
        ("dedup.verified_pairs", "count", "higher"),
        ("dedup.survivor_frac", "frac", "lower"),
    )
    + SPARK
    + (
        ("trace.ops", "count", "higher"),
        ("trace.plain_op_p50_ms", "ms", "lower"),
        ("trace.traced_op_p50_ms", "ms", "lower"),
        ("trace.overhead_ms", "ms", "lower"),
        ("trace.overhead_frac", "frac", "lower"),
    )
)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Session:
    """The one SparkSession of the run, rebuilt per set-up inside the
    same JVM, and the JVM's shutdown at the end."""

    def __init__(self, scratch: str):
        self.scratch = scratch
        self.spark = None

    def build(self, k: int, event_log: str | None = None):
        from etl_pipeline_fresh_picked_leads_spark.session import build_session

        conf = {
            "spark.driver.memory": "1g",
            # a fixed-size heap keeps peak RSS from depending on when the
            # collector chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Xms1g -Djava.io.tmpdir={os.path.join(self.scratch, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, f"warehouse{k}"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_session(
            app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()  # first job
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the JVM."""
        from pyspark import SparkContext

        return (_vm_hwm_kb("self") + _vm_hwm_kb(SparkContext._gateway.proc.pid)) / 1024

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.close()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def measure(wl, tracer, seconds: float | None = None, ops: int | None = None):
    """Closed loop: ``ops`` operations, or whole rounds until ``seconds``
    have passed.  Returns (operation latencies, round times, failed
    count); times in s, a round's time the sum of its operations'."""
    lat, rounds, failed, i, cur = [], [], 0, 0, 0.0
    start = time.perf_counter()
    while True:
        if ops is not None:
            if i >= ops:
                break
        elif i and i % wl.round_len == 0 and time.perf_counter() - start >= seconds:
            break
        try:
            wl.prepare(i)
            t0 = time.perf_counter()
            with tracer.span("op"):
                wl.run(i)
            lat.append(time.perf_counter() - t0)
            cur += lat[-1]
            wl.finish(i)
        except Exception:
            failed += 1
            traceback.print_exc(file=sys.stderr)
        i += 1
        if i % wl.round_len == 0:
            rounds.append(cur)
            cur = 0.0
    return lat, rounds, failed


def run_checks(wl) -> int:
    t0 = time.perf_counter()
    try:
        problems = wl.check()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    print(f"checks: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    return len(problems)


def bench(workload: str, seed: int, seconds: float, trace: bool, scratch: str) -> dict:
    from perfbench.spans import Ledger, Tracer, read_event_log
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    cls.generate(seed)  # the generators cache their output: not set-up time
    session = Session(scratch)
    builds, setups = [], []
    attempted = failed = 0
    # a traced run passes the operation prefix over three identical states:
    # the first pass only warms the JVM, so that the plain (second) and
    # the traced (third) pass run equally warm and their difference is
    # the tracing overhead
    n = 3 if trace else SETUPS
    try:
        for k in range(n):
            traced = trace and k == n - 1
            events = os.path.join(scratch, "eventlog") if traced else None
            # tearing down the previous session is not set-up (and its
            # time swings by half a second from run to run)
            session.stop()
            t0 = time.perf_counter()
            spark = session.build(k, events)
            builds.append(time.perf_counter() - t0)
            wl = cls(seed, os.path.join(scratch, f"state{k}"), spark, Tracer())
            wl.setup()
            setups.append(time.perf_counter() - t0)
            shutil.rmtree(os.path.join(scratch, f"state{k - 1}"), ignore_errors=True)
            # untraced, only the measured (last) state is warmed; traced,
            # the first pass warms the JVM for the other two
            if k == (0 if trace else n - 1) or (trace and cls.warmup_is_state):
                t0 = time.perf_counter()
                wl.warmup()
                print(f"warm-up: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
            if trace and not traced:
                plain, _, bad = measure(wl, wl.tracer, ops=cls.trace_ops)
                attempted += cls.trace_ops
                failed += bad + run_checks(wl)
        if not trace:
            lat, rounds, bad = measure(wl, wl.tracer, seconds=seconds)
            print("op latencies (s):", " ".join(f"{x:.3f}" for x in lat), file=sys.stderr)
            print("set-up times (s):", " ".join(f"{x:.3f}" for x in setups), file=sys.stderr)
            attempted += len(lat) + bad
            failed += bad + run_checks(wl)
            metrics = {
                "setup_s": statistics.median(setups),
                "round_s": statistics.median(rounds),
                "peak_rss_mb": session.peak_rss_mb(),
            }
            units = {n: u for n, u, _, _ in END_TO_END}
        else:
            tracer = wl.tracer = Tracer(spark)
            wl.patch(tracer)
            try:
                lat, _, bad = measure(wl, tracer, ops=cls.trace_ops)
            finally:
                tracer.unpatch()
                tracer.enabled = False
            attempted += cls.trace_ops
            failed += bad + run_checks(wl)
            counts = {**wl.layer_counts(), **tracer.counts}
            session.stop()  # flushes and closes the event log
            (log,) = os.listdir(events)
            ledger = Ledger(tracer.spans, *read_event_log(os.path.join(events, log)))
            metrics = layer_metrics(ledger, counts, builds, plain, lat)
            units = {n: u for n, u, _ in PER_LAYER}
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"spans-{workload}-{seed}.json")
            with open(path, "w", encoding="utf-8") as f:
                json.dump(ledger.dump(), f)
            print(f"span ledger: {path}", file=sys.stderr)
    finally:
        session.close()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }


def layer_metrics(ledger, counts: dict, builds: list, plain: list, traced: list) -> dict:
    m = {"session.build_s": statistics.median(builds)}
    for name, spans in SELF_TIME.items():
        m[name] = ledger.self_s(ledger.ids(*spans))
    for name, spans in JOBS.items():
        m[name] = len(ledger.jobs(ledger.ids(*spans)))
    files = ledger.ids("ingest.ingest_csv")
    m["ingest.jobs_per_file"] = len(ledger.jobs(files)) / len(files) if files else 0
    commits = ledger.ids(*MUTATIONS)
    m["txtable.jobs_per_commit"] = (
        len(ledger.jobs(commits)) / len(commits) if commits else 0)
    m["txtable.driver_gap_s"] = ledger.driver_gap_s(commits)
    m.update(ledger.spark(ledger.ids("op")))
    p50, t50 = statistics.median(plain) * 1000, statistics.median(traced) * 1000
    m.update({
        "trace.ops": len(traced),
        "trace.plain_op_p50_ms": p50,
        "trace.traced_op_p50_ms": t50,
        "trace.overhead_ms": t50 - p50,
        "trace.overhead_frac": (t50 - p50) / p50,
    })
    for name, _, _ in PER_LAYER:
        m.setdefault(name, counts.get(name, 0))
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    import etl_pipeline_fresh_picked_leads_spark  # noqa: F401  fail fast without the engine

    # the tx log stores absolute paths: a fixed-width pid keeps its byte
    # counts equal across runs of one seed
    scratch = os.path.join(
        ROOT, ".perfbench_scratch", f"{args.workload}-{args.seed}-{os.getpid():07d}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    try:
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace), scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
