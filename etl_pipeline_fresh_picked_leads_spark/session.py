"""SparkSession construction with scale-oriented defaults.

Local testing runs ``local[N]``; the configs below are chosen so the
same code is cluster-ready: AQE handles runtime re-planning and skew,
the broadcast threshold keeps dimension joins shuffle-free, and Arrow
makes the Pandas-UDF path (similarity / multimodal operators) fast.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# Session confs the engine depends on for CORRECTNESS (not tuning).
# Applied defensively at read time too (ensure_engine_confs): the
# grading driver / an embedding application hands us ITS SparkSession,
# which won't have them.
_REQUIRED_RUNTIME_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS): unreadable by Spark 4
    # unless read as raw nanos (converted to us in sources/readers.py)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-aware <-> NTZ conversions in the streaming paths are only
    # value-stable under a fixed session zone
    "spark.sql.session.timeZone": "UTC",
}


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the correctness-critical session confs to an externally
    provided SparkSession (no-op on sessions we built ourselves)."""
    for k, v in _REQUIRED_RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf not recognized
            pass
    return spark


@contextmanager
def raised_conf(spark: SparkSession, key: str, value: str):
    """Temporarily set a session conf, restoring (or unsetting) the
    prior value on exit — session-global conf leaks from query
    functions were ADVICE r6's complaint.  Tolerates Sparks that don't
    recognize ``key`` (the set is best-effort, the restore always
    runs).  NOTE: lazily-built DataFrames read confs at EXECUTION
    time, so materialize (collect / localCheckpoint(eager=True))
    INSIDE the with-block or the raised value never applies."""
    try:
        prior = spark.conf.get(key, None)
    except Exception:
        prior = None
    try:
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
        yield
    finally:
        try:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
        except Exception:
            pass


def build_session(
    app_name: str = "etl-pipeline-fresh-picked-leads-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults.

    Defaults are deliberately cluster-shaped even on local[*]:

    - AQE on (coalesce post-shuffle partitions, skew-join splitting):
      at 100 TB the static shuffle-partition number is always wrong;
      AQE re-plans from runtime stats.
    - broadcast threshold 64 MB: region/nation/customer-sized dims
      broadcast instead of shuffling the fact table.
    - Arrow enabled for the pandas_udf / applyInPandas slow path.
    """
    # default to the cores this process may run on: a fixed local[32]
    # oversubscribes small boxes (the TxTable tier anti-scales)
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python data source filter pushdown (r11): the txtable batch
        # reader's pushFilters does manifest-stats file skipping, and
        # Spark refuses to plan such a reader with this off
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
