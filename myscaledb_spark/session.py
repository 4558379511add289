"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configs are the ones we would set on a 1000-executor cluster reading 100 TB:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), sane
shuffle partitioning, Arrow for every pandas-UDF boundary, UTC session time.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

# Configs that are safe & beneficial at every scale. At 100 TB the only knobs
# that change are shuffle partition count (set ~2-3x total cores, AQE coalesces
# down) and maxPartitionBytes (keep scan tasks ~128-256 MB).
ENGINE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # PySpark 4 captures the Python call site for EVERY DataFrame API call
    # (pyspark.errors.utils._capture_call_site walks the stack) to decorate
    # error messages with a query context.  On plan-building-heavy paths
    # this is a pure driver-side tax — measured 31% of the dialect INSERT
    # path (0.70 → 0.48 s) and ~17% of a cProfile of ch_script.  Errors
    # keep their full JVM message; only the DataFrame call-site decoration
    # is dropped.
    "spark.sql.dataFrameQueryContext.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # events.parquet stores TIMESTAMP(NANOS); read as long, catalog converts
    # to microsecond timestamps (same ns→µs truncation DuckDB applies).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Small dims (region/nation/supplier at TPC-H shape) must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # The SQL status store retains plan-description strings per execution
    # (default 1000); our dialect emits very large generated plans, so long
    # suites accumulate GBs of retained UI state. Keep a short tail — the
    # plan feedback loop uses .explain(), not the UI.
    "spark.ui.enabled": "false",
    "spark.sql.ui.retainedExecutions": "16",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
}


def get_spark(app_name: str = "myscaledb-spark", master: str | None = None) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    builder = builder.config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


from contextlib import contextmanager


@contextmanager
def session_settings(spark: SparkSession, **confs: str):
    """Per-query SETTINGS scope — the Spark analog of ClickHouse's
    ``SELECT ... SETTINGS k=v`` (reference: Interpreters/Context.cpp
    per-query settings overlay).  Sets the given SQL confs, yields, then
    restores the previous values.  Spark reads most SQL confs at
    EXECUTION time, so a query that should run under the scope must be
    materialized inside the ``with`` block (``df.localCheckpoint(True)``
    or an action) — a lazily returned plan executes under whatever the
    session has later.  Keys may use the short form (no ``spark.sql.``
    prefix is added — pass full keys)."""
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, str(v))
    try:
        yield spark
    finally:
        for k, prev in old.items():
            if prev is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, prev)


#: how long observed_metrics waits for an Observation's metrics.  Measured
#: on the perfbench ``ingest`` workload (local[2] on 2 cores of a 4-core
#: container, 5k docs, 250-doc appends): over 34 observed postings writes
#: the wait was 1.6-2.9 ms at the median of each run and 15 ms at most.
_OBSERVE_TIMEOUT_S = 2.0


def observed_metrics(obs) -> dict | None:
    """The metrics of an ``Observation`` whose action has run, or None when
    they have not arrived within ``_OBSERVE_TIMEOUT_S``.  ``Observation.get``
    waits without a limit (the metrics come through the listener bus after
    the action returns, and never if the observed plan did not run); on
    None the caller computes the same values with a 1-row collect."""
    if getattr(obs, "_jo", None) is None:  # never attached to a DataFrame
        return None
    fut = obs._jo.future()
    deadline = time.monotonic() + _OBSERVE_TIMEOUT_S
    while not fut.isCompleted():
        if time.monotonic() >= deadline:
            return None
        time.sleep(0.002)
    from py4j.protocol import Py4JJavaError

    try:
        return obs.get
    except Py4JJavaError:  # the observed action failed: fall back to the collect
        return None


import weakref as _weakref

_TUNED_SESSIONS: "_weakref.WeakSet" = _weakref.WeakSet()


def tune_session(spark: SparkSession, force: bool = False) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-provided session
    (the driver passes its own SparkSession to ``entry``/``queries``).

    Tuned once per session: every suite gate calls this on invocation, and
    each conf.set is a py4j round trip — ~15 round trips × 3 bench runs ×
    37 gates is pure fixed overhead (guide §1.2: per-task work after the
    algorithm).  Scoped overrides (session_settings) restore their previous
    values themselves, so a tuned session stays tuned."""
    if not force and spark in _TUNED_SESSIONS:
        return spark
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs on a running session — keep going
    _TUNED_SESSIONS.add(spark)
    return spark
