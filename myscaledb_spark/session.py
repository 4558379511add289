"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configs are the ones we would set on a 1000-executor cluster reading 100 TB:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), sane
shuffle partitioning, Arrow for every pandas-UDF boundary, UTC session time.

The small-input primitives live here too.  A query whose input the
optimizer estimates small runs under per-query confs (``scoped``: AQE off,
fewer shuffle partitions) in a clone of the caller's session, so the
caller's session is never written; its rows come back to the driver
(``collect_small``) or as a VALUES relation (``values_relation``).
"""

from __future__ import annotations

import math
import os
import time
import weakref as _weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Configs that are safe & beneficial at every scale. At 100 TB the only knobs
# that change are shuffle partition count (set ~2-3x total cores, AQE coalesces
# down) and maxPartitionBytes (keep scan tasks ~128-256 MB).
ENGINE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # DataFrame query context: error messages decorated with the call site
    # of the DataFrame API call.  Two switches.  The JVM one stops Catalyst
    # from attaching the context.  The Python one stops PySpark 4's
    # ``_with_origin`` wrapper, which on EVERY Column function walks the
    # stack (``pyspark.errors.utils._capture_call_site``) and sends the
    # call site to the JVM — extra py4j calls on every call (building a SQL
    # textsearch plan over a 5,000-doc view: 1,263 py4j calls with it, 332
    # without).  PySpark reads the Python switch from the active session
    # once per process.  Errors keep their full JVM message; only the
    # call-site decoration is dropped.
    "spark.sql.dataFrameQueryContext.enabled": "false",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
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


def scoped(df: DataFrame, **confs: str) -> DataFrame:
    """``df`` re-planned in a clone of its session that carries ``confs`` —
    the Spark analog of ClickHouse's ``SELECT ... SETTINGS k=v``, whose
    per-query overlay applies to a copy of the session context
    (reference: Interpreters/Context.cpp).  The clone
    (``SparkSession.cloneSession``) starts with every conf of the caller's
    session, runtime-set ones included, its temp views and its shared state
    (the cache, the catalog); the caller's session is never written, so a
    query another thread runs on it meanwhile plans under its own confs.
    Pass full keys (no ``spark.sql.`` prefix is added).  A fresh clone per
    call: a kept one would miss the caller's later conf changes.

    Actions on the returned frame run in the clone.  A frame derived from
    it plans there too; ``checkpoint_scoped`` hands a materialized one
    back to the caller's session."""
    clone = df.sparkSession._jsparkSession.cloneSession()
    for k, v in confs.items():
        clone.conf().set(k, str(v))
    return _replan(df, clone)


def _replan(df: DataFrame, jsession) -> DataFrame:
    """``df``'s analyzed plan as a frame of the JVM session ``jsession``."""
    dataset = df.sparkSession._jvm.org.apache.spark.sql.classic.Dataset
    jdf = dataset.ofRows(jsession, df._jdf.queryExecution().analyzed())
    return DataFrame(jdf, df.sparkSession)


def checkpoint_scoped(df: DataFrame, **confs: str) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` run under ``scoped(df, **confs)``,
    handed back in ``df``'s session: steps the caller adds on top plan
    under the caller's confs."""
    done = scoped(df, **confs).localCheckpoint(eager=True)
    return _replan(done, df.sparkSession._jsparkSession)


#: the estimate gate of every small-input path: at or below it AQE's
#: per-stage re-planning jobs cost more than the query's whole data path, so
#: the query runs with AQE off (``collect_small``) or picks its single-task
#: plan (``pack_sequences``).  Any real corpus estimates above it and keeps
#: the adaptive plan.
SMALL_INPUT_BYTES = 256 << 20

#: the estimate gate of a driver-resident corpus (``resident.py``): one Arrow
#: collect of every column plus each string column's tokens must fit the
#: driver.  Measured on 64-d float vectors with ~30-token docs, local[2]: a
#: 125 MB parquet input (340k docs) builds in 12.5 s with a 2 GB driver heap
#: (1.2 GB Python RSS); a 365 MB one (1M docs) exhausts a 4 GB heap.
DRIVER_RESIDENT_BYTES = 128 << 20


def estimated_bytes(df: DataFrame) -> int:
    """The optimizer's ``sizeInBytes`` estimate for ``df``, or 0 when the
    stats raise.  RDD-backed relations report Long.MaxValue ("unknown")."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 0


def collect_small(
    df: DataFrame, sized: DataFrame | None = None, **confs: str
) -> list | None:
    """``df.collect()`` under ``scoped`` with AQE off (plus ``confs``) when
    the estimate of ``sized`` is in ``(0, SMALL_INPUT_BYTES]``; None
    otherwise, and the caller runs its adaptive plan.  Without ``sized``
    the estimate is the scoped plan's own, so a small query is optimized
    once, in the clone.  Execution confs only, so the rows are the ones the
    adaptive plan returns."""
    run = scoped(df, **{"spark.sql.adaptive.enabled": "false", **confs})
    est = estimated_bytes(run if sized is None else sized)
    return run.collect() if 0 < est <= SMALL_INPUT_BYTES else None


def collect_small_relation(
    df: DataFrame, sized: DataFrame | None = None, **confs: str
) -> DataFrame:
    """``collect_small``'s rows re-emitted as a ``values_relation`` (the
    caller's collect on it runs no job); ``df`` itself when the estimate is
    above the gate or a field type has no literal emitter."""
    rows = collect_small(df, sized, **confs)
    local = None if rows is None else values_relation(df.sparkSession, df.schema, rows)
    return df if local is None else local


_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def _sql_literal(dtype: T.DataType):
    """``value -> SQL literal`` for one field type, or None when the type has
    no emitter.  Strings go through a UTF-8 hex literal, which reads the
    same under either ``spark.sql.parser.escapedStringLiterals`` setting."""
    t = dtype.simpleString()
    if isinstance(dtype, T.StringType):
        return lambda v: f"CAST(X'{str(v).encode('utf-8').hex()}' AS STRING)"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return lambda v: f"CAST({int(v)} AS {t})"
    if isinstance(dtype, T.DoubleType):
        def double(v):
            v = float(v)
            if math.isfinite(v):
                return f"{v!r}D"  # repr round-trips; -0.0D keeps the sign
            return f"CAST('{_NON_FINITE[repr(v)]}' AS DOUBLE)"

        return double
    return None


def _sort_key(v):
    """Spark's ascending order of one value: NULL first, NaN after every
    other double, -0.0 equal to 0.0 (``v + 0.0`` folds the sign)."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (2,) if v != v else (1, v + 0.0)
    return (1, v)


def values_relation(
    spark: SparkSession, schema: T.StructType, rows: list
) -> DataFrame | None:
    """``rows`` (collected from a frame with ``schema``) as a SQL VALUES
    LocalRelation with the same field names and types.  collect() on it
    runs no Spark job, where createDataFrame pays a 1-task job and a pickle
    round trip; its size estimate is known, where an RDD scan's is not.
    None when a field type of a non-empty ``rows`` has no literal emitter
    (no rows need none)."""
    emit = [_sql_literal(f.dataType) for f in schema.fields]
    if rows and any(e is None for e in emit):
        return None
    cols = ", ".join("`" + f.name.replace("`", "``") + "`" for f in schema.fields)

    def row_sql(r):
        return "(" + ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()})" if v is None else e(v)
            for f, e, v in zip(schema.fields, emit, r)
        ) + ")"

    if not rows:
        nulls = row_sql([None] * len(schema.fields))
        return spark.sql(f"SELECT * FROM (VALUES {nulls}) AS t({cols}) WHERE FALSE")
    body = ", ".join(row_sql(r) for r in rows)
    return spark.sql(f"SELECT * FROM (VALUES {body}) AS t({cols})")


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


_TUNED_SESSIONS: "_weakref.WeakSet" = _weakref.WeakSet()


def tune_session(spark: SparkSession, force: bool = False) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-provided session
    (the driver passes its own SparkSession to ``entry``/``queries``).

    Tuned once per session: every suite gate calls this on invocation, and
    each conf.set is a py4j round trip — ~15 round trips × 3 bench runs ×
    37 gates is pure fixed overhead (guide §1.2: per-task work after the
    algorithm).  Scoped overrides (``scoped``) run in a clone of the
    session and never write it, so a tuned session stays tuned."""
    if not force and spark in _TUNED_SESSIONS:
        return spark
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs on a running session — keep going
    _TUNED_SESSIONS.add(spark)
    return spark
