"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configs are the ones we would set on a 1000-executor cluster reading 100 TB:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), sane
shuffle partitioning, Arrow for every pandas-UDF boundary, UTC session time.

The small-input primitives live here too.  A query whose input the
optimizer estimates small runs under per-query confs (``scoped``: AQE off,
fewer shuffle partitions) in a clone of the caller's session, so the
caller's session is never written; its rows come back to the driver
(``collect_small``) or as a local relation (``collect_small_relation``).
Every answer the driver computes leaves through one emitter,
``local_relation``: Arrow record batches become a Spark ``LocalRelation``
of any column type, which collects with no Spark job.
"""

from __future__ import annotations

import os
import time
import weakref as _weakref

import pyarrow as pa
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


def _small_run(df: DataFrame, sized: DataFrame | None, **confs: str) -> DataFrame | None:
    """``df`` under ``scoped`` with AQE off (plus ``confs``) when the
    estimate of ``sized`` is in ``(0, SMALL_INPUT_BYTES]``; None otherwise.
    Without ``sized`` the estimate is the scoped plan's own, so a small
    query is optimized once, in the clone."""
    run = scoped(df, **{"spark.sql.adaptive.enabled": "false", **confs})
    est = estimated_bytes(run if sized is None else sized)
    return run if 0 < est <= SMALL_INPUT_BYTES else None


def collect_small(
    df: DataFrame, sized: DataFrame | None = None, **confs: str
) -> list | None:
    """``df.collect()`` under ``scoped`` with AQE off (plus ``confs``) when
    the estimate of ``sized`` is small (``_small_run``); None otherwise,
    and the caller runs its adaptive plan.  Execution confs only, so the
    rows are the ones the adaptive plan returns."""
    run = _small_run(df, sized, **confs)
    return None if run is None else run.collect()


def collect_small_relation(
    df: DataFrame, sized: DataFrame | None = None, **confs: str
) -> DataFrame:
    """``df``'s rows collected as Arrow under ``collect_small``'s scope and
    gate, re-emitted by ``local_relation`` (the caller's collect on it runs
    no job); ``df`` itself when the estimate is above the gate."""
    run = _small_run(df, sized, **confs)
    return df if run is None else local_relation(df.sparkSession, df.schema, collect_arrow(run))


def _sort_key(v):
    """Spark's ascending order of one value: NULL first, NaN after every
    other double, -0.0 equal to 0.0 (``v + 0.0`` folds the sign)."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (2,) if v != v else (1, v + 0.0)
    return (1, v)


def spark_order(n: int, keys: list) -> list[int]:
    """Indices of ``n`` rows sorted as Spark sorts by ``keys``, a list of
    (values, descending) with one value per row, first key first: ASC NULLS
    FIRST, DESC NULLS LAST, NaN above every double, -0.0 equal to 0.0; rows
    that tie on every key keep their order (stable sorts, last key first)."""
    order = list(range(n))
    for values, desc in reversed(keys):
        order.sort(key=lambda i: _sort_key(values[i]), reverse=desc)
    return order


def _relaxed(dt: T.DataType) -> T.DataType:
    """``dt`` with every struct field nullable, at any depth.  A NULL
    struct's NOT NULL fields are NULL in Arrow, which an Arrow schema that
    keeps the NOT NULL refuses."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _relaxed(f.dataType), True, f.metadata)
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relaxed(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _relaxed(dt.valueType), dt.valueContainsNull)
    return dt


def collect_arrow(df: DataFrame) -> pa.Table:
    """``df``'s rows as one Arrow table, by one ``toArrow`` action; nested
    struct fields are cast to nullable first (``_relaxed``), so a NULL
    struct with NOT NULL fields collects.  ``local_relation`` takes the
    table back with ``df``'s own schema."""
    if any(_relaxed(f.dataType) != f.dataType for f in df.schema.fields):
        df = df.to(_relaxed(df.schema))
    return df.toArrow()


def local_rows(df: DataFrame) -> pa.Table | None:
    """The rows of ``df`` as Arrow, read on the driver with no Spark job,
    when ``df`` plans to a ``LocalRelation`` (an emitted answer, or a
    projection of one); None for any other plan.  ``toArrow`` on a local
    relation would run a job."""
    qe = df._jdf.queryExecution()
    leaves = qe.analyzed().collectLeaves()  # checked first: no optimizer run for a scan
    if leaves.size() != 1 or leaves.head().nodeName() != "LocalRelation":
        return None
    plan = qe.optimizedPlan()
    if plan.nodeName() != "LocalRelation":
        return None
    arrow = df.sparkSession._jvm.org.apache.spark.sql.execution.arrow
    streams = getattr(getattr(arrow, "ArrowConverters$"), "MODULE$").toBatchWithSchemaIterator(
        plan.data().iterator(), plan.schema(), 0, 1 << 62, "UTC", False, False)
    tables = [pa.ipc.open_stream(streams.next()).read_all() for _ in iter(streams.hasNext, False)]
    return pa.concat_tables(tables) if tables else _arrow_schema(df.schema).empty_table()


def _arrow_schema(schema: T.StructType, large: bool = False) -> pa.Schema:
    """``schema``'s Arrow form with its struct fields nullable (``_relaxed``)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(_relaxed(schema), prefers_large_types=large)


def local_relation(
    spark: SparkSession, schema: T.StructType, table: pa.Table | None = None
) -> DataFrame:
    """``table`` (no rows when None) as a Spark ``LocalRelation`` with
    ``schema``: the one way a driver-computed answer becomes a frame.
    collect() on it runs no Spark job, its size estimate is known (an RDD
    scan's is not), and every column type round-trips bit for bit.  The
    record batches go to the JVM call behind ``createDataFrame(pa.Table)``
    without its temp file; above Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` of batch bytes the
    JVM makes it an RDD scan instead.  The table is cast to ``_arrow_schema(schema)``; a
    record batch carries no nullability, so the frame keeps ``schema``'s
    own."""
    target = _arrow_schema(schema, spark._jconf.arrowUseLargeVarTypes())
    table = target.empty_table() if table is None else table.rename_columns(target.names)
    jvm = spark._jvm
    batches = [b.serialize().to_pybytes() for b in table.cast(target).to_batches()]
    jdf = jvm.PythonSQLUtils.toDataFrame(
        jvm.PythonUtils.toSeq(batches).iterator(), schema.json(), spark._jsparkSession)
    return DataFrame(jdf, spark)


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
