"""The small-input primitives in ``myscaledb_spark.session``: scoped
execution in a cloned session under concurrency, the Arrow LocalRelation
emitter's round trip, the estimate-gated collect, and source guards that
keep every optimizer-stats read, size gate and driver-served answer going
through them."""

from __future__ import annotations

import ast
import math
import os
import re
import struct
import sys
import threading
import time
from contextlib import contextmanager

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from myscaledb_spark import session
from myscaledb_spark.session import collect_arrow, collect_small, local_relation, local_rows
from tests.conftest import SF_DIR

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "myscaledb_spark")

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"


def _jobs(spark, group: str, fn):
    """(result of fn, Spark jobs fn ran) inside its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def _scoped_collect_held_open(spark, tmp_path, **confs):
    """Runs ``collect_small`` on a thread and yields while that collect is
    blocked inside a Python UDF; the UDF returns when the block exits.  A
    Python worker cannot see a driver Event, so the UDF signals through
    two files."""
    started, release = str(tmp_path / "started"), str(tmp_path / "release")

    @F.udf("long")
    def hold(x):
        import os
        import time

        open(started, "w").close()
        deadline = time.monotonic() + 60
        while not os.path.exists(release) and time.monotonic() < deadline:
            time.sleep(0.01)
        return x

    out: dict = {}
    df = spark.range(1).select(hold("id").alias("id"))
    t = threading.Thread(target=lambda: out.update(rows=collect_small(df, **confs)))
    t.start()
    try:
        deadline = time.monotonic() + 60
        while not os.path.exists(started):
            assert t.is_alive() and time.monotonic() < deadline
            time.sleep(0.01)
        yield
    finally:
        open(release, "w").close()
        t.join(timeout=60)
    assert not t.is_alive()
    assert [tuple(r) for r in out["rows"]] == [(0,)]


def test_scoped_collect_leaves_the_session_adaptive(spark, tmp_path):
    """While one thread's scoped collect (AQE off) is running, another
    thread's unscoped aggregate on the same session plans adaptively: the
    scope's confs live in a clone and never reach the caller's session."""
    with _scoped_collect_held_open(spark, tmp_path, **{PARTS: "3"}):
        agg = spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()
        plan = agg._jdf.queryExecution().executedPlan()
        assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    assert sorted(tuple(r) for r in agg.collect()) == [(0, 34), (1, 33), (2, 33)]


def test_scoped_collect_sees_runtime_confs_and_writes_none(spark, sql_conf, tmp_path):
    """The clone carries a conf set on the session at runtime, and the
    session's confs are the same before, during and after a scoped
    collect."""
    sql_conf(**{"spark.sql.session.timeZone": "America/Los_Angeles"})
    before = spark.conf.getAll
    rows = collect_small(spark.sql("SELECT current_timezone() AS tz"), **{PARTS: "3"})
    assert [r["tz"] for r in rows] == ["America/Los_Angeles"]
    with _scoped_collect_held_open(spark, tmp_path, **{PARTS: "3"}):
        during = spark.conf.getAll
    assert before == during == spark.conf.getAll


def test_scoped_collects_from_many_threads_see_their_own_confs(spark):
    """More threads than cores, fast thread switching: each scoped collect
    plans under its own confs, and the session's confs end where they
    began."""
    before = spark.conf.getAll
    seen: list = []
    errors: list = []

    def worker(tz):
        try:
            for _ in range(2):
                rows = collect_small(spark.sql("SELECT current_timezone() AS tz"),
                                     **{"spark.sql.session.timeZone": tz})
                seen.append((tz, rows[0]["tz"]))
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=worker, args=(f"Etc/GMT+{i}",)) for i in range(8)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(seen) == 16 and all(tz == got for tz, got in seen), seen
    assert spark.conf.getAll == before


def test_checkpoint_scoped_hands_back_a_caller_frame(spark):
    """The checkpoint runs under the scope's confs, and a step added on top
    of the returned frame plans under the caller's (adaptively)."""
    from myscaledb_spark.session import checkpoint_scoped

    df = spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()
    done = checkpoint_scoped(df, **{AQE: "false", PARTS: "3"})
    assert sorted(tuple(r) for r in done.collect()) == [(0, 34), (1, 33), (2, 33)]
    total = done.groupBy((F.col("g") % 2).alias("h")).sum("count")
    plan = total._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    assert sorted(tuple(r) for r in total.collect()) == [(0, 67), (1, 33)]


_SCHEMA = StructType([
    StructField("s", StringType()),
    StructField("d", DoubleType()),
    StructField("n", LongType()),
    StructField("i", IntegerType()),
])
_ROWS = [
    ("it's", float("nan"), 1, 2),
    ("back\\slash \\' \\n", float("inf"), None, 3),
    ("héllo 世界 🙂", float("-inf"), -(2**63), None),
    (None, -0.0, 2**63 - 1, -(2**31)),
    ("", 5e-324, 0, 0),
    ("x", 1.7976931348623157e308, 7, 1),
    ("y", None, 0, 1),
    ("z", 0.1, 1, 1),
]


def _exact(rows):
    """Rows with every double replaced by its bit pattern (NaN == NaN,
    -0.0 != 0.0)."""
    return [
        tuple(struct.pack(">d", v) if isinstance(v, float) else v for v in r)
        for r in rows
    ]


def _table(rows, schema):
    """``rows`` as an Arrow table with ``schema``'s names; ``local_relation``
    casts the inferred column types to ``schema``'s."""
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    return pa.table([list(c) for c in cols], names=schema.names)


def _plan_node(df):
    return df._jdf.queryExecution().optimizedPlan().nodeName()


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_values_relation_equals_its_frame(spark, sql_conf, escaped):
    """The driver-built relation equals its frame whatever the SQL parser's
    string-literal setting: no value passes through SQL text."""
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    rows = df.collect()
    assert math.copysign(1.0, rows[3]["d"]) == -1.0  # the input keeps -0.0
    sql_conf(**{"spark.sql.parser.escapedStringLiterals": escaped})
    local = local_relation(spark, df.schema, collect_arrow(df))
    assert [(f.name, f.dataType) for f in local.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert _exact(local.collect()) == _exact(rows)


def test_local_relation_empty_keeps_schema_and_runs_no_job(spark):
    local = local_relation(spark, _SCHEMA)
    assert [(f.name, f.dataType) for f in local.schema] == [
        (f.name, f.dataType) for f in _SCHEMA
    ]
    assert _plan_node(local) == "LocalRelation"
    rows, jobs = _jobs(spark, "local-empty", local.collect)
    assert rows == [] and jobs == 0
    rows, jobs = _jobs(
        spark, "local-rows", local_relation(spark, _SCHEMA, _table(_ROWS[:2], _SCHEMA)).collect
    )
    assert _exact(rows) == _exact(_ROWS[:2]) and jobs == 0
    ten = StructType([StructField("id", LongType()), StructField("score", DoubleType())])
    local = local_relation(spark, ten, _table([(i, i / 3) for i in range(10)], ten))
    assert _plan_node(local) == "LocalRelation"
    rows, jobs = _jobs(spark, "local-ten", local.collect)
    assert [tuple(r) for r in rows] == [(i, i / 3) for i in range(10)] and jobs == 0


def test_local_relation_round_trips_every_type(spark, sql_conf):
    """Every column type leaves the driver exactly: floats with -0.0, NaN
    and ±Infinity, decimal, date, binary, tinyint, boolean, a timestamp in
    a DST gap of the session time zone, timestamp_ntz, an array with a
    NULL element, a map, a nullable struct, a NULL struct whose field is
    NOT NULL and a string with quotes, backslashes and non-ASCII text;
    from a collect and from a local read, as a LocalRelation that collects
    with no job."""
    sql_conf(**{"spark.sql.session.timeZone": "America/Los_Angeles"})
    df = spark.sql(r"""SELECT *, IF(bo, named_struct('x', 1), NULL) AS nn FROM VALUES
      (CAST(1.5 AS FLOAT), -0.0D, CAST(1.234 AS DECIMAL(5,3)), DATE'2024-03-10',
       X'00FF', CAST(-7 AS TINYINT), true, TIMESTAMP'2024-03-10 02:30:00',
       TIMESTAMP_NTZ'2024-03-10 02:30:00', array(1, NULL, 3), map('a', 1),
       named_struct('x', 1, 'y', 'a'), 'é 漢字 \' " \\'),
      (CAST('NaN' AS FLOAT), CAST('Infinity' AS DOUBLE), NULL, NULL, NULL, NULL,
       NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      (CAST('-Infinity' AS FLOAT), CAST('NaN' AS DOUBLE), NULL, NULL, NULL, NULL,
       false, NULL, NULL, array(), map(), NULL, '')
      AS t(f, d, dec, dt, b, ti, bo, ts, tsn, arr, m, st, s)""")
    want = df.collect()
    assert math.copysign(1.0, want[0]["d"]) == -1.0
    assert not df.schema["nn"].dataType["x"].nullable and want[1]["nn"] is None
    for table in (collect_arrow(df), local_rows(df)):
        local = local_relation(spark, df.schema, table)
        assert local.schema == df.schema and _plan_node(local) == "LocalRelation"
        rows, jobs = _jobs(spark, "local-types", local.collect)
        assert repr(rows) == repr(want) and jobs == 0
    _, jobs = _jobs(spark, "local-read", lambda: local_rows(df))
    assert jobs == 0


def test_collect_small_gate_and_restore(spark, monkeypatch):
    before = {k: spark.conf.get(k) for k in (AQE, PARTS)}
    df = spark.range(10)
    rows = collect_small(df, **{PARTS: "3"})
    assert sorted(r[0] for r in rows) == list(range(10))
    assert {k: spark.conf.get(k) for k in before} == before
    # an unknown estimate (an RDD-backed frame reports Long.MaxValue) is
    # above the gate, whichever frame it sizes
    unknown = spark.sparkContext.parallelize([(1,)]).toDF(["x"])
    assert collect_small(df, unknown, **{PARTS: "3"}) is None
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 1)
    assert collect_small(df, **{PARTS: "3"}) is None
    assert {k: spark.conf.get(k) for k in before} == before


def _py_files():
    for d, _, fs in os.walk(PKG):
        for f in fs:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def test_stats_reads_and_size_gates_go_through_session():
    """Optimizer size estimates are read in one place (plus EXPLAIN
    ESTIMATE, which also needs rowCount), and no size gate reads a
    ``spark.myscaledb.*`` conf."""
    allowed = {("session.py", "estimated_bytes"), ("introspection.py", "explain_estimate")}
    stray, conf_reads = [], []
    for path in _py_files():
        src = open(path, encoding="utf-8").read()
        name = os.path.basename(path)
        funcs = [
            n for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for ln, line in enumerate(src.splitlines(), start=1):
            if "optimizedPlan().stats()" in line:
                inner = [f for f in funcs if f.lineno <= ln <= f.end_lineno]
                owner = max(inner, key=lambda f: f.lineno).name if inner else None
                if (name, owner) not in allowed:
                    stray.append(f"{os.path.relpath(path, PKG)}:{ln}")
            if re.search(r"spark\.myscaledb\.[\w.]*small", line, re.IGNORECASE):
                conf_reads.append(f"{os.path.relpath(path, PKG)}:{ln}")
    assert not stray, stray
    assert not conf_reads, conf_reads


def _conf_target(node) -> bool:
    """Whether ``node`` is ``<x>.conf`` or ``<x>.conf()``."""
    if isinstance(node, ast.Call):
        node = node.func
    return isinstance(node, ast.Attribute) and node.attr == "conf"


def test_session_confs_are_written_only_in_session():
    """Per-query confs go through ``session.scoped``, which writes a clone:
    outside session.py only ``catalog._load`` sets a conf on a session."""
    allowed = {("catalog.py", "_load")}
    stray = []
    for path in _py_files():
        name = os.path.basename(path)
        if name == "session.py":
            continue
        tree = ast.parse(open(path, encoding="utf-8").read())
        funcs = [
            n for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for n in ast.walk(tree):
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("set", "unset")
                and _conf_target(n.func.value)
            ):
                continue
            inner = [f for f in funcs if f.lineno <= n.lineno <= f.end_lineno]
            owner = max(inner, key=lambda f: f.lineno).name if inner else None
            if (name, owner) not in allowed:
                stray.append(f"{os.path.relpath(path, PKG)}:{n.lineno}")
    assert not stray, stray


def test_driver_answers_leave_through_local_relation():
    """One emitter for driver-served answers: no module names the deleted
    SQL-literal emitter or its type check, ``PythonSQLUtils`` (the JVM entry
    of ``session.local_relation``) appears only in session.py, and the
    driver-served search modules build no frame from VALUES text or
    ``createDataFrame``."""
    served = {"resident.py", "sql_search.py", os.path.join("operators", "hybrid.py"),
              os.path.join("functions", "text.py")}
    stray = []
    for path in _py_files():
        rel = os.path.relpath(path, PKG)
        src = open(path, encoding="utf-8").read()
        if re.search(r"\b(values_relation|emittable)\b|session\._sql_literal|"
                     r"session import[^\n]*\b_sql_literal\b", src):
            stray.append(f"{rel}: deleted emitter")
        if "PythonSQLUtils" in src and rel != "session.py":
            stray.append(f"{rel}: PythonSQLUtils")
        if rel in served and ("(VALUES" in src or "createDataFrame(" in src):
            stray.append(f"{rel}: VALUES/createDataFrame")
    assert not stray, stray
    assert "def _sql_literal" not in open(os.path.join(PKG, "session.py"), encoding="utf-8").read()


def test_agg_state_small_input_scope_equals_distributed(spark, monkeypatch):
    """The r10 small-input execution scope (AQE off + stats-derived shuffle
    partitions, materialized inside the scope) must return exactly the rows
    the unscoped AQE plan returns — the scope changes execution confs only."""
    from myscaledb_spark.suite.agg_state_gate import agg_state_merge_orders

    sf = SF_DIR
    scoped = agg_state_merge_orders(spark, sf)
    # small path fired: the returned frame is pre-materialized — the r10
    # shape was a localCheckpoint (ExistingRDD); r11 re-emits the ≤|status|
    # rows as a VALUES LocalRelation (LocalTableScan, zero jobs on collect)
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        dist = agg_state_merge_orders(spark, sf)
        dplan = dist._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in dplan and "LocalTableScan" not in dplan
        assert sorted(map(tuple, scoped.collect()), key=repr) == sorted(
            map(tuple, dist.collect()), key=repr
        )
    finally:
        monkeypatch.undo()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_revenue_small_input_scope_equals_adaptive(spark, monkeypatch):
    """The scoped (AQE off / no auto-broadcast / shuffled-hash / stats-derived
    partitions) small-input execution must equal the adaptive plan
    row-for-row — execution confs only, so anything else is a bug."""
    import myscaledb_spark.suite.relational as rel

    scoped = _sorted_rows(rel.revenue_by_nation(spark, SF_DIR))
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        adaptive = _sorted_rows(rel.revenue_by_nation(spark, SF_DIR))
    finally:
        monkeypatch.undo()
    assert scoped == adaptive


def test_revenue_scoped_settings_restore(spark):
    """The scope must restore AQE/broadcast/shuffle confs after the gate."""
    import myscaledb_spark.suite.relational as rel

    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.join.preferSortMergeJoin",
            "spark.sql.shuffle.partitions",
        )
    }
    rel.revenue_by_nation(spark, SF_DIR).collect()
    after = {k: spark.conf.get(k) for k in before}
    assert before == after


def test_pricing_small_input_scope_equals_adaptive(spark, monkeypatch):
    import myscaledb_spark.suite.relational as rel

    scoped = _sorted_rows(rel.pricing_summary(spark, SF_DIR))
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        adaptive = _sorted_rows(rel.pricing_summary(spark, SF_DIR))
    finally:
        monkeypatch.undo()
    assert scoped == adaptive


def test_agg_state_values_reemit_schema(spark):
    """The VALUES re-emit must preserve the exact output schema."""
    import myscaledb_spark.suite.agg_state_gate as g

    df = g.agg_state_merge_orders(spark, SF_DIR)
    assert [f.simpleString() for f in df.schema.fields] == [
        "o_orderstatus:string", "cnt:bigint", "sum_price:double",
        "avg_price:double", "min_price:double", "best_cust:bigint",
        "ndv:bigint",
    ]
