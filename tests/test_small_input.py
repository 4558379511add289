"""The small-input primitives in ``myscaledb_spark.session``: the scoped
SETTINGS block under concurrency, the VALUES re-emitter's round trip, the
estimate-gated collect, and a source guard that keeps every optimizer-stats
read and size gate going through them."""

from __future__ import annotations

import ast
import math
import os
import re
import struct
import sys
import threading

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from myscaledb_spark import session
from myscaledb_spark.session import collect_small, session_settings, values_relation
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


def test_overlapping_scopes_restore_every_conf(spark):
    """Thread B opens a scope while thread A's is still open, and closes it
    after A's.  Unserialized, B saves A's scoped values as its "previous"
    ones and restores them last, leaving AQE off for good."""
    before = {k: spark.conf.get(k) for k in (AQE, PARTS)}
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    errors: list = []

    def run(fn):
        try:
            fn()
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    def a():
        with session_settings(spark, **{AQE: "false", PARTS: "3"}):
            a_in.set()
            b_in.wait(timeout=1)  # B cannot enter while the lock is held
        a_out.set()

    def b():
        a_in.wait(timeout=10)
        with session_settings(spark, **{AQE: "false", PARTS: "5"}):
            b_in.set()
            a_out.wait(timeout=10)

    threads = [threading.Thread(target=run, args=(f,)) for f in (a, b)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
        assert not errors
        assert {k: spark.conf.get(k) for k in before} == before
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_scopes_from_many_threads_see_their_own_confs(spark):
    """More threads than cores, fast thread switching: inside its scope each
    thread reads back its own values, and the session ends where it began."""
    before = {k: spark.conf.get(k) for k in (AQE, PARTS)}
    seen: list = []
    errors: list = []

    def worker(i):
        try:
            for _ in range(4):
                with session_settings(spark, **{AQE: "false", PARTS: str(100 + i)}):
                    seen.append((i, spark.conf.get(PARTS), spark.conf.get(AQE)))
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)
    try:
        assert not any(t.is_alive() for t in threads)
        assert not errors
        assert len(seen) == 32
        assert all(p == str(100 + i) and a == "false" for i, p, a in seen)
        assert {k: spark.conf.get(k) for k in before} == before
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_nested_scopes_on_one_thread(spark):
    before = spark.conf.get(PARTS)
    with session_settings(spark, **{PARTS: "3"}):
        with session_settings(spark, **{PARTS: "5"}):
            assert spark.conf.get(PARTS) == "5"
        assert spark.conf.get(PARTS) == "3"
    assert spark.conf.get(PARTS) == before


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


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_values_relation_equals_its_frame(spark, escaped):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    rows = df.collect()
    assert math.copysign(1.0, rows[3]["d"]) == -1.0  # the input keeps -0.0
    with session_settings(
        spark, **{"spark.sql.parser.escapedStringLiterals": escaped}
    ):
        local = values_relation(spark, df.schema, rows)
    assert [(f.name, f.dataType) for f in local.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert _exact(local.collect()) == _exact(rows)


def test_values_relation_empty_keeps_schema_and_runs_no_job(spark):
    local = values_relation(spark, _SCHEMA, [])
    assert [(f.name, f.dataType) for f in local.schema] == [
        (f.name, f.dataType) for f in _SCHEMA
    ]
    rows, jobs = _jobs(spark, "values-empty", local.collect)
    assert rows == [] and jobs == 0
    rows, jobs = _jobs(
        spark, "values-rows", values_relation(spark, _SCHEMA, _ROWS[:2]).collect
    )
    assert len(rows) == 2 and jobs == 0


def test_values_relation_declines_unknown_types(spark):
    schema = StructType([StructField("a", StringType()), StructField("b", IntegerType())])
    assert values_relation(spark, schema, [("a", 1)]) is not None
    odd = StructType([StructField("v", ArrayType(DoubleType()))])
    assert values_relation(spark, odd, [([1.0],)]) is None


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
