"""Driver-resident snapshots (myscaledb_spark/resident.py): every search a
snapshot answers equals the Spark path's rows and score bits, and runs no
Spark job once the snapshot is built."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from myscaledb_spark import session
from myscaledb_spark.functions import text as T
from myscaledb_spark.operators.hybrid import hybrid_search
from myscaledb_spark.sql_dialect import ch_sql

_WORDS = ("ancient", "artistic", "strategic", "wisdom", "empires", "cultures",
          "campaigns", "philosophies", "military", "rise")


def _rows(n=120, dim=4, seed=3):
    """Docs with NULL, empty and token-less texts, and NULL, short,
    NULL-element, NaN and (every 41st row) zero-norm vectors."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        doc = " ".join(rng.choice(_WORDS, rng.integers(0, 7)))
        doc = None if i % 17 == 0 else "!?" if i % 19 == 0 else doc
        v = [float(x) for x in rng.standard_normal(dim).astype(np.float32)]
        if i % 23 == 0:
            v = None
        elif i % 29 == 0:
            v = v[:-1]
        elif i % 31 == 0:
            v[1] = None
        elif i % 37 == 0:
            v[0] = float("nan")
        elif i % 41 == 0:
            v = [0.0] * dim
        out.append((i, doc, v))
    return out


def _view(spark, tmp_path, name, rows):
    path = str(tmp_path / name)
    spark.createDataFrame(rows, "id long, doc string, vector array<float>") \
        .coalesce(2).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(name)
    return spark.table(name)


def _jobs(spark, fn):
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(set(st.getJobIdsForGroup(None)) - before)


def _bits(rows):
    """Rows with every double, in a list too, as its bit pattern."""
    def bits(v):
        if isinstance(v, float):
            return struct.pack(">d", v).hex()
        return [bits(x) for x in v] if isinstance(v, list) else v

    return [tuple(bits(v) for v in r) for r in rows]


def _tie_groups(rows):
    """Rows as runs that tie on the score (last column); Spark's top-k leaves
    the order inside a run open."""
    out = []
    for r in _bits(rows):
        if out and out[-1][0] == r[-1]:
            out[-1][1].append(r)
        else:
            out.append((r[-1], [r]))
    return [(s, sorted(g, key=repr)) for s, g in out]


def _driver_then_spark(spark, monkeypatch, fn):
    """(fn() answered by the snapshot with no job, fn() on the Spark path)."""
    fn()  # builds the snapshot
    driver, jobs = _jobs(spark, fn)
    assert jobs == 0
    with monkeypatch.context() as m:
        m.setattr(session, "DRIVER_RESIDENT_BYTES", 0)
        return driver, fn()


def _qvec_sql(rng, dim):
    """A query literal mixing the forms Spark reads differently: decimals,
    an integer and an exponent."""
    xs = [repr(float(x)) for x in rng.standard_normal(dim)]
    xs[0] = str(int(rng.integers(-3, 4)))
    return "[" + ", ".join(xs) + "]"


@pytest.mark.parametrize("metric", ["L2", "Cosine", "IP"])
def test_sql_distance_equals_spark_plan(spark, tmp_path, monkeypatch, metric):
    """SQL distance() over a snapshot equals the dialect's Spark plan: squared
    L2, Cosine or IP by the table's metric, undefined rows (NULL, short,
    NULL element) last with a NULL distance once LIMIT passes the rows that
    have one, NaN after every number."""
    from myscaledb_spark import sql_dialect

    rows = [r for r in _rows() if r[0] % 41 or metric != "Cosine"]
    _view(spark, tmp_path, "t_res_dist", rows)
    monkeypatch.setitem(sql_dialect.TABLE_VS_METRIC, "t_res_dist", metric)
    rng = np.random.default_rng(7)
    direction = "DESC" if metric == "IP" else "ASC"
    for k in (7, len(rows)):
        sql = (f"SELECT id, distance(vector, {_qvec_sql(rng, 4)}) AS d FROM t_res_dist "
               f"ORDER BY d {direction} LIMIT {k}")
        driver, want = _driver_then_spark(
            spark, monkeypatch, lambda: ch_sql(spark, sql).collect())
        assert _tie_groups(driver) == _tie_groups(want)
    assert driver[-1]["d"] is None and len(driver) == len(rows)


def test_sql_distance_query_literals_read_as_spark_reads_them(spark, tmp_path, monkeypatch):
    """The driver reads a query literal's elements to the doubles Spark's
    decimal, integer and double literals become; distances agree bit for
    bit over many random literals."""
    rng = np.random.default_rng(11)
    rows = [(i, "x", [float(x) for x in rng.standard_normal(64)]) for i in range(40)]
    _view(spark, tmp_path, "t_res_lit", rows)
    for _ in range(3):
        qvec = _qvec_sql(rng, 64)
        sql = f"SELECT id, distance(vector, {qvec}) AS d FROM t_res_lit ORDER BY d LIMIT 40"
        driver, want = _driver_then_spark(
            spark, monkeypatch, lambda: ch_sql(spark, sql).collect())
        assert _bits(driver) == _bits(want)


def test_cosine_zero_norm_row_takes_the_spark_path(spark, tmp_path, monkeypatch,
                                                   sql_conf):
    """A zero-norm row has no Cosine distance: under ANSI the Spark plan
    raises DIVIDE_BY_ZERO, so the snapshot hands such a query to it."""
    from myscaledb_spark import sql_dialect

    _view(spark, tmp_path, "t_res_zero", _rows())
    monkeypatch.setitem(sql_dialect.TABLE_VS_METRIC, "t_res_zero", "Cosine")
    sql = ("SELECT id, distance(vector, [1.0, 0.5, 0.25, 2.0]) AS d FROM t_res_zero "
           "ORDER BY d LIMIT 5")
    sql_conf(**{"spark.sql.ansi.enabled": "true"})
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        ch_sql(spark, sql).collect()


@pytest.mark.parametrize("operator", ["OR", "AND"])
def test_text_search_equals_spark_plan(spark, tmp_path, monkeypatch, operator):
    """text_search over a snapshot equals the streaming plan: full rows and
    score bits, with NULL, empty and token-less docs and an absent term,
    over the full view (an array<float> column included) and over a
    projection of it."""
    full = _view(spark, tmp_path, "t_res_text", _rows())
    for df in (full, full.select("id", "doc")):
        for q in ("ancient wisdom", "military zzqabsent", "rise"):
            driver, want = _driver_then_spark(spark, monkeypatch, lambda: T.text_search(
                df, "doc", q, 12, id_col="id", operator=operator).collect())
            assert _bits(driver) == _bits(want)
        assert driver


@pytest.mark.parametrize("metric", ["L2", "IP", "Cosine"])
@pytest.mark.parametrize("fusion", ["rsf", "rrf"])
def test_hybrid_search_equals_spark_plan(spark, tmp_path, monkeypatch, metric, fusion):
    """hybrid_search over a snapshot (numpy legs, _fuse_local) equals the
    Spark legs fused by fuse_candidates, bit for bit; rows without a
    distance, zero-norm Cosine rows included, never enter the vector leg."""
    df = _view(spark, tmp_path, "t_res_hybrid", _rows())
    for qtext in ("ancient cultures", "strategic zzqabsent"):
        driver, want = _driver_then_spark(spark, monkeypatch, lambda: hybrid_search(
            df, "vector", "doc", [0.5, -1.0, 0.25, 2.0], qtext, 9, "id",
            fusion_type=fusion, metric=metric).collect())
        assert _bits(driver) == _bits(want)
    assert driver


def test_null_struct_with_not_null_fields_is_served(spark, tmp_path, monkeypatch):
    """A NULL struct whose fields are NOT NULL has NULL fields in Arrow: the
    snapshot collects it and the answers carry it back with its schema.
    text_search, hybrid_search and SQL distance() over such a frame equal
    the Spark path and run no job once the snapshot is built."""
    base = _view(spark, tmp_path, "t_res_struct_src", _rows(60))
    st = F.struct(F.lit(1).alias("x"), F.lit("a").alias("y"))
    df = base.withColumn("st", F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(st))
    assert not df.schema["st"].dataType["x"].nullable and df.schema["st"].nullable
    df.createOrReplaceTempView("t_res_struct")
    sql = ("SELECT id, st, distance(vector, [0.5, -1.0, 0.25, 2.0]) AS d FROM t_res_struct "
           "ORDER BY d LIMIT 9")
    for fn in (
        lambda: T.text_search(df, "doc", "ancient wisdom", 9, id_col="id").collect(),
        lambda: hybrid_search(df, "vector", "doc", [0.5, -1.0, 0.25, 2.0],
                              "ancient cultures", 9, "id").collect(),
        lambda: ch_sql(spark, sql).collect(),
    ):
        driver, want = _driver_then_spark(spark, monkeypatch, fn)
        assert _tie_groups(driver) == _tie_groups(want)
        assert driver
        if "st" in driver[0].__fields__:  # NULL and non-NULL structs came back
            assert {r["st"] is None for r in driver} == {True, False}


def test_snapshot_idf_log_equals_spark_log(spark):
    """The snapshot takes each idf's log from the JVM's StrictMath.log, the
    function behind Spark's ``log``: equal over thousands of idf arguments,
    where Python's and numpy's logs differ on some."""
    from myscaledb_spark.resident import Postings

    log = spark._jvm.java.lang.StrictMath.log
    args = [1.0 + (n - d + 0.5) / (d + 0.5)
            for n in (5_000.0, 1_234_567.0) for d in range(0, 3_000, 2)]
    frame = spark.createDataFrame([(x,) for x in args], "x double")
    want = [r[0] for r in frame.select(F.log("x")).collect()]
    post = Postings.__new__(Postings)
    post._log, post._idf = log, {}
    assert [post.log(x) for x in args] == want
    assert any(math.log(x) != w for x, w in zip(args, want))


def test_snapshot_hit_is_not_sized(spark, tmp_path, monkeypatch):
    """A memo hit runs no estimated_bytes (the entry keeps the estimate its
    input passed the gate with); an input rewritten since its entry was
    built is sized again before it is rebuilt; a plan without an entry
    that the gate refuses is never fingerprinted."""
    from myscaledb_spark import memo

    sized, stated = [], []
    est, fp = T.estimated_bytes, memo.fingerprint
    monkeypatch.setattr(T, "estimated_bytes", lambda df: sized.append(1) or est(df))
    monkeypatch.setattr(memo, "fingerprint", lambda df: stated.append(1) or fp(df))
    rows = _rows(20)
    snap = T._snapshot(_view(spark, tmp_path, "t_res_hit", rows))
    assert snap is not None and len(sized) == 1
    assert T._snapshot(spark.table("t_res_hit")) is snap
    assert len(sized) == 1
    _view(spark, tmp_path, "t_res_hit", rows[:10])  # rewritten
    again = T._snapshot(spark.table("t_res_hit"))
    assert again is not snap and again.n == 10 and len(sized) == 2
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", 0)
    stated.clear()
    assert T._snapshot(spark.table("t_res_hit").filter("id > 3")) is None
    assert stated == []
