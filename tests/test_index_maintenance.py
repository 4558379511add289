"""Index maintenance: FTS and IVF appends cost O(batch), reopened artifact
frames skip schema inference only when that is safe, and the fast paths
equal the general ones they replace."""

from __future__ import annotations

import json
import os
import shutil
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from myscaledb_spark import session
from myscaledb_spark.functions.text import tokenize
from myscaledb_spark.functions.vector import double_array_sql
from myscaledb_spark.plans.frame_cache import cached_parquet, data_files, resident_parquet
from myscaledb_spark.plans.fts_index import (
    _postings,
    _tokenized,
    append_to_fts_index,
    build_fts_index,
    fts_search,
)
from myscaledb_spark.plans.vector_index import (
    _list_ids,
    _with_list_id,
    append_to_ivf_index,
    build_ivf_index,
    ivf_search,
)
from myscaledb_spark.session import observed_metrics
from tests.test_resident import _served_and_spark

QUERY = "vector search fast"


def _jobs(spark, group: str, fn):
    """(result of fn, Spark jobs fn ran) inside its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus: let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _stats(d: str) -> dict:
    return json.load(open(os.path.join(d, "fts", "stats.json")))


def _dfreq(spark, d: str) -> list:
    """(term, df) of an artifact, each df summed over the dfreq parts."""
    return sorted(spark.read.parquet(os.path.join(d, "fts", "dfreq"))
                  .groupBy("term").agg(F.sum("df").alias("df")).collect())


def _docs_with_gaps(spark):
    """The documents plus docs without tokens: NULL texts (no length) and
    empty texts (length 0), on both halves of the even/odd doc_id split."""
    gaps = spark.createDataFrame(
        [(10_000, None), (10_001, None), (10_002, ""), (10_003, "")],
        "doc_id long, text string",
    )
    return spark.table("documents").select("doc_id", "text").unionByName(gaps)


# -- vector literals ----------------------------------------------------------


def test_query_literal_bit_identical_to_lit_array(spark):
    vals = [0.1, -0.0, 0.0, 1 / 3, 1e-05, 1e20, -1.5e-300, 5e-324,
            1.7976931348623157e308, 123456789.0, float("nan"),
            float("inf"), float("-inf")]
    got = spark.range(1).select(F.expr(double_array_sql(vals)).alias("a")).first()["a"]
    want = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("a")
    ).first()["a"]
    assert [struct.pack(">d", x) for x in got] == [struct.pack(">d", x) for x in want]


# -- bounded observed metrics -------------------------------------------------


def test_observed_metrics_returns_metrics_after_the_action(spark):
    obs = Observation()
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert observed_metrics(obs) == {"n": 5}


def test_observed_metrics_times_out_when_the_action_never_ran(spark, monkeypatch):
    monkeypatch.setattr(session, "_OBSERVE_TIMEOUT_S", 0.2)
    obs = Observation()
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n"))  # no action
    t0 = time.monotonic()
    assert observed_metrics(obs) is None
    assert time.monotonic() - t0 < 5


def test_dedup_clusters_converges_on_the_collect_fallback(spark, monkeypatch):
    from myscaledb_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    want = sorted(dedup_clusters(pairs).collect())
    monkeypatch.setattr(session, "observed_metrics", lambda obs: None)
    assert sorted(dedup_clusters(pairs).collect()) == want
    assert {(r.id, r.cluster_id) for r in want} == {
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    }


# -- FTS append equals a build over the union ---------------------------------


def test_fts_append_stats_and_dfreq_equal_build_over_union(spark, tmp_path):
    docs = _docs_with_gaps(spark)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_fts_index(docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", inc)
    append_to_fts_index(docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", inc)
    build_fts_index(docs, "text", "doc_id", full)
    a, b = _stats(inc), _stats(full)
    for k in ("n_docs", "total_dl", "dl_docs"):
        assert a[k] == b[k]
    assert a["avgdl"].hex() == b["avgdl"].hex()
    # and equal to one aggregate over the doc lengths: the doc count, the
    # integer sum and count of the lengths, avgdl bit-identical to avg(dl)
    n, total, counted, avg = docs.select(F.size(tokenize("text")).alias("dl")).agg(
        F.count(F.lit(1)), F.sum("dl"), F.count("dl"), F.avg("dl")
    ).first()
    assert (a["n_docs"], a["total_dl"], a["dl_docs"]) == (n, total, counted)
    assert a["avgdl"].hex() == avg.hex()
    assert _dfreq(spark, inc) == _dfreq(spark, full)
    # doclens is legacy-only: neither the build nor the append writes it
    assert not os.path.exists(os.path.join(inc, "fts", "doclens"))


def test_fts_batch_totals_are_observed_after_the_shuffle(spark):
    """The totals are observed above the postings' aggregate, so they are
    taken in the write's result stage, which Spark counts once per
    partition, and not in the map stage a fetch failure can re-run."""
    docs = spark.table("documents")
    postings, _ = _postings(_tokenized(docs, "text", "doc_id", "simple", None))
    plan = postings._jdf.queryExecution().optimizedPlan().toString().splitlines()
    at = [i for i, ln in enumerate(plan) if "CollectMetrics" in ln or "Aggregate" in ln]
    assert "CollectMetrics" in plan[at[0]] and "Aggregate" in plan[at[1]]


def test_old_format_artifact_is_refused_with_rebuild_error(spark, tmp_path):
    """An artifact without dfreq/ or without total_dl in stats.json (the
    layout before both existed) is neither searched nor appended to."""
    docs = spark.createDataFrame(
        [(i, f"vector search {i}") for i in range(6)], "doc_id long, text string"
    )
    for missing in ("dfreq", "total_dl"):
        d = str(tmp_path / missing)
        build_fts_index(docs, "text", "doc_id", d)
        base = os.path.join(d, "fts")
        if missing == "dfreq":
            shutil.rmtree(os.path.join(base, "dfreq"))
        else:
            st = {k: v for k, v in _stats(d).items() if k not in ("total_dl", "dl_docs")}
            json.dump(st, open(os.path.join(base, "stats.json"), "w"))
        with pytest.raises(RuntimeError, match="rebuild the index"):
            fts_search(spark, d, QUERY, 5)
        with pytest.raises(RuntimeError, match="rebuild the index"):
            append_to_fts_index(docs, "text", "doc_id", d)


# -- driver appends equal Spark appends and a build over the union --------------

_WORDS = ("vector", "search", "fast", "engine", "index", "rows", "fresh")
_SCHEMA = "id long, vector array<float>, doc string"
_PARTS = ("ivf/inverted", "fts/postings", "fts/dfreq")


def local_batch(spark, rows, schema: str = _SCHEMA):
    """``rows`` as a LocalRelation: the optimizer knows its size, so the
    driver can snapshot it (``createDataFrame`` of Python rows is an RDD
    scan of unknown size, which it never holds)."""
    from pyspark.sql.types import _parse_datatype_string

    sch = _parse_datatype_string(schema)
    table = pa.Table.from_pylist([dict(zip(sch.names, r)) for r in rows],
                                 session._arrow_schema(sch))
    return session.local_relation(spark, sch, table)


def _rows(lo, hi, special=False):
    """(id, vector, doc) rows ``lo``..``hi`` - 1.  With ``special`` they also
    hold NaN, +inf and -inf vector elements, a NULL text, an empty text and
    a text without tokens."""
    rows = []
    for i in range(lo, hi):
        v = np.random.default_rng(i).standard_normal(4).astype(np.float32).tolist()
        doc = " ".join(_WORDS[(i * k) % len(_WORDS)] for k in range(1, 2 + i % 4))
        if special:
            j = i % 6
            if j < 3:
                v[j] = (float("nan"), float("inf"), float("-inf"))[j]
            else:
                doc = (None, "", "!! --")[j - 3]
        rows.append((i, v, doc))
    return rows


def _writers(d: str, before: frozenset) -> set:
    """The writer (``created_by``'s first word) of each data file added
    under ``d`` since the listing ``before``: parquet-cpp-arrow for the
    driver append, parquet-mr for Spark's."""
    return {pq.read_metadata(os.path.join(d, f)).created_by.split()[0]
            for f, _, _ in data_files(d) - before}


def _state(spark, d: str, ivf: bool = True) -> dict:
    """An artifact's IVF rows with their lists, FTS postings rows (as sorted
    reprs, so NaN equals NaN and -0.0 differs from 0.0), df per term summed
    over the dfreq parts, and stats.json."""
    def rows(sub):
        return sorted(repr(tuple(r)) for r in spark.read.parquet(os.path.join(d, sub)).collect())

    return {"ivf": rows("ivf/inverted") if ivf else None, "postings": rows("fts/postings"),
            "dfreq": _dfreq(spark, d), "stats": _stats(d)}


def _ivf_rows(spark, d: str) -> list:
    """An artifact's IVF rows without their list, as sorted reprs."""
    inv = spark.read.parquet(os.path.join(d, "ivf", "inverted")).drop("list_id")
    return sorted(repr(tuple(r)) for r in inv.collect())


#: the appended batches: special values, plain rows, then ids 3 and 4 of the
#: base again with other texts beside new ids
_BATCHES = (_rows(40, 60, special=True), _rows(60, 72),
            [(i, [0.5, 0.5, 0.5, 0.5], "fresh fresh rows") for i in (3, 4)] + _rows(72, 74))


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    """IVF and FTS artifacts over docs 0..39, appended to batch by batch on
    the driver path and on the Spark path (the driver gate at 0), with each
    one's state and the writers of its new files after every append; and
    the state of an FTS build over the union after the first two, with the
    driver path's IVF rows then."""
    root = tmp_path_factory.mktemp("appended")
    base = _rows(0, 40)
    out = {"dirs": {}, "states": {}, "writers": {}, "union": [], "ivf_rows": []}
    for path in ("driver", "spark"):
        d = out["dirs"][path] = str(root / path)
        build_ivf_index(local_batch(spark, base), "vector", "id", d, num_centroids=3)
        build_fts_index(local_batch(spark, base), "doc", "id", d)
        states, writers = [], []
        for rows in _BATCHES:
            before = {p: data_files(os.path.join(d, p)) for p in _PARTS}
            with pytest.MonkeyPatch.context() as m:
                if path == "spark":
                    m.setattr(session, "DRIVER_RESIDENT_BYTES", 0)
                batch = local_batch(spark, rows)
                append_to_ivf_index(batch, "vector", "id", d)
                append_to_fts_index(batch, "doc", "id", d)
            states.append(_state(spark, d))
            if path == "driver":
                out["ivf_rows"].append(_ivf_rows(spark, d))
            writers.append(set().union(*(_writers(os.path.join(d, p), before[p])
                                          for p in _PARTS)))
        out["states"][path], out["writers"][path] = states, writers
    for n in (1, 2):
        d = str(root / f"union{n}")
        build_fts_index(local_batch(spark, base + [r for b in _BATCHES[:n] for r in b]),
                        "doc", "id", d)
        out["union"].append(_state(spark, d, ivf=False))
    return out


def _same_state(a: dict, b: dict, keys=("ivf", "postings", "dfreq")) -> None:
    for k in keys:
        assert a[k] == b[k], k
    for k in ("n_docs", "total_dl", "dl_docs"):
        assert a["stats"][k] == b["stats"][k], k
    assert a["stats"]["avgdl"].hex() == b["stats"]["avgdl"].hex()


def test_driver_append_equals_spark_append(appended):
    """After each of three appends (NaN and ±inf vector elements, NULL,
    empty and token-less texts, then ids the artifact already holds) the
    driver path leaves the IVF rows in the same lists, the same postings
    rows, df sums and stats as the Spark path; every file it added is
    pyarrow's, every file the Spark path added Spark's."""
    for got, want in zip(appended["states"]["driver"], appended["states"]["spark"]):
        _same_state(got, want)
    assert appended["writers"]["driver"] == [{"parquet-cpp-arrow"}] * 3
    assert appended["writers"]["spark"] == [{"parquet-mr"}] * 3


def test_driver_append_equals_build_over_union(appended):
    """After one and two appends the FTS artifact holds the postings, df
    sums and stats of a build over the union, and the IVF lists hold every
    row once."""
    for n, union in enumerate(appended["union"]):
        _same_state(appended["states"]["driver"][n], union, keys=("postings", "dfreq"))
        want = _rows(0, 40) + [r for b in _BATCHES[:n + 1] for r in b]
        assert appended["ivf_rows"][n] == sorted(repr(r) for r in want)


def test_searches_after_appends_equal_on_both_paths(spark, monkeypatch, appended):
    """ivf_search and fts_search over the driver-appended and the
    Spark-appended artifact give the same rows and score bits, each from
    the driver (no job, also on the first search after the appends) and
    from the Spark plan."""
    dirs = [appended["dirs"]["driver"], appended["dirs"]["spark"]]
    q = [0.5, -1.0, 0.25, 2.0]
    searches = [lambda d, nprobe=nprobe, k=k: ivf_search(
        spark, d, q, k, nprobe=nprobe, id_col="id", vec_col="vector")
        for nprobe, k in ((1, 7), (3, 500))]
    searches += [lambda d, query=query, k=k: fts_search(spark, d, query, k)
                 for query, k in (("fresh rows", 6), ("vector zzqabsent", 200), ("fast", 9))]
    for search in searches:
        got = [_served_and_spark(spark, monkeypatch, lambda d=d: search(d)) for d in dirs]
        assert got[0][0] == got[0][1] == got[1][0] == got[1][1]
        assert got[0][0]


@pytest.fixture(scope="module")
def small_art(spark, tmp_path_factory):
    """IVF and FTS artifacts over docs 0..39 that tests append to."""
    d = str(tmp_path_factory.mktemp("small_art"))
    build_ivf_index(local_batch(spark, _rows(0, 40)), "vector", "id", d, num_centroids=3)
    build_fts_index(local_batch(spark, _rows(0, 40)), "doc", "id", d)
    return d


@pytest.mark.parametrize("gate", [None, 0])
def test_empty_batch_writes_nothing(spark, monkeypatch, small_art, gate):
    """An empty batch leaves every artifact file and stats.json as they were
    on both paths, so the held copies stay the same objects."""
    d = small_art
    if gate is not None:
        monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", gate)

    def held():
        return [resident_parquet(spark, os.path.join(d, p),
                                 {"list_id": IntegerType()} if p.startswith("ivf") else None)
                for p in _PARTS]

    before, stats, snaps = ({p: data_files(os.path.join(d, p)) for p in _PARTS},
                            os.stat(os.path.join(d, "fts", "stats.json")), held())
    empty = local_batch(spark, [])
    append_to_ivf_index(empty, "vector", "id", d)
    append_to_fts_index(empty, "doc", "id", d)
    assert {p: data_files(os.path.join(d, p)) for p in _PARTS} == before
    assert os.stat(os.path.join(d, "fts", "stats.json")).st_mtime_ns == stats.st_mtime_ns
    assert all(a is b for a, b in zip(held(), snaps))
    assert (None in snaps) == (gate == 0)  # held below the gate, on the driver path


# -- IVF assignment equals the nested-when expression it replaced -------------


def _nested_when_list_id(vec_col: str, centroids):
    """The pre-transform assignment, kept as the reference: a `<` chain
    over per-centroid distances (first minimum wins; NaN compares largest;
    NULL distances never win, so a NULL vector stays on list 0)."""
    a = F.col(vec_col).cast("array<double>")
    best_d, best_i = None, None
    for i, c in enumerate(centroids):
        cl = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(a, cl, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        if best_d is None:
            best_d, best_i = d, F.lit(i)
        else:
            cond = d < best_d
            best_i = F.when(cond, F.lit(i)).otherwise(best_i)
            best_d = F.when(cond, d).otherwise(best_d)
    return best_i.cast("int")


def test_ivf_list_assignment_equals_nested_when(spark):
    import random

    rnd = random.Random(7)
    centroids = [[5.0, 5.0], [1.0, 0.0], [-1.0, 0.0], [0.0, -1.0]]
    rows = [(i, [rnd.uniform(-4, 6), rnd.uniform(-4, 6)]) for i in range(200)]
    rows += [
        (1000, [0.0, 0.0]),            # tie between lists 1, 2 and 3: first wins
        (1001, [5.0, 5.0]),            # exact hit on list 0
        (1002, [-0.5, -0.5]),          # tie between lists 2 and 3
        (1003, [float("nan"), 1.0]),   # NaN component: every distance NaN
        (1004, [float("inf"), 0.0]),   # +inf component
        (1005, None),                  # NULL vector
        (1006, [1.0]),                 # short vector: NULL distances
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = _with_list_id(df, "v", centroids).withColumn(
        "ref", _nested_when_list_id("v", centroids)
    )
    out = {r.id: (r.list_id, r.ref) for r in got.collect()}
    assert all(a == b for a, b in out.values()), {
        k: v for k, v in out.items() if v[0] != v[1]
    }
    assert out[1000][0] == 1 and out[1002][0] == 2
    assert out[1003][0] == 0 and out[1005][0] == 0 and out[1006][0] == 0
    assert len(out) == len(rows)


def test_driver_list_assignment_equals_the_spark_expression(spark):
    """``_list_ids``, the driver append's assignment, gives every row the list
    ``_with_list_id`` gives it: the first minimum wins, NaN counts above
    +inf, and a row whose distances are all NaN goes to list 0."""
    nan, inf = float("nan"), float("inf")
    cases = [
        ([[5.0, 5.0], [1.0, 0.0], [-1.0, 0.0], [0.0, -1.0]],
         [[0.0, 0.0], [5.0, 5.0], [-0.5, -0.5], [nan, 1.0], [inf, 0.0], [-inf, 2.0], [0.7, 3.1]]),
        # distances NaN, +inf and finite in one row
        ([[nan, 0.0], [inf, 0.0], [1e200, 0.0], [-1e200, 0.0]],
         [[0.0, 0.0], [inf, 0.0], [-inf, 0.0], [nan, 0.0], [1.0, nan]]),
    ]
    for centroids, rows in cases:
        df = spark.createDataFrame(list(enumerate(rows)), "id int, v array<double>")
        want = [r.list_id for r in _with_list_id(df, "v", centroids).orderBy("id").collect()]
        got = _list_ids(np.asfortranarray(rows, dtype=np.float64), centroids)
        assert got.tolist() == want
    assert want == [1, 2, 1, 0, 0]


def test_ivf_list_assignment_nan_distance_counts_largest(spark):
    # a NaN centroid component makes that one distance NaN: it never wins
    centroids = [[float("nan"), 0.0], [9.0, 9.0]]
    df = spark.createDataFrame([(1, [0.0, 0.0])], "id int, v array<double>")
    r = _with_list_id(df, "v", centroids).withColumn(
        "ref", _nested_when_list_id("v", centroids)
    ).first()
    assert r.list_id == r.ref == 1


# -- frame cache: schema reuse only across appends ------------------------------


def test_frame_cache_reopens_appended_dir_without_inference(spark, tmp_path):
    p = str(tmp_path / "frame")
    spark.createDataFrame([(1,)], "a int").write.parquet(p)
    assert [r.a for r in cached_parquet(spark, p).collect()] == [1]
    spark.createDataFrame([(2,)], "a int").write.mode("append").parquet(p)
    df, jobs = _jobs(spark, "frame_cache_append", lambda: cached_parquet(spark, p))
    assert jobs == 0  # no footer-reading job: the old schema still holds
    assert sorted(r.a for r in df.collect()) == [1, 2]
    assert cached_parquet(spark, p) is df  # unchanged listing: a hit


def test_frame_cache_rebuild_with_new_schema_is_not_served_old_schema(spark, tmp_path):
    p = str(tmp_path / "frame")
    spark.createDataFrame([(1,)], "a int").write.parquet(p)
    assert cached_parquet(spark, p).columns == ["a"]
    spark.createDataFrame([(3, "x")], "a int, b string").write.mode("overwrite").parquet(p)
    df = cached_parquet(spark, p)
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


# -- job-count guard ------------------------------------------------------------

#: Spark jobs of append_to_fts_index of a 10-doc local batch on a tiny
#: artifact plus the first fts_search after it (collected): on the driver
#: path (the append's one job is the batch's snapshot collect; the search
#: reads the held postings) and on the Spark path (the driver gate at 0:
#: the postings write and the dfreq part write, 2 jobs each).  Job counts
#: repeat exactly run to run; a change here is a change in how many jobs
#: maintenance or the reopen pays.
DRIVER_APPEND_JOBS = 1
SPARK_APPEND_JOBS = 4
FRESH_SEARCH_JOBS = 0
FRESH_SPARK_SEARCH_JOBS = 4

#: Spark jobs of append_to_ivf_index of a 10-row local batch: the snapshot
#: collect on the driver path (an FTS append of the same plan then runs
#: none), the partitioned write on the Spark path
DRIVER_IVF_APPEND_JOBS = 1
SPARK_IVF_APPEND_JOBS = 1


def test_fts_append_and_fresh_search_job_counts(spark, tmp_path, monkeypatch):
    _append_then_fresh_search(spark, tmp_path, monkeypatch, session.DRIVER_RESIDENT_BYTES,
                              DRIVER_APPEND_JOBS, FRESH_SEARCH_JOBS)


def test_fts_append_and_fresh_spark_search_job_counts(spark, tmp_path, monkeypatch):
    _append_then_fresh_search(spark, tmp_path, monkeypatch, 0, SPARK_APPEND_JOBS,
                              FRESH_SPARK_SEARCH_JOBS)


@pytest.mark.parametrize("gate, jobs", [(None, (DRIVER_IVF_APPEND_JOBS, 0)),
                                        (0, (SPARK_IVF_APPEND_JOBS, SPARK_APPEND_JOBS))])
def test_ivf_then_fts_append_job_counts(spark, monkeypatch, small_art, gate, jobs):
    """An IVF append and then an FTS append of the same plan: on the driver
    path the IVF append's snapshot collect is the one job of both."""
    monkeypatch.setattr(session, "_OBSERVE_TIMEOUT_S", 60.0)
    if gate is not None:
        monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", gate)
    lo = 100 if gate is None else 200
    _, ivf_jobs = _jobs(spark, f"ivf_append_{gate}", lambda: append_to_ivf_index(
        local_batch(spark, _rows(lo, lo + 10)), "vector", "id", small_art))
    _, fts_jobs = _jobs(spark, f"fts_after_ivf_append_{gate}", lambda: append_to_fts_index(
        local_batch(spark, _rows(lo, lo + 10)), "doc", "id", small_art))
    assert (ivf_jobs, fts_jobs) == jobs


def _append_then_fresh_search(spark, tmp_path, monkeypatch, gate, append_jobs, fresh_jobs):
    d = str(tmp_path / "jobs")
    base = spark.createDataFrame(
        [(i, f"vector search number {i} fast engine") for i in range(40)],
        "doc_id long, text string",
    )
    batch = local_batch(spark, [(100 + i, f"fresh vector rows {i}") for i in range(10)],
                        "doc_id long, text string")
    # a slow listener bus must not send the append down the collect fallback
    monkeypatch.setattr(session, "_OBSERVE_TIMEOUT_S", 60.0)
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", gate)
    build_fts_index(base, "text", "doc_id", d)
    fts_search(spark, d, "fresh vector", 5).collect()  # frames resident before the append
    _, jobs = _jobs(
        spark, f"fts_append_{gate}", lambda: append_to_fts_index(batch, "text", "doc_id", d)
    )
    rows, search_jobs = _jobs(
        spark, f"fts_fresh_search_{gate}",
        lambda: fts_search(spark, d, "fresh vector", 5).collect(),
    )
    assert (jobs, search_jobs) == (append_jobs, fresh_jobs)
    assert all(r.doc_id >= 100 for r in rows)  # only the batch has 'fresh'


# -- artifact directories held on the driver ------------------------------------


def test_resident_parquet_reads_only_appended_files(spark, tmp_path, monkeypatch):
    """A directory that only gained files reads just those and concatenates
    them to the held table; a rewrite reads it whole.  The schema is the
    one spark.read gives (every field nullable), partition columns last."""
    from myscaledb_spark.plans import frame_cache

    p = str(tmp_path / "held")
    spark.createDataFrame([(1, [1.0], 0)], "a int not null, v array<double>, part int") \
        .write.partitionBy("part").parquet(p)
    reads = []
    read = frame_cache._read
    monkeypatch.setattr(frame_cache, "_read", lambda path, rels, *a: reads.append(rels)
                        or read(path, rels, *a))
    held = frame_cache.resident_parquet(spark, p, {"part": IntegerType()})
    assert held.schema == spark.read.parquet(p).schema
    assert frame_cache.resident_parquet(spark, p, {"part": IntegerType()}) is held
    spark.createDataFrame([(2, None, 1)], held.schema).write.mode("append") \
        .partitionBy("part").parquet(p)
    grown = frame_cache.resident_parquet(spark, p, {"part": IntegerType()})
    assert [len(r) for r in reads] == [1, 1] and reads[1][0].startswith("part=1")
    assert sorted(grown.table.to_pylist(), key=str) == sorted(
        (r.asDict() for r in spark.read.parquet(p).collect()), key=str)
    spark.createDataFrame([(3, [2.0], 0)], held.schema).write.mode("overwrite") \
        .partitionBy("part").parquet(p)
    assert frame_cache.resident_parquet(spark, p, {"part": IntegerType()}).n == 1
    assert len(reads) == 3 and len(reads[2]) == 1


def test_resident_parquet_gate_and_eviction(spark, tmp_path, monkeypatch):
    """A directory is held only while its Arrow bytes are within
    session.DRIVER_RESIDENT_BYTES (checked from the footers before reading
    and on the table after), comes back once the gate allows it, and
    evict_prefix releases it; a file without Spark's schema is never held."""
    from myscaledb_spark.plans import frame_cache

    p = str(tmp_path / "art" / "idx" / "gated")
    spark.range(1000).selectExpr("id", "repeat('x', 50) AS s").write.parquet(p)
    held = frame_cache.resident_parquet(spark, p)
    size = held.table.nbytes
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", size - 1)
    assert frame_cache.resident_parquet(spark, p) is None
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", size)
    assert frame_cache.resident_parquet(spark, p) is held
    frame_cache.evict_prefix(str(tmp_path / "art"))
    again = frame_cache.resident_parquet(spark, p)
    assert again is not held and again.table.equals(held.table)
    foreign = str(tmp_path / "foreign")
    os.makedirs(foreign)
    pq.write_table(pa.table({"a": [1]}), os.path.join(foreign, "part-0.parquet"))
    assert frame_cache.resident_parquet(spark, foreign) is None


# -- source guards --------------------------------------------------------------

_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "myscaledb_spark")


def test_driver_searches_read_artifacts_only_through_the_loader():
    """pyarrow.parquet is imported by frame_cache alone, the driver paths of
    ivf_search and fts_search start no Spark action or read, and the driver
    appends no Spark write either."""
    import inspect

    from myscaledb_spark.plans import fts_index, vector_index

    stray = []
    for d, _, fs in os.walk(_PKG):
        for f in fs:
            path = os.path.join(d, f)
            if f.endswith(".py") and "pyarrow.parquet" in open(path, encoding="utf-8").read():
                stray.append(os.path.relpath(path, _PKG))
    assert stray == [os.path.join("plans", "frame_cache.py")]
    for fn in (vector_index._driver_search, fts_index._driver_search):
        src = inspect.getsource(fn)
        assert not [s for s in (".collect(", ".toArrow(", "spark.read") if s in src], fn
    # the driver appends take the batch from its snapshot and write with
    # pyarrow: no Spark write, read or collect of their own
    for fn in (vector_index._driver_batch, vector_index._driver_append,
               fts_index._driver_append):
        src = inspect.getsource(fn)
        assert not [s for s in (".write", "spark.read", ".collect(", ".toArrow(")
                    if s in src], fn


def test_names_the_benchmark_reads_still_exist():
    """perfbench's tracer and runner import or wrap these names; its
    ``Tracer.install`` raises AttributeError on a missing one."""
    from myscaledb_spark import introspection
    from myscaledb_spark.plans import frame_cache, fts_index

    for owner, name in ((frame_cache, "_CACHE"), (frame_cache, "cached_parquet"),
                        (fts_index, "_FRAMES_CACHE"), (fts_index, "_cached_index_frames"),
                        (introspection, "QUERY_LOG")):
        assert hasattr(owner, name), name


def test_frame_cache_empty_prefix_is_noop():
    """evict_prefix('') must not clear the whole cache (every key
    startswith(''))."""
    from myscaledb_spark.plans import frame_cache

    class _Fake:
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True
            return self

    key = ("/tmp/frame_cache_fake_root/idx", "frame")
    frame_cache._CACHE[key] = _Fake()
    try:
        frame_cache.evict_prefix("")
        assert key in frame_cache._CACHE
        frame_cache.evict_prefix("/tmp/frame_cache_fake_root")
        assert key not in frame_cache._CACHE
    finally:
        frame_cache._CACHE.pop(key, None)
