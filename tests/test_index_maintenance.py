"""Index maintenance: FTS and IVF appends cost O(batch), reopened artifact
frames skip schema inference only when that is safe, and the fast paths
equal the general ones they replace."""

from __future__ import annotations

import json
import os
import shutil
import struct
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from myscaledb_spark import session
from myscaledb_spark.functions.text import text_search, tokenize
from myscaledb_spark.functions.vector import _query_literal
from myscaledb_spark.plans.frame_cache import cached_parquet
from myscaledb_spark.plans.fts_index import (
    _postings,
    _tokenized,
    append_to_fts_index,
    build_fts_index,
    fts_search,
)
from myscaledb_spark.plans.vector_index import _with_list_id
from myscaledb_spark.session import observed_metrics

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
    return sorted(spark.read.parquet(os.path.join(d, "fts", "dfreq")).collect())


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
    got = spark.range(1).select(_query_literal(vals).alias("a")).first()["a"]
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


def _as_older_artifact(spark, d: str, half) -> None:
    """Rewrite a fresh build into what the build wrote before stats.json
    held total_dl: no total_dl/dl_docs, and a doclens dir."""
    p = os.path.join(d, "fts", "stats.json")
    old = {k: v for k, v in json.load(open(p)).items() if k not in ("total_dl", "dl_docs")}
    json.dump(old, open(p, "w"))
    half.select("doc_id", F.size(tokenize("text")).alias("dl")).write.parquet(
        os.path.join(d, "fts", "doclens")
    )


def test_fts_batch_totals_are_observed_after_the_shuffle(spark):
    """The totals are observed above the postings' aggregate, so they are
    taken in the write's result stage, which Spark counts once per
    partition, and not in the map stage a fetch failure can re-run."""
    docs = spark.table("documents")
    postings, _ = _postings(_tokenized(docs, "text", "doc_id", "simple", None))
    plan = postings._jdf.queryExecution().optimizedPlan().toString().splitlines()
    at = [i for i, ln in enumerate(plan) if "CollectMetrics" in ln or "Aggregate" in ln]
    assert "CollectMetrics" in plan[at[0]] and "Aggregate" in plan[at[1]]


def test_fts_append_derives_total_dl_for_older_stats(spark, tmp_path):
    docs = _docs_with_gaps(spark)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    build_fts_index(even, "text", "doc_id", inc)
    _as_older_artifact(spark, inc, even)
    append_to_fts_index(docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", inc)
    build_fts_index(docs, "text", "doc_id", full)
    a, b = _stats(inc), _stats(full)
    assert (a["n_docs"], a["total_dl"], a["dl_docs"], a["avgdl"].hex()) == (
        b["n_docs"], b["total_dl"], b["dl_docs"], b["avgdl"].hex()
    )
    # the derived totals are in stats.json: the stale doclens is gone
    assert not os.path.exists(os.path.join(inc, "fts", "doclens"))


def test_fts_append_to_older_stats_without_doclens(spark, tmp_path):
    """Without doclens the totals come from round(avgdl * n_docs), exact
    when every text has a length."""
    docs = spark.table("documents")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_fts_index(docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", inc)
    p = os.path.join(inc, "fts", "stats.json")
    old = {k: v for k, v in json.load(open(p)).items() if k not in ("total_dl", "dl_docs")}
    json.dump(old, open(p, "w"))
    append_to_fts_index(docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", inc)
    build_fts_index(docs, "text", "doc_id", full)
    a, b = _stats(inc), _stats(full)
    assert (a["n_docs"], a["total_dl"], a["avgdl"].hex()) == (
        b["n_docs"], b["total_dl"], b["avgdl"].hex()
    )


def test_legacy_artifact_append_keeps_doclens_and_scores(spark, tmp_path):
    """A pre-r8 artifact (postings without dl, doclens, no dfreq) still
    appends and searches through the join-based plan."""
    docs = spark.table("documents")
    d = str(tmp_path / "legacy")
    build_fts_index(docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", d)
    base = os.path.join(d, "fts")
    postings = spark.read.parquet(os.path.join(base, "postings")).drop("dl")
    postings.write.parquet(os.path.join(base, "postings_legacy"))
    shutil.rmtree(os.path.join(base, "postings"))
    shutil.rmtree(os.path.join(base, "dfreq"))
    os.rename(os.path.join(base, "postings_legacy"), os.path.join(base, "postings"))
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.size(tokenize("text")).alias("dl")
    ).write.parquet(os.path.join(base, "doclens"))
    st = _stats(d)
    json.dump({"n_docs": st["n_docs"], "avgdl": st["avgdl"], "tokenizer": st["tokenizer"]},
              open(os.path.join(base, "stats.json"), "w"))

    append_to_fts_index(docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", d)
    assert not os.path.exists(os.path.join(base, "dfreq"))
    assert spark.read.parquet(os.path.join(base, "doclens")).count() == docs.count()
    via_index = fts_search(spark, d, QUERY, 10).collect()
    direct = text_search(docs, "text", QUERY, 10, id_col="doc_id").collect()
    assert [(r.doc_id, r.bm25_score) for r in via_index] == [
        (r.doc_id, r.bm25_score) for r in direct
    ]


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

#: Spark jobs of append_to_fts_index on a tiny artifact plus the first
#: fts_search after it (collected).  Job counts repeat exactly run to run;
#: a change here is a change in how many jobs maintenance or the reopen pays.
APPEND_JOBS = 4
FRESH_SEARCH_JOBS = 4


def test_fts_append_and_fresh_search_job_counts(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "jobs")
    base = spark.createDataFrame(
        [(i, f"vector search number {i} fast engine") for i in range(40)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"fresh vector rows {i}") for i in range(10)],
        "doc_id long, text string",
    )
    # a slow listener bus must not send the append down the collect fallback
    monkeypatch.setattr(session, "_OBSERVE_TIMEOUT_S", 60.0)
    build_fts_index(base, "text", "doc_id", d)
    fts_search(spark, d, "fresh vector", 5).collect()  # frames resident before the append
    _, append_jobs = _jobs(
        spark, "fts_append", lambda: append_to_fts_index(batch, "text", "doc_id", d)
    )
    rows, search_jobs = _jobs(
        spark, "fts_fresh_search", lambda: fts_search(spark, d, "fresh vector", 5).collect()
    )
    assert (append_jobs, search_jobs) == (APPEND_JOBS, FRESH_SEARCH_JOBS)
    assert all(r.doc_id >= 100 for r in rows)  # only the batch has 'fresh'
