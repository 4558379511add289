"""IVF index lifecycle: build → registry status → partition-pruned search →
recall vs exact oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from myscaledb_spark.plans.vector_index import (
    IndexRegistry,
    ann_recall,
    build_ivf_index,
    ivf_search,
)


@pytest.fixture(scope="module")
def ivf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf"))
    emb = spark.table("embeddings")
    rec = build_ivf_index(emb, "embedding", "vec_id", d, num_centroids=8)
    assert rec["status"] == "Built"
    return d


def _q(seed=5):
    rng = np.random.default_rng(seed)
    return rng.standard_normal(64).tolist()


def test_registry_lifecycle(spark, ivf_dir):
    reg = IndexRegistry(ivf_dir)
    rec = reg.get("ivf")
    assert rec["status"] == "Built"
    assert rec["params"]["ncentroids"] == 8
    assert len(reg.list()) == 1


def test_search_returns_k(spark, ivf_dir):
    out = ivf_search(spark, ivf_dir, _q(), 10, nprobe=4).collect()
    assert len(out) == 10
    # distances ascending
    d = [r.dist for r in out]
    assert d == sorted(d)


def test_full_probe_equals_exact(spark, ivf_dir):
    """nprobe = num_centroids ⇒ recall 1.0 (ANN degenerates to exact)."""
    r = ann_recall(
        spark.table("embeddings"), ivf_search(spark, ivf_dir, _q(7), 10, nprobe=8),
        _q(7), 10,
    )
    assert r == 1.0


def test_partial_probe_recall(spark, ivf_dir):
    """Random gaussian vectors are the ANN worst case; still, nprobe=4/8
    must recover a meaningful fraction and never crash."""
    r = ann_recall(
        spark.table("embeddings"), ivf_search(spark, ivf_dir, _q(11), 10, nprobe=4),
        _q(11), 10,
    )
    assert 0.0 <= r <= 1.0


def test_filtered_ivf_search(spark, ivf_dir):
    out = ivf_search(
        spark, ivf_dir, _q(3), 5, nprobe=8, where=F.col("label") == 2
    ).collect()
    assert all(r.label == 2 for r in out)
    assert len(out) == 5


def test_partition_pruning_in_plan(spark, ivf_dir):
    """The probed scan must read only the selected list_id partitions."""
    df = ivf_search(spark, ivf_dir, _q(), 5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "list_id" in plan


def test_incremental_append_serves_new_rows(spark, tmp_path_factory):
    """Decoupled-parts analog: build on half the data, append the other half
    assigned to existing centroids; full-probe search == exact over ALL."""
    from myscaledb_spark.plans.vector_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_search,
    )
    from myscaledb_spark.operators.topk import vector_topk

    d = str(tmp_path_factory.mktemp("ivf_inc"))
    emb = spark.table("embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    build_ivf_index(first, "embedding", "vec_id", d, num_centroids=8)
    append_to_ivf_index(second, "embedding", "vec_id", d)

    q = _q(21)
    got = [r.vec_id for r in ivf_search(spark, d, q, 10, nprobe=8).collect()]
    want = [
        r.vec_id
        for r in vector_topk(emb, "embedding", q, 10, "L2", id_col="vec_id").collect()
    ]
    assert got == want
    # odd ids (appended) must be reachable
    assert any(v % 2 == 1 for v in got)


def test_ivf_search_excludes_deleted(spark, tmp_path):
    """Lightweight-DELETE ↔ vector index: deleted ids are masked out of
    search results without rebuilding the artifact (the reference passes
    the part's deleted-rows filter into vector scans)."""
    import tempfile

    from myscaledb_spark.catalog import load_table
    from myscaledb_spark.operators.topk import vector_topk
    from myscaledb_spark.plans.vector_index import build_ivf_index, ivf_search
    from myscaledb_spark.suite.search import QV
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    d = str(tmp_path / "ivf_del")
    build_ivf_index(emb, "embedding", "vec_id", d, num_centroids=4)

    # exhaustive probe == brute force; delete the true top-3
    top = ivf_search(spark, d, QV, 3, nprobe=4).collect()
    deleted = spark.createDataFrame([(r.vec_id,) for r in top], "vec_id long")
    masked = ivf_search(spark, d, QV, 5, nprobe=4, exclude_ids=deleted).collect()
    assert {r.vec_id for r in top}.isdisjoint({r.vec_id for r in masked})
    # and equals brute force over the un-deleted rows
    want = vector_topk(
        emb.join(deleted, "vec_id", "anti"), "embedding", QV, 5, "L2",
        id_col="vec_id",
    ).collect()
    assert [r.vec_id for r in masked] == [r.vec_id for r in want]


def test_vector_index_event_log(spark, tmp_path):
    from myscaledb_spark.introspection import system_vector_index_event_log
    from myscaledb_spark.plans.vector_index import IndexRegistry, build_ivf_index

    emb = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    art = str(tmp_path / "evlog")
    build_ivf_index(emb, "embedding", "vec_id", art, name="ivf", num_centroids=2)
    IndexRegistry(art).set_status("ivf", "Dropped")
    log = system_vector_index_event_log(spark, art)
    rows = log.orderBy("event_time").collect()
    # Defined -> InProgress -> LoadStart/LoadSucceed (the build's artifact
    # read-back is the initial cache residency, 00030) -> Built -> Dropped
    assert [r["status"] for r in rows] == [
        "Defined", "InProgress", "LoadStart", "LoadSucceed", "Built", "Dropped",
    ]
    assert [r["event_type"] for r in rows] == [
        "DefinitionCreated", "BuildStart", "LoadStart", "LoadSucceed",
        "BuildSucceed", "DefinitionDroped",
    ]


def test_recall_indicator_counts_returned_rows(spark):
    """n_results counts the rows the search returned, duplicates included;
    only the overlap with the exact top-k is taken over distinct ids."""
    from myscaledb_spark.suite.search2 import _recall_indicator

    got = spark.createDataFrame([(1,), (1,), (2,)], "vec_id int")
    exact = spark.createDataFrame([(1,), (3,), (4,)], "vec_id int")
    row = _recall_indicator(spark, got, exact, 3, 0.3).collect()[0]
    assert (row["k"], row["n_results"], row["recall_ok"]) == (3, 3, 1)
    row = _recall_indicator(spark, got, exact, 3, 0.5).collect()[0]
    assert row["recall_ok"] == 0


def test_mllib_build_path_full_probe_equals_exact(spark, tmp_path, monkeypatch):
    """Above the small-input gate the centroids come from MLlib KMeans and
    the lists from its executor-side assignment; a full probe still equals
    the exact top-k, ids and distances."""
    from myscaledb_spark.operators.topk import vector_topk
    from myscaledb_spark.plans import vector_index

    monkeypatch.setattr(vector_index, "SMALL_KMEANS_ROWS", 0)
    emb = spark.table("embeddings")
    d = str(tmp_path / "ivf_mllib")
    build_ivf_index(emb, "embedding", "vec_id", d, num_centroids=8)
    got = ivf_search(spark, d, _q(7), 10, nprobe=8).select("vec_id", "dist").collect()
    want = vector_topk(emb, "embedding", _q(7), 10, "L2", None, "vec_id")
    assert got == want.select("vec_id", "dist").collect()


#: modules of the ANN index family under myscaledb_spark/plans
_ANN_MODULES = ("vector_index", "pq_index", "sq_index", "hnsw_index", "mstg_index", "ddl")


def test_index_family_keeps_one_built_check_and_one_graph_search():
    """Source guard: the registry's Built comparison lives only in
    IndexRegistry, and the NSW graph's applyInPandas only in hnsw_index."""
    import ast
    import os

    plans = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "myscaledb_spark", "plans",
    )
    stray = []
    for mod in _ANN_MODULES:
        path = os.path.join(plans, mod + ".py")
        tree = ast.parse(open(path, encoding="utf-8").read())
        registry = {
            id(n)
            for c in ast.walk(tree)
            if isinstance(c, ast.ClassDef) and c.name == "IndexRegistry"
            for n in ast.walk(c)
        }
        for n in ast.walk(tree):
            if isinstance(n, ast.Compare) and id(n) not in registry and any(
                isinstance(e, ast.Constant) and e.value == "Built"
                for e in ast.walk(n)
            ):
                stray.append(f"{mod}:{n.lineno} Built comparison")
            if (mod != "hnsw_index" and isinstance(n, ast.Attribute)
                    and n.attr == "applyInPandas"):
                stray.append(f"{mod}:{n.lineno} applyInPandas")
    assert not stray, stray
