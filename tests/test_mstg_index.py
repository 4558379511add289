"""MSTG-analog index: tree routing + per-leaf graph search
(reference flagship index, closed contrib/search-index — behavior parity:
approximate top-k with probe-controlled recall)."""

from __future__ import annotations

import numpy as np
import pytest

from myscaledb_spark.plans.mstg_index import (
    _cluster_centroids,
    _route,
    build_mstg_index,
    mstg_search,
)
from myscaledb_spark.plans.vector_index import ann_recall
from myscaledb_spark.suite.search import make_qvec


@pytest.fixture(scope="module")
def mstg_art(spark, tmp_path_factory):
    art = str(tmp_path_factory.mktemp("mstg"))
    emb = spark.table("embeddings")
    rec = build_mstg_index(emb, "embedding", "vec_id", art, num_leaves=8, num_top=3)
    assert rec["status"] == "Built"
    return art


def test_cluster_centroids_partitions_all():
    rng = np.random.default_rng(5)
    cents = rng.standard_normal((24, 8))
    assign, tops = _cluster_centroids(cents, 4)
    assert assign.shape == (24,) and tops.shape == (4, 8)
    assert set(assign) <= set(range(4))
    # deterministic
    a2, t2 = _cluster_centroids(cents, 4)
    assert (a2 == assign).all() and np.allclose(t2, tops)


def test_route_probes_subset_then_all(mstg_art):
    import json, os

    tree = json.load(open(os.path.join(mstg_art, "mstg", "tree.json")))
    q = np.asarray(make_qvec(seed=77), dtype=np.float64)
    leaves = _route(tree, q, probe_top=1, nprobe=2)
    assert 1 <= len(leaves) <= 2
    all_leaves = _route(tree, q, probe_top=99, nprobe=99)
    assert sorted(all_leaves) == sorted(set(all_leaves))
    assert set(leaves) <= set(all_leaves)


def test_mstg_search_shape_and_order(spark, mstg_art):
    out = mstg_search(spark, mstg_art, make_qvec(seed=77), 10, nprobe=4).collect()
    assert len(out) == 10
    dists = [r.dist for r in out]
    assert dists == sorted(dists)


def test_mstg_recall_scales_with_probes(spark, mstg_art):
    emb = spark.table("embeddings")
    q = make_qvec(seed=77)
    r_full = ann_recall(
        emb, mstg_search(spark, mstg_art, q, 10, probe_top=3, nprobe=8, ef_search=200),
        q, 10,
    )
    r_small = ann_recall(
        emb, mstg_search(spark, mstg_art, q, 10, probe_top=1, nprobe=2, ef_search=50),
        q, 10,
    )
    assert r_full >= 0.9  # all leaves probed, wide beam
    assert r_full >= r_small


def test_mstg_deterministic_rebuild(spark, tmp_path):
    emb = spark.table("embeddings")
    a1, a2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    build_mstg_index(emb, "embedding", "vec_id", a1, num_leaves=4, num_top=2)
    build_mstg_index(emb, "embedding", "vec_id", a2, num_leaves=4, num_top=2)
    q = make_qvec(seed=3)
    r1 = [(r.vec_id, r.dist) for r in mstg_search(spark, a1, q, 5).collect()]
    r2 = [(r.vec_id, r.dist) for r in mstg_search(spark, a2, q, 5).collect()]
    assert r1 == r2


def test_mllib_build_path_exhaustive_equals_brute_force(spark, tmp_path, monkeypatch):
    """Above the small-input gate the leaves come from MLlib KMeans and each
    leaf's graph from the applyInPandas build; probing every top cell and
    every leaf exhaustively equals brute force, ids and distances."""
    from myscaledb_spark.operators.topk import vector_topk
    from myscaledb_spark.plans import vector_index

    monkeypatch.setattr(vector_index, "SMALL_KMEANS_ROWS", 0)
    emb = spark.table("embeddings")
    art = str(tmp_path / "mstg_mllib")
    build_mstg_index(emb, "embedding", "vec_id", art, num_leaves=8, num_top=3)
    q = make_qvec(seed=77)
    got = mstg_search(
        spark, art, q, 10, probe_top=3, nprobe=8, exhaustive=True
    ).collect()
    want = vector_topk(emb, "embedding", q, 10, "L2", None, "vec_id")
    assert got == want.select("vec_id", "dist").collect()
