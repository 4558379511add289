"""NSW graph index: deterministic build, per-part beam search + global
merge, recall vs exact oracle, ef sweep monotonicity."""

from __future__ import annotations

import numpy as np
import pytest

from myscaledb_spark.plans.hnsw_index import build_hnsw_index, hnsw_search
from myscaledb_spark.plans.vector_index import ann_recall


@pytest.fixture(scope="module")
def hnsw_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hnsw"))
    rec = build_hnsw_index(
        spark.table("embeddings"), "embedding", "vec_id", d,
        m=8, ef_construction=32, n_parts=4,
    )
    assert rec["status"] == "Built"
    return d


def _q(seed=31):
    rng = np.random.default_rng(seed)
    return rng.standard_normal(64).tolist()


def test_search_shape(spark, hnsw_dir):
    out = hnsw_search(spark, hnsw_dir, _q(), 10).collect()
    assert len(out) == 10
    d = [r.dist for r in out]
    assert d == sorted(d)


def test_recall_reasonable(spark, hnsw_dir):
    """Random gaussians are the ANN worst case; NSW with ef=50 over 4 parts
    must still recover most of the true top-10 (random would be 2%)."""
    recalls = [
        ann_recall(
            spark.table("embeddings"),
            hnsw_search(spark, hnsw_dir, _q(s), 10, ef_search=50), _q(s), 10,
        )
        for s in (1, 2, 3)
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_ef_improves_recall(spark, hnsw_dir):
    emb = spark.table("embeddings")
    lo = ann_recall(emb, hnsw_search(spark, hnsw_dir, _q(7), 10, ef_search=10), _q(7), 10)
    hi = ann_recall(emb, hnsw_search(spark, hnsw_dir, _q(7), 10, ef_search=120), _q(7), 10)
    assert hi >= lo


def test_rebuild_deterministic(spark, hnsw_dir, tmp_path_factory):
    d2 = str(tmp_path_factory.mktemp("hnsw2"))
    build_hnsw_index(
        spark.table("embeddings"), "embedding", "vec_id", d2,
        m=8, ef_construction=32, n_parts=4,
    )
    a = [(r.vec_id, round(r.dist, 9)) for r in hnsw_search(spark, hnsw_dir, _q(5), 10).collect()]
    b = [(r.vec_id, round(r.dist, 9)) for r in hnsw_search(spark, d2, _q(5), 10).collect()]
    assert a == b
