"""PQ index: build → ADC search → exact re-rank; recall measured against the
exact oracle; determinism across rebuilds."""

from __future__ import annotations

import numpy as np
import pytest

from myscaledb_spark.plans.pq_index import build_pq_index, pq_search
from myscaledb_spark.plans.vector_index import ann_recall


@pytest.fixture(scope="module")
def pq_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pq"))
    rec = build_pq_index(
        spark.table("embeddings"), "embedding", "vec_id", d, m=8, ks=16
    )
    assert rec["status"] == "Built"
    return d


def _q(seed=9):
    rng = np.random.default_rng(seed)
    return rng.standard_normal(64).tolist()


def test_search_shape_and_order(spark, pq_dir):
    out = pq_search(spark, pq_dir, _q(), 10).collect()
    assert len(out) == 10
    d = [r.dist for r in out]
    assert d == sorted(d)


def test_recall_reasonable(spark, pq_dir):
    """PQ with 3x candidate expansion + exact re-rank on random gaussians
    (ANN worst case): recall must be well above random (10/500 = 2%)."""
    recalls = [
        ann_recall(spark.table("embeddings"), pq_search(spark, pq_dir, _q(s), 10), _q(s), 10)
        for s in (1, 2, 3)
    ]
    assert sum(recalls) / len(recalls) > 0.3, recalls


def test_wide_candidates_approach_exact(spark, pq_dir):
    """candidate_multiple → corpus size ⇒ re-rank is over everything ⇒
    recall 1.0 (ADC only affects pruning, never final distances)."""
    r = ann_recall(
        spark.table("embeddings"),
        pq_search(spark, pq_dir, _q(4), 10, candidate_multiple=50), _q(4), 10,
    )
    assert r == 1.0


def test_rebuild_deterministic(spark, pq_dir, tmp_path_factory):
    d2 = str(tmp_path_factory.mktemp("pq2"))
    build_pq_index(spark.table("embeddings"), "embedding", "vec_id", d2, m=8, ks=16)
    a = pq_search(spark, pq_dir, _q(5), 10).collect()
    b = pq_search(spark, d2, _q(5), 10).collect()
    assert [(r.vec_id, r.dist) for r in a] == [(r.vec_id, r.dist) for r in b]
