"""SQ (int8 scalar quantization) index: build → dequantized scan → exact
re-rank; recall vs the exact oracle; determinism (SQ has no random training,
so rebuilds are bit-identical by construction)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from myscaledb_spark.plans.sq_index import build_sq_index, sq_search
from myscaledb_spark.plans.vector_index import ann_recall


@pytest.fixture(scope="module")
def sq_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sq"))
    rec = build_sq_index(spark.table("embeddings"), "embedding", "vec_id", d)
    assert rec["status"] == "Built"
    return d


def _q(seed=9):
    rng = np.random.default_rng(seed)
    return rng.standard_normal(64).tolist()


def test_search_shape_and_order(spark, sq_dir):
    out = sq_search(spark, sq_dir, _q(), 10).collect()
    assert len(out) == 10
    d = [r.dist for r in out]
    assert d == sorted(d)


def test_recall_high(spark, sq_dir):
    """int8 quantization error is tiny relative to inter-point distances:
    with 3x candidate re-rank SQ should be near-perfect (well above PQ)."""
    recalls = [
        ann_recall(spark.table("embeddings"), sq_search(spark, sq_dir, _q(s), 10), _q(s), 10)
        for s in (1, 2, 3)
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_wide_candidates_exact(spark, sq_dir):
    r = ann_recall(
        spark.table("embeddings"),
        sq_search(spark, sq_dir, _q(4), 10, candidate_multiple=50), _q(4), 10,
    )
    assert r == 1.0


def test_codes_are_int8_range(spark, sq_dir):
    codes_df = spark.read.parquet(os.path.join(sq_dir, "sq", "codes"))
    row = codes_df.select("codes").first()
    assert all(0 <= c <= 255 for c in row[0])
    meta = json.load(open(os.path.join(sq_dir, "sq", "sq_stats.json")))
    assert meta["bits"] == 8 and len(meta["lo"]) == 64
