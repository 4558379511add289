"""Vector search correctness vs a numpy exact oracle (mirrors the reference's
brute-force semantics, tests/queries/2_vector_search/00001_mqvs_distance.*)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.functions.vector import distance, distance_defined
from myscaledb_spark.operators.topk import (
    batch_vector_topk,
    two_stage_topk,
    vector_topk,
)
from tests.conftest import SF_DIR

K = 10


@pytest.fixture(scope="module")
def emb_np(spark):
    rows = spark.table("embeddings").select("vec_id", "embedding", "label").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    labels = np.array([r.label for r in rows])
    return ids, mat, labels


def _qvec(dim=64, seed=7):
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim).astype(np.float32).astype(np.float64)


def _np_topk(ids, mat, q, k, metric):
    if metric == "L2":
        d = np.sqrt(((mat - q) ** 2).sum(axis=1))
        order = np.lexsort((ids, d))
    elif metric == "Cosine":
        d = 1.0 - (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        order = np.lexsort((ids, d))
    elif metric == "IP":
        d = mat @ q
        order = np.lexsort((ids, -d))
    return ids[order[:k]], d[order[:k]]


@pytest.mark.parametrize("metric", ["L2", "Cosine", "IP"])
def test_vector_topk_matches_numpy(spark, emb_np, metric):
    ids, mat, _ = emb_np
    q = _qvec()
    got = vector_topk(
        spark.table("embeddings"), "embedding", q.tolist(), K, metric, id_col="vec_id"
    ).select("vec_id", "dist").collect()
    want_ids, want_d = _np_topk(ids, mat, q, K, metric)
    assert [r.vec_id for r in got] == list(want_ids)
    np.testing.assert_allclose([r.dist for r in got], want_d, rtol=1e-9, atol=1e-9)


def test_filtered_search(spark, emb_np):
    ids, mat, labels = emb_np
    q = _qvec()
    mask = labels == 1
    got = vector_topk(
        spark.table("embeddings"),
        "embedding",
        q.tolist(),
        K,
        "L2",
        where=F.col("label") == 1,
        id_col="vec_id",
    ).select("vec_id").collect()
    want_ids, _ = _np_topk(ids[mask], mat[mask], q, K, "L2")
    assert [r.vec_id for r in got] == list(want_ids)


def test_batch_distance(spark, emb_np):
    ids, mat, _ = emb_np
    qs = [_qvec(seed=s) for s in (1, 2, 3)]
    got = batch_vector_topk(
        spark.table("embeddings"), "embedding", [q.tolist() for q in qs], 5, "L2",
        id_col="vec_id",
    ).select("query_id", "vec_id").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    for i, q in enumerate(qs):
        want_ids, _ = _np_topk(ids, mat, q, 5, "L2")
        assert by_q[i] == list(want_ids), f"query {i}"


def test_two_stage_equals_exact(spark, emb_np):
    ids, mat, _ = emb_np
    q = _qvec(seed=11)
    got = two_stage_topk(
        spark.table("embeddings"), "embedding", q.tolist(), K, "L2", id_col="vec_id"
    ).select("vec_id").collect()
    want_ids, _ = _np_topk(ids, mat, q, K, "L2")
    assert [r.vec_id for r in got] == list(want_ids)


def test_validations(spark):
    df = spark.table("embeddings")
    with pytest.raises(InvalidSearchQuery):
        vector_topk(df, "embedding", [0.0] * 64, 0)
    with pytest.raises(InvalidSearchQuery):
        vector_topk(df, "embedding", [0.0] * 64, 10_001)


def test_batch_large_equals_small_path(spark, emb_np):
    """numpy-GEMM batch path must equal the explode path (which equals the
    numpy oracle) for every metric."""
    from myscaledb_spark.operators.topk import batch_vector_topk_large

    ids, mat, _ = emb_np
    qs = [_qvec(seed=s).tolist() for s in range(20, 40)]  # 20 queries
    for metric in ("L2", "IP", "Cosine"):
        got = batch_vector_topk_large(
            spark.table("embeddings"), "embedding", qs, 5, metric, id_col="vec_id"
        ).select("query_id", "vec_id").collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, []).append(r.vec_id)
        for i, q in enumerate(qs):
            want_ids, _ = _np_topk(ids, mat, np.array(q), 5, metric)
            assert by_q[i] == list(want_ids), f"{metric} query {i}"


def test_lsh_bucketed_neardup_subset_of_exact(spark):
    """Hyperplane-LSH blocked near-dup pairs: every found pair must appear in
    the exact O(n^2) result with identical similarity, and with few planes
    (coarse buckets) the blocked path must recover a decent fraction."""
    from myscaledb_spark.operators.similarity import (
        cosine_neardup_pairs,
        lsh_bucket,
        random_hyperplanes,
    )
    from pyspark.sql import functions as F

    emb = spark.table("embeddings")
    thr = 0.3
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_neardup_pairs(emb, "embedding", "vec_id", thr).collect()
    }
    from myscaledb_spark.operators.similarity import lsh_neardup_pairs

    blocked = {
        (r.id_a, r.id_b): r.cos_sim
        for r in lsh_neardup_pairs(
            emb, "embedding", "vec_id", thr, n_planes=4, n_tables=6
        ).collect()
    }
    assert set(blocked) <= set(exact)
    for k, v in blocked.items():
        assert v == exact[k]
    # single-table p = (1-acos(0.3)/pi)^4 ~= 0.127; 6 OR-tables ~= 0.56
    if exact:
        assert len(blocked) / len(exact) > 0.35, (len(blocked), len(exact))


def test_binary_type_hamming_jaccard(spark):
    """BinaryType bit-vector distances (hex-chunk JVM path) vs numpy."""
    import os
    from myscaledb_spark.functions.vector import hamming_distance, jaccard_distance

    rng = np.random.default_rng(17)
    rows = [(i, bytes(rng.integers(0, 256, 16, dtype=np.uint8))) for i in range(64)]
    qbytes = bytes(rng.integers(0, 256, 16, dtype=np.uint8))
    df = spark.createDataFrame(rows, "id int, bv binary")
    got = df.select(
        "id",
        hamming_distance(F.col("bv"), qbytes).alias("h"),
        jaccard_distance(F.col("bv"), qbytes).alias("j"),
    ).collect()

    def bits(b):
        return np.unpackbits(np.frombuffer(b, dtype=np.uint8))

    qb = bits(qbytes)
    for r in got:
        vb = bits(dict(rows)[r.id])
        assert r.h == int((vb != qb).sum()), r.id
        inter = int((vb & qb).sum())
        union = int((vb | qb).sum())
        want_j = 0.0 if union == 0 else 1.0 - inter / union
        assert r.j == pytest.approx(want_j, abs=1e-12), r.id


def test_filtered_batch_and_two_stage(spark, emb_np):
    """Filter composes with the batch-GEMM and two-stage paths exactly
    like the reference's pre-filtered search."""
    from myscaledb_spark.operators.topk import batch_vector_topk_large, two_stage_topk

    ids, mat, labels = emb_np
    mask = labels == 2
    qs = [_qvec(seed=s).tolist() for s in (51, 52)]
    got = batch_vector_topk_large(
        spark.table("embeddings"), "embedding", qs, 5, "L2",
        id_col="vec_id", where=F.col("label") == 2,
    ).select("query_id", "vec_id").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    for i, q in enumerate(qs):
        want_ids, _ = _np_topk(ids[mask], mat[mask], np.array(q), 5, "L2")
        assert by_q[i] == list(want_ids), f"query {i}"

    q = _qvec(seed=60)
    got2 = [
        r.vec_id
        for r in two_stage_topk(
            spark.table("embeddings"), "embedding", q.tolist(), 5, "L2",
            where=F.col("label") == 2, id_col="vec_id",
        ).collect()
    ]
    want2, _ = _np_topk(ids[mask], mat[mask], q, 5, "L2")
    # two-stage with default full-vector stage 1 == exact on filtered set
    assert got2 == list(want2)


def test_vector_topk_drops_null_distance_rows(spark):
    """Rows with NULL embeddings must not crowd out real neighbors (NULLs
    sort first under ascending order otherwise)."""
    from pyspark.sql import functions as F

    from myscaledb_spark.operators.topk import vector_topk

    rows = [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, None), (4, None)]
    df = spark.createDataFrame(rows, "id int, v array<float>")
    got = vector_topk(df, "v", [0.0, 0.0], 2, "L2", None, "id")
    assert [r.id for r in got.collect()] == [1, 2]


QV = [1.0, -2.0, 0.5]

ADVERSARIAL_VECS = [
    (1, [1.0, 2.0, 3.0]),      # valid
    (2, None),                  # NULL array
    (3, [1.0, 2.0]),            # too short (zip_with pads with NULL)
    (4, [1.0, 2.0, 3.0, 4.0]),  # too long
    (5, [1.0, None, 3.0]),      # NULL element
    (6, []),                    # empty
    (7, [-1.0, 0.0, 9.0]),      # valid
    (8, [0.0, 0.0, 0.0]),       # zero norm: Cosine divides by zero (r11 ADVICE)
]


@pytest.mark.parametrize("metric", ["L2", "L2Squared", "L1", "IP", "Cosine", "Linf"])
def test_distance_defined_equals_isnotnull(spark, metric):
    df = spark.createDataFrame(ADVERSARIAL_VECS, "id int, v array<double>")
    got = sorted(
        r["id"]
        for r in df.filter(distance_defined("v", QV, metric)).select("id").collect()
    )
    # the isnotnull(dist) reference semantics are those of a session that
    # tolerates div-by-zero (NULL result) — under ANSI both old and new code
    # threw for the zero-norm Cosine row, so the equivalence target is the
    # non-ANSI drop behavior (r11 ADVICE high: zero-norm cosine rows must
    # not surface as NULL-distance rank-1 results)
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = sorted(
            r["id"]
            for r in df.withColumn("d", distance("v", QV, metric))
            .filter(F.col("d").isNotNull())
            .select("id")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)
    assert got == want, f"{metric}: structural predicate != isnotnull(dist)"


def test_cosine_topk_drops_zero_norm_rows(spark):
    """r11 ADVICE high: a zero-norm vector's cosine distance is undefined;
    in a non-ANSI session it is NULL, sorts FIRST ascending, and displaced
    the true #1 neighbor. The structural predicate must drop it."""
    from myscaledb_spark.operators.topk import vector_topk

    df = spark.createDataFrame(ADVERSARIAL_VECS, "id int, v array<double>")
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        out = vector_topk(df, "v", QV, 5, "Cosine", id_col="id").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)
    assert [r["id"] for r in out] == [7, 1]
    assert all(r["dist"] is not None for r in out)


def test_cosine_zero_query_vector_returns_empty(spark):
    from myscaledb_spark.operators.topk import vector_topk

    df = spark.createDataFrame(ADVERSARIAL_VECS, "id int, v array<double>")
    out = vector_topk(df, "v", [0.0, 0.0, 0.0], 5, "Cosine", id_col="id")
    assert out.count() == 0


def test_vector_topk_drops_malformed_rows(spark):
    from myscaledb_spark.operators.topk import vector_topk

    df = spark.createDataFrame(ADVERSARIAL_VECS, "id int, v array<double>")
    out = vector_topk(df, "v", QV, 5, "L2", id_col="id")
    ids = [r["id"] for r in out.collect()]
    # only the well-formed vectors, ranked by L2 distance (the zero vector
    # is perfectly valid for L2 — it is only Cosine that must drop it)
    assert ids == [8, 1, 7]


@pytest.mark.parametrize("metric", ["L2", "IP", "Cosine"])
def test_batch_distance_drops_undefined_distances(spark, metric):
    """batch_vector_topk applies vector_topk's distance_defined rule per
    query: a NULL row, a row of another length and, for Cosine, a zero-norm
    row have no distance and are dropped (they ranked first with a NULL
    dist, and Cosine raised DIVIDE_BY_ZERO under ANSI); a zero-norm Cosine
    query returns no rows.  The rows left equal vector_topk's, per query."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, None), (4, [5.0]), (5, [2.0, -1.0])],
        "id int, v array<double>",
    )
    queries = [[1.0, 0.0], [0.0, 0.0], [-1.0, 3.0]]
    got = batch_vector_topk(df, "v", queries, 4, metric, id_col="id").collect()
    assert all(r["dist"] is not None for r in got)
    for q, qv in enumerate(queries):
        want = [(r["id"], r["dist"]) for r in
                vector_topk(df, "v", qv, 4, metric, id_col="id").collect()]
        rows = sorted((r for r in got if r["query_id"] == q),
                      key=lambda r: (r["dist"] if metric != "IP" else -r["dist"], r["id"]))
        assert [(r["id"], r["dist"]) for r in rows] == want, (metric, q)
    if metric == "Cosine":
        assert not [r for r in got if r["query_id"] == 1]
