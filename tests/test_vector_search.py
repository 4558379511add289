"""Vector search correctness vs a numpy exact oracle (mirrors the reference's
brute-force semantics, tests/queries/2_vector_search/00001_mqvs_distance.*)."""

from __future__ import annotations

import math
import struct

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
    # a subnormal row's squares underflow: its Cosine divisor is 0
    df = spark.createDataFrame(ADVERSARIAL_VECS + [(9, [5e-324, 0.0, 0.0])],
                               "id int, v array<double>")
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


@pytest.mark.parametrize("case", ["subnormal_row", "subnormal_query"])
def test_cosine_subnormal_has_no_distance(spark, case):
    """A vector whose squares all underflow has a zero Cosine divisor: the
    row or query is dropped, where before the whole query raised
    DIVIDE_BY_ZERO under ANSI.  The smallest non-zero norms still divide
    (their product rounds to 5e-324, not 0)."""
    if case == "subnormal_row":
        rows = [(1, [5e-324, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 1.0]),
                (4, [2.3e-162, 0.0])]
        qv, want = [1.0, 0.0], [4, 2, 3]
    else:
        rows = [(1, [1.0, 1.0])]
        qv, want = [5e-324, 0.0], []
    df = spark.createDataFrame(rows, "id int, v array<double>")
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = vector_topk(df, "v", qv, 5, "Cosine", id_col="id").collect()
        batch = batch_vector_topk(df, "v", [[1.0, 0.0], qv], 5, "Cosine",
                                  id_col="id").collect()
        tiny = vector_topk(df, "v", [3e-162, 0.0], 5, "Cosine", id_col="id").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)
    assert [r["id"] for r in got] == want
    assert all(r["dist"] is not None for r in got + batch + tiny)
    per_query = sorted((r["dist"], r["id"]) for r in batch if r["query_id"] == 1)
    assert [i for _, i in per_query] == want
    assert {r["id"] for r in tiny} == {i for i, v in rows if any(x * x for x in v)}


@pytest.mark.parametrize("metric", ["L2", "IP", "Cosine"])
def test_batch_large_drops_undefined_distances(spark, metric):
    """batch_vector_topk_large applies distance_defined's rule: the row side
    before its Python stage (a NULL row failed the job), and a zero-norm
    Cosine query returns no rows (it returned rows at distance 1.0).  Per
    query it returns batch_vector_topk's ids, distances within 1e-9."""
    from myscaledb_spark.operators.topk import batch_vector_topk_large

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, None), (4, [5.0]), (5, [2.0, -1.0])],
        "id int, v array<double>",
    )
    queries = [[1.0, 0.0], [0.0, 0.0], [-1.0, 3.0]]
    large = batch_vector_topk_large(df, "v", queries, 4, metric, id_col="id").collect()
    small = batch_vector_topk(df, "v", queries, 4, metric, id_col="id").collect()

    def by_query(rows):
        out = {}
        for r in sorted(rows, key=lambda r: (r["dist"] if metric != "IP" else -r["dist"], r["id"])):
            out.setdefault(r["query_id"], []).append((r["id"], r["dist"]))
        return out

    got, want = by_query(large), by_query(small)
    assert sorted(got) == sorted(want)
    for q in want:
        assert [i for i, _ in got[q]] == [i for i, _ in want[q]], (metric, q)
        np.testing.assert_allclose([d for _, d in got[q]], [d for _, d in want[q]],
                                   rtol=0, atol=1e-9)


def test_two_stage_coarse_drops_undefined_rows(spark):
    """A NULL, short or NULL-element row has a NULL coarse distance; it
    sorted first, filled the candidate set, and stage 2 dropped it."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [2.0, 0.0, 0.0]), (3, None), (4, [1.0]),
         (5, [None, 0.0, 0.0]), (6, [1.0, 0.0, 0.5])],
        "id int, v array<double>",
    )
    qv = [1.0, 0.0, 0.4]
    want = [r["id"] for r in vector_topk(df, "v", qv, 3, "L2", id_col="id").collect()]
    got = two_stage_topk(df, "v", qv, 3, "L2", id_col="id", candidate_multiple=1,
                         coarse_dims=2).collect()
    assert want == [6, 1, 2]
    assert [r["id"] for r in got] == want


def test_two_stage_cosine_zero_coarse_prefix_under_ansi(spark, sql_conf):
    """Under ANSI a zero coarse prefix has no Cosine distance, where it
    raised DIVIDE_BY_ZERO: a zero coarse query ranks by the full vectors, a
    zero-prefix row ranks after the rows that have a coarse distance, and
    both searches equal vector_topk."""
    df = spark.createDataFrame([(1, [0.0, 0.0, 1.0]), (2, [1.0, 0.0, 1.0])],
                               "id int, v array<double>")
    sql_conf(**{"spark.sql.ansi.enabled": "true"})
    for qv in ([0.0, 0.0, 1.0], [1.0, 0.0, 1.0]):
        want = vector_topk(df, "v", qv, 2, "Cosine", id_col="id").collect()
        got = two_stage_topk(df, "v", qv, 2, "Cosine", id_col="id",
                             coarse_dims=2).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert len(want) == 2


def test_metric_names_are_case_insensitive(spark):
    """distance() accepts "ip" as "IP"; the top-k order must follow it (a
    lower-case IP search ranked the smallest inner products first)."""
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [3.0, 1.0]), (3, [-2.0, 0.5])],
                               "id int, v array<double>")
    for fn in (vector_topk, two_stage_topk):
        got = {m: [r["id"] for r in fn(df, "v", [1.0, 0.0], 3, m, id_col="id").collect()]
               for m in ("IP", "ip")}
        assert got["ip"] == got["IP"] == [2, 1, 3], fn.__name__


# -- the distance kernel -----------------------------------------------------

def _fold_oracle(metric, a, q):
    """Sequential float64 fold, left to right from 0.0: the kernel's order."""
    if metric == "L2Norm":
        return math.sqrt(_sum(x * x for x in a))
    if metric == "Linf":
        acc = 0.0
        for x, y in zip(a, q):
            v = abs(x - y)
            if math.isnan(v) or (not math.isnan(acc) and v > acc):  # Spark: NaN is largest
                acc = v
        return acc
    if metric in ("L2", "L2Squared"):
        s = _sum((x - y) * (x - y) for x, y in zip(a, q))
        return math.sqrt(s) if metric == "L2" else s
    if metric == "L1":
        return _sum(abs(x - y) for x, y in zip(a, q))
    dot = _sum(x * y for x, y in zip(a, q))
    if metric == "IP":
        return dot
    return 1.0 - dot / (math.sqrt(_sum(x * x for x in a)) * math.sqrt(_sum(y * y for y in q)))


def _sum(terms):
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def _same_bits(a, b):
    return (math.isnan(a) and math.isnan(b)) or struct.pack(">d", a) == struct.pack(">d", b)


def _kernel_inputs():
    rng = np.random.default_rng(2024)
    d = 64
    rows = [rng.standard_normal(d).tolist() for _ in range(12)]
    special = [1e308, -1e308, float("nan"), float("inf"), float("-inf"), -0.0,
               5e-324, -2.5e-320, 1e-310]
    for i, s in enumerate(special):
        r = rng.standard_normal(d).tolist()
        r[i * 7 % d] = s
        r[(i * 7 + 3) % d] = s
        rows.append(r)
    rows.append([1e308] * d)
    rows.append([5e-324] * d)  # all squares underflow: no Cosine distance
    rows.append([-0.0] * d)
    q = rng.standard_normal(d).tolist()
    q[5], q[6], q[7] = -0.0, 5e-324, 1e20
    return [(i + 1, r) for i, r in enumerate(rows)], q


_KERNEL_SQL = {"L2": "L2Distance", "L2Squared": "L2SquaredDistance", "IP": "dotProduct",
               "Cosine": "cosineDistance", "L2Norm": "L2Norm"}


@pytest.mark.parametrize("metric", ["L2", "L2Squared", "Cosine", "IP", "L1", "Linf", "L2Norm"])
def test_distance_entry_points_equal_sequential_fold(spark, metric):
    """Every Spark-side distance entry point equals a sequential float64
    fold bit for bit (NaN as NaN) on rows with ±1e308, NaN, ±inf, -0.0 and
    subnormal elements, over the rows whose distance is defined."""
    from myscaledb_spark.functions import vector as V
    from myscaledb_spark.operators.similarity import cosine_neardup_pairs
    from myscaledb_spark.sql_dialect import ch_sql

    rows, q = _kernel_inputs()
    want = {}
    for i, r in rows:
        if metric == "Cosine" and _fold_oracle("L2Norm", r, q) == 0.0:
            continue  # zero divisor: no distance
        want[i] = _fold_oracle(metric, r, q)
    df = (spark.createDataFrame([(i, r, q) for i, r in rows],
                                "id int, v array<double>, q array<double>")
          .filter(F.col("id").isin(list(want))))
    builders = {"L2": V.l2_distance, "L2Squared": V.l2_squared_distance,
                "Cosine": V.cosine_distance, "IP": V.ip_distance,
                "L1": V.l1_distance, "Linf": V.linf_distance}
    if metric == "L2Norm":
        cols = {"vector_norm": V.vector_norm("v")}
    else:
        cols = {"distance": V.distance("v", q, metric), "named": builders[metric]("v", q)}
    got = {(name, r["id"]): r[name] for r in df.select("id", *[c.alias(n) for n, c in cols.items()])
           .collect() for name in cols}
    if metric in _KERNEL_SQL:
        df.createOrReplaceTempView("kernel_pin")
        fns = [_KERNEL_SQL[metric]] + (["distance"] if metric == "L2Squared" else [])
        for fn in fns:
            sql = (f"SELECT id, {fn}(v) AS d FROM kernel_pin" if metric == "L2Norm"
                   else f"SELECT id, {fn}(v, q) AS d FROM kernel_pin")
            got.update({(fn, r["id"]): r["d"] for r in ch_sql(spark, sql).collect()})
    if metric in ("L2", "L2Squared", "IP", "Cosine"):
        batch = batch_vector_topk(df, "v", [q], len(rows), metric, id_col="id").collect()
        got.update({("batch", r["id"]): r["dist"] for r in batch})
        assert {i for (n, i) in got if n == "batch"} == set(want)
    for (name, i), d in got.items():
        assert _same_bits(d, want[i]), (metric, name, i, d, want[i])

    if metric == "Cosine":
        # cosine_neardup_pairs' similarity dot / (‖a‖·‖b‖), rounded to 4
        # places as Spark rounds a double: HALF_UP on its decimal form,
        # which has no negative zero (+ 0.0)
        from decimal import ROUND_HALF_UP, Decimal

        vecs = dict(rows)
        pairs = cosine_neardup_pairs(df, "v", "id", -2.0).collect()  # NaN sorts above -2.0
        for p in pairs:
            a, b = vecs[p["id_a"]], vecs[p["id_b"]]
            sim = _sum(x * y for x, y in zip(a, b)) / (
                math.sqrt(_sum(x * x for x in a)) * math.sqrt(_sum(y * y for y in b)))
            if not math.isnan(sim):
                sim = float(Decimal(repr(sim)).quantize(Decimal("0.0001"), ROUND_HALF_UP)) + 0.0
            assert _same_bits(p["cos_sim"], sim), p
        ids = sorted(want)
        assert sorted((p["id_a"], p["id_b"]) for p in pairs) == [
            (a, b) for a in ids for b in ids if a < b]


def test_distance_folds_live_in_vector_py():
    """Source guard: no distance or norm fold is written out under
    myscaledb_spark/ outside functions/vector.py, and every dialect
    distance template is the kernel's text."""
    import os
    import re

    from myscaledb_spark import sql_dialect
    from myscaledb_spark.functions.vector import distance_sql

    pair = r"\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*"
    folds = [
        re.compile(pair + r"\(\1 - \2\) \* \(\1 - \2\)"),            # (x - y) * (x - y)
        re.compile(pair + r"(?:F\.)?abs\(\1 - \2\)"),                 # abs(x - y)
        re.compile(pair + r"\1 \+ \2 \* \2\b"),                       # acc + v * v
        re.compile(r"aggregate\( ?(?:F\.)?zip_with\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*?"
                   + pair + r"\1 \* \2 ?\)"),                         # x * y summed
    ]
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "myscaledb_spark")
    stray = []
    for d, _, fs in os.walk(pkg):
        for f in fs:
            path = os.path.join(d, f)
            if not f.endswith(".py") or os.path.relpath(path, pkg) == os.path.join(
                    "functions", "vector.py"):
                continue
            src = open(path, encoding="utf-8").read()
            # one form for Python and SQL lambdas, whitespace collapsed
            src = re.sub(r"\s+", " ", re.sub(r"lambda (\w+), (\w+):", r"(\1, \2) ->", src))
            stray += [f"{os.path.relpath(path, pkg)}: {m.group(0)[-60:]}"
                      for rx in folds for m in rx.finditer(src)]
    assert not stray, stray

    row, query = "cast({0} as array<double>)", "cast({1} as array<double>)"
    for name, metric in [("distance", "L2Squared"), ("L2Distance", "L2"),
                         ("L2SquaredDistance", "L2Squared"), ("dotProduct", "IP"),
                         ("arrayDotProduct", "IP"), ("cosineDistance", "Cosine"),
                         ("L2Norm", "L2Norm")]:
        assert sql_dialect.TEMPLATES[name] == distance_sql(metric, row, query), name
    assert sql_dialect.PARAMETRIC["distance"] == distance_sql(
        "L2Squared", "cast({a0} as array<double>)", "cast({a1} as array<double>)")
