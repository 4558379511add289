"""Top-k vector search operators — the reference's `distance()` /
`batch_distance()` query shapes as DataFrame plans.

Reference semantics being replicated:
  - `SELECT ..., distance(vec, [q...]) AS d FROM t [WHERE p] ORDER BY d LIMIT k`
    — top-k is *extracted from LIMIT* and required
    (`src/Interpreters/TreeRewriter.cpp:1670-1680`); ORDER BY direction must
    match the metric (ASC for L2/Cosine, DESC for IP —
    `tests/.../00027_mqvs_check_order_by_for_metric_type.sql`); result window
    capped at `max_search_result_window = 10000` (`src/Core/Settings.h:923`).
  - Filtered search evaluates WHERE *before* candidate generation
    (`src/VectorIndex/Storages/MergeTreeSelectWithHybridSearchProcessor.cpp:812-860`)
    — in the exact Spark path `df.filter(p)` before the distance/top-k is both
    the same semantics and the optimal plan (predicate pushes to the scan).
  - `batch_distance(vec, [q1..qm])` returns per-query top-n via `LIMIT n BY`
    (`TreeRewriter.cpp:1674-1677`, test `00002_mqvs_batch_distance.sh`).
  - Two-stage search (candidates k×multiple, exact re-rank) —
    `MergeTreeVSManager.cpp:443-456`, `hybrid_search_top_k_multiple_base`
    (`src/Core/Settings.h:921`).

Scale notes (100 TB): the exact path is a single narrow scan → per-partition
TakeOrderedAndProject(k) → driver/final merge of 32..10k candidate rows — no
shuffle of the full table, no UDF. Catalyst turns `orderBy(d).limit(k)` into
exactly the per-part top-k + global merge the reference implements by hand
(§3.2.5). Filters push down to parquet row-group pruning before any distance
is computed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from myscaledb_spark.errors import (
    InvalidSearchQuery,
    MAX_SEARCH_RESULT_WINDOW,
)
from myscaledb_spark.functions.vector import (
    METRIC_ASCENDING,
    canonical_metric,
    distance,
    distance_defined,
    double_array_sql,
    query_norm,
    row_defined,
)


def _validate_k(k: int) -> None:
    if k is None or k <= 0:
        # reference: top-k comes from LIMIT and is mandatory (TreeRewriter.cpp:1670)
        raise InvalidSearchQuery("vector search requires a positive LIMIT (top-k)")
    if k > MAX_SEARCH_RESULT_WINDOW:
        raise InvalidSearchQuery(
            f"LIMIT {k} exceeds max_search_result_window={MAX_SEARCH_RESULT_WINDOW}"
        )


def _order(dist_col: Column, id_col: Column | None, metric: str):
    asc = METRIC_ASCENDING[canonical_metric(metric)]
    key = dist_col.asc() if asc else dist_col.desc()
    # deterministic tie-break so results are stable across partitionings
    return [key, id_col.asc()] if id_col is not None else [key]


def vector_topk(
    df: DataFrame,
    vec_col: str,
    qvec: Sequence[float],
    k: int,
    metric: str = "L2",
    where: Column | None = None,
    id_col: str | None = None,
    dist_name: str = "dist",
) -> DataFrame:
    """Exact (brute-force) top-k — the always-correct path and the oracle for
    every accelerated path. Equivalent reference path: brute-force fallback
    `MergeTreeVSManager.cpp:382-408` / `vectorScanWithoutIndex`."""
    _validate_k(k)
    if where is not None:
        df = df.filter(where)  # pre-filtered search: filter BEFORE candidates
    # NULL/malformed vectors make the distance NULL; ascending sort would
    # put them FIRST and crowd out real neighbors — drop them (the
    # reference skips rows its index cannot embed).  The guard is the cheap
    # structural predicate, NOT isnotnull(dist): a filter on the projected
    # distance is pushed below the Project and re-evaluates the whole O(d)
    # aggregate a second time per row (guide §7.2 duplicated subtrees).
    scored = df.filter(distance_defined(vec_col, qvec, metric)).withColumn(
        dist_name, distance(vec_col, qvec, metric)
    )
    order = _order(F.col(dist_name), F.col(id_col) if id_col else None, metric)
    return scored.orderBy(*order).limit(k)


def batch_vector_topk(
    df: DataFrame,
    vec_col: str,
    qvecs: Sequence[Sequence[float]],
    n_by_query: int,
    metric: str = "L2",
    where: Column | None = None,
    id_col: str | None = None,
    dist_name: str = "dist",
    query_id_name: str = "query_id",
) -> DataFrame:
    """`batch_distance` — per-query top-n over m query vectors.

    Plan: broadcast the (tiny) query set as an array literal, explode it per
    row (m small → row amplification is bounded and stays in codegen), then
    per-query top-n via a ranked window partitioned by query id. One shuffle
    on query_id — at scale prefer m modest (reference sweeps nq up to 10k;
    for huge nq the same plan still holds, shuffle is by query_id so it
    parallelizes across executors).
    """
    _validate_k(n_by_query)
    if not qvecs:
        raise InvalidSearchQuery("batch_distance requires at least one query vector")
    m = canonical_metric(metric)
    if m not in ("L2", "L2Squared", "IP", "Cosine"):
        raise InvalidSearchQuery(f"batch_distance: unsupported metric {metric!r}")
    if where is not None:
        df = df.filter(where)
    queries = F.expr("array(" + ", ".join(
        f"named_struct('id', {i}, 'qv', {double_array_sql(q)})" for i, q in enumerate(qvecs)
    ) + ")")
    # vector_topk's distance_defined rule per (row, query): unguarded, an
    # undefined distance ranked FIRST with a NULL dist (or raised
    # DIVIDE_BY_ZERO under ANSI).  The row-only conjuncts are pushed below
    # the explode.
    exploded = df.withColumn("_q", F.explode(queries)).filter(
        distance_defined(vec_col, "_q.qv", m)
    )
    d = distance(vec_col, "_q.qv", m)
    scored = exploded.withColumn(dist_name, d).withColumn(
        query_id_name, F.col("_q.id")
    ).drop("_q")
    asc = METRIC_ASCENDING[m]
    order = [F.col(dist_name).asc() if asc else F.col(dist_name).desc()]
    if id_col:
        order.append(F.col(id_col).asc())
    w = Window.partitionBy(query_id_name).orderBy(*order)
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_by_query)
        .drop("_rn")
    )


def batch_vector_topk_large(
    df: DataFrame,
    vec_col: str,
    qvecs: Sequence[Sequence[float]],
    n_by_query: int,
    metric: str = "L2",
    id_col: str | None = None,
    dist_name: str = "dist",
    query_id_name: str = "query_id",
    where: Column | None = None,
) -> DataFrame:
    """batch_distance for LARGE query sets (reference suite 3: nq=10000).

    The explode plan (`batch_vector_topk`) amplifies rows ×nq — wrong shape
    beyond ~100 queries. This path broadcasts the query matrix and computes a
    blocked numpy GEMM per Arrow batch inside mapInPandas, emitting only each
    batch's per-query top-n candidates (rows out ≤ n·nq per partition, NOT
    rows×nq); a final per-query window takes the global top-n. This is the
    reference's "batch_distance" execution shape: one scan, matrix kernels,
    partition-local top-k then merge (MergeTreeVSManager.cpp batch branch).
    """
    import numpy as np
    import pandas as pd

    _validate_k(n_by_query)
    if not qvecs:
        raise InvalidSearchQuery("batch_distance requires at least one query vector")
    metric = canonical_metric(metric)
    m = metric.lower()
    if m not in ("l2", "l2squared", "ip", "cosine"):
        raise InvalidSearchQuery(f"batch_distance: unsupported metric {metric!r}")
    if where is not None:
        df = df.filter(where)  # pre-filter before candidate generation
    # distance_defined's rule: the row side filters before the Python
    # stage; a zero-norm Cosine query has no rows
    df = df.filter(row_defined(vec_col, len(qvecs[0]), metric))
    keep = [i for i, q in enumerate(qvecs) if m != "cosine" or query_norm(q) != 0.0]

    Q = np.asarray([qvecs[i] for i in keep], dtype=np.float64).reshape(len(keep), -1)
    if m == "cosine":
        qn = np.linalg.norm(Q, axis=1)
    qids = np.asarray(keep, dtype=np.int32)
    nq = Q.shape[0]
    n = n_by_query
    idc = id_col or df.columns[0]

    out_schema = StructType(
        [
            StructField(query_id_name, IntegerType()),
            StructField("_cand_id", LongType()),
            StructField(dist_name, DoubleType()),
        ]
    )

    def _partition_topn(batches):
        for pdf in batches:
            if pdf.empty or not nq:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # (b, d)
            ids = pdf[idc].to_numpy()
            if m == "ip":
                D = X @ Q.T  # larger better
                order_sign = -1.0
            elif m == "cosine":
                D = 1.0 - (X @ Q.T) / np.outer(np.linalg.norm(X, axis=1), qn)
                order_sign = 1.0
            else:
                x2 = (X * X).sum(axis=1)[:, None]
                q2 = (Q * Q).sum(axis=1)[None, :]
                D = x2 + q2 - 2.0 * (X @ Q.T)
                np.maximum(D, 0.0, out=D)
                if m == "l2":
                    np.sqrt(D, out=D)
                order_sign = 1.0
            take = min(n, D.shape[0])
            # per-query partial top-n within this batch
            part = np.argpartition(order_sign * D, take - 1, axis=0)[:take]  # (take, nq)
            col = np.repeat(np.arange(nq), take)
            rows = part.T.reshape(-1)  # [q0's top rows..., q1's top rows...]
            yield pd.DataFrame(
                {
                    query_id_name: qids[col],
                    "_cand_id": ids[rows].astype(np.int64),
                    dist_name: D[rows, col],
                }
            )

    cands = df.select(idc, vec_col).mapInPandas(_partition_topn, out_schema)
    asc = METRIC_ASCENDING[metric]
    order = [F.col(dist_name).asc() if asc else F.col(dist_name).desc(), F.col("_cand_id").asc()]
    w = Window.partitionBy(query_id_name).orderBy(*order)
    return (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_by_query)
        .drop("_rn")
        .withColumnRenamed("_cand_id", idc)
    )


def two_stage_topk(
    df: DataFrame,
    vec_col: str,
    qvec: Sequence[float],
    k: int,
    metric: str = "L2",
    where: Column | None = None,
    id_col: str | None = None,
    candidate_multiple: int = 3,
    coarse_dims: int | None = None,
    dist_name: str = "dist",
) -> DataFrame:
    """Two-stage search: stage 1 ranks k×multiple candidates with a *cheaper*
    representation (dimension-truncated vectors ≈ the reference's compressed
    first stage), stage 2 re-ranks candidates exactly and takes top-k.

    Mirrors `MergeTreeVSManager.cpp:443-456` + test `00035_mqvs_two_stage_search.sql`
    (num_candidates = k × hybrid_search_top_k_multiple_base, Settings.h:921).
    Because stage 2 is exact over a candidate superset that is itself ranked by
    a correlated proxy, small-data results equal exact top-k; at 100 TB stage 1
    is where an ANN index artifact plugs in (see plans/vector_index.py).
    """
    _validate_k(k)
    if where is not None:
        df = df.filter(where)
    ncand = min(max(k * candidate_multiple, k), MAX_SEARCH_RESULT_WINDOW)
    qcoarse = list(qvec)[:coarse_dims or 0]
    if qcoarse and not (canonical_metric(metric) == "Cosine" and query_norm(qcoarse) == 0.0):
        # a row without a full distance has a NULL coarse one, which ranked
        # first and filled the candidate set only for stage 2 to drop it; a
        # row whose prefix has no coarse distance (a zero Cosine divisor)
        # ranks after every row that has one.  A query whose prefix has
        # none ranks by the full vectors below.
        coarse = F.slice(F.col(vec_col).cast("array<double>"), 1, coarse_dims)
        stage1 = df.filter(distance_defined(vec_col, qvec, metric)).withColumn("_coarse", coarse)
        stage1 = stage1.withColumn("_cd", F.when(
            distance_defined("_coarse", qcoarse, metric), distance("_coarse", qcoarse, metric)
        ))
        asc = METRIC_ASCENDING[canonical_metric(metric)]
        order = [F.col("_cd").asc_nulls_last() if asc else F.col("_cd").desc_nulls_last()]
        if id_col:
            order.append(F.col(id_col).asc())
        cands = stage1.orderBy(*order).limit(ncand).drop("_coarse", "_cd")
    else:
        cands = vector_topk(df, vec_col, qvec, ncand, metric, None, id_col, dist_name).drop(
            dist_name
        )
    return vector_topk(cands, vec_col, qvec, k, metric, None, id_col, dist_name)
