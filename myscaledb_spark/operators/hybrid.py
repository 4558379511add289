"""Hybrid search — vector + text candidate generation fused with RSF / RRF.

Reference parity (`src/VectorIndex/Utils/HybridSearchUtils.cpp`):
  - single-node: both searches run with the query's top-k, then fuse, then
    top-k DESC (`MergeTreeHybridSearchManager.cpp:114-151`); the ×3
    `hybrid_search_top_k_multiple_base` (`Settings.h:921`) is the
    distributed shard fan-in only. The fused vector score is faiss
    METRIC_L2 — SQUARED L2 (00040_mqvs_hybrid_search.reference).
  - RRF (RankFusion, HybridSearchUtils.cpp:163-209):
        score = Σ over lists containing the row of 1 / (fusion_k + rank),
    rank 1-based within each candidate list; fusion_k default 60
    (`Settings.h:920`).
  - RSF (RelativeScoreFusion, HybridSearchUtils.cpp:211-314):
        min-max normalize each list's scores (all-equal list → 1.0);
        fused = norm_bm25 * w + dist_part * (1-w), where dist_part is
        norm_dist for DESC metrics (IP) and (1 - norm_dist) for ASC metrics
        (L2/Cosine); w = fusion_weight default 0.5 (`Settings.h:919`).

Spark design: candidate generation is where all the data-scale work
happens, and it reuses the single-search primitives.  The default path
(`hybrid_search`) runs the exact distance top-k′ and `text_search` in numpy
over the driver snapshot that text search keeps, with no Spark job, and
streams both legs over a corpus too large for one; the indexed path
(`hybrid_search_indexed`) takes its vector leg from any registered ANN
index (`ddl.search_index`) and its text leg from the FTS artifact — with
no Spark job when both artifacts are held on the driver; the SQL
hybridsearch shapes (`sql_search`) build their own legs, per part where the
table has several.  Every path fuses
through `_fuse_local` on the driver, as the reference fuses in memory on
one node; `fuse_candidates` first collects Spark legs in one tagged-union
job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.functions.text import _snapshot, text_search, tokenize_query
from myscaledb_spark.functions.vector import METRIC_ASCENDING
from myscaledb_spark.resident import mark_served
from myscaledb_spark.session import (
    _sort_key, collect_small, local_relation, local_rows, spark_order,
)

DEFAULT_FUSION_K = 60  # src/Core/Settings.h:920
DEFAULT_FUSION_WEIGHT = 0.5  # src/Core/Settings.h:919
#: single-node hybrid runs each leg with the query's LIMIT k
#: (00040_mqvs_hybrid_search.reference arithmetic: exactly k vector
#: candidates enter the fusion); the ×3 `hybrid_search_top_k_multiple_base`
#: (Settings.h:921) applies only to the DISTRIBUTED shard fan-in
#: (HybridSearchUtils.cpp:31 replaceLimitAST), where each shard over-returns
#: before the global re-fuse — Spark's single plan has no such split.
DEFAULT_CANDIDATE_MULTIPLE = 1


def hybrid_search(
    df: DataFrame,
    vec_col: str,
    text_col: str,
    qvec: Sequence[float],
    qtext: str,
    k: int,
    id_col: str,
    fusion_type: str = "rsf",
    metric: str = "L2",
    fusion_weight: float = DEFAULT_FUSION_WEIGHT,
    fusion_k: int = DEFAULT_FUSION_K,
    candidate_multiple: int = DEFAULT_CANDIDATE_MULTIPLE,
    tokenizer: str = "simple",
    score_name: str = "fusion_score",
    artifact_dir: str | None = None,
    index_name: str = "ivf",
    fts_name: str = "fts",
    **search_params,
) -> DataFrame:
    """`hybridsearch('fusion_type=rsf|rrf')(vec, text, qvec, 'qtext')` top-k.

    Returns df rows (by id) with `fusion_score`, ordered DESC, limit k.

    When ``artifact_dir`` holds BUILT vector + fts index records, the query
    routes through ``hybrid_search_indexed`` automatically (zero corpus
    scans) — the reference's transparent index use once the table declares
    one; a missing/unbuilt artifact, or a FLAT vector record (no artifact),
    falls back to the single-scan default, which is exact.

    Plan shape: both legs read the driver snapshot that ``text_search``
    keeps (``text._snapshot``, ``resident.py``) — the reference runs both
    searches against resident index structures (MergeTreeHybridSearchManager
    .cpp:114-151).  The snapshot answers both legs in numpy —
    ``vector_topk``'s and ``text_search``'s rows, bit for bit — and
    ``_fuse_local`` fuses them: no Spark job.  A corpus above
    ``session.DRIVER_RESIDENT_BYTES``, and a filtered frame without an
    entry (a WHERE per query), stream both legs from ``df``, the text leg
    with its stats pass over the filtered rows; ``fuse_candidates``
    collects both legs in ONE job and fuses them driver-side over the two
    ≤k′-row lists — result-scale, never data-scale.  The indexed variant
    (`hybrid_search_indexed`) is the no-corpus-scan scale path.
    """
    from myscaledb_spark.operators.topk import _validate_k, vector_topk

    ft = fusion_type.lower()
    if ft not in ("rsf", "rrf"):
        raise InvalidSearchQuery(f"fusion_type must be rsf|rrf, got {fusion_type!r}")
    if k is None or k <= 0:
        raise InvalidSearchQuery("hybrid search requires a positive LIMIT (top-k)")
    if artifact_dir is not None:
        from myscaledb_spark.plans.vector_index import IndexRegistry

        reg = IndexRegistry(artifact_dir)
        vrec = reg.get(index_name)
        # a FLAT record has no artifact: the exact path below serves it
        if (
            reg.is_built(vrec) and reg.is_built(reg.get(fts_name))
            and vrec.get("index_type") != "FLAT"
        ):
            return hybrid_search_indexed(
                df.sparkSession, artifact_dir, None, None, qvec, qtext, k,
                id_col, index_name=index_name,
                fts_name=fts_name, fusion_type=ft, metric=metric,
                fusion_weight=fusion_weight, fusion_k=fusion_k,
                candidate_multiple=candidate_multiple, tokenizer=tokenizer,
                score_name=score_name, **search_params,
            )
    kprime = k * candidate_multiple
    _validate_k(kprime)

    # looked up here and passed to the text leg.  A filtered frame (the SQL
    # path filters by WHERE first) gets no new entry: one per literal would
    # collect every filtered copy and evict other corpora, so it streams
    # unless something else made it resident
    res = _snapshot(df, create=False)
    if res is None and not _filtered(df):
        res = _snapshot(df)
    if res is not None:
        # both legs and the fusion in numpy, no Spark job
        vec = res.nearest(vec_col, qvec, kprime, metric, id_col)
        terms = tokenize_query(qtext, tokenizer)
        if vec is not None and terms:
            txt = res.bm25_top(text_col, terms, kprime, id_col, tokenizer)
            legs = [list(zip(res.values(id_col, pos), scores)) for pos, scores in (vec, txt)]
            mark_served()
            return _fuse_local(
                df.sparkSession, df.schema[id_col].dataType, *legs, k, id_col,
                ft, metric, fusion_weight, fusion_k, score_name,
            )
        res = None
    vec_cand = vector_topk(
        df, vec_col, qvec, kprime, metric, id_col=id_col, dist_name="_vdist"
    ).select(id_col, "_vdist")
    txt_cand = text_search(
        df, text_col, qtext, kprime, id_col, tokenizer, score_name="_bm25",
        resident=res,
    ).select(id_col, "_bm25")
    return fuse_candidates(
        vec_cand, txt_cand, k, id_col, ft, metric, fusion_weight, fusion_k,
        score_name,
    )


def _filtered(df: DataFrame) -> bool:
    """Whether ``df``'s analyzed plan filters rows (True when unknown)."""
    try:
        jvm = df.sparkSession._jvm
        pattern = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.FILTER()
        return bool(df._jdf.queryExecution().analyzed().containsPattern(pattern))
    except Exception:
        return True


def _collect_legs(vec_cand: DataFrame, txt_cand: DataFrame, id_col: str,
                  part_col: str | None = None):
    """(id type, [(id, _vdist[, part])], [(id, _bm25[, part])]) of two
    candidate frames.  When both legs plan to a local relation (a search
    answered on the driver), their rows are read with
    ``session.local_rows``: no job.  Otherwise ONE job collects them: the
    legs are tiny top-k subtrees, and collecting them separately paid two
    job schedulings and two py4j round trips per query.  A tagged union
    keeps each leg's own top-k (rows are re-split by the tag), so the two
    lists are exactly what two collects return.  Below the small-input gate
    the job runs with AQE off and one shuffle partition, in a clone of the
    session (``session.collect_small``): AQE's per-stage re-planning jobs
    cost more than a ≤2k′-row result's whole data path, and the caller's
    session is never written, so clients sharing it run their legs
    concurrently.  Above the gate the adaptive plan runs unchanged."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    id_type = vec_cand.schema[id_col].dataType
    part = [F.col(part_col)] if part_col else []
    legs = [
        vec_cand.select(F.col(id_col).alias("_id"), F.col("_vdist").alias("_score"),
                        F.lit(0).alias("_leg"), *part),
        txt_cand.select(F.col(id_col).cast(id_type).alias("_id"),
                        F.col("_bm25").alias("_score"), F.lit(1).alias("_leg"), *part),
    ]
    local = [local_rows(leg) for leg in legs]
    if any(t is None for t in local):
        tagged = legs[0].unionAll(legs[1])
        rows = collect_small(tagged, **{"spark.sql.shuffle.partitions": "1"})
        if rows is None:
            rows = tagged.collect()
    else:
        rows = [r for t, leg in zip(local, legs)
                for r in ArrowTableToRowsConversion.convert(t, leg.schema)]
    split: tuple = ([], [])
    for r in rows:
        split[r[2]].append((r[0], r[1], *r[3:]))
    return id_type, split[0], split[1]


def _spark_ordered(rows: list, descending: bool) -> list:
    """(id, score) rows by score, then id ascending, in Spark's order
    (``session.spark_order``)."""
    order = spark_order(len(rows), [([r[1] for r in rows], descending),
                                    ([r[0] for r in rows], False)])
    return [rows[i] for i in order]


def _rrf_scores(rows: list, ascending: bool, fusion_k: int) -> dict:
    """id → 1 / (fusion_k + rank), rank 1-based in the list's score order."""
    return {
        i: 1.0 / (float(fusion_k) + rank)
        for rank, (i, _) in enumerate(_spark_ordered(rows, not ascending), start=1)
    }


def _rsf_scores(rows: list, ascending: bool, weight: float) -> dict:
    """id → min-max normalized score × weight; an all-equal list (NaN equals
    NaN, as in Spark) normalizes to 1.0 (HybridSearchUtils.cpp:296-302), and
    an ascending metric scores 1 - norm.  Spark's min/max skip NULLs and put
    NaN above every double; a NULL score adds 0.0, as a missing leg does."""
    present = [s for _, s in rows if s is not None]
    mn = min(present, key=_sort_key, default=None)
    mx = max(present, key=_sort_key, default=None)
    out = {}
    for i, s in rows:
        if mn is None:
            nrm = None
        elif _sort_key(mx) == _sort_key(mn):
            nrm = 1.0
        else:
            nrm = None if s is None else (s - mn) / (mx - mn)
        if nrm is not None and ascending:
            nrm = 1.0 - nrm
        out[i] = 0.0 if nrm is None else nrm * weight
    return out


def _fuse_local(
    spark,
    id_type,
    vec_rows: list,
    txt_rows: list,
    k: int,
    id_col: str,
    fusion_type: str = "rsf",
    metric: str = "L2",
    fusion_weight: float = DEFAULT_FUSION_WEIGHT,
    fusion_k: int = DEFAULT_FUSION_K,
    score_name: str = "fusion_score",
) -> DataFrame:
    """RSF/RRF over collected (id, score[, part]) candidate lists: ranks and
    normalization per part, one fused score per id (a missing leg adds
    0.0), then the global top-k by (score DESC, id ASC) as a
    ``session.local_relation`` of any id type.  Every id lives in exactly
    one part."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.types import DoubleType, StructField, StructType

    asc = METRIC_ASCENDING.get(metric, True)
    parts: dict = {}
    for leg, rows in enumerate((vec_rows, txt_rows)):
        for r in rows:
            parts.setdefault(r[2] if len(r) > 2 else None, ([], []))[leg].append(r[:2])
    vs: dict = {}
    ts: dict = {}
    for vec, txt in parts.values():
        if metric.upper() == "L2":
            # the reference fuses faiss METRIC_L2 scores, i.e. SQUARED L2
            # (00040_mqvs_hybrid_search.reference: id0 norm = 1 - 3/27 over
            # squared candidate distances). Ranking is unchanged (monotone),
            # but RSF min-max normalization is not — square before it.
            vec = [(i, None if d is None else d * d) for i, d in vec]
        if fusion_type == "rrf":
            vs.update(_rrf_scores(vec, asc, fusion_k))
            ts.update(_rrf_scores(txt, False, fusion_k))
        else:
            vs.update(_rsf_scores(vec, asc, 1.0 - fusion_weight))
            ts.update(_rsf_scores(txt, False, float(fusion_weight)))
    fused = [(i, vs.get(i, 0.0) + ts.get(i, 0.0)) for i in {**vs, **ts}]
    top = _spark_ordered(fused, descending=True)[:k]
    schema = StructType([StructField(id_col, id_type), StructField(score_name, DoubleType())])
    # the ids are Python values as Spark collects them (a naive datetime is
    # local time): PySpark's own local-data converter reads them back
    table = LocalDataToArrowConversion.convert(top, schema, False) if top else None
    return local_relation(spark, schema, table)


def fuse_candidates(
    vec_cand: DataFrame,
    txt_cand: DataFrame,
    k: int,
    id_col: str,
    fusion_type: str = "rsf",
    metric: str = "L2",
    fusion_weight: float = DEFAULT_FUSION_WEIGHT,
    fusion_k: int = DEFAULT_FUSION_K,
    score_name: str = "fusion_score",
    part_col: str | None = None,
) -> DataFrame:
    """Fuse candidate lists vec_cand(id, _vdist) and txt_cand(id, _bm25) →
    top-k (id, score_name) by RSF/RRF — the engine's one fusion, whether
    the candidates come from brute force, an ANN index, the FTS artifact or
    a SQL shape.  ONE job collects both legs (``_collect_legs``); the
    fusion runs on the driver over the ≤k′-row lists, as the reference
    fuses in memory on one node (HybridSearchUtils.cpp:163-314,
    MergeTreeHybridSearchManager.cpp:114-151).  Scores order as Spark
    orders them: NaN above every double, NaN equal to NaN, -0.0 equal to
    0.0.  ``part_col`` scopes ranking and normalization to each data part
    (candidates must carry it in BOTH frames; every id lives in exactly one
    part); the merge across parts is by fused score.  The result is a
    local relation (``_fuse_local``): collecting it runs no job."""
    ft = fusion_type.lower()
    if ft not in ("rsf", "rrf"):
        raise InvalidSearchQuery(f"fusion_type must be rsf|rrf, got {fusion_type!r}")
    id_type, vec_rows, txt_rows = _collect_legs(vec_cand, txt_cand, id_col, part_col)
    return _fuse_local(
        vec_cand.sparkSession, id_type, vec_rows, txt_rows, k,
        id_col, ft, metric, fusion_weight, fusion_k, score_name,
    )


def hybrid_search_indexed(
    spark,
    artifact_dir: str,
    df: DataFrame | None,
    text_col: str | None,
    qvec: Sequence[float],
    qtext: str,
    k: int,
    id_col: str,
    index_kind: str = "ivf",
    index_name: str | None = None,
    fts_name: str | None = None,
    fusion_type: str = "rsf",
    metric: str = "L2",
    fusion_weight: float = DEFAULT_FUSION_WEIGHT,
    fusion_k: int = DEFAULT_FUSION_K,
    candidate_multiple: int = DEFAULT_CANDIDATE_MULTIPLE,
    tokenizer: str = "simple",
    score_name: str = "fusion_score",
    **search_params,
) -> DataFrame:
    """Hybrid search with ANN-index vector candidates — the reference's real
    shape (MergeTreeHybridSearchManager drives the part-level vector INDEX
    plus the tantivy text index, then fuses). Vector candidates come from
    the registered index ``index_name`` (default: the name ``index_kind``)
    through ``ddl.search_index``, so the record's type picks the searcher —
    IVF, PQ, SQ, HNSW or MSTG (partition-pruned / compressed / graph search
    instead of a full scan; FLAT needs ``df`` and ``vec_col=``); text
    candidates from the FTS postings artifact when ``fts_name`` is given
    (term-pruned postings scan, `plans/fts_index.py` — then NO query
    touches the corpus at all, vs the default path's scan of the resident
    corpus), else direct BM25 over ``df``. Fusion is identical to
    hybrid_search. search_params pass through to the searcher (nprobe=,
    ef_search=, probe_top=, vec_col=...). With exhaustive search params
    (nprobe=ncentroids) both candidate lists equal the brute-force lists
    bit-for-bit, which is how the driver gate pins this path to the same
    oracle as hybrid_search_rsf.
    """
    if k is None or k <= 0:
        raise InvalidSearchQuery("hybrid search requires a positive LIMIT (top-k)")
    from myscaledb_spark.plans.ddl import search_index

    kprime = k * candidate_multiple
    vec_cand = search_index(
        spark, artifact_dir, index_name or index_kind, qvec, kprime, df=df,
        id_col=id_col, metric=metric, **search_params,
    )
    vec_cand = vec_cand.select(F.col(id_col), F.col("dist").alias("_vdist"))
    if fts_name is not None:
        from myscaledb_spark.plans.fts_index import fts_search

        txt_cand = fts_search(
            spark, artifact_dir, qtext, kprime, name=fts_name, score_name="_bm25"
        ).select(F.col("doc_id").alias(id_col), "_bm25")
    else:
        if df is None or text_col is None:
            raise InvalidSearchQuery(
                "hybrid_search_indexed needs either fts_name or (df, text_col)"
            )
        txt_cand = text_search(
            df, text_col, qtext, kprime, id_col, tokenizer, score_name="_bm25"
        ).select(id_col, "_bm25")
    return fuse_candidates(
        vec_cand, txt_cand, k, id_col, fusion_type, metric, fusion_weight,
        fusion_k, score_name,
    )
