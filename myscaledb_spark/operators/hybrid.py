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
(`hybrid_search`) runs the exact distance top-k′ and `text_search` over the
resident tokenized corpus that text search keeps, with its complete BM25
statistics, and collects both legs in one tagged-union job
(`_collect_legs`); the indexed path (`hybrid_search_indexed`) takes its
vector leg from any registered ANN index (`ddl.search_index`) and its text
leg from the FTS artifact, and collects them the same way.  Fusion of the
two ≤k′-row lists runs on the driver (`_fuse_local`), as the reference
fuses in memory on one node; `fuse_candidates` is the DataFrame fusion for
per-part fusion and pre-built candidate frames.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.functions.text import _resident_toked, text_search
from myscaledb_spark.functions.vector import METRIC_ASCENDING
from myscaledb_spark.session import collect_small, values_relation

DEFAULT_FUSION_K = 60  # src/Core/Settings.h:920
DEFAULT_FUSION_WEIGHT = 0.5  # src/Core/Settings.h:919
#: single-node hybrid runs each leg with the query's LIMIT k
#: (00040_mqvs_hybrid_search.reference arithmetic: exactly k vector
#: candidates enter the fusion); the ×3 `hybrid_search_top_k_multiple_base`
#: (Settings.h:921) applies only to the DISTRIBUTED shard fan-in
#: (HybridSearchUtils.cpp:31 replaceLimitAST), where each shard over-returns
#: before the global re-fuse — Spark's single plan has no such split.
DEFAULT_CANDIDATE_MULTIPLE = 1


def _ranked(df: DataFrame, score_col: str, ascending: bool, id_col: str,
            part_col: str | None = None) -> DataFrame:
    order = [F.col(score_col).asc() if ascending else F.col(score_col).desc(), F.col(id_col).asc()]
    w = (Window.partitionBy(part_col) if part_col else Window).orderBy(*order)
    sel = [id_col, score_col] + ([part_col] if part_col else [])
    return df.select(*sel).withColumn("_rank", F.row_number().over(w))


def _minmax_norm(df: DataFrame, score_col: str, out_col: str,
                 part_col: str | None = None) -> DataFrame:
    """Min-max normalize; all-equal list → 1.0 (HybridSearchUtils.cpp:296-302).
    With ``part_col``, normalization is PER PART — the reference fuses each
    data part's candidate list independently (MergeTreeHybridSearchManager;
    00041_mqvs_text_search_multiple_parts pins the per-part numbers)."""
    if part_col:
        w = Window.partitionBy(part_col)
        return (
            df.withColumn("_mn", F.min(score_col).over(w))
            .withColumn("_mx", F.max(score_col).over(w))
            .withColumn(
                out_col,
                F.when(F.col("_mx") == F.col("_mn"), F.lit(1.0)).otherwise(
                    (F.col(score_col) - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn"))
                ),
            )
        )
    stats = df.agg(
        F.min(score_col).alias("_mn"), F.max(score_col).alias("_mx")
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            out_col,
            F.when(F.col("_mx") == F.col("_mn"), F.lit(1.0)).otherwise(
                (F.col(score_col) - F.col("_mn")) / (F.col("_mx") - F.col("_mn"))
            ),
        )
        .drop("_mn", "_mx")
    )


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

    Plan shape: both legs read the resident tokenized corpus that
    ``text_search`` keeps (``text._resident_toked``) — the reference runs
    both searches against resident index structures
    (MergeTreeHybridSearchManager.cpp:114-151).  The vector leg is the
    exact distance top-k′ over that frame; the text leg is ``text_search``
    itself, whose BM25 statistics come from the corpus's complete stats
    record, so a repeated query runs no stats pass.  Both legs are
    collected by ONE tagged-union job (``_collect_legs``), then fused
    driver-side over the two ≤k′-row lists — result-scale, never
    data-scale.  A corpus above the resident gate, and a filtered frame
    without an entry (a WHERE per query), stream both legs from ``df``, the
    text leg with its stats pass over the filtered rows; the indexed variant (`hybrid_search_indexed`) is the
    no-corpus-scan scale path.
    """
    from myscaledb_spark.functions.vector import distance, distance_defined
    from myscaledb_spark.operators.topk import _order, _validate_k

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
    # tokenize and cache every filtered copy and evict other corpora, so
    # it streams unless something else made it resident
    res = _resident_toked(df, text_col, tokenizer, None, create=False)
    if res is None and not _filtered(df):
        res = _resident_toked(df, text_col, tokenizer, None)
    corpus = df if res is None else res[0]
    # NULL/malformed vectors have no distance and would sort FIRST
    # ascending — the structural guard drops them, as vector_topk does
    vec_cand = (
        corpus.filter(distance_defined(vec_col, qvec, metric))
        .select(F.col(id_col), distance(vec_col, qvec, metric).alias("_vdist"))
        .orderBy(*_order(F.col("_vdist"), F.col(id_col), metric))
        .limit(kprime)
    )
    txt_cand = text_search(
        df, text_col, qtext, kprime, id_col, tokenizer, score_name="_bm25",
        resident=res,
    ).select(id_col, "_bm25")
    id_type, vec_rows, txt_rows = _collect_legs(vec_cand, txt_cand, id_col)
    return _fuse_local(
        df.sparkSession, id_type, vec_rows, txt_rows, k,
        id_col, ft, metric, fusion_weight, fusion_k, score_name,
    )


def _filtered(df: DataFrame) -> bool:
    """Whether ``df``'s analyzed plan filters rows (True when unknown)."""
    try:
        jvm = df.sparkSession._jvm
        pattern = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.FILTER()
        return bool(df._jdf.queryExecution().analyzed().containsPattern(pattern))
    except Exception:
        return True


def _collect_legs(vec_cand: DataFrame, txt_cand: DataFrame, id_col: str):
    """(id type, [(id, _vdist)], [(id, _bm25)]) of two candidate frames,
    collected by ONE job.  The legs are tiny top-k subtrees; collecting
    them separately paid two job schedulings and two py4j round trips per
    query.  A tagged union keeps each leg's own top-k (per-leg semantics
    and normalization order unchanged — rows are re-split by the tag), so
    the two lists are exactly what two collects return.  Below the
    small-input gate the job runs with AQE off and one shuffle partition:
    AQE's per-stage re-planning jobs cost more than a ≤2k′-row result's
    whole data path; above it the adaptive plan runs unchanged."""
    id_type = vec_cand.schema[id_col].dataType
    tagged = vec_cand.select(
        F.col(id_col).alias("_id"),
        F.col("_vdist").alias("_score"),
        F.lit(0).alias("_leg"),
    ).unionAll(
        txt_cand.select(
            F.col(id_col).cast(id_type).alias("_id"),
            F.col("_bm25").alias("_score"),
            F.lit(1).alias("_leg"),
        )
    )
    rows = collect_small(tagged, **{"spark.sql.shuffle.partitions": "1"})
    if rows is None:
        rows = tagged.collect()
    vec_rows = [(r[0], r[1]) for r in rows if r[2] == 0]
    txt_rows = [(r[0], r[1]) for r in rows if r[2] == 1]
    return id_type, vec_rows, txt_rows


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
    """Driver-side fusion of collected candidate lists — the exact float
    sequence of ``fuse_candidates`` (IEEE doubles, same op order), run on
    ≤k′-row Python lists. The reference's fusion is likewise a single-node
    in-memory pass over the candidate lists (HybridSearchUtils.cpp:163-314);
    distributing a ≤max_search_result_window-row fuse bought ~4 extra Spark
    jobs per query. ``fuse_candidates`` remains the DataFrame path for
    per-part fusion and pre-built candidate frames."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    asc = METRIC_ASCENDING.get(metric, True)
    if metric.upper() == "L2":
        # the reference fuses faiss METRIC_L2 scores, i.e. SQUARED L2
        vec_rows = [(i, d * d) for i, d in vec_rows]
    scores: dict = {}
    if fusion_type == "rrf":
        v_sorted = sorted(
            vec_rows, key=lambda r: ((r[1] if asc else -r[1]), r[0])
        )
        for rank, (i, _) in enumerate(v_sorted, start=1):
            scores[i] = scores.get(i, 0.0) + 1.0 / (float(fusion_k) + rank)
        t_sorted = sorted(txt_rows, key=lambda r: (-r[1], r[0]))
        for rank, (i, _) in enumerate(t_sorted, start=1):
            scores[i] = scores.get(i, 0.0) + 1.0 / (float(fusion_k) + rank)
    else:
        if vec_rows:
            ds = [d for _, d in vec_rows]
            mn, mx = min(ds), max(ds)
            for i, d in vec_rows:
                nrm = 1.0 if mx == mn else (d - mn) / (mx - mn)
                part = nrm if not asc else 1.0 - nrm
                scores[i] = scores.get(i, 0.0) + part * (1.0 - fusion_weight)
        if txt_rows:
            ss = [s for _, s in txt_rows]
            mn, mx = min(ss), max(ss)
            for i, s in txt_rows:
                nrm = 1.0 if mx == mn else (s - mn) / (mx - mn)
                scores[i] = scores.get(i, 0.0) + nrm * float(fusion_weight)
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    top = [(i, float(s)) for i, s in top]
    schema = StructType([
        StructField(id_col, id_type, True),
        StructField(score_name, DoubleType(), True),
    ])
    local = values_relation(spark, schema, top)
    return spark.createDataFrame(top, schema) if local is None else local


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
    """Fuse pre-computed candidate lists: vec_cand(id, _vdist),
    txt_cand(id, _bm25) → top-k by RSF/RRF. Candidate lists are tiny (k′
    rows), so the windows/joins here touch only candidates — this is the
    piece that stays constant whether candidates come from brute force, an
    IVF/HNSW/MSTG artifact, or an external retriever.  ``part_col`` scopes
    ranking/normalization to each data part (candidates must carry it in
    BOTH frames; every id lives in exactly one part)."""
    ft = fusion_type.lower()
    asc = METRIC_ASCENDING.get(metric, True)
    if metric.upper() == "L2":
        # the reference fuses faiss METRIC_L2 scores, i.e. SQUARED L2
        # (00040_mqvs_hybrid_search.reference: id0 norm = 1 - 3/27 over
        # squared candidate distances). Ranking is unchanged (monotone), but
        # RSF min-max normalization is not — square before normalizing.
        vec_cand = vec_cand.withColumn("_vdist", F.col("_vdist") * F.col("_vdist"))

    if ft == "rrf":
        v = _ranked(vec_cand, "_vdist", asc, id_col, part_col).select(
            F.col(id_col), (F.lit(1.0) / (F.lit(float(fusion_k)) + F.col("_rank"))).alias("_vs")
        )
        t = _ranked(txt_cand, "_bm25", False, id_col, part_col).select(
            F.col(id_col), (F.lit(1.0) / (F.lit(float(fusion_k)) + F.col("_rank"))).alias("_ts")
        )
        fused = v.join(t, id_col, "full_outer").select(
            F.col(id_col),
            (F.coalesce("_vs", F.lit(0.0)) + F.coalesce("_ts", F.lit(0.0))).alias(score_name),
        )
    else:
        v = _minmax_norm(vec_cand, "_vdist", "_vnorm", part_col).select(
            F.col(id_col),
            (
                (F.col("_vnorm") if not asc else (F.lit(1.0) - F.col("_vnorm")))
                * F.lit(1.0 - fusion_weight)
            ).alias("_vs"),
        )
        t = _minmax_norm(txt_cand, "_bm25", "_tnorm", part_col).select(
            F.col(id_col), (F.col("_tnorm") * F.lit(float(fusion_weight))).alias("_ts"),
        )
        fused = v.join(t, id_col, "full_outer").select(
            F.col(id_col),
            (F.coalesce("_vs", F.lit(0.0)) + F.coalesce("_ts", F.lit(0.0))).alias(score_name),
        )

    return fused.orderBy(F.col(score_name).desc(), F.col(id_col).asc()).limit(k)


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
    ft = fusion_type.lower()
    if ft not in ("rsf", "rrf"):
        raise InvalidSearchQuery(f"fusion_type must be rsf|rrf, got {fusion_type!r}")
    id_type, vec_rows, txt_rows = _collect_legs(vec_cand, txt_cand, id_col)
    return _fuse_local(
        spark, id_type, vec_rows, txt_rows, k,
        id_col, ft, metric, fusion_weight, fusion_k, score_name,
    )
