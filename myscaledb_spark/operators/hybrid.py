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

Spark design: the two candidate DataFrames (each already top-k′, tiny —
≤ 3k×10000 rows) are fused with a full-outer join on the id, window-free
min-max via a broadcast one-row agg, then global top-k. Candidate generation
is where all the data-scale work happens and it reuses vector_topk /
text_search (scan-local, no wide shuffle); fusion cost is O(k′).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.functions.text import text_search
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
    one; a missing/unbuilt artifact falls back to the single-scan default.

    Plan shape (single corpus scan, CONCURRENT legs): one narrow projection
    (id, distance, doc_len, per-term tf) is computed and persisted
    (MEMORY_AND_DISK, spills at scale). The vector top-k′ leg and the text
    leg (one-row BM25 stats agg, then scored top-k′ from the cached sliver)
    run on two threads over the same session (r7 VERDICT ask #1) — the
    stats job overlaps the vector scan, and the persisted sliver is
    computed exactly once (block-level getOrElseUpdate).
    Fusion then runs driver-side over the two ≤k′-row lists — the
    reference fuses in-memory on one node too (HybridSearchUtils.cpp), and
    k′ is bounded by max_search_result_window, so this is result-scale,
    never data-scale. The indexed variant (`hybrid_search_indexed`)
    remains the no-corpus-scan scale path.
    """
    from pyspark import StorageLevel

    from myscaledb_spark.functions.text import (
        BM25_B,
        BM25_K1,
        term_tf,
        tokenize,
        tokenize_query,
    )
    from myscaledb_spark.functions.vector import distance
    from myscaledb_spark.operators.topk import _order, _validate_k

    ft = fusion_type.lower()
    if ft not in ("rsf", "rrf"):
        raise InvalidSearchQuery(f"fusion_type must be rsf|rrf, got {fusion_type!r}")
    if k is None or k <= 0:
        raise InvalidSearchQuery("hybrid search requires a positive LIMIT (top-k)")
    if artifact_dir is not None:
        from myscaledb_spark.plans.vector_index import IndexRegistry

        reg = IndexRegistry(artifact_dir)
        vrec, frec = reg.get(index_name), reg.get(fts_name)
        if (
            vrec is not None and vrec.get("status") == "Built"
            and frec is not None and frec.get("status") == "Built"
        ):
            kind = (vrec.get("index_type") or "ivf").lower()
            kind = {"ivfflat": "ivf", "hnswflat": "hnsw"}.get(kind, kind)
            return hybrid_search_indexed(
                df.sparkSession, artifact_dir, None, None, qvec, qtext, k,
                id_col, index_kind=kind, index_name=index_name,
                fts_name=fts_name, fusion_type=ft, metric=metric,
                fusion_weight=fusion_weight, fusion_k=fusion_k,
                candidate_multiple=candidate_multiple, tokenizer=tokenizer,
                score_name=score_name, **search_params,
            )
    kprime = k * candidate_multiple
    _validate_k(kprime)

    terms = tokenize_query(qtext, tokenizer)
    if not terms:
        raise InvalidSearchQuery("empty text-search query after tokenization")

    # narrowest projection that answers both sides: id, distance, doc length,
    # and one tf per query term — fixed-width scalars (the token array is
    # consumed inside the scan and never materialized), so the persisted set
    # is a sliver of the corpus even at 100 TB
    # TWO-level select so the token array is computed ONCE per row: a single
    # select with size(toks) + one term_tf(toks) per term inlines the whole
    # split/filter tokenization into every consumer (n_terms+1 evaluations
    # per row — HOFs run interpreted, nothing de-duplicates them), while an
    # aliased _toks referenced several times is kept as its own Project by
    # CollapseProject's non-cheap-expression guard (measured: 4 tokenize
    # evals/row → 1 at 3 query terms).
    toked = df.select(
        F.col(id_col),
        F.col(vec_col),
        tokenize(text_col, tokenizer).alias("_toks"),
    )
    tf_cols = [
        term_tf(F.col("_toks"), t).alias(f"_tf_{i}") for i, t in enumerate(terms)
    ]
    narrow = toked.select(
        F.col(id_col),
        distance(vec_col, qvec, metric).alias("_vdist"),
        F.size("_toks").cast("double").alias("_dl"),
        *tf_cols,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # CONCURRENT legs (r7 VERDICT ask #1): the vector top-k′ and the
        # text leg run on two threads over the same session, so their job
        # latencies overlap instead of serializing. Each leg keeps its
        # terminal orderBy().limit().collect() — Spark's single-stage
        # executeTake path (a mid-plan union would force each top-k through
        # a shuffle). The text leg's stats agg is its own job that overlaps
        # the vector scan; both compute the SAME persisted narrow sliver,
        # and block-level getOrElseUpdate guarantees each partition is
        # computed exactly once. Scoring literals are byte-identical to the
        # r6 observe design (same agg exprs, same IEEE op order).
        from concurrent.futures import ThreadPoolExecutor

        def _vec_leg() -> list:
            # NULL distances (malformed vectors) would sort FIRST ascending
            # and crowd out real neighbors — drop them, as vector_topk does.
            return [
                (r[0], r[1]) for r in
                narrow.filter(F.col("_vdist").isNotNull())
                .orderBy(*_order(F.col("_vdist"), F.col(id_col), metric))
                .limit(kprime)
                .select(id_col, "_vdist")
                .collect()
            ]

        def _txt_leg() -> list:
            stat_aggs = [
                F.count(F.lit(1)).cast("double").alias("_n_docs"),
                F.avg("_dl").alias("_avgdl"),
            ] + [
                F.sum(F.when(F.col(f"_tf_{i}") > 0, 1).otherwise(0))
                .cast("double").alias(f"_df_{i}")
                for i in range(len(terms))
            ]
            st = narrow.agg(*stat_aggs).collect()[0]
            if st["_n_docs"] == 0.0:
                return []
            # same formula / float sequence as bm25_scores_from_tf, with
            # the corpus stats inlined as literals
            score = F.lit(0.0)
            match_any = F.lit(False)
            for i in range(len(terms)):
                tf = F.col(f"_tf_{i}")
                idf = F.log(
                    F.lit(1.0)
                    + (F.lit(st["_n_docs"]) - F.lit(st[f"_df_{i}"]) + F.lit(0.5))
                    / (F.lit(st[f"_df_{i}"]) + F.lit(0.5))
                )
                norm = tf * (BM25_K1 + 1.0) / (
                    tf + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("_dl") / F.lit(st["_avgdl"]))
                )
                score = score + F.when(tf > 0, idf * norm).otherwise(F.lit(0.0))
                match_any = match_any | (tf > 0)
            return [
                (r[0], r[1]) for r in
                narrow.withColumn("_bm25", score)
                .filter(match_any)
                .orderBy(F.col("_bm25").desc(), F.col(id_col).asc())
                .limit(kprime)
                .select(id_col, "_bm25")
                .collect()
            ]

        with ThreadPoolExecutor(max_workers=2) as pool:
            vf, tf_ = pool.submit(_vec_leg), pool.submit(_txt_leg)
            vec_rows, txt_rows = vf.result(), tf_.result()
    finally:
        narrow.unpersist()
    return _fuse_local(
        df.sparkSession, df.schema[id_col].dataType, vec_rows, txt_rows, k,
        id_col, ft, metric, fusion_weight, fusion_k, score_name,
    )


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
    plus the tantivy text index, then fuses). Vector candidates come from a
    prebuilt IVF/HNSW/MSTG artifact (partition-pruned / graph search instead
    of a full scan); text candidates from the FTS postings artifact when
    ``fts_name`` is given (term-pruned postings scan, `plans/fts_index.py` —
    then NO query touches the corpus at all, vs the default path's 3 corpus
    scans), else direct BM25 over ``df``. Fusion is identical to
    hybrid_search. search_params pass through (nprobe=, ef_search=,
    probe_top=...). With exhaustive search params (nprobe=ncentroids) both
    candidate lists equal the brute-force lists bit-for-bit, which is how
    the driver gate pins this path to the same oracle as hybrid_search_rsf.
    """
    if k is None or k <= 0:
        raise InvalidSearchQuery("hybrid search requires a positive LIMIT (top-k)")
    kind = index_kind.lower()
    kprime = k * candidate_multiple
    if kind == "ivf":
        from myscaledb_spark.plans.vector_index import ivf_search

        vec_cand = ivf_search(
            spark, artifact_dir, qvec, kprime, name=index_name or "ivf",
            metric=metric, id_col=id_col, **search_params,
        )
    elif kind == "hnsw":
        from myscaledb_spark.plans.hnsw_index import hnsw_search

        vec_cand = hnsw_search(
            spark, artifact_dir, qvec, kprime, name=index_name or "hnsw",
            id_col=id_col, **search_params,
        )
    elif kind == "mstg":
        from myscaledb_spark.plans.mstg_index import mstg_search

        vec_cand = mstg_search(
            spark, artifact_dir, qvec, kprime, name=index_name or "mstg",
            id_col=id_col, **search_params,
        )
    else:
        raise InvalidSearchQuery(f"unknown index kind {index_kind!r}")
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
    # ONE fused job for both candidate legs (r10 VERDICT ask #1): the legs
    # are tiny top-k subtrees over different artifact frames, and running
    # them as two thread-concurrent collects paid two full job schedulings
    # + two py4j collect round-trips per query — the 8-core bench beating
    # 32 cores proved the cost was scheduling, not compute.  A tagged
    # union keeps each leg's own TakeOrderedAndProject (per-leg top-k
    # semantics and normalization order unchanged — rows are re-split by
    # the tag before fusion, so _fuse_local sees exactly the two lists the
    # two collects produced), while the driver schedules ONE job and pulls
    # ONE ≤2k′-row result. Driver-side fusion (_fuse_local: identical
    # float sequence to fuse_candidates) stays — distributing a
    # ≤max_search_result_window-row fuse costs ~4 extra Spark jobs per
    # query, exactly as the r6 default-path rework measured.
    ft = fusion_type.lower()
    if ft not in ("rsf", "rrf"):
        raise InvalidSearchQuery(f"fusion_type must be rsf|rrf, got {fusion_type!r}")
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
    # AQE off and one shuffle partition below the estimate gate: AQE's
    # per-stage re-planning jobs cost more than a ≤2k′-row fuse's whole
    # data path; at 100 TB a selective-term postings subtree exceeds the
    # gate and the adaptive plan runs unchanged
    rows = collect_small(tagged, **{"spark.sql.shuffle.partitions": "1"})
    if rows is None:
        rows = tagged.collect()
    vec_rows = [(r[0], r[1]) for r in rows if r[2] == 0]
    txt_rows = [(r[0], r[1]) for r in rows if r[2] == 1]
    return _fuse_local(
        spark, id_type, vec_rows, txt_rows, k,
        id_col, ft, metric, fusion_weight, fusion_k, score_name,
    )
