"""Vector / text / hybrid search coverage (SURVEY.md §2.9 — the MyScale core).

Every accelerated path's oracle is the exact computation; DuckDB reproduces
the same double math so value hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark.catalog import load_table
from myscaledb_spark.suite import register


def make_qvec(dim: int = 64, seed: int = 7) -> list[float]:
    """Deterministic pseudo-random query vector (LCG), reproducible as a SQL
    literal — no RNG libs so the same literals appear in the oracle."""
    x = seed
    out = []
    for _ in range(dim):
        x = (1103515245 * x + 12345) % (2**31)
        out.append(round((x / 2**31) * 2.0 - 1.0, 6))
    return out


QV = make_qvec()
QV2 = make_qvec(seed=21)
QV3 = make_qvec(seed=99)
QTEXT = "vector search fast"


def sql_qvec(qvec: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in qvec) + "]"


def sql_l2(vec_expr: str, qvec: list[float], dims: int | None = None) -> str:
    """DuckDB L2 with Spark's exact left-to-right double summation.
    dims limits to a prefix of the vector (two-stage coarse ranking)."""
    q = sql_qvec(qvec)
    upper = str(dims + 1) if dims else f"len({vec_expr})+1"
    diff = f"(CAST({vec_expr}[i] AS DOUBLE) - ({q})[i])"
    return (
        f"sqrt(list_reduce(list_transform(range(1, {upper}), "
        f"i -> {diff} * {diff}), (a, b) -> a + b))"
    )


def sql_ip(vec_expr: str, qvec: list[float]) -> str:
    q = sql_qvec(qvec)
    return (
        f"list_reduce(list_transform(range(1, len({vec_expr})+1), "
        f"i -> CAST({vec_expr}[i] AS DOUBLE) * ({q})[i]), (a, b) -> a + b)"
    )


def sql_cosine(vec_expr: str, qvec: list[float]) -> str:
    """Matches functions.vector.cosine_distance's struct-accumulator order:
    dot and self-norm accumulated pairwise left-to-right, then
    1 - dot/(sqrt(na)*qnorm) with qnorm a Python-folded constant."""
    import math

    q = sql_qvec(qvec)
    qnorm = repr(math.sqrt(sum(float(x) * float(x) for x in qvec)))
    dot = (
        f"list_reduce(list_transform(range(1, len({vec_expr})+1), "
        f"i -> CAST({vec_expr}[i] AS DOUBLE) * ({q})[i]), (a, b) -> a + b)"
    )
    na = (
        f"list_reduce(list_transform(range(1, len({vec_expr})+1), "
        f"i -> CAST({vec_expr}[i] AS DOUBLE) * CAST({vec_expr}[i] AS DOUBLE)), (a, b) -> a + b)"
    )
    return f"(1.0 - ({dot}) / (sqrt({na}) * {qnorm}))"


# --- distance() topk, per metric (00001_mqvs_distance, 00014 cosine) ----------
@register(
    "vec_l2_topk",
    f"""
    SELECT vec_id, label, ROUND({sql_l2('embedding', QV)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def vec_l2_topk(spark, sf_dir):
    from myscaledb_spark.operators.topk import vector_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = vector_topk(emb, "embedding", QV, 10, "L2", id_col="vec_id")
    return out.select("vec_id", "label", F.round("dist", 4).alias("dist"))


@register(
    "vec_cosine_topk",
    f"""
    SELECT vec_id, ROUND({sql_cosine('embedding', QV2)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_cosine('embedding', QV2)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def vec_cosine_topk(spark, sf_dir):
    from myscaledb_spark.operators.topk import vector_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = vector_topk(emb, "embedding", QV2, 10, "Cosine", id_col="vec_id")
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


@register(
    "vec_ip_topk",
    f"""
    SELECT vec_id, ROUND({sql_ip('embedding', QV3)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_ip('embedding', QV3)} DESC, vec_id ASC
    LIMIT 10
    """,
)
def vec_ip_topk(spark, sf_dir):
    from myscaledb_spark.operators.topk import vector_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = vector_topk(emb, "embedding", QV3, 10, "IP", id_col="vec_id")
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


# --- filtered search (00004_mqvs_filter_by_distance; prefilter §2.9) ----------
@register(
    "vec_l2_filtered",
    f"""
    SELECT vec_id, ROUND({sql_l2('embedding', QV2)}, 4) AS dist
    FROM embeddings WHERE label = 1
    ORDER BY {sql_l2('embedding', QV2)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def vec_l2_filtered(spark, sf_dir):
    from myscaledb_spark.operators.topk import vector_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = vector_topk(
        emb, "embedding", QV2, 10, "L2", where=F.col("label") == 1, id_col="vec_id"
    )
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


# --- batch_distance + LIMIT n BY (00002_mqvs_batch_distance) ------------------
@register(
    "batch_distance_l2",
    f"""
    WITH q AS (
      SELECT * FROM (VALUES (0, {sql_qvec(QV)}), (1, {sql_qvec(QV2)}), (2, {sql_qvec(QV3)}))
      AS t(query_id, qv)
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - qv[i]) * (CAST(e.embedding[i] AS DOUBLE) - qv[i])),
               (a, b) -> a + b)) AS d
      FROM embeddings e CROSS JOIN q
    )
    SELECT query_id, vec_id, ROUND(d, 4) AS dist
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def batch_distance_l2(spark, sf_dir):
    from myscaledb_spark.operators.topk import batch_vector_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = batch_vector_topk(
        emb, "embedding", [QV, QV2, QV3], 5, "L2", id_col="vec_id"
    )
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        "vec_id",
        F.round("dist", 4).alias("dist"),
    )


# --- two-stage search (00035_mqvs_two_stage_search.sql) -----------------------
# Stage 1 ranks k×3 candidates by a compressed representation (first 32 dims ≈
# the reference's compressed first stage); stage 2 re-ranks exactly. The
# oracle reproduces BOTH stages, so the (intentionally approximate) candidate
# pruning is itself verified.
_COARSE = sql_l2("embedding", QV[:32], dims=32)


@register(
    "two_stage_l2",
    f"""
    WITH cands AS (
      SELECT vec_id, embedding FROM embeddings
      ORDER BY {_COARSE} ASC, vec_id ASC
      LIMIT 24
    )
    SELECT vec_id, ROUND({sql_l2('embedding', QV)}, 4) AS dist
    FROM cands
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 8
    """,
)
def two_stage_l2(spark, sf_dir):
    from myscaledb_spark.operators.topk import two_stage_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = two_stage_topk(
        emb, "embedding", QV, 8, "L2", id_col="vec_id", coarse_dims=32
    )
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


# --- BM25 text search (00040 textsearch; tantivy formula) ---------------------
def _bm25_oracle_sql(
    terms: list[str], k: int, table: str = "documents", toked_sql: str | None = None
) -> str:
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)::DOUBLE AS df{i}"
        for i, t in enumerate(terms)
    )
    score_terms = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) "
        f"* (tf{i} * (1.2 + 1.0)) / (tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0 END)"
        for i in range(len(terms))
    )
    match_any = " OR ".join(f"tf{i} > 0" for i in range(len(terms)))
    if toked_sql is None:
        toked_sql = f"""
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM {table}
        """
    return f"""
        WITH toked AS ({toked_sql}),
        d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, {tf_cols} FROM toked),
        stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(toks))::DOUBLE AS avgdl, {df_cols} FROM toked)
        SELECT doc_id, ROUND({score_terms}, 4) AS bm25_score
        FROM d CROSS JOIN stats
        WHERE {match_any}
        ORDER BY ({score_terms}) DESC, doc_id ASC
        LIMIT {k}
    """


@register("bm25_topk", _bm25_oracle_sql(["vector", "search", "fast"], 15))
def bm25_topk(spark, sf_dir):
    from myscaledb_spark.functions.text import text_search

    docs = load_table(spark, sf_dir, "documents")
    out = text_search(docs, "text", QTEXT, 15, id_col="doc_id")
    return out.select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))


# --- tokenizer-spec BM25: stop_word_filters + stem_languages + length_limit ---
# Reference per-column config (02888_tantivy_text_search_multi_col.sql:37,
# MergeTreeIndexTantivy.cpp:710-751). The oracle reproduces the full analyzer
# chain — split → length_limit → stop-word removal → stem — with the SAME
# regex and the SAME stop-word list, so tf/df/avgdl all shift identically on
# both sides and the BM25 hash stays bit-exact.
def _stopword_toked_sql() -> str:
    from myscaledb_spark.functions.tokenizer_spec import (
        STEM_SUFFIX_RULES,
        STOP_WORD_FILTERS,
    )

    sw = ", ".join(f"'{w}'" for w in STOP_WORD_FILTERS["english"])
    pat = STEM_SUFFIX_RULES["english"]
    return f"""
      SELECT doc_id,
             list_transform(
               list_filter(
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '' AND length(x) <= 40),
                 x -> NOT list_contains([{sw}], x)),
               x -> regexp_replace(x, '{pat}', '')) AS toks
      FROM documents
    """


@register(
    "bm25_stopword_topk",
    _bm25_oracle_sql(["search", "vector", "fast"], 12, toked_sql=_stopword_toked_sql()),
)
def bm25_stopword_topk(spark, sf_dir):
    from myscaledb_spark.functions.text import text_search
    from myscaledb_spark.functions.tokenizer_spec import parse_fts_config

    specs = parse_fts_config(
        '{ "text": { "tokenizer": { "type": "stem", '
        '"stop_word_filters": ["english"], "stem_languages": ["english"], '
        '"length_limit": 40 } } }'
    )
    docs = load_table(spark, sf_dir, "documents")
    # query passes through the same analyzer: 'the' is a stop word,
    # searching→search, vectors→vector
    out = text_search(
        docs, "text", "the searching vectors fast", 12, id_col="doc_id",
        spec=specs["text"],
    )
    return out.select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))


# --- CJK textsearch: dictionary-FMM chinese tokenizer -------------------------
# Gate construction: the synthetic corpus is English, so both sides build a
# deterministic unsegmented Chinese corpus by mapping known tokens to Chinese
# words (ZH_MAP) and concatenating WITHOUT spaces. The Spark side must then
# FMM-segment it correctly to reproduce the oracle's token list — any
# mis-segmentation shifts tf/df and fails the hash. Boundary safety of the
# mapping is pytest-proven (test_fmm_boundary_pairs).
ZH_MAP = {
    "table": "表格", "hash": "哈希", "fast": "快速", "slow": "缓慢",
    "vector": "向量", "search": "搜索", "data": "数据", "query": "查询",
    "merge": "合并", "sort": "排序", "filter": "过滤", "join": "连接",
    "scan": "扫描", "key": "键值", "batch": "批量", "stream": "流式",
    "window": "窗口", "agg": "聚合", "column": "列式", "value": "数值",
    "group": "分组",
}

_ZH_CASE = "CASE x " + " ".join(
    f"WHEN '{en}' THEN '{zh}'" for en, zh in ZH_MAP.items()
) + " ELSE NULL END"

_ZH_TOKED_SQL = f"""
  SELECT doc_id,
         list_filter(
           list_transform(
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''),
             x -> {_ZH_CASE}),
           x -> x IS NOT NULL) AS toks
  FROM documents
"""


@register(
    "bm25_cjk_topk",
    _bm25_oracle_sql(["数据", "查询", "快速"], 12, toked_sql=_ZH_TOKED_SQL),
)
def bm25_cjk_topk(spark, sf_dir):
    """textsearch with the `chinese` tokenizer (MergeTreeIndexTantivy.cpp:
    710-751): FMM dictionary segmentation of unsegmented CJK text; the query
    string '数据查询快速' is itself FMM-segmented into three terms.

    Routed through the FTS postings artifact (r5 VERDICT ask #2): the
    reference consults the tantivy index transparently once built, and the
    FMM analyzer is exactly the case where re-tokenizing the corpus per
    query (two full scans) is 3x the postings read. `text_search` does the
    registry consult; scores stay bit-identical to the direct path, so the
    oracle is unchanged."""
    from myscaledb_spark.functions.text import text_search, tokenize
    from myscaledb_spark.plans.fts_index import build_fts_index
    from myscaledb_spark.suite.artifact_cache import cached_artifact

    docs = load_table(spark, sf_dir, "documents")
    m = F.create_map(*[F.lit(x) for kv in ZH_MAP.items() for x in kv])
    zh_text = F.array_join(
        F.filter(
            F.transform(tokenize("text", "simple"), lambda t: F.element_at(m, t)),
            lambda x: x.isNotNull(),
        ),
        "",
    )
    docs_zh = docs.select("doc_id", zh_text.alias("zh_text"))

    def _build(art: str) -> None:
        build_fts_index(
            docs_zh, "zh_text", "doc_id", art, name="fts_zh", tokenizer="chinese"
        )

    art = cached_artifact(sf_dir, "fts_cjk_route", _build)
    out = text_search(
        docs_zh, "zh_text", "数据查询快速", 12, id_col="doc_id",
        tokenizer="chinese", artifact_dir=art, index_name="fts_zh",
    )
    return out.select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))


# --- NLQ textsearch: phrase + must/must_not (VSDescription.h enable_nlq) ------
_NLQ_QUERY = '"table hash" +vector -slow'

_NLQ_SCORE = (
    "(CASE WHEN tf0 > 0 THEN ln(1 + (n_docs - df0 + 0.5) / (df0 + 0.5))"
    " * ((tf0 * 2.2) / (tf0 + 1.2 * (0.25 + (0.75 * dl) / avgdl))) ELSE 0 END)"
    " + (CASE WHEN tf1 > 0 THEN ln(1 + (n_docs - df1 + 0.5) / (df1 + 0.5))"
    " * ((tf1 * 2.2) / (tf1 + 1.2 * (0.25 + (0.75 * dl) / avgdl))) ELSE 0 END)"
)


@register(
    "bm25_phrase_topk",
    f"""
    WITH toked AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents
    ),
    d AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             CAST(len(list_filter(range(1, len(toks)),
                  i -> toks[i] = 'table' AND toks[i+1] = 'hash')) AS DOUBLE) AS tf0,
             CAST(len(list_filter(toks, x -> x = 'vector')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(toks, x -> x = 'slow')) AS DOUBLE) AS ntf0
      FROM toked
    ),
    stats AS (
      SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl)::DOUBLE AS avgdl,
             SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
             SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1
      FROM d
    )
    SELECT doc_id, ROUND({_NLQ_SCORE}, 4) AS bm25_score
    FROM d CROSS JOIN stats
    WHERE tf1 > 0 AND tf0 > 0 AND ntf0 = 0
    ORDER BY ({_NLQ_SCORE}) DESC, doc_id ASC
    LIMIT 15
    """,
)
def bm25_phrase_topk(spark, sf_dir):
    """textsearch(enable_nlq=1): phrase `"table hash"`, required `+vector`,
    prohibited `-slow` (`src/VectorIndex/Storages/VSDescription.h:72-95`)."""
    from myscaledb_spark.functions.text import nlq_search

    docs = load_table(spark, sf_dir, "documents")
    out = nlq_search(docs, "text", _NLQ_QUERY, 15, id_col="doc_id")
    return out.select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))


@register(
    "bm25_cjk_indexed",
    _bm25_oracle_sql(["数据", "查询", "快速"], 12, toked_sql=_ZH_TOKED_SQL),
)
def bm25_cjk_indexed(spark, sf_dir):
    """Index-backed CJK textsearch — the scale path for the one remaining
    >3x-calibration scan (`bm25_cjk_topk`): the FTS artifact persists the
    FMM-tokenized postings once (tokenizer spec stored with the index, as
    MergeTreeIndexTantivy stores its config), so queries do a term-pruned
    postings read and never re-tokenize the corpus. Bit-identical to the
    direct path's oracle: fts_search scores through the direct path's
    scorer (text.bm25_scores_from_tf)."""
    from myscaledb_spark.functions.text import tokenize
    from myscaledb_spark.plans.fts_index import build_fts_index, fts_search
    from myscaledb_spark.suite.artifact_cache import cached_artifact

    docs = load_table(spark, sf_dir, "documents")
    m = F.create_map(*[F.lit(x) for kv in ZH_MAP.items() for x in kv])
    zh_text = F.array_join(
        F.filter(
            F.transform(tokenize("text", "simple"), lambda t: F.element_at(m, t)),
            lambda x: x.isNotNull(),
        ),
        "",
    )

    def _build(art: str) -> None:
        docs_zh = docs.select("doc_id", zh_text.alias("zh_text"))
        build_fts_index(
            docs_zh, "zh_text", "doc_id", art, name="fts_zh", tokenizer="chinese"
        )

    art = cached_artifact(sf_dir, "fts_cjk", _build)
    out = fts_search(spark, art, "数据查询快速", 12, name="fts_zh")
    return out.select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))
