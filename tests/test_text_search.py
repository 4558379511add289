"""BM25 text search + hybrid fusion vs pure-python oracles.

Oracle implements tantivy/Lucene BM25 (k1=1.2, b=0.75,
idf = ln(1 + (N - df + 0.5)/(df + 0.5))) and the reference fusion formulas
(HybridSearchUtils.cpp:163-314)."""

from __future__ import annotations

import math
import re

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from myscaledb_spark.functions.text import text_search, tokenize_query
from myscaledb_spark.operators.hybrid import hybrid_search
from tests.conftest import SF_DIR

K1, B = 1.2, 0.75


def _tok(s):
    return [t for t in re.split("[^a-z0-9]+", s.lower()) if t]


@pytest.fixture(scope="module")
def docs(spark):
    return [(r.doc_id, _tok(r.text)) for r in spark.table("documents").select("doc_id", "text").collect()]


def _bm25_oracle(docs, query, operator="OR"):
    terms = tokenize_query(query)
    n = len(docs)
    avgdl = sum(len(t) for _, t in docs) / n
    df = {t: sum(1 for _, toks in docs if t in toks) for t in terms}
    out = []
    for doc_id, toks in docs:
        tfs = {t: toks.count(t) for t in terms}
        if operator == "AND" and not all(tfs[t] > 0 for t in terms):
            continue
        if not any(tfs[t] > 0 for t in terms):
            continue
        score = 0.0
        for t in terms:
            tf = tfs[t]
            if tf == 0:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            score += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(toks) / avgdl))
        out.append((doc_id, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


QUERY = "vector search fast"


def test_bm25_topk_matches_oracle(spark, docs):
    got = text_search(
        spark.table("documents"), "text", QUERY, 15, id_col="doc_id"
    ).select("doc_id", "bm25_score").collect()
    want = _bm25_oracle(docs, QUERY)[:15]
    assert [r.doc_id for r in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        [r.bm25_score for r in got], [s for _, s in want], rtol=1e-9
    )


def test_bm25_and_operator(spark, docs):
    got = text_search(
        spark.table("documents"), "text", QUERY, 15, id_col="doc_id", operator="AND"
    ).select("doc_id").collect()
    want = _bm25_oracle(docs, QUERY, operator="AND")[:15]
    assert [r.doc_id for r in got] == [d for d, _ in want]


def _fusion_oracle(vec_list, txt_list, kind, k, asc=True, w=0.5, k0=60):
    """vec_list: [(id, dist)] ordered; txt_list: [(id, score)] ordered desc."""
    scores = {}
    if kind == "rrf":
        for rank, (i, _) in enumerate(vec_list, 1):
            scores[i] = scores.get(i, 0.0) + 1.0 / (k0 + rank)
        for rank, (i, _) in enumerate(txt_list, 1):
            scores[i] = scores.get(i, 0.0) + 1.0 / (k0 + rank)
    else:
        def norm(lst):
            vals = [s for _, s in lst]
            mn, mx = min(vals), max(vals)
            if mn == mx:
                return {i: 1.0 for i, _ in lst}
            return {i: (s - mn) / (mx - mn) for i, s in lst}
        tn = norm(txt_list)
        vn = norm(vec_list)
        for i, s in tn.items():
            scores[i] = scores.get(i, 0.0) + s * w
        for i, s in vn.items():
            d = s if not asc else (1.0 - s)
            scores[i] = scores.get(i, 0.0) + d * (1 - w)
    out = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("kind", ["rsf", "rrf"])
def test_hybrid_search(spark, docs, kind):
    # documents has no vector column — join embeddings on row id for the test
    d = spark.table("documents")
    e = spark.table("embeddings")
    df = d.join(e, d.doc_id == e.vec_id).select("doc_id", "text", "embedding")

    rng = np.random.default_rng(3)
    q = rng.standard_normal(64).tolist()
    k = 8

    got = hybrid_search(
        df, "embedding", "text", q, QUERY, k, "doc_id", fusion_type=kind
    ).collect()

    # oracle candidate lists from our own (already numpy-verified) primitives
    from myscaledb_spark.operators.topk import vector_topk
    from myscaledb_spark.functions.text import text_search as ts

    vec_list = [
        (r.doc_id, r.dist * r.dist)
        for r in vector_topk(df, "embedding", q, k, "L2", id_col="doc_id")
        .select("doc_id", "dist")
        .collect()
    ]
    txt_list = [
        (r.doc_id, r.bm25_score)
        for r in ts(df, "text", QUERY, k, id_col="doc_id")
        .select("doc_id", "bm25_score")
        .collect()
    ]
    want = _fusion_oracle(vec_list, txt_list, kind, k)
    assert [r.doc_id for r in got] == [i for i, _ in want]
    np.testing.assert_allclose(
        [r.fusion_score for r in got], [s for _, s in want], rtol=1e-9
    )


def test_fmm_tokenizer():
    from myscaledb_spark.functions.zh_tokenize import fmm_tokenize

    # longest match wins: 数据库 over 数据
    assert fmm_tokenize("数据库查询") == ["数据库", "查询"]
    assert fmm_tokenize("人工智能与机器学习") == ["人工智能", "与", "机器学习"]
    # mixed latin/CJK, punctuation separates
    assert fmm_tokenize("Spark引擎，fast查询!") == ["spark", "引擎", "fast", "查询"]
    # unknown CJK chars fall back to single-char tokens
    assert fmm_tokenize("鑫淼") == ["鑫", "淼"]
    assert fmm_tokenize("") == []
    assert fmm_tokenize(None) is None


def test_fmm_boundary_pairs():
    """Every ordered pair of gate-mapped words must segment back to exactly
    the pair — guarantees the bm25_cjk_topk oracle construction is valid."""
    from myscaledb_spark.functions.zh_tokenize import fmm_tokenize
    from myscaledb_spark.suite.search import ZH_MAP

    words = list(ZH_MAP.values())
    for a in words:
        for b in words:
            assert fmm_tokenize(a + b) == [a, b], (a, b)


def test_fmm_column_parity(spark):
    """fmm_tokenize_col (regex-alternation JVM form) must be bit-identical
    to the Python fmm_tokenize on adversarial mixed CJK/latin/punct input —
    the BM25 gate hash depends on it."""
    import random

    from pyspark.sql import functions as F

    from myscaledb_spark.functions.zh_dict import ZH_WORDS
    from myscaledb_spark.functions.zh_tokenize import fmm_tokenize, fmm_tokenize_col

    rng = random.Random(7)
    words = sorted(ZH_WORDS)
    chars = sorted({c for w in words for c in w})
    samples = [
        None, "", "hello world", "数据查询快速", "数据库查询",
        "人工智能与机器学习", "ABC数据123", "xx人工智能yy", "深度学习framework",
        "，。数据！查询？", "é数据é", "一二三四五", "数据数据数据",
    ]
    for _ in range(120):
        n = rng.randint(0, 24)
        samples.append("".join(
            rng.choice([rng.choice(chars), rng.choice(words),
                        rng.choice("abcXYZ019 ,.!-_é中")])
            for _ in range(n)
        ))
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "id int, t string"
    )
    got = {
        r["id"]: r["toks"]
        for r in df.select("id", fmm_tokenize_col(F.col("t")).alias("toks")).collect()
    }
    for i, s in enumerate(samples):
        assert got[i] == fmm_tokenize(s), repr(s)


def _phrase_tf(toks, phrase):
    L = len(phrase)
    if len(toks) < L:
        return 0
    return sum(1 for i in range(len(toks) - L + 1) if toks[i : i + L] == phrase)


def _nlq_oracle(docs, clauses, k):
    """clauses: [(tokens, must, must_not)] in parse order."""
    pos = [c for c in clauses if not c[2]]
    neg = [c for c in clauses if c[2]]
    n = len(docs)
    avgdl = sum(len(t) for _, t in docs) / n
    df = [sum(1 for _, toks in docs if _phrase_tf(toks, c[0]) > 0) for c in pos]
    out = []
    for doc_id, toks in docs:
        tfs = [_phrase_tf(toks, c[0]) for c in pos]
        if any(c[1] and tfs[i] == 0 for i, c in enumerate(pos)):
            continue
        plain = [tfs[i] for i, c in enumerate(pos) if not c[1]]
        if plain and not any(t > 0 for t in plain):
            continue
        if any(_phrase_tf(toks, c[0]) > 0 for c in neg):
            continue
        score = 0.0
        for i in range(len(pos)):
            tf = tfs[i]
            if tf == 0:
                continue
            idf = math.log(1 + (n - df[i] + 0.5) / (df[i] + 0.5))
            score += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(toks) / avgdl))
        out.append((doc_id, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_parse_nlq():
    from myscaledb_spark.functions.text import parse_nlq

    got = parse_nlq('"table hash" +vector -slow fast')
    assert got == [
        {"tokens": ["table", "hash"], "phrase": True, "must": False, "must_not": False},
        {"tokens": ["vector"], "phrase": False, "must": True, "must_not": False},
        {"tokens": ["slow"], "phrase": False, "must": False, "must_not": True},
        {"tokens": ["fast"], "phrase": False, "must": False, "must_not": False},
    ]
    # bare multi-token term becomes a phrase (tantivy behavior)
    assert parse_nlq("foo-bar")[0]["phrase"] is True


def test_nlq_search_matches_oracle(spark, docs):
    from myscaledb_spark.functions.text import nlq_search

    q = '"table hash" +vector -slow'
    got = (
        nlq_search(spark.table("documents"), "text", q, 15, id_col="doc_id")
        .select("doc_id", "bm25_score")
        .collect()
    )
    clauses = [
        (["table", "hash"], False, False),
        (["vector"], True, False),
        (["slow"], False, True),
    ]
    want = _nlq_oracle(docs, clauses, 15)
    assert [r.doc_id for r in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        [r.bm25_score for r in got], [s for _, s in want], rtol=1e-9
    )


def test_phrase_tf_overlap_semantics(spark):
    """Self-overlapping phrases count overlapping positions (HOF path);
    non-overlapping phrases use the replace-count fast path — both must
    equal the positional definition."""
    from pyspark.sql import Row
    from myscaledb_spark.functions.text import _clause_tf

    df = spark.createDataFrame(
        [Row(toks="a a a b a a".split()), Row(toks="x a b a b y".split()),
         Row(toks=[]), Row(toks=["a"])]
    )
    r = df.select(
        _clause_tf("toks", ["a", "a"]).alias("aa"),
        _clause_tf("toks", ["a", "b"]).alias("ab"),
    ).collect()
    got = [(x.aa, x.ab) for x in r]
    # positional oracle: [a,a,a,b,a,a]: aa at 0,1,4 -> 3; ab at 2 -> 1
    #                    [x,a,b,a,b,y]: aa 0; ab at 1,3 -> 2
    assert got == [(3.0, 1.0), (0.0, 2.0), (0.0, 0.0), (0.0, 0.0)]


def test_nlq_phrase_short_doc_guard(spark):
    """Docs shorter than the phrase must not crash (sequence(1,0) trap)."""
    from pyspark.sql import Row
    from myscaledb_spark.functions.text import nlq_scores

    df = spark.createDataFrame(
        [Row(id=1, text="table"), Row(id=2, text=""), Row(id=3, text="table hash x")]
    )
    rows = nlq_scores(df, "text", '"table hash"').select("id").collect()
    assert [r.id for r in rows] == [3]


def test_tokenizer_options(spark):
    from pyspark.sql import functions as F
    from myscaledb_spark.functions.text import tokenize, tokenize_any

    df = spark.range(1).select(
        tokenize(F.lit("The Quick brown fox the"), "simple",
                 stop_words=["the"]).alias("sw"),
        tokenize(F.lit("a ab abc abcd"), "simple", length_limit=3).alias("ll"),
        tokenize(F.lit("Spark数据引擎fast"), "chinese").alias("cjk"),
        tokenize(F.lit("Spark数据引擎fast"), "chinese_char").alias("cjk_char"),
        tokenize_any(F.array(F.lit("a b"), F.lit("c d")), "array<string>").alias("arr"),
        tokenize_any(
            F.create_map(F.lit("k"), F.lit("hello world")), "map<string,string>"
        ).alias("mp"),
    ).first()
    assert df.sw == ["quick", "brown", "fox"]
    assert df.ll == ["a", "ab", "abc"]
    assert df.cjk == ["spark", "数据", "引擎", "fast"]
    assert df.cjk_char == ["spark", "数", "据", "引", "擎", "fast"]
    assert df.arr == ["a", "b", "c", "d"]
    assert df.mp == ["hello", "world"]


def test_hybrid_search_indexed_matches_bruteforce(spark, tmp_path):
    """Index-backed hybrid (full-recall settings) must equal the brute-force
    hybrid exactly — candidates coincide when the index probes everything."""
    import numpy as np
    from myscaledb_spark.operators.hybrid import hybrid_search, hybrid_search_indexed
    from myscaledb_spark.plans.vector_index import build_ivf_index

    d = spark.table("documents")
    e = spark.table("embeddings")
    df = d.join(e, d.doc_id == e.vec_id).select("doc_id", "text", "embedding")

    art = str(tmp_path / "idx")
    build_ivf_index(df, "embedding", "doc_id", art, num_centroids=4)

    rng = np.random.default_rng(3)
    q = rng.standard_normal(64).tolist()
    brute = hybrid_search(
        df, "embedding", "text", q, QUERY, 8, "doc_id", fusion_type="rsf"
    ).collect()
    indexed = hybrid_search_indexed(
        spark, art, df, "text", q, QUERY, 8, "doc_id",
        index_kind="ivf", fusion_type="rsf", nprobe=4, vec_col="embedding",
    ).collect()
    assert [(r.doc_id, r.fusion_score) for r in brute] == [
        (r.doc_id, r.fusion_score) for r in indexed
    ]


def test_hybrid_indexed_fusion_equals_thread_legs(spark, tmp_path):
    """The tagged-union single-job collect must produce the same per-leg
    candidate lists (hence the same fusion result) as two separate
    collects — pinned by comparing against independently collected legs."""
    from pyspark.sql import functions as F

    from myscaledb_spark.catalog import load_table
    from myscaledb_spark.operators.hybrid import hybrid_search_indexed
    from myscaledb_spark.plans.fts_index import build_fts_index, fts_search
    from myscaledb_spark.plans.vector_index import build_ivf_index, ivf_search

    d = load_table(spark, SF_DIR, "documents")
    e = load_table(spark, SF_DIR, "embeddings")
    corpus = d.join(e, d.doc_id == e.vec_id).select("doc_id", "text", "embedding")
    art = str(tmp_path / "art")
    build_ivf_index(corpus, "embedding", "doc_id", art, num_centroids=4)
    build_fts_index(corpus, "text", "doc_id", art)
    qv = [float(i % 7 - 3) / 3.0 for i in range(64)]
    out = hybrid_search_indexed(
        spark, art, None, None, qv, "vector search fast", 5, "doc_id",
        index_kind="ivf", fts_name="fts", fusion_type="rsf", nprobe=4,
    ).collect()
    # reproduce the fusion from separately collected legs
    from myscaledb_spark.operators.hybrid import _fuse_local

    vec_cand = ivf_search(
        spark, art, qv, 5, name="ivf", metric="L2", id_col="doc_id", nprobe=4
    ).select(F.col("doc_id"), F.col("dist").alias("_vdist"))
    txt_cand = fts_search(
        spark, art, "vector search fast", 5, name="fts", score_name="_bm25"
    ).select(F.col("doc_id"), "_bm25")
    vec_rows = [(r[0], r[1]) for r in vec_cand.collect()]
    txt_rows = [(r[0], r[1]) for r in txt_cand.collect()]
    want = _fuse_local(
        spark, vec_cand.schema["doc_id"].dataType, vec_rows, txt_rows, 5,
        "doc_id", "rsf", "L2", 0.5, 60, "fusion_score",
    ).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in want]


def _hybrid_corpus(spark):
    """documents ⋈ embeddings plus a NULL-vector row and a short-vector row
    whose texts match the query (the structural guard must drop both)."""
    d = spark.table("documents")
    e = spark.table("embeddings")
    base = d.join(e, d.doc_id == e.vec_id).select("doc_id", "text", "embedding")
    extra = spark.sql(
        "SELECT CAST(1000000 AS BIGINT) AS doc_id, 'vector search fast' AS text, "
        "CAST(NULL AS ARRAY<FLOAT>) AS embedding UNION ALL "
        "SELECT CAST(1000001 AS BIGINT), 'fast vector search engine', "
        "array_repeat(CAST(0.5 AS FLOAT), 63)"
    )
    return base.unionByName(extra)


@pytest.mark.parametrize("kind", ["rsf", "rrf"])
def test_hybrid_search_equals_fused_independent_legs(spark, kind):
    """hybrid_search over a corpus above the driver snapshot's gate (both
    legs stream, one tagged-union collect) equals _fuse_local over
    separately collected vector_topk and text_search legs, bit for bit —
    including a query term absent from the corpus."""
    from myscaledb_spark.functions.text import _snapshot
    from myscaledb_spark.operators.hybrid import _fuse_local
    from myscaledb_spark.operators.topk import vector_topk

    df = _hybrid_corpus(spark)  # the join is estimated at several GB
    assert _snapshot(df) is None
    q = np.random.default_rng(11).standard_normal(64).tolist()
    k = 8
    for query in (QUERY, QUERY + " zzqabsentterm"):
        got = hybrid_search(
            df, "embedding", "text", q, query, k, "doc_id", fusion_type=kind
        ).collect()
        vec = [(r["doc_id"], r["dist"]) for r in
               vector_topk(df, "embedding", q, k, id_col="doc_id").collect()]
        txt = [(r["doc_id"], r["bm25_score"]) for r in
               text_search(df, "text", query, k, id_col="doc_id").collect()]
        assert 1_000_000 not in {i for i, _ in vec}
        assert 1_000_001 not in {i for i, _ in vec}
        want = _fuse_local(
            spark, df.schema["doc_id"].dataType, vec, txt, k, "doc_id", kind
        ).collect()
        assert [(r[0], r[1]) for r in got] == [(r[0], r[1]) for r in want]


def test_snapshot_stats_equal_per_term_agg(spark):
    """A driver snapshot's postings give N, avgdl and the df of every token;
    each equals the per-term agg over the tokenized corpus bit for bit, and
    an absent term has df 0.0."""
    from myscaledb_spark.functions import text as T

    # its own entry, with a NULL text, an empty one and one without tokens
    df = spark.table("documents").filter("doc_id % 3 = 0").select("doc_id", "text")
    df = df.unionByName(spark.sql(
        "SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(NULL AS STRING) AS text "
        "UNION ALL SELECT CAST(-2 AS BIGINT), '' UNION ALL SELECT CAST(-3 AS BIGINT), '!?'"
    ))
    post = T._snapshot(df).postings("text")
    toked = T._toked(df, "text", "simple", None)
    vocab = sorted(r[0] for r in toked.select(F.explode("_toks")).distinct().collect())
    assert sorted(post.index) == vocab
    base = toked.agg(F.count(F.lit(1)).cast("double"), F.avg("_dl")).collect()[0]
    assert (post.n_docs, post.avgdl) == (base[0], base[1])
    assert T._resident_stats(
        T._snapshot(df), "text", "simple", None,
        ["vector", "zzqabsentterm"], lambda t: T.term_tf("_toks", t), toked,
    ) == (base[0], base[1], [post.df("vector"), 0.0])
    for lo in range(0, len(vocab), 200):
        chunk = vocab[lo:lo + 200]
        row = toked.agg(*[
            F.sum(F.when(T.term_tf("_toks", t) > 0, 1).otherwise(0)).cast("double")
            for t in chunk
        ]).collect()[0]
        assert [post.df(t) for t in chunk] == list(row)


def test_resident_scores_equal_streaming_scores(spark, monkeypatch):
    """Scores from a driver snapshot (its postings' stats, phrase clauses on
    the per-clause path) equal the streaming plan's per-query stats pass,
    for plain BM25 and for NLQ queries with phrases, bit for bit."""
    from myscaledb_spark import session
    from myscaledb_spark.functions import text as T
    from myscaledb_spark.resident import Snapshot

    df = spark.table("documents").filter("doc_id % 7 = 3")  # its own entries
    queries = [("bm25", QUERY), ("nlq", '"merge join" fast +spark'),
               ("nlq", '"data slow" window -vector')]

    def run():
        out = []
        for kind, q in queries:
            if kind == "bm25":
                s = T.text_search(df, "text", q, 20, id_col="doc_id")
            else:
                s = T.nlq_search(df, "text", q, 20, id_col="doc_id")
            out.append([(r["doc_id"], r["bm25_score"]) for r in s.collect()])
        return out

    assert isinstance(T._snapshot(df), Snapshot)
    driver = run()
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", 0)  # stream every query
    assert T._snapshot(df) is None
    assert driver == run()
    assert all(driver)


def test_textsearch_plan_skips_call_site_capture(spark, monkeypatch):
    """The session turns off PySpark's per-call stack capture: building a
    textsearch plan never calls _capture_call_site."""
    import pyspark.errors.utils as eu

    calls = []
    monkeypatch.setattr(eu, "_enable_debugging_cache", None)  # re-read the conf
    monkeypatch.setattr(
        eu, "_capture_call_site", lambda depth: calls.append(depth) or ""
    )
    text_search(spark.table("documents"), "text", QUERY, 5, id_col="doc_id")
    assert calls == []


def test_stats_memo_bound_keeps_current_query_clauses(spark, monkeypatch):
    """When the per-clause df memo overflows its bound mid-query, the
    clauses of the current query that were already memoized survive the
    eviction (clearing them raised KeyError)."""
    from myscaledb_spark import memo, session
    from myscaledb_spark.functions import text as T

    monkeypatch.setattr(memo, "MAX_TERMS", 2)
    df = spark.table("documents").filter("doc_id % 5 = 1")  # its own entry
    want = {}
    for q in ('"data slow"', '"data slow" "merge join" "scan a"'):
        want[q] = [(r["doc_id"], r["bm25_score"])
                   for r in T.nlq_search(df, "text", q, 10, id_col="doc_id").collect()]
    assert all(want.values())
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", 0)  # streaming reference
    for q, rows in want.items():
        assert rows == [(r["doc_id"], r["bm25_score"])
                        for r in T.nlq_search(df, "text", q, 10, id_col="doc_id").collect()]


def test_input_fingerprint_tracks_rewrites(spark, tmp_path):
    """The resident-corpus fingerprint lists every input file with its size
    and mtime, and changes when the input is rewritten."""
    from myscaledb_spark.memo import fingerprint

    path = str(tmp_path / "fp")
    spark.range(3).write.parquet(path)
    before = fingerprint(spark.read.parquet(path))
    assert [f for f, _, _ in before] == sorted(spark.read.parquet(path).inputFiles())
    assert all(size > 0 and mtime > 0 for _, size, mtime in before)
    spark.range(5).write.mode("overwrite").parquet(path)
    assert fingerprint(spark.read.parquet(path)) != before


def test_unfingerprintable_rewrite_drops_the_stale_corpus(spark, tmp_path, monkeypatch):
    """An input rewritten outside Spark whose files cannot be fingerprinted
    streams, and its old resident entry is unpersisted first: otherwise
    Spark's cache manager serves the streaming NLQ plan (the same tokenize
    projection over the same root path) from the old cached corpus."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from myscaledb_spark import memo
    from myscaledb_spark.functions import text as T

    path = tmp_path / "t_nofp"
    path.mkdir()
    docs = [(1, "apple pie"), (2, "banana split"), (3, "cherry tart"),
            (4, "date loaf")]
    q = '"apple crumble" apple'

    def write(name):
        for f in os.listdir(path):
            os.remove(path / f)
        ids, texts = zip(*docs)
        pq.write_table(pa.table({"id": list(ids), "doc": list(texts)}),
                       str(path / name))

    def run():
        df = spark.read.parquet(str(path))
        return [(r["id"], r["bm25_score"]) for r in
                T.nlq_search(df, "doc", q, 5, id_col="id").collect()]

    write("a.parquet")
    assert T._snapshot(spark.read.parquet(str(path)))
    before = run()
    docs.append((5, "apple crumble with apple"))
    write("b.parquet")
    monkeypatch.setattr(memo, "fingerprint", lambda df: None)
    after = run()
    for entry in memo._STORES.pop(spark, {}).values():
        memo._release(entry)
    spark.catalog.clearCache()
    assert after == run() != before
    assert after[0][0] == 5


def _text_entries(spark):
    from myscaledb_spark import memo

    return {k: v for k, v in memo._STORES.get(spark, {}).items() if k[0] == "text"}


def test_filtered_hybrid_search_streams_without_an_entry(spark):
    """hybrid_search over a filtered frame without a resident entry streams
    both legs (no new entry: a WHERE per query would cache every filtered
    copy), with its BM25 stats over the filtered rows, and equals _fuse_local
    over independently collected legs of that frame."""
    from myscaledb_spark.functions import text as T
    from myscaledb_spark.operators.hybrid import _fuse_local
    from myscaledb_spark.operators.topk import vector_topk

    df = _hybrid_corpus(spark).filter("doc_id % 2 = 0")
    entries = _text_entries(spark)
    q = np.random.default_rng(12).standard_normal(64).tolist()
    k = 8
    got = hybrid_search(df, "embedding", "text", q, QUERY, k, "doc_id").collect()
    assert _text_entries(spark) == entries
    vec = [(r["doc_id"], r["dist"]) for r in
           vector_topk(df, "embedding", q, k, id_col="doc_id").collect()]
    txt = [(r["doc_id"], r["bm25_score"]) for r in
           T.text_search(df, "text", QUERY, k, id_col="doc_id",
                         resident=None).collect()]
    want = _fuse_local(
        spark, df.schema["doc_id"].dataType, vec, txt, k, "doc_id", "rsf"
    ).collect()
    assert [(r[0], r[1]) for r in got] == [(r[0], r[1]) for r in want]


def test_parse_nlq_analyzes_clauses_with_the_query_analyzer(spark):
    """Each NLQ clause goes through tokenize_query's chain, repeats kept:
    CJK clauses segment, raw clauses stay whole and unlowered, stem uses
    the shared suffix rule."""
    from myscaledb_spark.functions.text import nlq_search, parse_nlq

    assert [c["tokens"] for c in parse_nlq("数据 查询", "chinese")] == [["数据"], ["查询"]]
    raw = parse_nlq('"Table Hash" +Vector', "raw")
    assert [(c["tokens"], c["phrase"], c["must"]) for c in raw] == [
        (["Table Hash"], False, False), (["Vector"], False, True)
    ]
    assert parse_nlq("searching tables", "stem")[0]["tokens"] == ["search"]
    assert parse_nlq('"a b a"')[0]["tokens"] == ["a", "b", "a"]
    assert tokenize_query("数据 fast", "chinese_char") == ["数", "据", "fast"]
    docs = spark.createDataFrame(
        [(1, "数据查询很快"), (2, "数据引擎"), (3, "fast engine")], "id long, text string"
    )
    got = nlq_search(docs, "text", "+数据 -引擎", 3, id_col="id", tokenizer="chinese")
    assert [r.id for r in got.collect()] == [1]


def _ranked(df, score_col, ascending, id_col, part_col=None):
    order = [F.col(score_col).asc() if ascending else F.col(score_col).desc(), F.col(id_col).asc()]
    w = (Window.partitionBy(part_col) if part_col else Window).orderBy(*order)
    sel = [id_col, score_col] + ([part_col] if part_col else [])
    return df.select(*sel).withColumn("_rank", F.row_number().over(w))


def _minmax_norm(df, score_col, out_col, part_col=None):
    """Min-max normalize; all-equal list → 1.0 (HybridSearchUtils.cpp:296-302),
    per part with ``part_col``."""
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


def _dataframe_fusion(vec_cand, txt_cand, k, id_col, fusion_type, metric,
                      fusion_weight, fusion_k, score_name, part_col=None):
    """The fusion as Spark windows, broadcast min/max cross joins and a full
    outer join — the oracle of the driver-side ``fuse_candidates``: Spark's
    own NULL, NaN and -0.0 semantics, one (id, score) frame ordered by score
    DESC, id ASC, limit k."""
    from myscaledb_spark.functions.vector import METRIC_ASCENDING

    asc = METRIC_ASCENDING.get(metric, True)
    if metric.upper() == "L2":
        vec_cand = vec_cand.withColumn("_vdist", F.col("_vdist") * F.col("_vdist"))
    if fusion_type == "rrf":
        v = _ranked(vec_cand, "_vdist", asc, id_col, part_col).select(
            F.col(id_col), (F.lit(1.0) / (F.lit(float(fusion_k)) + F.col("_rank"))).alias("_vs")
        )
        t = _ranked(txt_cand, "_bm25", False, id_col, part_col).select(
            F.col(id_col), (F.lit(1.0) / (F.lit(float(fusion_k)) + F.col("_rank"))).alias("_ts")
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


_NAN = float("nan")

#: candidate lists of the driver-side fusion vs the DataFrame oracle:
#: (vector leg, text leg), at least 4 ids each
_FUSION_CASES = {
    "tied": ([(1, 0.5), (2, 0.5), (3, 1.25), (4, 2.0), (7, 1.25)],
             [(2, 3.0), (5, 3.0), (1, 1.0), (6, 0.7), (8, 1.0)]),
    "all_equal": ([(1, 1.0), (2, 1.0), (3, 1.0)], [(3, 2.5), (4, 2.5)]),
    "empty_text": ([(1, 0.3), (2, 0.1), (3, 0.2), (4, 0.9)], []),
    "nan_first": ([(1, _NAN), (2, 0.5), (3, 1.0)], [(1, 2.0), (4, 1.0)]),
    "nan_last": ([(2, 0.5), (3, 1.0), (1, _NAN)], [(1, 2.0), (4, 1.0)]),
    "nan_bm25": ([(1, 0.3), (2, 0.1), (3, 0.2)], [(4, _NAN), (1, 2.0), (5, 1.0)]),
    "all_nan": ([(1, _NAN), (2, _NAN), (3, _NAN)], [(3, 1.0), (4, 0.5)]),
    "neg_zero": ([(2, 0.0), (1, -0.0), (3, 0.5)], [(2, 0.0), (1, -0.0), (4, 1.0)]),
}


@pytest.mark.parametrize("kind", ["rsf", "rrf"])
def test_fuse_local_equals_fuse_candidates(spark, kind):
    """fuse_candidates (one collect, driver-side fusion) equals the DataFrame
    fusion oracle bit for bit — ids, order and score bits — per metric, on
    tied scores, an all-equal list, an empty text leg, NaN scores in either
    leg (Spark orders NaN above every double and NaN = NaN) and -0.0.  One
    oracle call per metric fuses all cases as parts (disjoint ids; ranked
    and normalized per part): its rows are the answer of fuse_candidates
    with part_col, and per case, of fuse_candidates without it and of
    _fuse_local on the lists.  The oracle's unpartitioned form runs on the
    NaN-last case."""
    import struct

    from pyspark.sql import types as T

    from myscaledb_spark.operators.hybrid import _fuse_local, fuse_candidates
    from myscaledb_spark.session import values_relation

    def frame(rows, score, part=False):
        fields = [T.StructField("id", T.LongType()), T.StructField(score, T.DoubleType())]
        if part:
            fields.append(T.StructField("_part", T.IntegerType()))
        return values_relation(spark, T.StructType(fields), rows)

    def bits(rows):
        return [(r[0], struct.pack(">d", r[1]).hex()) for r in rows]

    cases = [
        ([(100 * c + i, d) for i, d in vec], [(100 * c + i, s) for i, s in txt])
        for c, (vec, txt) in enumerate(_FUSION_CASES.values())
    ]
    frames = [(frame(vec, "_vdist"), frame(txt, "_bm25")) for vec, txt in cases]
    vec_df = frame([(i, d, c) for c, (vec, _) in enumerate(cases) for i, d in vec], "_vdist", True)
    txt_df = frame([(i, s, c) for c, (_, txt) in enumerate(cases) for i, s in txt], "_bm25", True)
    nan_last = list(_FUSION_CASES).index("nan_last")
    for metric in ("L2", "IP", "Cosine", "Hamming"):
        args = (kind, metric, 0.3, 60, "s")
        want = bits(_dataframe_fusion(vec_df, txt_df, 100, "id", *args, "_part").collect())
        assert bits(fuse_candidates(vec_df, txt_df, 100, "id", *args, part_col="_part")
                    .collect()) == want, metric
        for c, (vec, txt) in enumerate(cases):
            case = [r for r in want if r[0] // 100 == c][:4]
            assert len(case) == 4, (metric, c)
            got = fuse_candidates(*frames[c], 4, "id", *args)
            assert bits(got.collect()) == case, (metric, c)
            local = _fuse_local(spark, T.LongType(), vec, txt, 4, "id", *args)
            assert bits(local.collect()) == case, (metric, c)
        alone = _dataframe_fusion(*frames[nan_last], 4, "id", *args)
        assert bits(alone.collect()) == [r for r in want if r[0] // 100 == nan_last][:4]


def test_bm25_constants_read_only_in_the_scorer():
    """The idf·norm expression is built in one place: BM25_K1 and BM25_B
    are read under myscaledb_spark/ only inside text.bm25_sum, which builds
    both the Spark Column and the driver snapshot's numpy scores."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "myscaledb_spark")
    stray = []
    for d, _, fs in os.walk(pkg):
        for f in fs:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            tree = ast.parse(open(path, encoding="utf-8").read())
            funcs = [n for n in ast.walk(tree)
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
            for n in ast.walk(tree):
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                    name = n.id
                elif isinstance(n, ast.Attribute):
                    name = n.attr
                elif isinstance(n, ast.alias):
                    name = n.name
                else:
                    continue
                if name not in ("BM25_K1", "BM25_B"):
                    continue
                inner = [fn for fn in funcs if fn.lineno <= n.lineno <= fn.end_lineno]
                owner = max(inner, key=lambda fn: fn.lineno).name if inner else None
                if (f, owner) != ("text.py", "bm25_sum"):
                    stray.append(f"{os.path.relpath(path, pkg)}:{n.lineno}")
    assert not stray, stray


def test_hybrid_fusion_lives_in_fuse_candidates():
    """Source guard: under myscaledb_spark/ only hybrid.fuse_candidates calls
    or imports _collect_legs and _fuse_local — and hybrid_search, whose
    driver snapshot path fuses its numpy legs with _fuse_local — and
    operators/hybrid.py builds no Spark window, row_number or full outer
    join."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "myscaledb_spark")
    stray = []
    for d, _, fs in os.walk(pkg):
        for f in fs:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, pkg)
            tree = ast.parse(open(path, encoding="utf-8").read())
            funcs = [n for n in ast.walk(tree)
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
            for n in ast.walk(tree):
                if isinstance(n, ast.Call):
                    fn = n.func
                    name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                elif isinstance(n, ast.alias):
                    name = n.name
                else:
                    name = None
                if name in ("_collect_legs", "_fuse_local"):
                    inner = [fn for fn in funcs if fn.lineno <= n.lineno <= fn.end_lineno]
                    owner = max(inner, key=lambda fn: fn.lineno).name if inner else None
                    allowed = {"fuse_candidates", "hybrid_search"} if name == "_fuse_local" \
                        else {"fuse_candidates"}
                    if rel != os.path.join("operators", "hybrid.py") or owner not in allowed:
                        stray.append(f"{rel}:{n.lineno} {name}")
                if rel == os.path.join("operators", "hybrid.py"):
                    word = (getattr(n, "id", None) or getattr(n, "attr", None)
                            or getattr(n, "name", None)
                            or (n.value if isinstance(n, ast.Constant) else None))
                    if word in ("Window", "row_number", "full_outer"):
                        stray.append(f"{rel}:{n.lineno} {word}")
    assert not stray, stray


def test_unknown_tokenizer_raises_on_the_query_side():
    """The query analyzer rejects an unknown tokenizer name as the column
    tokenizer does, instead of analyzing the query as ``simple``."""
    from myscaledb_spark.errors import InvalidSearchQuery
    from myscaledb_spark.functions.text import parse_nlq

    with pytest.raises(InvalidSearchQuery, match="unknown tokenizer"):
        tokenize_query("Hello World", "bogus")
    with pytest.raises(InvalidSearchQuery, match="unknown tokenizer"):
        parse_nlq('hello +"big world"', "bogus")
    assert tokenize_query("Hello World", "simple") == ["hello", "world"]


def test_match_predicate_equals_tf_match(spark):
    from myscaledb_spark.functions.text import match_predicate, term_tf

    rows = [
        (1, "the vector search engine"),
        (2, "nothing relevant here"),
        (3, "search only"),
        (4, ""),
        (5, None),
        (6, "vector search fast vector"),
    ]
    df = spark.createDataFrame(rows, "id int, text string").withColumn(
        "_toks",
        F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""),
    )
    terms = ["vector", "search", "fast"]
    for op in ("OR", "AND"):
        tf_match = F.lit(op == "AND")
        for t in terms:
            c = term_tf("_toks", t) > 0
            tf_match = (tf_match & c) if op == "AND" else (tf_match | c)
        got = sorted(
            r["id"] for r in df.filter(match_predicate("_toks", terms, op)).collect()
        )
        want = sorted(r["id"] for r in df.filter(tf_match).collect())
        assert got == want, f"operator={op}"


def test_clause_present_equals_clause_tf(spark):
    from myscaledb_spark.functions.text import _clause_present, _clause_tf

    rows = [
        (1, ["table", "hash", "join"]),     # phrase "table hash" present
        (2, ["hash", "table"]),              # reversed — absent
        (3, ["a", "a", "a"]),                # self-overlapping phrase "a a"
        (4, ["a"]),                          # too short for the phrase
        (5, []),
        (6, ["table", "hash", "table", "hash"]),  # two occurrences
    ]
    df = spark.createDataFrame(rows, "id int, _toks array<string>")
    for clause in (["table"], ["table", "hash"], ["a", "a"]):
        got = sorted(
            r["id"] for r in df.filter(_clause_present("_toks", clause)).collect()
        )
        want = sorted(
            r["id"] for r in df.filter(_clause_tf("_toks", clause) > 0).collect()
        )
        assert got == want, f"clause={clause}"
