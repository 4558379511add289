"""FTS index: build → search == direct BM25 path → incremental append keeps
global stats correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myscaledb_spark.functions.text import text_search
from myscaledb_spark.plans.fts_index import append_to_fts_index, build_fts_index, fts_search

QUERY = "vector search fast"


@pytest.fixture(scope="module")
def fts_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fts"))
    rec = build_fts_index(spark.table("documents"), "text", "doc_id", d)
    assert rec["status"] == "Built"
    return d


def test_index_search_equals_direct(spark, fts_dir):
    via_index = fts_search(spark, fts_dir, QUERY, 15).collect()
    direct = (
        text_search(spark.table("documents"), "text", QUERY, 15, id_col="doc_id")
        .select("doc_id", "bm25_score")
        .collect()
    )
    assert [(r.doc_id, round(r.bm25_score, 9)) for r in via_index] == [
        (r.doc_id, round(r.bm25_score, 9)) for r in direct
    ]


def test_and_operator(spark, fts_dir):
    via_index = fts_search(spark, fts_dir, QUERY, 15, operator="AND").collect()
    direct = (
        text_search(
            spark.table("documents"), "text", QUERY, 15, id_col="doc_id", operator="AND"
        )
        .select("doc_id")
        .collect()
    )
    assert [r.doc_id for r in via_index] == [r.doc_id for r in direct]


def test_term_pruned_scan(spark, fts_dir):
    plan = (
        fts_search(spark, fts_dir, QUERY, 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "term" in plan


def test_incremental_append(spark, fts_dir, tmp_path_factory):
    # build a separate index over half the docs, append the other half,
    # result must equal the full direct computation
    d = str(tmp_path_factory.mktemp("fts_inc"))
    docs = spark.table("documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    build_fts_index(first, "text", "doc_id", d)
    append_to_fts_index(second, "text", "doc_id", d)
    via_index = fts_search(spark, d, QUERY, 10).collect()
    direct = (
        text_search(docs, "text", QUERY, 10, id_col="doc_id")
        .select("doc_id", "bm25_score")
        .collect()
    )
    assert [(r.doc_id, round(r.bm25_score, 9)) for r in via_index] == [
        (r.doc_id, round(r.bm25_score, 9)) for r in direct
    ]


def test_index_with_tokenizer_spec_equals_direct(spark, tmp_path_factory):
    """The persisted index carries the full tokenizer config
    (stop_word_filters/stem_languages/length_limit) and analyzes queries
    with it — index-backed scores must equal the direct spec'd path."""
    from myscaledb_spark.functions.tokenizer_spec import parse_fts_config

    spec = parse_fts_config(
        '{ "text": { "tokenizer": { "type": "stem", '
        '"stop_word_filters": ["english"], "stem_languages": ["english"], '
        '"length_limit": 40 } } }'
    )["text"]
    d = str(tmp_path_factory.mktemp("fts_spec"))
    rec = build_fts_index(spark.table("documents"), "text", "doc_id", d, spec=spec)
    assert rec["status"] == "Built"
    q = "the searching vectors fast"
    via_index = fts_search(spark, d, q, 15).collect()
    direct = (
        text_search(
            spark.table("documents"), "text", q, 15, id_col="doc_id", spec=spec
        )
        .select("doc_id", "bm25_score")
        .collect()
    )
    assert len(via_index) == 15
    assert [(r.doc_id, round(r.bm25_score, 9)) for r in via_index] == [
        (r.doc_id, round(r.bm25_score, 9)) for r in direct
    ]


def test_text_search_auto_routes_to_postings(spark, tmp_path):
    """text_search(artifact_dir=...) consults the registry and serves from
    the postings artifact: same rows/scores as the direct path, corpus never
    tokenized (no split/explode over text in the plan), postings scanned."""
    from myscaledb_spark.functions.text import text_search
    from myscaledb_spark.plans.fts_index import build_fts_index

    docs = spark.createDataFrame(
        [
            (0, "ancient empires rise and fall"),
            (1, "artistic expressions reflect cultures"),
            (2, "ancient philosophies provide ancient wisdom"),
            (3, "strategic military campaigns"),
        ],
        "doc_id long, text string",
    )
    art = str(tmp_path / "fts_route")
    build_fts_index(docs, "text", "doc_id", art, name="fts")

    direct = text_search(docs, "text", "ancient wisdom", 3, id_col="doc_id")
    routed = text_search(
        docs, "text", "ancient wisdom", 3, id_col="doc_id", artifact_dir=art
    )
    assert routed.columns == direct.columns
    assert [tuple(r) for r in routed.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "/fts" in plan                # the artifact scan (paths truncate)
    assert "split(" not in plan          # corpus never tokenized
    # unbuilt index name → silent fallback to the direct path
    fallback = text_search(
        docs, "text", "ancient wisdom", 3, id_col="doc_id",
        artifact_dir=art, index_name="nope",
    )
    assert [tuple(r) for r in fallback.collect()] == [
        tuple(r) for r in direct.collect()
    ]


def test_index_routed_text_search_with_where_returns_direct_rows(spark, tmp_path):
    """A filtered index-routed search keeps k rows: the filter is not applied
    to the index's global top-k (which holds mostly filtered-out docs
    here), so the result equals the direct path's."""
    docs = spark.createDataFrame(
        [(i, "vector" if i % 5 == 4 else f"vector filler words {i}") for i in range(20)],
        "doc_id long, text string",
    )
    art = str(tmp_path / "fts_where")
    build_fts_index(docs, "text", "doc_id", art)
    where = F.col("doc_id") % 5 != 4
    direct = text_search(docs, "text", "vector", 5, id_col="doc_id", where=where)
    routed = text_search(
        docs, "text", "vector", 5, id_col="doc_id", where=where, artifact_dir=art
    )
    want = [tuple(r) for r in direct.collect()]
    assert len(want) == 5
    assert [tuple(r) for r in routed.collect()] == want
