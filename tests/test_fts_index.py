"""FTS index: build → search == direct BM25 path → incremental append keeps
global stats correct."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from myscaledb_spark import resident, session
from myscaledb_spark.functions.text import text_search
from myscaledb_spark.plans.fts_index import append_to_fts_index, build_fts_index, fts_search
from myscaledb_spark.plans.frame_cache import data_files
from tests.test_index_maintenance import _writers, local_batch
from tests.test_resident import _served_and_spark

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


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_pruned_scan(spark, fts_dir, monkeypatch):
    """Above the driver gate the search scans only the query terms'
    postings; below it the answer is a local relation."""
    assert _executed(fts_search(spark, fts_dir, QUERY, 5)).startswith("LocalTableScan")
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", 0)
    plan = _executed(fts_search(spark, fts_dir, QUERY, 5))
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


def test_text_search_auto_routes_to_postings(spark, tmp_path, monkeypatch):
    """text_search(artifact_dir=...) consults the registry and serves from
    the postings artifact: same rows/scores as the direct path, corpus never
    tokenized (no split/explode over text in the plan), postings held on
    the driver, or scanned above the driver gate."""
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
    served = resident.served()
    routed = text_search(
        docs, "text", "ancient wisdom", 3, id_col="doc_id", artifact_dir=art
    )
    assert resident.served() == served + 1  # the postings held on the driver
    assert routed.columns == direct.columns
    assert [tuple(r) for r in routed.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    assert "split(" not in routed._jdf.queryExecution().executedPlan().toString()
    with monkeypatch.context() as m:
        m.setattr(session, "DRIVER_RESIDENT_BYTES", 0)
        routed = text_search(
            docs, "text", "ancient wisdom", 3, id_col="doc_id", artifact_dir=art
        )
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


# -- the driver search equals the Spark plan ------------------------------------

_WORDS = ("ancient", "wisdom", "empires", "rise", "military", "cultures", "fall")


def _docs(spark, lo, hi):
    """Docs ``lo``..``hi`` - 1; every fifth repeats the text of the one
    before it (tied scores), every seventh has no text."""
    rows = []
    for i in range(lo, hi):
        j = i - 1 if i % 5 == 0 else i
        words = [_WORDS[(j * 3 + n) % len(_WORDS)] for n in range(1 + j % 4)]
        rows.append((i, None if i % 7 == 0 else " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("operator", ["OR", "AND"])
def test_driver_search_equals_spark_plan_after_appends(spark, tmp_path, monkeypatch, operator):
    """fts_search from the postings held on the driver equals the Spark
    plan bit for bit (rows, scores, order, schema) after 0, 1 and 2 appends:
    tied scores, an absent term, a repeated query term and k past the
    matches included.  No search runs a Spark job, also the first one
    after an append."""
    d = str(tmp_path / "fts_driver")
    build_fts_index(_docs(spark, 0, 40), "text", "doc_id", d)
    for lo in (40, 60, None):
        for q, k in (("ancient wisdom", 6), ("military zzqabsent", 200),
                     ("rise rise empires", 9), ("zzqabsent", 5)):
            driver, want = _served_and_spark(
                spark, monkeypatch, lambda: fts_search(spark, d, q, k, operator=operator))
            assert driver == want
        if lo is not None:
            append_to_fts_index(_docs(spark, lo, lo + 20), "text", "doc_id", d)
    assert driver == [] and want == []  # the absent term
    ties = [r[1] for r in _served_and_spark(
        spark, monkeypatch, lambda: fts_search(spark, d, "wisdom", 200))[0]]
    assert len(ties) > len(set(ties))  # tied scores, ordered by doc_id


def test_duplicated_id_append_scores_one_merged_doc(spark, tmp_path, monkeypatch):
    """An appended doc id already in the artifact scores as one doc on both
    paths: tf summed over its copies, its length the longest copy's, df
    counting each copy (dfreq)."""
    d = str(tmp_path / "fts_dup")
    build_fts_index(spark.createDataFrame(
        [(1, "vector search"), (2, "fast vector"), (3, "search engine index")],
        "doc_id long, text string"), "text", "doc_id", d)
    append_to_fts_index(spark.createDataFrame(
        [(1, "vector fast fast")], "doc_id long, text string"), "text", "doc_id", d)
    driver, want = _served_and_spark(
        spark, monkeypatch, lambda: fts_search(spark, d, "vector fast", 5))
    assert driver == want
    rows = fts_search(spark, d, "vector fast", 5).collect()
    assert [r.doc_id for r in rows].count(1) == 1
    assert round(rows[0].bm25_score, 5) == 1.36663 and rows[0].doc_id == 1


def test_driver_append_declines_repeated_and_null_ids(spark, tmp_path, monkeypatch):
    """A batch that repeats an id, or holds a NULL one, is appended by Spark
    (its files are parquet-mr's; Spark's first(dl) over a merged id is not
    deterministic), a batch of distinct ids by the driver; searches still
    equal the Spark plan."""
    d = str(tmp_path / "fts_decline")
    schema = "doc_id long, text string"
    build_fts_index(_docs(spark, 0, 20), "text", "doc_id", d)
    post = os.path.join(d, "fts", "postings")
    for rows, writer in (([(30, "ancient wisdom"), (31, "rise")], "parquet-cpp-arrow"),
                         ([(40, "ancient rise"), (40, "wisdom")], "parquet-mr"),
                         ([(50, "military rise"), (None, "fall")], "parquet-mr")):
        before = data_files(post)
        append_to_fts_index(local_batch(spark, rows, schema), "text", "doc_id", d)
        assert _writers(post, before) == {writer}, rows
    driver, want = _served_and_spark(
        spark, monkeypatch, lambda: fts_search(spark, d, "ancient wisdom rise fall", 50))
    assert driver == want and {r[0] for r in driver} >= {30, 31, 40, 50, None}

