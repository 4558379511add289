"""r10 optimization equivalence pins.

Each r10 optimization replaces a filter that Catalyst would push below a
projection (re-evaluating the expensive projected expression per row —
guide §7.2 "duplicated subtrees") with a cheap predicate proven equivalent.
These tests pin the equivalences on adversarial inputs the testdata never
exercises: NULL arrays, wrong-dimension vectors, NULL elements, empty docs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myscaledb_spark import session
from myscaledb_spark.functions.vector import distance, distance_defined


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


def test_minhash_excludes_short_docs_without_prefilter(spark):
    """The r10 cold path stores short docs as empty cached sets instead of
    pre-filtering on size(tokens) (which re-tokenized every row below the
    cache); they must still contribute no signatures and no pairs."""
    from myscaledb_spark.operators.dedup import minhash_dedup_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "two tokens"),                            # < 3 tokens: no shingles
        (4, "one"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string").withColumn(
        "_toks",
        F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""),
    )
    pairs = minhash_dedup_pairs(
        df, "doc_id", F.col("_toks"), 3, 12, 4, 0.5
    ).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_agg_state_small_input_scope_equals_distributed(spark, monkeypatch):
    """The r10 small-input execution scope (AQE off + stats-derived shuffle
    partitions, materialized inside the scope) must return exactly the rows
    the unscoped AQE plan returns — the scope changes execution confs only."""
    from myscaledb_spark.suite.agg_state_gate import agg_state_merge_orders

    sf = "/root/testdata/sf0.001"
    scoped = agg_state_merge_orders(spark, sf)
    # small path fired: the returned frame is pre-materialized — the r10
    # shape was a localCheckpoint (ExistingRDD); r11 re-emits the ≤|status|
    # rows as a VALUES LocalRelation (LocalTableScan, zero jobs on collect)
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        dist = agg_state_merge_orders(spark, sf)
        dplan = dist._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in dplan and "LocalTableScan" not in dplan
        assert sorted(map(tuple, scoped.collect()), key=repr) == sorted(
            map(tuple, dist.collect()), key=repr
        )
    finally:
        monkeypatch.undo()
