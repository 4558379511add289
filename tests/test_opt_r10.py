"""r10 optimization equivalence pins.

Each r10 optimization replaces a filter that Catalyst would push below a
projection (re-evaluating the expensive projected expression per row —
guide §7.2 "duplicated subtrees") with a cheap predicate proven equivalent.
These tests pin the equivalences on adversarial inputs the testdata never
exercises: NULL and empty docs, short docs.  The distance_defined pins live
in test_vector_search.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark import session


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
