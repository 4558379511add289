"""Dedup operator edge cases: short/empty docs through shingles (Spark's
sequence(1,0) returns [1,0], not []), and the LSH hot-bucket guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    shingle_sets,
    shingles,
)


def test_shingles_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [
            (1, ["a", "b", "c", "d"]),
            (2, ["a", "b"]),  # fewer than n=3 tokens
            (3, []),  # empty
            (4, ["x", "y", "z"]),  # exactly n
        ],
        "id int, toks array<string>",
    )
    rows = {
        r["id"]: r["sh"]
        for r in df.select("id", shingles(F.col("toks"), 3).alias("sh")).collect()
    }
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []
    assert rows[3] == []
    assert rows[4] == ["x y z"]


def test_minhash_pipeline_survives_short_docs(spark):
    # a realistic corpus mix: normal docs, one-word docs, empty docs
    docs = [(i, "the quick brown fox jumps over the lazy dog number %d" % (i % 3))
            for i in range(12)]
    docs += [(100, "hi"), (101, ""), (102, "one two")]
    df = spark.createDataFrame(docs, "doc_id int, text string").withColumn(
        "toks", F.split(F.lower("text"), r"[^a-z0-9]+")
    ).withColumn("toks", F.filter("toks", lambda t: t != ""))
    pairs = minhash_dedup_pairs(df, "doc_id", F.col("toks"), 3, 12, 4, 0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # identical texts (same i%3 group) must pair up; short docs must not crash
    assert (0, 3) in got or (3, 0) in got
    assert all(a < 100 and b < 100 for a, b in got)


def test_lsh_hot_bucket_capped(spark):
    """1k identical docs → every band key identical. Uncapped this is
    ~499 500 pairs/band; the chain guard keeps it linear while staying
    connected for downstream clustering."""
    n = 1000
    df = spark.createDataFrame(
        [(i, ["dup", "boiler", "plate", "text", "common"]) for i in range(n)],
        "doc_id int, toks array<string>",
    )
    sh = shingle_sets(df, "doc_id", F.col("toks"), 3)
    sig = minhash_signatures(sh, "doc_id", 12)

    capped = lsh_candidate_pairs(sig, "doc_id", 12, 4, max_bucket=100)
    n_pairs = capped.count()
    # chained: n-1 distinct adjacent pairs (identical across all 4 bands)
    assert n_pairs == n - 1
    # still one connected component: union-find via the pairs
    from myscaledb_spark.operators.dedup import dedup_clusters

    clusters = dedup_clusters(capped)
    assert clusters.select("cluster_id").distinct().count() == 1


def test_lsh_small_buckets_unaffected_by_cap(spark):
    df = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "gamma", "delta", "eps"]),
            (2, ["alpha", "beta", "gamma", "delta", "eps"]),
            (3, ["totally", "different", "words", "here", "now"]),
        ],
        "doc_id int, toks array<string>",
    )
    sh = shingle_sets(df, "doc_id", F.col("toks"), 3)
    sig = minhash_signatures(sh, "doc_id", 12)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sig, "doc_id", 12, 4, max_bucket=None).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sig, "doc_id", 12, 4, max_bucket=100).collect()
    }
    assert uncapped == capped == {(1, 2)}


def test_empty_array_helpers(spark):
    from myscaledb_spark.functions import ch_compat as ch

    df = spark.createDataFrame(
        [(1, [1.0, 3.0, 6.0]), (2, [])], "id int, a array<double>"
    )
    out = df.select(
        "id",
        ch.arrayCumSum("a").alias("cum"),
        ch.arrayEnumerate("a").alias("en"),
        ch.arrayEnumerateUniq("a").alias("enu"),
        ch.arrayDifference("a").alias("diff"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["cum"] == [1.0, 4.0, 10.0]
    assert by_id[1]["en"] == [1, 2, 3]
    assert by_id[1]["diff"] == [0.0, 2.0, 3.0]
    assert by_id[2]["cum"] == []
    assert by_id[2]["en"] == []
    assert by_id[2]["enu"] == []
    assert by_id[2]["diff"] == []


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


def test_cosine_neardup_drops_zero_norm_rows_under_ansi(spark, sql_conf):
    """A zero-norm row has no cosine (a zero divisor): it pairs with nothing,
    where it failed the whole self-join with DIVIDE_BY_ZERO under ANSI."""
    from myscaledb_spark.operators.similarity import cosine_neardup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])], "id int, v array<double>"
    )
    sql_conf(**{"spark.sql.ansi.enabled": "true"})
    pairs = [tuple(r) for r in cosine_neardup_pairs(df, "v", "id", 0.5).collect()]
    assert pairs == [(1, 3, 0.7071)]
