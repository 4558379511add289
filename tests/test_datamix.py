"""Dataset-mixing operators: distributed-prefix-sum packing equals the
sequential layout, stratified sampling determinism, contamination join."""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark import session
from myscaledb_spark.operators.datamix import (
    contamination_check,
    pack_sequences,
    sample_stratified,
)


def test_pack_sequences_equals_sequential(spark, monkeypatch):
    rows = [(i, (i * 37) % 90 + 10) for i in range(500)]
    df = spark.createDataFrame(rows, "id int, n int")
    # disable the small-input gate so the distributed offset machinery
    # actually runs, and force many range partitions
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        packed = {
            r.id: (r.seq_id, r.offset_in_seq)
            for r in pack_sequences(
                df, "id", "n", 256, ["id"], num_partitions=13
            ).collect()
        }
    finally:
        monkeypatch.undo()
    cum = 0
    for i, n in rows:
        assert packed[i] == (cum // 256, cum % 256), i
        cum += n


def test_pack_sequences_small_input_path_equals_distributed(spark, monkeypatch):
    """The cost-gated small-input plan (single global-order window, one
    action) must lay out every document exactly like the distributed prefix
    sum — numeric and non-numeric order keys, including an overflow doc."""
    # spark.range has REAL size stats (createDataFrame's RDD scan reports
    # unknown/max size, which correctly keeps the gate off)
    df = spark.range(301).select(
        F.col("id"),
        F.when(F.col("id") < 300, (F.col("id") * 37) % 90 + 10)
        .otherwise(F.lit(700))  # overflow doc spans windows
        .alias("n"),
    )
    small = pack_sequences(df, "id", "n", 256, ["id"])  # gate fires (<256 MB)
    # the small plan is one Window, no checkpointed-RDD scan
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "ExistingRDD" not in plan
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        dist = pack_sequences(df, "id", "n", 256, ["id"], num_partitions=7)
        assert sorted(map(tuple, small.collect())) == sorted(
            map(tuple, dist.collect())
        )
    finally:
        monkeypatch.undo()
    # non-numeric (string) order key with ties: both paths, same layout
    sdf = spark.range(50).select(
        F.col("id"),
        F.concat(F.lit("k"), (F.col("id") % 5).cast("string")).alias("k"),
        (F.col("id") + 100).alias("n"),
    )
    small = sorted(map(tuple, pack_sequences(sdf, "id", "n", 256, ["k"]).collect()))
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        dist = sorted(map(tuple, pack_sequences(sdf, "id", "n", 256, ["k"]).collect()))
    finally:
        monkeypatch.undo()
    assert small == dist


def test_pack_sequences_oversized_doc_spans(spark):
    df = spark.createDataFrame([(1, 100), (2, 500), (3, 100)], "id int, n int")
    got = {r.id: r.seq_id for r in pack_sequences(df, "id", "n", 256, ["id"]).collect()}
    # doc 2 starts in window 0 (offset 100) and spans; doc 3 starts at 600 -> window 2
    assert got == {1: 0, 2: 0, 3: 2}


def test_sample_stratified_deterministic_and_rated(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(4000)], "id int, s string"
    )
    kept1 = sample_stratified(
        df, "s", {"a": 0.5}, F.col("id").cast("string"), default_rate=0.0
    )
    kept2 = sample_stratified(
        df, "s", {"a": 0.5}, F.col("id").cast("string"), default_rate=0.0
    )
    ids1 = sorted(r.id for r in kept1.collect())
    assert ids1 == sorted(r.id for r in kept2.collect())  # deterministic
    assert all(i % 2 == 1 for i in ids1)  # default_rate=0 drops stratum b
    # rate is approximately honored (hash-uniform)
    assert 0.4 < len(ids1) / 2000 < 0.6


def test_contamination_check_hits_and_misses(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today".split()),
            (2, "completely different words in this training document here".split()),
        ],
        "id int, toks array<string>",
    )
    ev = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog".split()),
            (11, "no overlap with anything at all whatsoever in corpus".split()),
        ],
        "eid int, etoks array<string>",
    )
    out = {
        r.eid: r.n_contaminated_docs
        for r in contamination_check(
            train, "id", F.col("toks"), ev, "eid", F.col("etoks"), 8
        ).collect()
    }
    assert out == {10: 1}  # eval 11 shares no 8-gram -> absent


def test_pack_sequences_tied_order_keys_deterministic(spark):
    """Rows tied on the order key must not share a slot (ROWS frame + id
    tie-break, not the default RANGE frame)."""
    df = spark.createDataFrame(
        [(1, "same", 100), (2, "same", 100), (3, "same", 100)],
        "id int, k string, n int",
    )
    rows = pack_sequences(df, "id", "n", 256, ["k"]).collect()
    slots = sorted((r.seq_id, r.offset_in_seq) for r in rows)
    assert slots == [(0, 0), (0, 100), (0, 200)]
