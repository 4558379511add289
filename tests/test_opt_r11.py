"""r11 optimization equivalence pins.

Each r11 optimization is an execution-level change (scoped SETTINGS block,
leg fusion by tagged union) — these tests pin that the optimized execution
returns row-for-row identical results to the un-scoped / un-fused shape.
"""

from __future__ import annotations

from myscaledb_spark import session
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_revenue_small_input_scope_equals_adaptive(spark, monkeypatch):
    """The scoped (AQE off / no auto-broadcast / shuffled-hash / stats-derived
    partitions) small-input execution must equal the adaptive plan
    row-for-row — execution confs only, so anything else is a bug."""
    import myscaledb_spark.suite.relational as rel

    scoped = _rows(rel.revenue_by_nation(spark, SF_DIR))
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        adaptive = _rows(rel.revenue_by_nation(spark, SF_DIR))
    finally:
        monkeypatch.undo()
    assert scoped == adaptive


def test_revenue_scoped_settings_restore(spark):
    """The scope must restore AQE/broadcast/shuffle confs after the gate."""
    import myscaledb_spark.suite.relational as rel

    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.join.preferSortMergeJoin",
            "spark.sql.shuffle.partitions",
        )
    }
    rel.revenue_by_nation(spark, SF_DIR).collect()
    after = {k: spark.conf.get(k) for k in before}
    assert before == after


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


def test_pricing_small_input_scope_equals_adaptive(spark, monkeypatch):
    import myscaledb_spark.suite.relational as rel

    scoped = _rows(rel.pricing_summary(spark, SF_DIR))
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        adaptive = _rows(rel.pricing_summary(spark, SF_DIR))
    finally:
        monkeypatch.undo()
    assert scoped == adaptive


def test_rank_corr_memoized_second_run_identical(spark):
    """The r11 rank-table memo and AQE-off cells scope must leave repeated
    runs bit-identical (the memo only skips re-collecting an immutable
    rank table)."""
    from myscaledb_spark.operators.stats import rank_corr

    li = spark.table("lineitem")
    a = rank_corr(li, "l_quantity", "l_extendedprice").collect()[0][0]
    b = rank_corr(li, "l_quantity", "l_extendedprice").collect()[0][0]
    assert a == b


def test_agg_state_values_reemit_schema(spark):
    """The VALUES re-emit must preserve the exact output schema."""
    import myscaledb_spark.suite.agg_state_gate as g

    df = g.agg_state_merge_orders(spark, SF_DIR)
    assert [f.simpleString() for f in df.schema.fields] == [
        "o_orderstatus:string", "cnt:bigint", "sum_price:double",
        "avg_price:double", "min_price:double", "best_cust:bigint",
        "ndv:bigint",
    ]
