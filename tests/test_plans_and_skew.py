"""Plan audits for headline queries (perf properties as test assertions) +
skew helpers correctness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myscaledb_spark import session
from myscaledb_spark.operators.skew import salted_agg, salted_join
from myscaledb_spark.plan_audit import (
    assert_broadcast_join,
    assert_no_python_in_plan,
    assert_pushed_filter,
    assert_take_ordered,
    codegen_stage_count,
)
from myscaledb_spark.operators.topk import vector_topk
from tests.conftest import SF_DIR


def test_vector_topk_plan(spark):
    df = vector_topk(
        spark.table("embeddings"), "embedding", [0.0] * 64, 10, "L2",
        where=F.col("label") == 1, id_col="vec_id",
    )
    assert_take_ordered(df)
    assert_pushed_filter(df, "label")
    assert_no_python_in_plan(df)
    assert codegen_stage_count(df) >= 1


def _spark_search_plans(monkeypatch):
    """Below ``session.DRIVER_RESIDENT_BYTES`` a search answers from the
    corpus's driver snapshot as a VALUES relation; the plan audits are
    about the Spark plan that serves larger corpora, so they lower the
    gate (equivalence of the two paths is pinned by test_resident.py)."""
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", 0)


def _local(df) -> bool:
    return df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"


def test_bm25_plan_no_python(spark, monkeypatch):
    from myscaledb_spark.functions.text import text_search

    args = (spark.table("documents"), "text", "vector search", 10)
    assert _local(text_search(*args, id_col="doc_id"))
    _spark_search_plans(monkeypatch)
    df = text_search(*args, id_col="doc_id")
    assert_no_python_in_plan(df)
    assert_take_ordered(df)


def test_newly_gated_plans_no_python(spark):
    """VERDICT r1 ask: plan-audit the newly-gated search/dedup queries —
    no Python eval nodes in any of these hot paths."""
    import __spark_entry__ as m

    qs = m.queries()
    for name in [
        "hybrid_search_rsf",
        "hybrid_search_rrf",
        "batch_distance_l2",
        "minhash_lsh_pairs",
        "two_stage_l2",
        "bm25_phrase_topk",
    ]:
        df = qs[name](spark, SF_DIR)
        assert_no_python_in_plan(df), name


def test_round3_search_plans(spark, monkeypatch):
    """Round-3 entries: search-on-join broadcasts the filtered dim side and
    keeps TakeOrderedAndProject; multi-distance is one scan, no Python;
    stop-word BM25 stays whole-stage-codegen (the analyzer chain is all
    higher-order column exprs)."""
    import __spark_entry__ as m

    _spark_search_plans(monkeypatch)

    qs = m.queries()
    join_df = qs["vec_search_join"](spark, SF_DIR)
    assert_broadcast_join(join_df)
    assert_take_ordered(join_df)
    assert_no_python_in_plan(join_df)

    sub_df = qs["vec_search_subquery"](spark, SF_DIR)
    assert_take_ordered(sub_df)
    assert_no_python_in_plan(sub_df)

    for name in ("vec_multi_distance", "bm25_stopword_topk"):
        df = qs[name](spark, SF_DIR)
        assert_take_ordered(df)
        assert_no_python_in_plan(df)


def test_get_objects_no_url_localtablescan(spark, tmp_path):
    """get_objects must not materialize the URL set driver-side: the blobs
    side of the join is a binaryFile FileScan, and the probe side is the
    original plan — no LocalTableScan of collected paths anywhere."""
    from myscaledb_spark.operators.multimodal import get_objects

    p = tmp_path / "x.bin"
    p.write_bytes(b"abc")
    df = spark.range(1).select(
        F.col("id").alias("obj_id"), F.lit(str(p)).alias("url")
    )
    out = get_objects(df, "url", roots=[str(tmp_path)])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "binaryFile" in plan or "FileScan" in plan


def test_cjk_text_search_plan_no_python(spark, monkeypatch):
    """r3 VERDICT ask #2: the `chinese` tokenizer must run JVM-side — no
    pandas UDF / Arrow eval anywhere in a CJK text_search plan (the FMM
    dictionary is compiled to a longest-first regex alternation)."""
    from myscaledb_spark.functions.text import text_search

    _spark_search_plans(monkeypatch)
    df = text_search(
        spark.table("documents"), "text", "数据查询", 10,
        id_col="doc_id", tokenizer="chinese",
    )
    assert_no_python_in_plan(df)
    assert_take_ordered(df)


def test_nlq_plan_no_python(spark):
    from myscaledb_spark.functions.text import nlq_search

    df = nlq_search(
        spark.table("documents"), "text", '"table hash" +vector -slow', 10,
        id_col="doc_id",
    )
    assert_no_python_in_plan(df)
    assert_take_ordered(df)


def test_join_broadcasts_dims(spark, monkeypatch):
    import __spark_entry__ as m

    # the r11 small-input scope pre-materializes the ≤25-row result as a
    # VALUES LocalRelation — the join-shape audit is about the underlying
    # plan, so disable the scope for this check (equivalence of the two
    # executions is pinned by test_opt_r11.py)
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    try:
        df = m.queries()["revenue_by_nation"](spark, SF_DIR)
        assert_broadcast_join(df)
        assert_no_python_in_plan(df)
    finally:
        monkeypatch.undo()


def test_funnel_plan_no_python(spark):
    import __spark_entry__ as m

    df = m.queries()["window_funnel_levels"](spark, SF_DIR)
    assert_no_python_in_plan(df)


def test_salted_agg_matches_plain(spark):
    ev = spark.table("events")
    plain = {
        (r.event_type,): (r.n, r.mx)
        for r in ev.groupBy("event_type")
        .agg(F.count("value").alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r.event_type,): (r.n, r.mx)
        for r in salted_agg(
            ev, ["event_type"], {"n": ("count", "value"), "mx": ("max", "value")}
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    o = spark.table("orders")
    c = spark.table("customer")
    plain = o.join(c, o.o_custkey == c.c_custkey).count()
    salted = salted_join(o, c, "o_custkey", "c_custkey").count()
    assert plain == salted


def test_bucketed_join_skips_exchange(spark, tmp_path):
    """Bucketed tables joined on the bucket key must not shuffle
    (co-located join ≈ reference pre-sorted parts / StorageJoin)."""
    from myscaledb_spark.operators.skew import write_bucketed
    from myscaledb_spark.plan_audit import plan_string

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        o = spark.table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
        li = spark.table("lineitem").select("l_orderkey", "l_quantity")
        write_bucketed(o, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
        write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        p = plan_string(joined)
        assert "Exchange" not in p, p[:1500]
        # and it's still correct
        assert joined.count() == o.join(li, o.o_orderkey == li.l_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_count_star_scans_zero_columns(spark):
    """COUNT(*) over parquet must not materialize any column: the v1 reader
    plans a zero-column scan (ReadSchema: struct<>) + partial count, which is
    metadata-cheap; full PushedAggregation needs the DSv2 reader (left at the
    default — flipping useV1SourceList changes too much behavior)."""
    from tests.conftest import SF_DIR
    from myscaledb_spark.plan_audit import plan_string

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").agg(F.count(F.lit(1)))
    p = plan_string(df)
    assert "ReadSchema: struct<>" in p, p[:1200]
    assert "partial_count" in p


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must scan 2 columns (ReadSchema), not 11."""
    from myscaledb_spark.plan_audit import plan_string

    df = spark.table("lineitem").select("l_orderkey", "l_quantity").filter(
        F.col("l_quantity") > 10
    )
    p = plan_string(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p, p[:1500]


def test_priority_names_all_registered():
    """Every PRIORITY entry must name a real registered query — a typo
    would silently waste one of the driver's 50 check slots."""
    from myscaledb_spark import suite

    suite.load_all()
    unknown = [n for n in suite.PRIORITY if n not in suite.REGISTRY]
    assert unknown == [], f"PRIORITY names not in registry: {unknown}"
    # and the window the driver checks is fully oracle-backed except the
    # documented rows-only entries
    ordered = suite._ordered(suite.REGISTRY.keys())[:50]
    rows_only = {n for n in ordered if suite.REGISTRY[n][1] is None}
    assert rows_only <= {"stream_watermark_append"}, rows_only


def test_no_python_eval_in_any_gate_plan(spark):
    """Registry-wide scale audit: NO gate query plans a row-at-a-time or
    Arrow Python eval node, except the one deliberate UDF-surface demo
    (avg_vector_centroids — grouped-agg pandas UDF, §2.12). Every other
    operator family must stay inside JVM codegen to survive 100 TB."""
    from myscaledb_spark import suite

    suite.load_all()
    sf = "/root/testdata/sf0.001"
    # avg_vector_centroids: the deliberate grouped-agg pandas UDF demo;
    # multimodal_roundtrip: media codecs are the sanctioned Python surface;
    # batch_distance_gemm: the blocked-GEMM mapInPandas kernel IS the scale
    # design for nq≫100 batch search (Arrow-batched matrix math — the
    # vectorized analog of the reference's SIMD batch kernels), gated
    # against the explode-path oracle
    # ch_sql_with_fill_multi / _desc / _multi_interpolate: the
    # FillingTransform odometer port is a deliberate single-stream
    # mapInPandas (the reference's own ISimpleTransform execution shape);
    # fill output is result-scale, and the hot single-ascending-fill path
    # keeps the JVM grid-join rewrite
    allow = {
        "avg_vector_centroids", "multimodal_roundtrip",
        "batch_distance_gemm", "ch_sql_with_fill_multi",
        "ch_sql_with_fill_desc", "ch_sql_with_fill_multi_interpolate",
    }
    offenders = []
    for name, (fn, _oracle) in sorted(suite.REGISTRY.items()):
        if name in allow:
            continue
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - surface as failure below
            offenders.append(f"{name}: PLAN_ERR {type(e).__name__}: {e}")
            continue
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan:
            offenders.append(f"{name}: python eval in plan")
    assert not offenders, offenders
