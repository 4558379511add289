"""r11 optimization equivalence pins.

Each r11 optimization is an execution-level change (scoped SETTINGS block,
memo, VALUES re-emit) — these tests pin that the optimized execution returns
row-for-row identical results to the un-scoped shape.  The tagged-union leg
collect is pinned in test_text_search.py.
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
