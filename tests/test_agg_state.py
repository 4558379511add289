"""AggregateFunction partial-state storage: -State/-Merge round-trips
(including through parquet), AggregatingMergeTree / SimpleAggregateFunction
DDL, the uniq HLL state, and the dialect's error discipline."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from myscaledb_spark.operators.agg_state import (
    HLL_M,
    aggregating_final,
    any_state,
    arg_min_state,
    avg_state,
    count_state,
    finalize_state,
    group_array_state,
    initialize_aggregation,
    merge_finalize,
    merge_state,
    quantile_exact_state,
    sum_state,
    uniq_exact_state,
    uniq_finalize,
    uniq_merge_state_agg,
    uniq_merge_states,
    uniq_state,
    uniq_state_agg,
)
from myscaledb_spark.sql_dialect import ChSqlError
from myscaledb_spark.plans.table_ddl import (
    ch_ddl,
    ch_type_to_spark,
    drop_table,
    parse_agg_type,
    show_create_table,
)
from myscaledb_spark.sql_dialect import ch_sql, rewrite

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "price", F.col("o_totalprice").cast("decimal(18,2)")
    )
    df.createOrReplaceTempView("_tas_orders")
    return df


def test_parquet_roundtrip_states(spark, orders, tmp_path):
    """States are plain columns: write the state table to parquet, read it
    back in a fresh DataFrame, merge — the answer is unchanged (the
    reference's AggregatingMergeTree persistence contract)."""
    st = orders.groupBy("o_orderstatus", F.month("o_orderdate").alias("m")).agg(
        sum_state("price").alias("s"),
        avg_state("price").alias("a"),
        uniq_exact_state("o_custkey").alias("ue"),
    )
    path = str(tmp_path / "states")
    st.write.parquet(path)
    back = spark.read.parquet(path)
    got = {
        r["o_orderstatus"]: (r["s"], round(float(r["avg"]), 6), r["ndv"])
        for r in back.groupBy("o_orderstatus")
        .agg(
            merge_finalize("sum", "s").alias("s"),
            merge_finalize("avg", "a").alias("avg"),
            merge_finalize("uniqExact", "ue").alias("ndv"),
        )
        .collect()
    }
    want = {
        r["o_orderstatus"]: (r["s"], round(float(r["avg"]), 6), r["ndv"])
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.sum("price").alias("s"),
            (F.sum("price").cast("double") / F.count(F.lit(1))).alias("avg"),
            F.count_distinct("o_custkey").alias("ndv"),
        )
        .collect()
    }
    assert got == want


def test_uniq_state_parquet_and_merge_paths_agree(spark, orders, tmp_path):
    """The scalable builder (uniq_state), the fold expression
    (uniq_state_agg), and a parquet round-trip all yield identical
    registers → identical estimates."""
    st = uniq_state(orders.withColumn("m", F.month("o_orderdate")), ["m"], "o_custkey")
    path = str(tmp_path / "uniq")
    st.write.parquet(path)
    back = spark.read.parquet(path).withColumn("_g", F.lit(1))
    a = (
        uniq_merge_states(back, ["_g"], "state")
        .select(uniq_finalize("state"))
        .collect()[0][0]
    )
    b = (
        back.groupBy("_g")
        .agg(uniq_merge_state_agg("state").alias("s"))
        .select(uniq_finalize("s"))
        .collect()[0][0]
    )
    c = (
        orders.agg(uniq_state_agg("o_custkey").alias("s"))
        .select(uniq_finalize("s"))
        .collect()[0][0]
    )
    assert a == b == c
    exact = orders.select(F.count_distinct("o_custkey")).collect()[0][0]
    assert abs(a - exact) / exact < 0.25  # m=256 → ~6.5% typical error


def test_hll_register_bounds(spark, orders):
    s = (
        orders.agg(uniq_state_agg("o_custkey").alias("s"))
        .select(
            F.size("s").alias("n"),
            F.array_max("s").alias("mx"),
            F.array_min("s").alias("mn"),
        )
        .collect()[0]
    )
    assert s["n"] == HLL_M and 0 <= s["mn"] and s["mx"] <= 41


def test_group_array_and_quantile_states(spark):
    df = spark.createDataFrame(
        [(1, 10, 1), (1, 30, 2), (1, 20, 3), (2, 5, 4)], "k int, v int, seq int"
    )
    st = df.groupBy("k", (F.col("seq") % 2).alias("p")).agg(
        group_array_state("v", "seq").alias("ga"),
        quantile_exact_state("v").alias("qe"),
        any_state("v", "seq").alias("an"),
        arg_min_state("seq", "v").alias("am"),
        count_state().alias("c"),
    )
    out = (
        st.groupBy("k")
        .agg(
            merge_state("groupArray", "ga", order="p").alias("ga"),
            merge_state("quantileExact", "qe").alias("qe"),
            merge_state("any", "an", order="p").alias("an"),
            finalize_state("argMin", merge_state("argMin", "am")).alias("am"),
            merge_state("count", "c").alias("c"),
        )
        .orderBy("k")
        .collect()
    )
    assert sorted(out[0]["ga"]) == [10, 20, 30]
    assert out[0]["qe"] == [10, 20, 30]  # merged sorted value array
    assert out[0]["am"] == 1  # seq of the min v (=10 at seq 1)
    assert out[0]["c"] == 3
    assert out[1]["qe"] == [5]


def test_initialize_aggregation_feeds_merge(spark, orders):
    ia = orders.select(
        initialize_aggregation("count", F.col("o_custkey")).alias("c"),
        initialize_aggregation("uniq", F.col("o_custkey")).alias("u"),
    )
    got = ia.agg(
        merge_state("count", "c").alias("c"),
        F.round(uniq_finalize(merge_state("uniq", "u")), 4).alias("u"),
    ).collect()[0]
    n = orders.count()
    direct = (
        orders.agg(uniq_state_agg("o_custkey").alias("s"))
        .select(F.round(uniq_finalize("s"), 4))
        .collect()[0][0]
    )
    assert got["c"] == n
    assert float(got["u"]) == float(direct)


def test_aggregating_final_plain_columns_and_errors(spark):
    df = spark.createDataFrame(
        [(1, 5, "x", 1), (1, 7, "y", 2)], "k int, s bigint, note string, seq int"
    )
    with pytest.raises(ValueError, match="order column"):
        aggregating_final(df.drop("seq"), ["k"], {"s": "sum"}, order=None)
    ok = aggregating_final(df, ["k"], {"s": "sum"}, order="seq").collect()
    # seq is itself a plain column here: first-row pinning keeps seq=1
    assert ok[0]["s"] == 12 and ok[0]["note"] == "x" and ok[0]["seq"] == 1
    with pytest.raises(ValueError, match="no state merge"):
        merge_state("median", F.col("s"))


def test_ddl_simple_aggregate_function(spark):
    ch_ddl(spark, "DROP TABLE IF EXISTS _tas_simple")
    ch_ddl(
        spark,
        "CREATE TABLE _tas_simple (k Int64, s SimpleAggregateFunction(sum, Int64), "
        "mx SimpleAggregateFunction(max, Float64)) "
        "ENGINE = AggregatingMergeTree ORDER BY k",
    )
    ch_ddl(spark, "INSERT INTO _tas_simple VALUES (1, 10, 1.5), (1, 5, 9.5), (2, 7, 0.5)")
    rows = {
        r["k"]: (r["s"], r["mx"])
        for r in ch_sql(spark, "SELECT * FROM _tas_simple FINAL").collect()
    }
    assert rows == {1: (15, 9.5), 2: (7, 0.5)}
    ddl = show_create_table("_tas_simple")
    assert "SimpleAggregateFunction(sum, Int64)" in ddl
    # round-trip: the reconstructed DDL parses back
    drop_table(spark, "_tas_simple")
    ch_ddl(spark, ddl)
    drop_table(spark, "_tas_simple")


def test_ddl_type_mapping_and_rejections():
    assert parse_agg_type("AggregateFunction(count)") == ("count", "bigint")
    assert parse_agg_type("AggregateFunction(sum, Int32)") == ("sum", "bigint")
    assert parse_agg_type("AggregateFunction(sum, Decimal(12, 4))") == (
        "sum", "decimal(38,4)")
    assert parse_agg_type("AggregateFunction(avg, Float64)") == (
        "avg", "struct<sum:double,count:bigint>")
    assert parse_agg_type("AggregateFunction(argMax, String, Int64)") == (
        "argMax", "struct<arg:string,val:bigint>")
    assert parse_agg_type("AggregateFunction(uniq, Int64)") == ("uniq", "array<int>")
    assert parse_agg_type("Nullable(Int64)") is None
    assert ch_type_to_spark("AggregateFunction(uniqExact, String)") == "array<string>"
    with pytest.raises(ChSqlError, match="unsupported aggregate function"):
        parse_agg_type("AggregateFunction(median, Int64)")
    with pytest.raises(ChSqlError, match="SimpleAggregateFunction does not support"):
        parse_agg_type("SimpleAggregateFunction(avg, Int64)")
    with pytest.raises(ChSqlError, match="two types"):
        parse_agg_type("AggregateFunction(argMin, Int64)")


def test_ddl_aggregating_needs_state_columns(spark):
    with pytest.raises(ChSqlError, match="AggregatingMergeTree needs"):
        ch_ddl(
            spark,
            "CREATE TABLE _tas_bad (k Int64, v Int64) "
            "ENGINE = AggregatingMergeTree ORDER BY k",
        )


def test_dialect_error_discipline():
    with pytest.raises(ChSqlError, match="type-directed"):
        rewrite("SELECT finalizeAggregation(s) FROM t")
    with pytest.raises(ChSqlError, match="uniqState takes one"):
        rewrite("SELECT uniqState(a, b) FROM t")
    with pytest.raises(ChSqlError, match="uniqMerge takes one"):
        rewrite("SELECT uniqMerge() FROM t")


def test_dialect_states_parse_and_run(spark, orders):
    """Every -State/-Merge rewrite parses and the nested state→merge query
    equals the direct aggregate (argMin/argMax via untied keys)."""
    out = ch_sql(
        spark,
        """
        SELECT argMaxMerge(am) AS best, minMerge(mn) AS mn, maxMerge(mx) AS mx,
               sumCountMerge(sc).sum AS s, sumCountMerge(sc).count AS c,
               toFloat64(round(uniqExactMerge(ue), 4)) AS ndv
        FROM (
          SELECT toMonth(o_orderdate) AS m,
                 argMaxState(o_custkey, o_orderkey) AS am,
                 minState(o_orderkey) AS mn, maxState(o_orderkey) AS mx,
                 sumCountState(o_orderkey) AS sc,
                 uniqExactState(o_custkey) AS ue
          FROM _tas_orders GROUP BY m
        )
        """,
    ).collect()[0]
    direct = spark.sql(
        """
        SELECT max_by(o_custkey, o_orderkey) best, min(o_orderkey) mn,
               max(o_orderkey) mx, sum(o_orderkey) s, count(o_orderkey) c,
               count(distinct o_custkey) ndv
        FROM _tas_orders
        """
    ).collect()[0]
    assert out["best"] == direct["best"] and out["mn"] == direct["mn"]
    assert out["mx"] == direct["mx"] and out["s"] == direct["s"]
    assert out["c"] == direct["c"] and int(out["ndv"]) == direct["ndv"]


def test_dialect_if_state_composition(spark, orders):
    """-IfState filters before the state build; merging filtered states
    equals the filtered one-shot aggregate."""
    out = ch_sql(
        spark,
        """
        SELECT sumMerge(s) AS s, round(avgMerge(a), 4) AS a,
               uniqExactMerge(ue) AS ndv
        FROM (
          SELECT toMonth(o_orderdate) AS m,
                 sumIfState(o_orderkey, o_orderstatus = 'F') AS s,
                 avgIfState(o_orderkey, o_orderstatus = 'F') AS a,
                 uniqExactIfState(o_custkey, o_orderstatus = 'F') AS ue
          FROM _tas_orders GROUP BY m
        )
        """,
    ).collect()[0]
    direct = spark.sql(
        """
        SELECT sum(o_orderkey) s, round(avg(o_orderkey), 4) a,
               count(distinct o_custkey) ndv
        FROM _tas_orders WHERE o_orderstatus = 'F'
        """
    ).collect()[0]
    assert out["s"] == direct["s"] and float(out["a"]) == float(direct["a"])
    assert out["ndv"] == direct["ndv"]


def test_uniq_state_all_null_group_surfaces(spark):
    from myscaledb_spark.operators.agg_state import uniq_finalize, uniq_state

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", None), ("b", None)],
        "k string, v string",
    )
    st = uniq_state(df, ["k"], "v")
    rows = {r.k: r.state for r in st.collect()}
    assert set(rows) == {"a", "b"}          # the all-NULL group is present
    assert all(x == 0 for x in rows["b"])    # with an all-zero register set
    est = {r.k: r.est for r in
           st.select("k", uniq_finalize("state").alias("est")).collect()}
    assert est["b"] == 0 and round(est["a"]) == 2
