"""Relational operator coverage (SURVEY.md §2.2-2.8, §2.11) with DuckDB
oracles. Each query exercises one operator family; Catalyst supplies the
physical strategy (broadcast joins for dims, partial aggregation, window
exchange per partition key, TakeOrderedAndProject for top-k).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from myscaledb_spark.catalog import load_table
from myscaledb_spark.operators.relational import asof_join, final_dedup, limit_by
from myscaledb_spark.session import collect_small_relation
from myscaledb_spark.suite import register


def _dec2(c):
    return F.col(c).cast("decimal(18,2)")


# --- aggregation core (TPC-H Q1 shape; Aggregator.cpp two-phase ≈ Catalyst
# partial+final) ---------------------------------------------------------------
@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    """Exact money aggregation in integer cents (r8 VERDICT finding #3).

    The decimal(18,2) casts happen ONCE in a pre-select and immediately
    collapse to exact integers (cents / discount basis points), so the
    per-row product `pc * (100 - dc)` is a primitive long multiply inside
    whole-stage codegen instead of a 128-bit decimal multiply, and every
    row-scale SUM is a primitive long add — A/B at sf0.1: 2.97× → 1.45×
    calibration (an all-decimal(20,0) accumulator variant re-paid +0.3 s
    of BigDecimal adds).

    Overflow at 100 TB is handled by a two-level sum: level 1 groups by
    (keys, spark_partition_id()) — effectively a map-side-only partial agg
    (the exchange carries ~|groups| rows PER PARTITION, not per row) whose
    long sums are safe to ~2e15 per 128 MB scan split (bound: ≤2e6 rows ×
    ≤1.1e9/row); level 2 re-sums the few partial rows as decimal(38,0),
    exact to 1e38.  A single-level long sum would overflow around 8e9
    rows/group; single-level decimal pays 128-bit adds per ROW — this
    shape pays them per PARTITION.  The final /100 (/10000) division is
    one correctly-rounded double op, bit-identical to the oracle's
    CAST(SUM(decimal) AS DOUBLE) of the same exact rational."""
    li = load_table(spark, sf_dir, "lineitem")
    qc = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long")
    pc = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    dc = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long")
    # materialize the partition id as a COLUMN before grouping: grouping
    # directly by the nondeterministic expression makes Catalyst exchange
    # the full input instead of map-side partial-aggregating first
    pre = li.select(
        "l_returnflag", "l_linestatus",
        qc.alias("_qc"), pc.alias("_pc"), (pc * (100 - dc)).alias("_dpc"),
        F.spark_partition_id().alias("_pid"),
    )
    partial = pre.groupBy("l_returnflag", "l_linestatus", "_pid").agg(
        F.sum("_qc").alias("_sq"),
        F.sum("_pc").alias("_sp"),
        F.sum("_dpc").alias("_sdp"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    agg = partial.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("_sq").cast("decimal(38,0)")).alias("_sq"),
        F.sum(F.col("_sp").cast("decimal(38,0)")).alias("_sp"),
        F.sum(F.col("_sdp").cast("decimal(38,0)")).alias("_sdp"),
        F.sum("_cnt").alias("count_order"),
    )
    out = agg.select(
        "l_returnflag", "l_linestatus",
        (F.col("_sq").cast("double") / 100.0).alias("sum_qty"),
        (F.col("_sp").cast("double") / 100.0).alias("sum_base_price"),
        (F.col("_sdp").cast("double") / 10000.0).alias("sum_disc_price"),
        (F.col("_sq").cast("double") / 100.0 / F.col("count_order")).alias(
            "avg_qty"),
        "count_order",
    )
    # Small inputs: same scoped execution as revenue_by_nation (r10 VERDICT
    # item 5 — "3 jobs for a single-table agg"): AQE's two stage jobs around
    # the ≤|groups×partitions|-row exchanges cost more than the whole data
    # path, and the ≤|flag×status| result re-emits as a VALUES
    # LocalRelation so the caller's collect runs no job.  ONE job total.
    # Gated on the lineitem estimate (session.SMALL_INPUT_BYTES) — at
    # 100 TB the adaptive plan runs unchanged.  Execution confs only;
    # equivalence pinned by
    # tests/test_small_input.py::test_pricing_small_input_scope_equals_adaptive.
    return collect_small_relation(out, li, **{"spark.sql.shuffle.partitions": "8"})


# --- multi-way join with broadcast dims (HashJoin.cpp / GLOBAL JOIN ≈
# BroadcastHashJoin) -----------------------------------------------------------
@register(
    "revenue_by_nation",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def revenue_by_nation(spark, sf_dir):
    """Exact revenue on integer cents with a two-level sum — the same
    overflow-safe shape as pricing_summary (per-partition long partials →
    decimal(38,0) re-sum): the per-row product is a primitive long multiply
    instead of a 128-bit decimal multiply over the joined fact rows.

    Join order is dims-first (guide §3.2): customer⋈nation⋈region applies
    the region filter FIRST (≈40% of customers survive), that reduced key
    set cuts orders next, and the fact table probes ONE narrow
    (o_orderkey, n_name) side at the end — instead of dragging every
    lineitem row through four successive joins and filtering only at the
    top.  No broadcast hint on the reduced-orders side: at sf0.1 AQE sees
    the materialized size and converts the fact join to broadcast at
    runtime; at 100 TB reduced orders is still ~40% of orders and the join
    stays sort-merge — scale-adaptive, never a driver-side blow-up."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    pc = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    dc = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long")
    cust = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .select("c_custkey", "n_name")
    )
    ord_red = o.join(cust, o.o_custkey == cust.c_custkey).select(
        "o_orderkey", "n_name"
    )
    joined = li.join(ord_red, li.l_orderkey == ord_red.o_orderkey).select(
        "n_name",
        (pc * (100 - dc)).alias("_rc"),
        F.spark_partition_id().alias("_pid"),
    )
    partial = joined.groupBy("n_name", "_pid").agg(
        F.sum("_rc").alias("_src"), F.count(F.lit(1)).alias("_cnt")
    )
    out = (
        partial.groupBy("n_name")
        .agg(
            F.sum(F.col("_src").cast("decimal(38,0)")).alias("_src"),
            F.sum("_cnt").alias("n_items"),
        )
        .select(
            "n_name",
            (F.col("_src").cast("double") / 10000.0).alias("revenue"),
            "n_items",
        )
    )
    # Small inputs execute under a per-query SETTINGS scope (r10 VERDICT
    # item 3; same stats-gated shape as agg_state_merge_orders): at sf0.1
    # the adaptive plan ran SEVEN jobs — four broadcast-relation builds
    # (including the projected FACT side, whose estimate fits the 64 MB
    # threshold at this scale) plus AQE stage jobs — for a ≤25-row result.
    # Under the scope (AQE off, auto-broadcast off so the fact join runs
    # shuffled-hash via preferSortMergeJoin=false, 8 shuffle partitions)
    # the same dims-first plan is THREE jobs: the two hinted dim
    # broadcasts (nation/region, O(25) rows) and one main job.
    # Interleaved A/B at sf0.1: 0.92 s median -> 0.53 s, rows identical
    # (execution confs only — inner-join strategy and partition count
    # cannot change a sum).  Gated on the lineitem scan estimate
    # (session.SMALL_INPUT_BYTES) — at 100 TB the estimate exceeds the
    # gate and the adaptive dims-first plan runs unchanged
    # (plans/r11/revenue_by_nation_after.txt captures it with the scope
    # disabled).  The ≤|nations| rows re-emit as a VALUES LocalRelation
    # (no job on the caller's collect) instead of localCheckpoint, whose
    # materialization + checkpoint-scan cost two more tiny jobs.
    return collect_small_relation(
        out, li,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.join.preferSortMergeJoin": "false",
            "spark.sql.shuffle.partitions": "8",
        },
    )


# --- top-k after join+agg (TakeOrderedAndProject ≈ partial sort + merge with
# limit pushdown, SortingStep.cpp + limitPushDown.cpp) -------------------------
@register(
    "top_customers",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
           COUNT(*) AS n_orders
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spent DESC, c_custkey ASC
    LIMIT 10
    """,
)
def top_customers(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(_dec2("o_totalprice")).cast("double").alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


# --- SEMI / ANTI joins (src/Core/Joins.h:39-40) -------------------------------
@register(
    "orders_with_early_ship_semi",
    """
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
    )
    GROUP BY o_orderpriority
    """,
)
def orders_with_early_ship_semi(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "customers_without_recent_orders_anti",
    """
    SELECT c_mktsegment, COUNT(*) AS n
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    )
    GROUP BY c_mktsegment
    """,
)
def customers_without_recent_orders_anti(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- GROUP BY modifiers: ROLLUP / CUBE / GROUPING SETS / WITH TOTALS
# (ParserSelectQuery.cpp:195-212, RollupStep/CubeStep) -------------------------
@register(
    "rollup_status_year",
    """
    SELECT o_orderstatus, EXTRACT(year FROM o_orderdate)::INT AS order_year,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(EXTRACT(year FROM o_orderdate)::INT) AS INT) AS g_year,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, EXTRACT(year FROM o_orderdate)::INT)
    """,
)
def rollup_status_year(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return o.rollup("o_orderstatus", "order_year").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("order_year").cast("int").alias("g_year"),
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec2("o_totalprice")).cast("double").alias("total"),
    ).select("o_orderstatus", "order_year", "g_status", "g_year", "n", "total")


@register(
    "cube_brand_size",
    """
    SELECT p_brand, CAST((p_size < 25) AS INT) AS small_size,
           CAST(GROUPING(p_brand) AS INT) AS g_brand,
           COUNT(*) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM part
    GROUP BY CUBE(p_brand, (p_size < 25))
    """,
)
def cube_brand_size(spark, sf_dir):
    # small_size as INT (not BOOLEAN): CUBE rollup rows carry NULL, and a
    # nullable bool round-trips through pandas as an unstable bool/NaN mix
    # (sf-dependent) — ints compare cleanly on both engines
    p = load_table(spark, sf_dir, "part").withColumn(
        "small_size", (F.col("p_size") < 25).cast("int")
    )
    return p.cube("p_brand", "small_size").agg(
        F.grouping("p_brand").cast("int").alias("g_brand"),
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec2("p_retailprice")).cast("double").alias("total_price"),
    ).select("p_brand", "small_size", "g_brand", "n", "total_price")


@register(
    "grouping_sets_events",
    """
    SELECT event_type, (user_id % 10) AS user_bucket, COUNT(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 10), (event_type, user_id % 10))
    """,
)
def grouping_sets_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_gs_events")
    return spark_sql(
        ev.sparkSession,
        """
        SELECT event_type, (user_id % 10) AS user_bucket, COUNT(*) AS n
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), (event_type, user_id % 10))
        """,
    )


def spark_sql(spark, sql):
    return spark.sql(sql)


# --- WITH TOTALS (TotalsHavingTransform.cpp) = rollup on single key ----------
@register(
    "totals_by_status",
    """
    SELECT COALESCE(o_orderstatus, '__TOTAL__') AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP(o_orderstatus)
    """,
)
def totals_by_status(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec2("o_totalprice")).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("__TOTAL__")).alias("status"), "n", "total"
        )
    )


# --- window functions (WindowTransform.cpp:2460-2508) -------------------------
@register(
    "window_rank_orders",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             ROW_NUMBER() OVER w AS rn,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             NTILE(4) OVER w AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    ) WHERE rn <= 3
    """,
)
def window_rank_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("price"),
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM orders
    WHERE o_custkey < 50
    """,
)
def window_running_sum(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec2("o_totalprice")).over(w).cast("double").alias("running_total"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@register(
    "window_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
             - LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS DOUBLE) AS delta_prev,
           LEAD(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_order
    FROM orders
    WHERE o_custkey < 100
    """,
)
def window_lag_lead(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (_dec2("o_totalprice") - F.lag(_dec2("o_totalprice"), 1).over(w))
        .cast("double")
        .alias("delta_prev"),
        F.lead("o_orderkey", 1).over(w).alias("next_order"),
    )


@register(
    "window_moving_avg",
    """
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mv_avg
    FROM events WHERE user_id < 20
    """,
)
def window_moving_avg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 4).alias("mv_avg")
    )


# --- LIMIT n BY (LimitByTransform.cpp) ---------------------------------------
@register(
    "limit_by_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
)
def limit_by_customer(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    out = limit_by(
        o,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        2,
    )
    return out.select(
        "o_custkey", "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )


# --- quantiles (quantile* family → exact percentile) --------------------------
@register(
    "quantiles_quantity",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantiles_quantity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
    )


# --- statistics aggregates (varPop/stddev/covar/corr) -------------------------
@register(
    "stats_lineitem",
    """
    SELECT l_linestatus,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           ROUND(var_pop(l_quantity), 4) AS var_qty,
           ROUND(covar_pop(l_quantity, l_extendedprice), 2) AS covar_qp,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qp
    FROM lineitem GROUP BY l_linestatus
    """,
)
def stats_lineitem(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_pop("l_quantity"), 4).alias("var_qty"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
    )


# --- set operations (IntersectOrExceptTransform.cpp) --------------------------
@register(
    "setops_partkeys",
    """
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (
      SELECT DISTINCT l_partkey FROM lineitem
      INTERSECT
      SELECT DISTINCT p_partkey FROM part WHERE p_size > 25
    )
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (
      SELECT DISTINCT p_partkey FROM part
      EXCEPT
      SELECT DISTINCT l_partkey FROM lineitem
    )
    """,
)
def setops_partkeys(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk")
    ).distinct()
    p_all = load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("pk")).distinct()
    p_big = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") > 25)
        .select(F.col("p_partkey").alias("pk"))
        .distinct()
    )
    inter = li.intersect(p_big).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    exc = p_all.exceptAll(li).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except").alias("op"), "n"
    )
    return inter.unionAll(exc)


# --- IN-subquery + scalar subquery (Set.cpp, ExecuteScalarSubqueriesVisitor) --
@register(
    "orders_above_avg",
    """
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                 / COUNT(*) FROM orders)
    GROUP BY o_orderstatus
    """,
)
def orders_above_avg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_oaa_orders")
    return o.sparkSession.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n
        FROM _oaa_orders
        WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                     / COUNT(*) FROM _oaa_orders)
        GROUP BY o_orderstatus
        """
    )


# --- string functions (§2.8) --------------------------------------------------
@register(
    "string_funcs_part",
    """
    SELECT p_partkey,
           lower(p_name) AS lname,
           upper(p_brand) AS ubrand,
           substr(p_name, 1, 5) AS prefix5,
           replace(p_type, ' ', '_') AS type_u,
           length(p_name) AS name_len,
           concat(p_brand, '#', p_type) AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           len(string_split(p_name, ' ')) AS n_words,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS has_green,
           CASE WHEN regexp_matches(p_type, '^(STANDARD|SMALL)') THEN 1 ELSE 0 END AS is_std_small
    FROM part
    """,
)
def string_funcs_part(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.regexp_replace(F.col("p_type"), " ", "_").alias("type_u"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.size(F.split("p_name", " ")).cast("long").alias("n_words"),
        F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("has_green"),
        F.when(F.col("p_type").rlike("^(STANDARD|SMALL)"), 1).otherwise(0).alias(
            "is_std_small"
        ),
    )


# --- date/time functions (§2.8: toStartOf*, dateDiff, addDays...) -------------
@register(
    "date_funcs_orders",
    """
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate)::INT AS y,
           EXTRACT(month FROM o_orderdate)::INT AS m,
           EXTRACT(day FROM o_orderdate)::INT AS d,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)::INT AS days_since,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           strftime(o_orderdate, '%Y-%m-%d') AS iso
    FROM orders WHERE o_orderkey < 500
    """,
)
def date_funcs_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("m"),
        F.dayofmonth("o_orderdate").cast("int").alias("d"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("int")
        .alias("days_since"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso"),
    )


# --- conditional / CASE (if, multiIf, §2.8) -----------------------------------
@register(
    "case_segments",
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 200000 THEN 'medium'
                ELSE 'large' END AS bucket,
           o_orderstatus,
           COUNT(*) AS n,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def case_segments(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
        .alias("bucket")
    )
    return o.groupBy(bucket, F.col("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(_dec2("o_totalprice")).cast("double").alias("min_price"),
        F.max(_dec2("o_totalprice")).cast("double").alias("max_price"),
    )


# --- JSON extraction (FunctionsJSON.cpp → get_json_object/regexp) -------------
@register(
    "json_extract_props",
    """
    SELECT (user_id % 5) AS bucket,
           CAST(SUM(CAST(regexp_extract(props, '"k": *(-?[0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY (user_id % 5)
    """,
)
def json_extract_props(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", '"k": *(-?[0-9]+)', 1).cast("bigint")
    return ev.groupBy((F.col("user_id") % 5).alias("bucket")).agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


# --- Object('json') / JSON column type (src/DataTypes/DataTypeObject.h) -------
@register(
    "json_object_cols",
    """
    SELECT event_type,
           CAST(SUM(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS max_k,
           CAST(SUM(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS sum_k_variant,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def json_object_cols(spark, sf_dir):
    """Object('json') / JSON column type (DataTypeObject.h): the reference
    stores semi-structured JSON as a dynamically-typed column with inferred
    subcolumns. Spark 4 analog, both halves shown in one query:
      1. schema inference → typed subcolumns: schema_of_json on a sampled
         exemplar (one driver row — metadata, like the reference's type
         inference on insert) + from_json → a real StructType whose fields
         push down / prune like any column;
      2. VariantType: parse_json + variant_get for schema-on-read access
         without declaring a schema (the closer analog of the reference's
         Dynamic/Object type).
    Both paths produce identical numbers, cross-checked against the DuckDB
    JSON operators in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    # (1) infer the schema from an exemplar row, then read typed subcolumns.
    # The exemplar is picked deterministically (lowest event_id) so the
    # inferred schema — and therefore the gate hash — can't drift with
    # partitioning or scan order if props shapes ever vary across rows.
    sample = (
        ev.select("event_id", "props")
        .filter(F.col("props").isNotNull())
        .orderBy("event_id")
        .first()[1]
    )
    schema = ev.sparkSession.range(1).select(
        F.schema_of_json(F.lit(sample)).alias("s")
    ).first()[0]
    typed = ev.withColumn("_obj", F.from_json("props", schema))
    # (2) variant path: schema-on-read field access
    typed = typed.withColumn("_var", F.parse_json("props"))
    k_typed = F.col("_obj.k").cast("bigint")
    k_var = F.try_variant_get("_var", "$.k", "bigint")
    return typed.groupBy("event_type").agg(
        F.sum(k_typed).alias("sum_k"),
        F.max(k_typed).alias("max_k"),
        F.sum(k_var).alias("sum_k_variant"),
        F.count(F.lit(1)).alias("n"),
    )


# --- ASOF JOIN (Joins.h:38 Asof; DuckDB has native ASOF as oracle) ------------
@register(
    "asof_events_orders",
    """
    SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS last_price
    FROM (SELECT * FROM events WHERE user_id < 30) e
    ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
)
def asof_events_orders(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        o,
        left_on="ts",
        right_on="o_orderdate",
        by_left=["user_id"],
        by_right=["o_custkey"],
        direction="backward",
        how="inner",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").cast("double").alias("last_price"),
    )


# --- FINAL / ReplacingMergeTree dedup (00039_test_final.sh) -------------------
@register(
    "final_latest_event",
    """
    SELECT user_id, event_type, event_id AS last_event_id, ROUND(value, 4) AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND user_id < 40
    """,
)
def final_latest_event(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    deduped = final_dedup(ev, ["user_id", "event_type"], F.struct(F.col("ts"), F.col("event_id")))
    return deduped.filter(F.col("user_id") < 40).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 4).alias("last_value"),
    )


# --- WITH FILL (FillingTransform.cpp) -----------------------------------------
@register(
    "with_fill_daily",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    grid AS (
      SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
                                    (SELECT MAX(day) FROM daily),
                                    INTERVAL 1 DAY)) AS day
    )
    SELECT grid.day AS day, COALESCE(daily.n, 0) AS n
    FROM grid LEFT JOIN daily ON grid.day = daily.day
    """,
)
def with_fill_daily(spark, sf_dir):
    from myscaledb_spark.operators.relational import with_fill
    import datetime

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    filled = with_fill(daily, "day", step=datetime.timedelta(days=1))
    return filled.select("day", F.coalesce("n", F.lit(0)).alias("n"))


# --- argMax/argMin via deterministic window (registerAggregateFunctions:49) ---
@register(
    "top_event_type_per_user",
    """
    SELECT user_id, event_type AS top_type, ROUND(value, 4) AS top_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1 AND user_id < 50
    """,
)
def top_event_type_per_user(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("user_id") < 50))
        .select(
            "user_id",
            F.col("event_type").alias("top_type"),
            F.round("value", 4).alias("top_value"),
        )
    )


# --- heavy hitters / topK (AggregateFunctionTopK) -----------------------------
@register(
    "heavy_hitter_users",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id ASC
    LIMIT 5
    """,
)
def heavy_hitter_users(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "n_purchases"
            ),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
        .limit(5)
    )


# --- HAVING + DISTINCT aggregates ---------------------------------------------
@register(
    "having_distinct_suppliers",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    HAVING COUNT(DISTINCT l_suppkey) > 5
    """,
)
def having_distinct_suppliers(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n_supp") > 5)
    )
