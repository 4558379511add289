"""Gate entries for AggregateFunction partial-state storage: -State /
-Merge combinators, the uniq HLL state, AggregatingMergeTree FINAL, and
the verbatim SQL forms (see operators/agg_state.py).

Every oracle replays the state → merge → finalize pipeline longhand in
DuckDB (or collapses it to the direct aggregate, which associativity makes
equivalent): states are built per (key, sub-part), merged per key, and the
merged result must equal aggregating the raw rows once.

Float discipline: money states in DECIMAL (exact under any partitioning);
avg finalizes in Float64 like the reference (AggregateFunctionAvg.h); the
HLL estimate is bit-deterministic (each 2^-rho is an exact double, the
register sum needs < 53 mantissa bits) and rounds to 4 decimals only to
absorb ln() libm differences.

Reference: src/AggregateFunctions/AggregateFunctionState.h,
AggregateFunctionMerge.h, src/DataTypes/DataTypeAggregateFunction.h,
src/Processors/Merges/Algorithms/AggregatingSortedAlgorithm.cpp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark.catalog import load_table
from myscaledb_spark.operators.agg_state import (
    arg_max_state,
    avg_state,
    count_state,
    finalize_state,
    merge_finalize,
    merge_state,
    min_state,
    sum_state,
    uniq_exact_state,
    uniq_finalize,
    uniq_merge_state_agg,
    uniq_merge_states,
    uniq_state,
    uniq_states,
)
from myscaledb_spark.session import checkpoint_scoped, collect_small_relation
from myscaledb_spark.suite import register

#: DuckDB longhand for the portable-HLL register → estimate math (the exact
#: twin of operators/agg_state.uniq_finalize; alpha is 0.7213/(1+1.079/256))
_HLL_ORACLE = """
    SELECT {key}, ROUND(CASE WHEN (0.7182725932495458e0 * 65536.0 / s) <= 640.0
                             AND zeros > 0
                        THEN 256.0 * ln(256.0 / zeros)
                        ELSE 0.7182725932495458e0 * 65536.0 / s END, 4) AS {out}
    FROM (
      SELECT {key}, SUM(power(2.0, -rho)) + (256 - COUNT(*)) AS s,
             CAST(256 - COUNT(*) AS DOUBLE) AS zeros
      FROM (
        SELECT {key}, h % 256 AS bucket,
               MAX(CASE WHEN h // 256 > 0
                        THEN 41 - length(bin(h // 256)) ELSE 41 END) AS rho
        FROM (SELECT {key}, CAST(('0x' || substr(md5(CAST({val} AS VARCHAR)), 1, 12))
                                 AS BIGINT) AS h FROM {src})
        GROUP BY 1, 2)
      GROUP BY 1)
"""


@register(
    "agg_state_merge_orders",
    """
    WITH o AS (SELECT *, CAST(o_totalprice AS DECIMAL(18,2)) AS price
               FROM orders)
    SELECT o_orderstatus,
           COUNT(*) AS cnt,
           CAST(SUM(price) AS DOUBLE) AS sum_price,
           ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           CAST(MIN(price) AS DOUBLE) AS min_price,
           ARG_MAX(o_custkey, o_totalprice) AS best_cust,
           COUNT(DISTINCT o_custkey) AS ndv
    FROM o GROUP BY 1
    """,
)
def agg_state_merge_orders(spark, sf_dir):
    """-State built per (status, month) part, stored as plain struct/array
    columns, then -Merge'd per status: the merged result must equal the
    one-shot aggregate (state associativity end-to-end).  best_cust is
    deterministic because the max price is untied in this data at every SF.

    Small inputs execute under a per-query SETTINGS scope (AQE off + 8
    shuffle partitions, materialized inside the scope) — the same shape
    uniq_hll_state_events uses: both aggregation levels together shuffle
    ~|status × month| state rows, so AQE's per-stage re-planning jobs
    cost more than the whole data path (r10 A/B: 3 jobs → 2, steady
    0.78 → 0.58 s at sf0.1).  The gate is the orders estimate against
    ``session.SMALL_INPUT_BYTES``: at 100 TB the estimate exceeds it and
    the plan runs under AQE unchanged.  Results are identical either way
    — the scope changes execution confs only, and every state column is
    partitioning-insensitive (sorted arrays, untied min_by/max_by).  The
    ≤|status| rows re-emit as a local relation: the r10
    localCheckpoint shape paid one more job for the checkpoint scan on
    the caller's collect (2 jobs → 1).
    """
    o = load_table(spark, sf_dir, "orders").withColumn(
        "price", F.col("o_totalprice").cast("decimal(18,2)")
    )
    parts = o.groupBy("o_orderstatus", F.month("o_orderdate").alias("m")).agg(
        count_state().alias("cnt"),
        sum_state("price").alias("s"),
        avg_state("price").alias("a"),
        min_state("price").alias("mn"),
        arg_max_state("o_custkey", "o_totalprice").alias("am"),
        uniq_exact_state("o_custkey").alias("ue"),
    )
    merged = parts.groupBy("o_orderstatus").agg(
        merge_state("count", "cnt").alias("cnt"),
        merge_finalize("sum", "s").cast("double").alias("sum_price"),
        F.round(merge_finalize("avg", "a"), 4).alias("avg_price"),
        merge_finalize("min", "mn").cast("double").alias("min_price"),
        finalize_state("argMax", merge_state("argMax", "am")).alias("best_cust"),
        merge_finalize("uniqExact", "ue").alias("ndv"),
    )
    return collect_small_relation(
        merged, o, **{"spark.sql.shuffle.partitions": "8"}
    )


@register(
    "uniq_hll_state_events",
    f"""
    WITH u AS ({_HLL_ORACLE.format(key="event_type", val="user_id",
                                   out="uniq_users", src="events")}),
         e AS ({_HLL_ORACLE.format(key="event_type", val="event_id",
                                   out="uniq_events", src="events")}),
         x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
               FROM events GROUP BY 1)
    SELECT u.event_type, u.uniq_users, e.uniq_events, x.exact_users
    FROM u JOIN e ON u.event_type = e.event_type
           JOIN x ON u.event_type = x.event_type
    """,
)
def uniq_hll_state_events(spark, sf_dir):
    """uniq (HyperLogLog) portable-register build + estimate — vs a DuckDB
    oracle that reproduces the register math longhand from the raw rows.
    user_id exercises the linear-counting branch, event_id the
    raw-estimate branch at sf ≥ 0.01.  (The per-part -State → -Merge
    associativity this estimator enables is pinned API-level in
    tests/test_agg_state_assoc.py: per-day uniq_states merged with
    uniq_merge_state_agg reproduce these exact registers.)

    Scale shape (r7, was 4.23× the calibration ratio at ~9 shuffle
    stages): ONE scan + TWO shuffles for the whole gate.  Each row
    inlines three sparse state CELLS — user_id's register cell in bucket
    space [0,256), event_id's in [256,512), and the distinct-user cell at
    512+user_id (the exact leg's phase-1 grouping, fused into the same
    shuffle).  Shuffle 1 max-merges register cells and distinct-ifies
    user cells per type in one hash agg (per-executor state matches
    count_distinct's own phase-1 footprint); shuffle 2 assembles the
    512-slot register map and counts user cells — its partial buffers
    carry ≤512 register cells + one partial count per map partition, so
    nothing key-skewed ever concentrates.

    Executes under a per-query SETTINGS scope (AQE off + 8 shuffle
    partitions, materialized via localCheckpoint inside the scope): the
    whole result is ~2.5k shuffled cells, and AQE's per-stage
    re-planning jobs cost more than this query's entire data path.  At
    100 TB the same query would instead RAISE the partition count with
    the input — the scope expresses exactly the per-query override
    ClickHouse's SETTINGS clause does."""
    ev = load_table(spark, sf_dir, "events")

    def _cell(hcol: str, offset: int) -> str:
        # hcol is the PRE-HASHED md5-48 column (hoisted into its own select
        # below) — inlining the hash chain here would macro-expand it into
        # bucket + the rho guard + both rest uses: 4 md5 evaluations per
        # cell per row instead of 1 (r10; md5(NULL)=NULL ⟺ value NULL, so
        # the null guard on the hash is equivalent)
        bucket = f"cast(pmod(`{hcol}`, 256) as bigint) + {offset}"
        rest = f"cast(floor(`{hcol}` / 256) as bigint)"
        rho = (f"cast(if(`{hcol}` is null, null,"
               f" if({rest} > 0, 41 - length(bin({rest})), 41)) as int)")
        return f"named_struct('_b', {bucket}, '_r', {rho})"

    def _h48(col: str) -> str:
        return (f"cast(conv(substr(md5(cast(cast(`{col}` as string)"
                f" as binary)),1,12),16,10) as bigint)")

    user_cell = "named_struct('_b', cast(`user_id` as bigint) + 512, '_r', 0)"
    pre = ev.selectExpr(
        "event_type",
        "user_id",
        f"{_h48('user_id')} as _hu",
        f"{_h48('event_id')} as _he",
    ).selectExpr(
        "event_type",
        f"inline(array({_cell('_hu', 0)}, {_cell('_he', 256)},"
        f" {user_cell}))",
    )
    merged = pre.groupBy("event_type", "_b").agg(
        F.max("_r").alias("_r"))
    assembled = merged.groupBy("event_type").agg(
        F.expr("count(if(_b >= 512, 1, null))").alias("exact_users"),
        F.expr("map_from_arrays(collect_list(if(_b < 512, _b, null)),"
               " collect_list(if(_b < 512, _r, null)))").alias("_m"),
    )
    assembled = checkpoint_scoped(
        assembled,
        **{"spark.sql.adaptive.enabled": "false",
           "spark.sql.shuffle.partitions": "8"},
    )
    slices = [
        f"transform(sequence({o}, {o + 255}), i -> coalesce(_m[i], 0))"
        f" AS {a}"
        for o, a in ((0, "su"), (256, "se"))
    ]
    return assembled.selectExpr("event_type", *slices, "exact_users").select(
        "event_type",
        F.round(uniq_finalize("su"), 4).alias("uniq_users"),
        F.round(uniq_finalize("se"), 4).alias("uniq_events"),
        "exact_users",
    )


@register(
    "ch_sql_agg_state",
    """
    WITH o AS (SELECT *, CAST(o_totalprice AS DECIMAL(18,2)) AS price
               FROM orders)
    SELECT o_orderstatus,
           CAST(SUM(price) AS DOUBLE) AS s,
           ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           COUNT(DISTINCT o_custkey) AS ndv,
           COUNT(*) AS cnt
    FROM o GROUP BY 1
    """,
)
def ch_sql_agg_state(spark, sf_dir):
    """The -State / -Merge combinators as verbatim ClickHouse SQL: the inner
    query materializes per-month states, the outer resumes them — the
    canonical materialized-view rollup shape
    (AggregateFunctionState.h / AggregateFunctionMerge.h)."""
    from myscaledb_spark.sql_dialect import ch_sql

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_ags_orders")
    return ch_sql(
        spark,
        """
        SELECT o_orderstatus, toFloat64(sumMerge(s)) AS s,
               round(avgMerge(a), 4) AS avg_price,
               uniqExactMerge(ue) AS ndv, countMerge(c) AS cnt
        FROM (
          SELECT o_orderstatus, toMonth(o_orderdate) AS m,
                 sumState(CAST(o_totalprice AS DECIMAL(18, 2))) AS s,
                 avgState(CAST(o_totalprice AS DECIMAL(18, 2))) AS a,
                 uniqExactState(o_custkey) AS ue,
                 countState() AS c
          FROM _ags_orders GROUP BY o_orderstatus, m
        )
        GROUP BY o_orderstatus
        """,
    )


@register(
    "mv_agg_state_hourly",
    f"""
    WITH e AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
                      event_type, CAST(value AS DECIMAL(18,4)) AS v, user_id
               FROM events),
         u AS ({_HLL_ORACLE.format(key="event_type", val="user_id",
                                   out="uniq_users", src="e")}),
         d AS (SELECT event_type, COUNT(*) AS n,
                      ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 4) AS avg_value,
                      COUNT(DISTINCT window_start) AS n_hours
               FROM e GROUP BY 1)
    SELECT d.event_type, d.n, d.avg_value, d.n_hours, u.uniq_users
    FROM d JOIN u ON d.event_type = u.event_type
    """,
)
def mv_agg_state_hourly(spark, sf_dir):
    """Materialized view TO an AggregatingMergeTree — the reference's
    canonical continuous-rollup pattern (buildPushingToViewsChain.cpp +
    AggregatingSortedAlgorithm.cpp): every ingested micro-batch appends one
    "part" of hourly -State rows (count, avgState, uniq HLL registers);
    reading re-merges states across parts.  The streamed, state-merged
    answer must equal the one-shot batch aggregate — whatever the batch
    split was.  At 100 TB the raw rows are aggregated exactly once, on
    ingest; every later query touches only per-(hour, type) state rows."""
    import tempfile

    from myscaledb_spark.streaming.materialized_views import MaterializedViewChain
    from myscaledb_spark.streaming.windows import events_stream, tumble

    base = tempfile.mkdtemp(prefix="gate_mv_state_")
    target = f"{base}/hourly_states"

    def hourly_states(batch):
        b = batch.withColumn("v", F.col("value").cast("decimal(18,4)"))
        scalar = b.groupBy(
            tumble("ts", "1 hour").alias("w"), F.col("event_type")
        ).agg(count_state().alias("cnt"), avg_state("v").alias("a"))
        hll = uniq_state(
            b.withColumn("w", tumble("ts", "1 hour")),
            ["w", "event_type"], "user_id", alias="u",
        )
        return scalar.join(hll, ["w", "event_type"])

    chain = MaterializedViewChain().add_view("hourly", hourly_states, target)
    chain.run(events_stream(spark, sf_dir), f"{base}/ckpt")
    mv = MaterializedViewChain.read_view(spark, target)
    merged = uniq_merge_states(
        mv.select("event_type", "u"), ["event_type"], "u", alias="u"
    )
    scalars = mv.groupBy("event_type").agg(
        merge_state("count", "cnt").alias("n"),
        F.round(merge_finalize("avg", "a"), 4).alias("avg_value"),
        F.count_distinct("w").alias("n_hours"),
    )
    return scalars.join(merged, "event_type").select(
        "event_type", "n", "avg_value", "n_hours",
        F.round(uniq_finalize("u"), 4).alias("uniq_users"),
    )


@register(
    "ch_sql_aggregating_mt",
    f"""
    WITH o AS (SELECT *, CAST(o_totalprice AS DECIMAL(18,2)) AS price
               FROM orders),
         u AS ({_HLL_ORACLE.format(key="o_orderstatus", val="o_custkey",
                                   out="uniq_cust", src="o")}),
         d AS (SELECT o_orderstatus, CAST(SUM(price) AS DOUBLE) AS s,
                      ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 4) AS avg_price,
                      COUNT(DISTINCT o_custkey) AS ndv
               FROM o GROUP BY 1)
    SELECT d.o_orderstatus, d.s, d.avg_price, d.ndv, u.uniq_cust
    FROM d JOIN u ON d.o_orderstatus = u.o_orderstatus
    """,
)
def ch_sql_aggregating_mt(spark, sf_dir):
    """The full AggregatingMergeTree lifecycle from verbatim SQL: CREATE
    TABLE with AggregateFunction column types (DataTypeAggregateFunction.h),
    two INSERT ... SELECT ...State batches ("parts"), then the canonical
    GROUP BY + -Merge query resuming the stored states.  Splitting the
    corpus across two inserts proves the stored states re-merge exactly."""
    from myscaledb_spark.plans.table_ddl import ch_ddl
    from myscaledb_spark.sql_dialect import ch_sql

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_amt_orders")
    ch_ddl(spark, "DROP TABLE IF EXISTS _amt_gate")
    ch_ddl(
        spark,
        """
        CREATE TABLE _amt_gate (
            status String,
            s AggregateFunction(sum, Decimal(18, 2)),
            a AggregateFunction(avg, Decimal(18, 2)),
            ue AggregateFunction(uniqExact, Int64),
            c AggregateFunction(count),
            u AggregateFunction(uniq, Int64)
        ) ENGINE = AggregatingMergeTree ORDER BY status
        """,
    )
    ins = (
        "INSERT INTO _amt_gate SELECT o_orderstatus, "
        "sumState(CAST(o_totalprice AS DECIMAL(18, 2))), "
        "avgState(CAST(o_totalprice AS DECIMAL(18, 2))), "
        "uniqExactState(o_custkey), countState(), uniqState(o_custkey) "
        "FROM _amt_orders WHERE modulo(o_orderkey, 2) = {r} "
        "GROUP BY o_orderstatus"
    )
    ch_ddl(spark, ins.format(r=0))
    ch_ddl(spark, ins.format(r=1))
    return ch_sql(
        spark,
        """
        SELECT status AS o_orderstatus, toFloat64(sumMerge(s)) AS s,
               round(avgMerge(a), 4) AS avg_price,
               uniqExactMerge(ue) AS ndv,
               round(uniqMerge(u), 4) AS uniq_cust
        FROM _amt_gate GROUP BY status
        """,
    )
