"""CREATE TABLE ... ENGINE / INSERT INTO / FINAL end-to-end through ch_ddl +
ch_sql — the reference's table lifecycle from pure SQL statements."""

from __future__ import annotations

import pytest

from myscaledb_spark.plans.table_ddl import (
    SESSION_SETTINGS,
    ch_ddl,
    ch_type_to_spark,
    reset_session_settings,
    set_statement,
)
from myscaledb_spark.sql_dialect import ChSqlError, ch_sql


def test_type_mapping():
    assert ch_type_to_spark("Int64") == "bigint"
    assert ch_type_to_spark("UInt32") == "bigint"
    assert ch_type_to_spark("Nullable(Float64)") == "double"
    assert ch_type_to_spark("LowCardinality(String)") == "string"
    assert ch_type_to_spark("Array(Float32)") == "array<float>"
    assert ch_type_to_spark("Decimal(18, 4)") == "decimal(18,4)"
    assert ch_type_to_spark("DateTime64(3)") == "timestamp"
    # AggregateFunction column types map to their plain-column state types
    # (operators/agg_state.py; r5 — previously an unsupported-type raise)
    assert ch_type_to_spark("AggregateFunction(sum, Int64)") == "bigint"
    assert ch_type_to_spark("AggregateFunction(avg, Decimal(10, 2))") == (
        "struct<sum:decimal(38,2),count:bigint>"
    )
    with pytest.raises(ChSqlError, match="unsupported"):
        ch_type_to_spark("SomeUnknownType(3)")


def test_create_insert_final_replacing(spark):
    ch_ddl(spark, "DROP TABLE IF EXISTS t_ddl_r")
    meta = ch_ddl(
        spark,
        "CREATE TABLE t_ddl_r (k Int64, price Float64, ver Int64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k",
    )
    assert meta["keys"] == ["k"]
    n = ch_ddl(spark, "INSERT INTO t_ddl_r VALUES (1, 1.5, 1), (1, 2.5, 2), (2, 7.0, 1)")
    assert n == 3
    ch_ddl(spark, "INSERT INTO t_ddl_r VALUES (2, 8.0, 5), (3, 9.0, 1)")
    # SELECT * exposes the declared schema only (no hidden seq column)
    assert spark.table("t_ddl_r").columns == ["k", "price", "ver"]
    got = {
        r["k"]: (r["price"], r["ver"])
        for r in ch_sql(spark, "SELECT * FROM t_ddl_r FINAL").collect()
    }
    assert got == {1: (2.5, 2), 2: (8.0, 5), 3: (9.0, 1)}
    ch_ddl(spark, "DROP TABLE t_ddl_r")


def test_versionless_replacing_keeps_last_inserted(spark):
    ch_ddl(spark, "DROP TABLE IF EXISTS t_ddl_l")
    ch_ddl(
        spark,
        "CREATE TABLE t_ddl_l (k Int64, v String) "
        "ENGINE = ReplacingMergeTree ORDER BY k",
    )
    ch_ddl(spark, "INSERT INTO t_ddl_l VALUES (1, 'a'), (1, 'b')")
    ch_ddl(spark, "INSERT INTO t_ddl_l VALUES (1, 'c')")
    rows = ch_sql(spark, "SELECT * FROM t_ddl_l FINAL").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, "c")]  # insertion order wins
    ch_ddl(spark, "DROP TABLE t_ddl_l")


def test_insert_select_and_summing_default_columns(spark):
    ch_ddl(spark, "DROP TABLE IF EXISTS t_ddl_s")
    ch_ddl(
        spark,
        "CREATE TABLE t_ddl_s (g String, amt Int64, note String) "
        "ENGINE = SummingMergeTree ORDER BY g",
    )
    spark.createDataFrame(
        [("a", 10, "x"), ("a", 5, "y"), ("b", 0, "z")], "g string, amt long, note string"
    ).createOrReplaceTempView("_ddl_src")
    n = ch_ddl(spark, "INSERT INTO t_ddl_s SELECT g, amt, note FROM _ddl_src")
    assert n == 3
    got = {
        r["g"]: (r["amt"], r["note"])
        for r in ch_sql(spark, "SELECT * FROM t_ddl_s FINAL").collect()
    }
    # amt summed (default: numeric non-key), note pinned to first inserted,
    # all-zero group dropped
    assert got == {"a": (15, "x")}
    ch_ddl(spark, "DROP TABLE t_ddl_s")


def test_collapsing_ddl_insertion_order(spark):
    ch_ddl(spark, "DROP TABLE IF EXISTS t_ddl_c")
    ch_ddl(
        spark,
        "CREATE TABLE t_ddl_c (k Int64, s Int8, v String) "
        "ENGINE = CollapsingMergeTree(s) ORDER BY k",
    )
    ch_ddl(spark, "INSERT INTO t_ddl_c VALUES (1, 1, 'old'), (1, -1, ''), (1, 1, 'new')")
    rows = ch_sql(spark, "SELECT * FROM t_ddl_c FINAL").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, "new")]
    ch_ddl(spark, "DROP TABLE t_ddl_c")


def test_insert_column_subset_and_errors(spark):
    ch_ddl(spark, "DROP TABLE IF EXISTS t_ddl_e")
    ch_ddl(
        spark,
        "CREATE TABLE t_ddl_e (a Int64, b String, c Float64) "
        "ENGINE = MergeTree ORDER BY a",
    )
    ch_ddl(spark, "INSERT INTO t_ddl_e (a, b) VALUES (1, 'x')")
    r = spark.table("t_ddl_e").collect()[0]
    # omitted columns land as their CH TYPE DEFAULT, never NULL
    # (00071_insert_fewer_columns — r8)
    assert r["a"] == 1 and r["b"] == "x" and r["c"] == 0.0
    with pytest.raises(ChSqlError, match="not in table"):
        ch_ddl(spark, "INSERT INTO t_ddl_e (zz) VALUES (1)")
    with pytest.raises(ChSqlError, match="not created"):
        ch_ddl(spark, "INSERT INTO nope_t VALUES (1)")
    with pytest.raises(ChSqlError, match="ENGINE"):
        ch_ddl(spark, "CREATE TABLE t_ddl_x (a Int64)")
    ch_ddl(spark, "DROP TABLE t_ddl_e")


def test_ddl_sample_by_roundtrip(spark):
    ch_ddl(spark, "DROP TABLE IF EXISTS t_ddl_sa")
    ch_ddl(
        spark,
        "CREATE TABLE t_ddl_sa (id Int64, v Float64) "
        "ENGINE = MergeTree ORDER BY id SAMPLE BY id",
    )
    vals = ", ".join(f"({i}, {i}.0)" for i in range(100))
    ch_ddl(spark, f"INSERT INTO t_ddl_sa VALUES {vals}")
    n_half = ch_sql(spark, "SELECT count(*) AS n FROM t_ddl_sa SAMPLE 0.5").collect()[0]["n"]
    assert 25 <= n_half <= 75  # deterministic hash split, roughly half
    # determinism: same fraction → same rows
    a = ch_sql(spark, "SELECT id FROM t_ddl_sa SAMPLE 0.5").collect()
    b = ch_sql(spark, "SELECT id FROM t_ddl_sa SAMPLE 0.5").collect()
    assert sorted(r["id"] for r in a) == sorted(r["id"] for r in b)
    ch_ddl(spark, "DROP TABLE t_ddl_sa")


def test_ch_script_multi_statement(spark):
    from myscaledb_spark.plans.table_ddl import ch_script

    out = ch_script(
        spark,
        """
        DROP TABLE IF EXISTS t_scr;
        CREATE TABLE t_scr (k Int64, v String, ver Int64)
            ENGINE = ReplacingMergeTree(ver) ORDER BY k;
        INSERT INTO t_scr VALUES (1, 'a; b', 1), (1, 'x', 2), (2, 'y', 1);
        SELECT k, v FROM t_scr FINAL ORDER BY k
        """,
    )
    assert [(r["k"], r["v"]) for r in out.collect()] == [(1, "x"), (2, "y")]
    ch_script(spark, "DROP TABLE t_scr")


def test_versioned_final_sql_matches_operator(spark):
    from pyspark.sql import functions as F

    from myscaledb_spark.operators.engines import versioned_collapsing_final
    from myscaledb_spark.sql_dialect import ch_sql, register_table_engine

    df = spark.createDataFrame(
        [("a", 1, -1, 10), ("b", 1, 1, 20), ("b", 1, 1, 21),
         ("c", 1, 1, 30), ("c", 1, -1, 31), ("d", 1, 1, 40), ("d", 1, -1, 41), ("d", 1, 1, 42)],
        "k string, ver int, sign int, seq long",
    )
    df.createOrReplaceTempView("_vcf_t")
    register_table_engine(
        "_vcf_t", "versioned_collapsing", ["k"], sign="sign", version="ver", order="seq"
    )
    via_sql = {
        (r["k"], r["sign"], r["seq"])
        for r in ch_sql(spark, "SELECT * FROM _vcf_t FINAL").collect()
    }
    via_op = {
        (r["k"], r["sign"], r["seq"])
        for r in versioned_collapsing_final(df, ["k"], "sign", "ver", "seq").collect()
    }
    assert via_sql == via_op == {("a", -1, 10), ("b", 1, 20), ("b", 1, 21), ("d", 1, 42)}


def test_query_log_records_statements(spark):
    from myscaledb_spark.introspection import QUERY_LOG, system_query_log
    from myscaledb_spark.sql_dialect import ch_sql

    QUERY_LOG.clear()  # a full log (it is bounded) would not grow
    n0 = len(QUERY_LOG)
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("_ql_t")
    ch_sql(spark, "SELECT toInt64(x) AS x FROM _ql_t").collect()
    assert len(QUERY_LOG) == n0 + 1
    rec = QUERY_LOG[-1]
    assert "toInt64" in rec["query"] and "bigint" in rec["translated"].lower()
    log_df = system_query_log(spark)
    assert log_df.count() == len(QUERY_LOG)
    assert set(log_df.columns) == {"event_time", "kind", "query", "translated", "rewrite_ms"}


def test_reference_script_shape_end_to_end(spark):
    """The reference's own test-file shape (00036_mqvs_with_clause_process
    _function.sql / 00002_mqvs_batch_distance.sh): CREATE TABLE with
    PRIMARY KEY, INSERT ... SELECT number, [number,...] FROM numbers(N),
    then a distance query with a bracket vector literal — verbatim."""
    from myscaledb_spark.plans.table_ddl import ch_script

    out = ch_script(
        spark,
        """
        DROP TABLE IF EXISTS test_vector_ref;
        CREATE TABLE test_vector_ref (id UInt32, vector Array(Float32))
            ENGINE = MergeTree PRIMARY KEY id;
        INSERT INTO test_vector_ref SELECT number, [number, number, number]
            FROM numbers(0, 50);
        INSERT INTO test_vector_ref SELECT number, [number, number, number]
            FROM numbers(50, 50);
        SELECT id, distance(vector, [1.0, 1.0, 1.0]) AS d
        FROM test_vector_ref ORDER BY d ASC, id ASC LIMIT 3
        """,
    )
    rows = out.collect()
    assert [r["id"] for r in rows] == [1, 0, 2]
    assert abs(rows[0]["d"]) < 1e-9                      # [1,1,1] exact hit
    assert abs(rows[1]["d"] - 3.0) < 1e-9                # [0,0,0], squared L2
    assert spark.table("test_vector_ref").count() == 100
    ch_script(spark, "DROP TABLE test_vector_ref")


def test_reference_00040_script_runs_verbatim(spark):
    """A trimmed-but-verbatim slice of the reference's own
    tests/queries/2_vector_search/00040_mqvs_hybrid_search.sql — table DDL
    with INDEX/CONSTRAINT clauses, quoted-apostrophe INSERT VALUES, then the
    textsearch and hybridsearch SQL forms — all through ch_script. (Fusion
    SCORES come from our BM25/distance pipeline — the text-side ranking must
    agree with the reference's.)"""
    from myscaledb_spark.plans.table_ddl import ch_script

    out = ch_script(
        spark,
        """
        DROP TABLE IF EXISTS t_vector_invert;
        CREATE TABLE t_vector_invert(
            id UInt64,
            vector Array(Float32),
            doc String,
            INDEX inv_idx(doc) TYPE fts GRANULARITY 1,
            CONSTRAINT vector_len CHECK length(vector) = 3
        ) ENGINE = MergeTree ORDER BY id;
        INSERT INTO t_vector_invert VALUES (0, [0,0,0], 'Ancient empires rise and fall, shaping history''s course.'),(1,[1,1,1], 'Artistic expressions reflect diverse cultural heritages.'),(2,[2,2,2], 'Social movements transform societies, forging new paths.'),(3,[3,3,3], 'Economies fluctuate, reflecting the complex interplay of global forces.'),(4,[4,4,4], 'Strategic military campaigns alter the balance of power.'),(13,[13,13,13], 'Ancient philosophies provide wisdom for modern dilemmas.');
        SELECT id, textsearch(doc, 'Ancient') as bm25 FROM t_vector_invert ORDER BY bm25 DESC LIMIT 5
        """,
    )
    rows = out.collect()
    assert {r["id"] for r in rows} == {0, 13}  # the two 'Ancient' docs
    assert all(r["bm25"] > 0 for r in rows)

    hs = ch_script(
        spark,
        "SELECT id, hybridsearch('fusion_type=rsf')(vector, doc, [1.0,1,1], "
        "'Ancient') as score FROM t_vector_invert "
        "ORDER BY score DESC, id LIMIT 5",
    ).collect()
    assert len(hs) == 5 and hs[0]["score"] >= hs[-1]["score"]
    assert {r["id"] for r in hs} >= {0, 13}  # text matches always fuse in
    ch_script(spark, "DROP TABLE t_vector_invert")


def test_reference_00036_with_lambda_verbatim(spark):
    """The reference's 00036 'Lambda function inside WITH clause' query,
    verbatim (scalar WITH + arrayMap lambda + range + if + distance):
    tests/queries/2_vector_search/00036_mqvs_with_clause_process_function.sql."""
    from myscaledb_spark.plans.table_ddl import ch_script

    out = ch_script(
        spark,
        """
        DROP TABLE IF EXISTS t_wlp;
        CREATE TABLE t_wlp (id UInt32, vector Array(Float32))
            ENGINE = MergeTree PRIMARY KEY id;
        INSERT INTO t_wlp SELECT number, [number, number, number]
            FROM numbers(10);
        WITH(
                arrayMap(x -> ((x / 100.0) * if((x % 2) = 0, -1, 1)), range(1, 4))
            ) AS generated_vector
        SELECT id, distance(vector, generated_vector) AS d
        FROM t_wlp
        ORDER BY d ASC, id ASC
        LIMIT 3
        """,
    )
    rows = out.collect()
    # generated_vector = [0.01, -0.02, 0.03]; nearest rows are the smallest ids
    assert [r["id"] for r in rows] == [0, 1, 2]
    assert rows[0]["d"] < rows[1]["d"] < rows[2]["d"]
    ch_script(spark, "DROP TABLE t_wlp")


def test_show_create_table_round_trips(spark):
    from myscaledb_spark.plans.table_ddl import ch_ddl, show_create_table

    ch_ddl(spark, "DROP TABLE IF EXISTS t_sct")
    ch_ddl(
        spark,
        "CREATE TABLE t_sct (k Int64, price Decimal(18, 2), tags Array(String), ver Int64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k SAMPLE BY k",
    )
    ddl = show_create_table("t_sct")
    # CH stored-AST rendering (r8): bare single ORDER BY key, backquoted
    # column names, SETTINGS trailer (00015 pins the exact shape)
    assert "ReplacingMergeTree(ver)" in ddl and "ORDER BY k" in ddl
    assert "`price` Decimal(18, 2)" in ddl and "`tags` Array(String)" in ddl
    assert "SETTINGS index_granularity = 8192" in ddl
    assert "SAMPLE BY k" in ddl
    # round trip: the emitted DDL parses back
    ch_ddl(spark, "DROP TABLE t_sct")
    ch_ddl(spark, ddl)
    assert spark.table("t_sct").columns == ["k", "price", "tags", "ver"]
    ch_ddl(spark, "DROP TABLE t_sct")


def test_ch_script_index_ddl_and_sleep(spark, tmp_path):
    """Reference scripts interleave ALTER TABLE ... ADD VECTOR INDEX and
    SELECT sleep(N) between DDL and queries (00002/00015 shapes) — the
    script runner routes index DDL to the artifact builders and sleep()
    maps to a no-wait 0 (builds here are synchronous)."""
    from myscaledb_spark.plans.table_ddl import ch_script
    from myscaledb_spark.plans.vector_index import IndexRegistry

    art = str(tmp_path / "script_idx")
    out = ch_script(
        spark,
        """
        DROP TABLE IF EXISTS t_sidx;
        CREATE TABLE t_sidx (id UInt64, vector Array(Float32))
            ENGINE = MergeTree ORDER BY id;
        INSERT INTO t_sidx SELECT number, [number, number, number] FROM numbers(40);
        ALTER TABLE t_sidx ADD VECTOR INDEX v1 vector TYPE IVFFLAT('ncentroids=4');
        SELECT sleep(3);
        SELECT id, distance(vector, [5.0, 5.0, 5.0]) AS d
        FROM t_sidx ORDER BY d ASC, id ASC LIMIT 3
        """,
        artifact_dir=art,
    )
    rows = out.collect()
    assert [r["id"] for r in rows] == [5, 4, 6]
    rec = IndexRegistry(art).get("v1")
    assert rec is not None and rec["status"] == "Built"
    # DROP VECTOR INDEX routes too
    ch_script(spark, "ALTER TABLE t_sidx DROP VECTOR INDEX v1", artifact_dir=art)
    assert IndexRegistry(art).get("v1")["status"] == "Dropped"
    ch_script(spark, "DROP TABLE t_sidx")


def test_conformance_cleanup_pops_nested_registry(spark, tmp_path):
    """A conformance file that CREATEs a Nested table and never DROPs it
    must not leave NESTED_TABLES / TABLES entries to contaminate later
    files' `alias.col` references."""
    from myscaledb_spark.plans.table_ddl import TABLES as DDL_TABLES
    from myscaledb_spark.sql_dialect import NESTED_TABLES
    from tools.conformance import run_file

    f = tmp_path / "nested_no_drop.sql"
    f.write_text(
        "CREATE TABLE nst_leak (x UInt32, n Nested(i8 Int8, s String)) "
        "ENGINE = MergeTree ORDER BY x;\n"
        "INSERT INTO nst_leak VALUES (1, [1, 2], ['a', 'b']);\n"
        "SELECT x FROM nst_leak;\n"
    )
    status, _ = run_file(spark, str(f))
    assert status in ("PASS", "RAN")
    assert "nst_leak" not in NESTED_TABLES
    assert "nst_leak" not in DDL_TABLES
    assert not any(
        t.name.startswith("nst_leak") for t in spark.catalog.listTables()
    )
    # a later query using alias `n` with column `i8` must NOT be
    # backtick-mangled into a nonexistent `n.i8` dotted column
    from myscaledb_spark.sql_dialect import ch_sql

    r = ch_sql(
        spark,
        "SELECT n.i8 FROM (SELECT 42 AS i8) AS n",
    ).first()
    assert r[0] == 42


def test_session_settings_reset():
    set_statement("SET optimize_move_to_prewhere_for_vector_search = 0")
    assert (
        SESSION_SETTINGS["optimize_move_to_prewhere_for_vector_search"] == "0"
    )
    reset_session_settings()
    assert "optimize_move_to_prewhere_for_vector_search" not in SESSION_SETTINGS


# -- SELECT surface through ch_script: system.one, system.numbers, juxtaposed
# INSERT VALUES tuples, CREATE TEMPORARY TABLE


def test_limit_by_constant_and_aliased_items(spark):
    # system.X binds through the ch_script surface (the conformance path)
    from myscaledb_spark.plans.table_ddl import ch_script

    assert ch_script(
        spark, "SELECT 1 FROM system.one LIMIT 1 BY 1"
    ).collect() == [(1,)]
    assert ch_script(
        spark, "SELECT 1 as one FROM system.one LIMIT 1 BY 1 AS one"
    ).collect() == [(1,)]


def test_system_one_shape(spark):
    from myscaledb_spark.plans.table_ddl import ch_script

    rows = ch_script(spark, "SELECT dummy FROM system.one").collect()
    assert [tuple(r) for r in rows] == [(0,)]


def test_insert_values_juxtaposed_tuples(spark):
    from myscaledb_spark.plans.table_ddl import ch_script

    ch_script(spark, "DROP TABLE IF EXISTS jux_r7")
    ch_script(spark, "CREATE TABLE jux_r7 (a Int32, b String) ENGINE = Memory")
    ch_script(spark, "INSERT INTO jux_r7 VALUES (1, 'x')(2, 'y(')(3, ')z'), (4, 'w')")
    got = sorted(
        tuple(r) for r in ch_sql(spark, "SELECT a, b FROM jux_r7").collect()
    )
    assert got == [(1, "x"), (2, "y("), (3, ")z"), (4, "w")]
    ch_script(spark, "DROP TABLE jux_r7")


def test_create_temporary_table_defaults_to_memory(spark):
    from myscaledb_spark.plans.table_ddl import ch_script

    ch_script(spark, "DROP TABLE IF EXISTS tmp_r7")
    ch_script(spark, "CREATE TEMPORARY TABLE tmp_r7 (x UInt64, s String)")
    ch_script(spark, "INSERT INTO tmp_r7 VALUES (1, 'a')")
    assert ch_sql(spark, "SELECT x, s FROM tmp_r7").collect() == [(1, "a")]
    ch_script(spark, "DROP TABLE tmp_r7")


def test_system_numbers_limit(spark):
    from myscaledb_spark.plans.table_ddl import ch_script

    got = [r[0] for r in ch_script(
        spark, "SELECT number FROM system.numbers LIMIT 5"
    ).collect()]
    assert got == [0, 1, 2, 3, 4]
