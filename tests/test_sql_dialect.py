"""CH SQL dialect rewriter: ClickHouse-flavored SQL runs on Spark and matches
DuckDB-computed expectations."""

from __future__ import annotations

import math

import pytest

from myscaledb_spark.sql_dialect import ChSqlError, ch_sql, rewrite


def test_rewrite_simple_names():
    assert rewrite("SELECT toYear(d) FROM t") == "SELECT year(d) FROM t"
    assert (
        rewrite("SELECT toStartOfMonth(o_orderdate) FROM orders")
        == "SELECT date_trunc('month', o_orderdate) FROM orders"
    )
    assert rewrite("SELECT uniq(x), uniqExact(y) FROM t") == (
        "SELECT approx_count_distinct(x), count(distinct y) FROM t"
    )


def test_rewrite_nested_and_strings():
    s = rewrite("SELECT uniqExact(toStartOfDay(ts)) FROM t WHERE s = 'toYear(x)'")
    # the WHERE body gains the CH UInt8→boolean cast (r8); the literal
    # containing function-call text stays unrewritten either way
    assert s == (
        "SELECT count(distinct date_trunc('day', ts)) FROM t "
        "WHERE cast((s = 'toYear(x)') as boolean) "
    )


def test_rewrite_parametric():
    assert rewrite("SELECT quantile(0.9)(x) FROM t") == "SELECT percentile(x, 0.9) FROM t"
    assert (
        rewrite("SELECT quantiles(0.5, 0.9)(x) FROM t")
        == "SELECT percentile(x, array(0.5, 0.9)) FROM t"
    )
    # topK = k most FREQUENT values (AggregateFunctionTopK), not k smallest
    out = rewrite("SELECT topK(3)(et) FROM t")
    assert "collect_list(et)" in out and "negcnt" in out and "1, 3" in out


def test_topk_summap_semantics(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (1, "a", 3.0), (1, "b", 1.0), (1, "c", 5.0)],
        "g int, k string, v double",
    )
    df.createOrReplaceTempView("_tks")
    from myscaledb_spark.sql_dialect import ch_sql

    r = ch_sql(spark, "SELECT topK(2)(k) AS tk, sumMap(k, v) AS sm FROM _tks GROUP BY g").collect()
    assert r[0]["tk"] == ["a", "b"]  # most frequent, ties by value asc
    assert r[0]["sm"] == {"a": 4.0, "b": 3.0, "c": 5.0}  # summed per key


def test_split_by_char_escapes_regex(spark):
    from myscaledb_spark.sql_dialect import ch_sql

    df = spark.createDataFrame([("a.b.c",)], "s string")
    df.createOrReplaceTempView("_sbc")
    r = ch_sql(spark, "SELECT splitByChar('.', s) AS parts FROM _sbc").collect()
    assert r[0]["parts"] == ["a", "b", "c"]


def test_unsupported_constructs_raise_with_hint():
    # LIMIT BY without a top-level ORDER BY keeps first-per-group in INPUT
    # order (LimitByTransform streaming semantics) — rewritten via a
    # monotonically_increasing_id rank, not an error (00583/00939 parity)
    assert "monotonically_increasing_id" in rewrite("SELECT * FROM t LIMIT 3 BY k")
    with pytest.raises(ChSqlError, match="asof_join"):
        rewrite("SELECT * FROM a ASOF JOIN b ON ...")
    with pytest.raises(ChSqlError, match="text_search"):
        rewrite("SELECT textsearch(text, 'q') FROM docs")


def test_ch_sql_end_to_end_dates_aggs(spark, duck):
    got = {
        tuple(r)
        for r in ch_sql(
            spark,
            """
            SELECT toYYYYMM(o_orderdate) AS ym,
                   uniqExact(o_custkey) AS nc,
                   countIf(o_totalprice > 150000) AS big
            FROM orders
            GROUP BY toYYYYMM(o_orderdate)
            """,
        ).collect()
    }
    want = {
        tuple(r)
        for r in duck.sql(
            """
            SELECT (EXTRACT(year FROM o_orderdate)*100 + EXTRACT(month FROM o_orderdate))::INT,
                   COUNT(DISTINCT o_custkey),
                   SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
            FROM orders GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want


def test_ch_sql_vector_distance(spark):
    """The MyScale flagship query shape, verbatim CH syntax, via ch_sql."""
    spark.table("embeddings").createOrReplaceTempView("emb")
    q = [0.1] * 64
    lit = "array(" + ", ".join(repr(v) for v in q) + ")"
    df = ch_sql(
        spark,
        f"""
        SELECT vec_id, distance(embedding, {lit}) AS d
        FROM emb
        ORDER BY d ASC, vec_id ASC
        LIMIT 5
        """,
    )
    rows = df.collect()
    assert len(rows) == 5
    # equals the operator API result
    from myscaledb_spark.operators.topk import vector_topk

    want = vector_topk(spark.table("embeddings"), "embedding", q, 5, "L2", id_col="vec_id")
    assert [r.vec_id for r in rows] == [r.vec_id for r in want.collect()]
    d = [r.d for r in rows]
    assert d == sorted(d)


def test_ch_sql_arrays_json(spark):
    r = ch_sql(
        spark,
        """
        SELECT arraySum(arrayMap(x -> x * 2, array(1.0, 2.0))) AS s,
               has(array(1, 2, 3), 2) AS h,
               JSONExtractInt(props, 'k') AS k
        FROM events LIMIT 1
        """,
    ).first()
    assert r.s == 6.0 and r.h and r.k is not None


def test_ch_sql_parametric_quantile(spark, duck):
    got = {
        r[0]: r[1]
        for r in ch_sql(
            spark,
            "SELECT l_returnflag, round(quantile(0.9)(l_quantity), 4) AS p90 "
            "FROM lineitem GROUP BY l_returnflag",
        ).collect()
    }
    want = {
        r[0]: r[1]
        for r in duck.sql(
            "SELECT l_returnflag, ROUND(quantile_cont(l_quantity, 0.9), 4) "
            "FROM lineitem GROUP BY l_returnflag"
        ).fetchall()
    }
    assert got == want


def test_parametric_distance_accepts_params(spark):
    spark.table("embeddings").createOrReplaceTempView("emb2")
    lit = "array(" + ", ".join(["0.1"] * 64) + ")"
    df = ch_sql(
        spark,
        f"SELECT vec_id, distance('nprobe=128')(embedding, {lit}) AS d "
        "FROM emb2 ORDER BY d ASC, vec_id ASC LIMIT 3",
    )
    rows = df.collect()
    assert len(rows) == 3 and rows[0].d <= rows[1].d


def test_great_circle_dialect_matches_builder(spark):
    """Dialect greatCircleDistance/geoDistance ≡ the ch_compat column
    builders bit-for-bit (same haversine tree)."""
    from pyspark.sql import functions as F

    from myscaledb_spark.functions.ch_compat import greatCircleDistance

    pts = spark.createDataFrame(
        [
            (-0.1278, 51.5074, 2.3522, 48.8566),   # London -> Paris
            (139.6917, 35.6895, -122.419, 37.774), # Tokyo -> SF
            (0.0, 0.0, 0.0, 0.0),
        ],
        "lon1 double, lat1 double, lon2 double, lat2 double",
    )
    pts.createOrReplaceTempView("_gc")
    got = [
        r.d
        for r in ch_sql(
            spark,
            "SELECT greatCircleDistance(lon1, lat1, lon2, lat2) AS d FROM _gc",
        ).collect()
    ]
    want = [
        r.d
        for r in pts.select(
            greatCircleDistance(
                F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")
            ).alias("d")
        ).collect()
    ]
    assert got == want
    assert abs(got[0] - 343_556) < 2000  # London-Paris ≈ 343.5 km


def test_clause_rewrites_final_sample_limit_by():
    from myscaledb_spark.sql_dialect import register_table_engine

    register_table_engine("rt_", "replacing", ["k"], version="v")
    out = rewrite("SELECT k FROM rt_ FINAL")
    assert "ROW_NUMBER() OVER" in out and "PARTITION BY k" in out
    assert "ORDER BY v DESC" in out

    register_table_engine("ct_", "collapsing", ["k"], sign="s", order="seq")
    out = rewrite("SELECT k FROM ct_ FINAL")
    assert "max_by(struct(*)" in out and "sum(s)" in out.lower() and "_net > 0" in out

    register_table_engine("st_", "none", [], sample_by="id", sample_seed=7)
    out = rewrite("SELECT count(*) FROM st_ SAMPLE 0.5")
    assert "md5" in out and str(int(0.5 * (1 << 48))) in out and "'7:'" in out

    out = rewrite(
        "SELECT a, b FROM t ORDER BY b DESC, a ASC LIMIT 3 OFFSET 1 BY a LIMIT 10"
    )
    # BY items are computed as subquery key columns (constants / rand() /
    # aliased items partition correctly — 00583 parity)
    assert "PARTITION BY _lbk0 ORDER BY b DESC, a ASC" in out
    assert "(a) AS _lbk0" in out
    assert "_rn > 1 AND _rn <= 4" in out
    assert out.rstrip().endswith("LIMIT 10")

    # the MySQL-ish offset-first spelling: LIMIT 2, 2 BY == offset 2 take 2
    out = rewrite("SELECT a FROM t ORDER BY a LIMIT 2, 2 BY a")
    assert "_rn > 2 AND _rn <= 4" in out


def test_clause_rewrite_errors():
    from myscaledb_spark.sql_dialect import register_table_engine

    with pytest.raises(ChSqlError, match="register_table_engine"):
        rewrite("SELECT * FROM unreg_table FINAL")
    with pytest.raises(ChSqlError, match="sample_by"):
        register_table_engine("ns_", "none", [])
        rewrite("SELECT * FROM ns_ SAMPLE 0.1")
    with pytest.raises(ChSqlError, match="version"):
        register_table_engine("bad_", "replacing", ["k"])
    # LIMIT BY inside a subquery is rewritten in place (00743 parity)
    s = "SELECT * FROM t WHERE x IN (SELECT y FROM u ORDER BY y LIMIT 1 BY y)"
    out = rewrite(s)
    assert "ROW_NUMBER" in out
    assert out.startswith("SELECT * FROM t WHERE cast((x IN (")


def test_limit_by_subquery_mask_protects_parens():
    # top-level LIMIT BY with a paren-heavy head must keep the head intact;
    # ORDER BY references the projection alias (post-projection scope)
    out = rewrite(
        "SELECT k, sum(v) AS s FROM t GROUP BY k ORDER BY s DESC LIMIT 1 BY k"
    )
    assert "FROM (SELECT *, (k) AS _lbk0 FROM (SELECT k, sum(v) AS s FROM t GROUP BY k) _lb)" in out
    assert "PARTITION BY _lbk0 ORDER BY s DESC" in out


def test_with_fill_rewrite_and_guards():
    out = rewrite("SELECT d, n FROM t ORDER BY d WITH FILL FROM 1 TO 10 STEP 2")
    assert "sequence(1, 10, 2)" in out and "FULL OUTER JOIN" in out and "USING (d)" in out
    # FROM/TO default to the query's own min/max as scalar subqueries
    out = rewrite("SELECT d, n FROM t ORDER BY d WITH FILL")
    assert "min(d)" in out and "max(d)" in out
    # INTERPOLATE (bare columns) is supported since r6: carry-forward via
    # a last-IGNORE-NULLS window over a struct wrap
    out = rewrite("SELECT d, n FROM t ORDER BY d WITH FILL INTERPOLATE (n)")
    # (the searched-CASE condition gains the CH UInt8→boolean cast — r8)
    assert "last(CASE WHEN cast(( _orig ) as boolean) THEN struct(`n` AS v) END, true)" in out
    assert "ELSE _itp_0.v END AS `n`" in out
    # computed INTERPOLATE (r7/r8): seed = expr over the anchor row, then a
    # (k-1)-step aggregate fold — leading fills seed from the column default
    out = rewrite("SELECT d, n FROM t ORDER BY d WITH FILL INTERPOLATE (n AS n + 1)")
    assert "aggregate(sequence(2, _wfseq - coalesce(_wfoseq, 0))" in out
    assert "(_ipv, _ik) -> (_ipv + 1)" in out
    with pytest.raises(ChSqlError, match="with_fill"):
        rewrite("SELECT d FROM t ORDER BY d DESC WITH FILL")
    # r8: WITH FILL inside a subquery rewrites in place (02233 stmt 11)
    out = rewrite("SELECT * FROM (SELECT d FROM t ORDER BY d WITH FILL) q")
    assert "FULL OUTER JOIN" in out and out.strip().startswith("SELECT * FROM (")


def test_asof_join_rewrite_shapes():
    out = rewrite(
        "SELECT l.k FROM a l ASOF LEFT JOIN b r ON l.k = r.k AND l.ts >= r.ts "
        "WHERE l.k > 0"
    )
    assert "LEFT JOIN LATERAL" in out and "LIMIT 1" in out
    assert "ORDER BY r.ts DESC" in out
    assert out.rstrip().endswith("WHERE cast((l.k > 0) as boolean)")
    # flipped inequality → ascending pick (first right row at-or-after left)
    out = rewrite("SELECT 1 FROM a l ASOF JOIN b r ON l.k = r.k AND r.ts >= l.ts")
    assert "ORDER BY r.ts ASC" in out and "LEFT JOIN LATERAL" not in out
    # no inequality → helper hint
    with pytest.raises(ChSqlError, match="asof_join"):
        rewrite("SELECT * FROM a ASOF JOIN b ON ...")


def test_asof_join_sql_matches_operator(spark):
    from pyspark.sql import functions as F

    from myscaledb_spark.operators.relational import asof_join

    ev = spark.table("events")
    p = ev.filter("event_type = 'purchase'").filter("user_id < 10")
    c = ev.filter("event_type = 'click'")
    p.createOrReplaceTempView("_ta_p")
    c.createOrReplaceTempView("_ta_c")
    got = {
        r["event_id"]: r["click_id"]
        for r in ch_sql(
            spark,
            "SELECT l.event_id, r.event_id AS click_id FROM _ta_p l "
            "ASOF LEFT JOIN _ta_c r ON l.user_id = r.user_id AND l.ts > r.ts",
        ).collect()
    }
    want_df = asof_join(
        p.select("event_id", "user_id", "ts"),
        c.select(
            F.col("user_id"),
            F.col("ts").alias("cts"),
            F.col("event_id").alias("click_id"),
        ),
        left_on="ts",
        right_on="cts",
        by_left=["user_id"],
        by_right=["user_id"],
        direction="backward",
        strict=True,
        how="left",
    )
    want = {r["event_id"]: r["click_id"] for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_global_and_settings_compat():
    out = rewrite(
        "SELECT a FROM t GLOBAL JOIN u ON t.k = u.k "
        "WHERE x GLOBAL IN (SELECT k FROM v) SETTINGS max_threads = 8, joined_subquery_requires_alias = 0"
    )
    assert "GLOBAL" not in out and "SETTINGS" not in out
    assert out.endswith("IN(SELECT k FROM v)") or "IN (SELECT k FROM v)" in out
    # SETTINGS inside a string literal is untouched
    out = rewrite("SELECT 'SETTINGS x' AS s FROM t")
    assert "'SETTINGS x'" in out
    with pytest.raises(ChSqlError, match="any_join"):
        rewrite("SELECT * FROM a LEFT ANY JOIN b ON a.k = b.k")


def test_review_fixes_final_sample_guards():
    from myscaledb_spark.sql_dialect import register_table_engine

    # qualified/aliased FINAL can't silently become a table alias
    with pytest.raises(ChSqlError, match="FINAL"):
        rewrite("SELECT * FROM db.events FINAL")
    # FINAL / GLOBAL / SAMPLE inside string literals are untouched
    out = rewrite("SELECT * FROM logs WHERE msg = 'read FROM cache FINAL done'")
    assert "'read FROM cache FINAL done'" in out
    out = rewrite("SELECT 'GLOBAL IN scope' AS s FROM t")
    assert "'GLOBAL IN scope'" in out
    # integer row-count SAMPLE form raises instead of no-op full scan
    register_table_engine("tsm_", "none", [], sample_by="id")
    with pytest.raises(ChSqlError, match="row-count"):
        rewrite("SELECT * FROM tsm_ SAMPLE 1000")


def test_review_fixes_with_fill_tail():
    # trailing LIMIT survives the rewrite (was silently dropped)
    out = rewrite("SELECT d FROM t ORDER BY d WITH FILL LIMIT 5")
    assert out.rstrip().endswith("LIMIT 5") and "sequence" in out
    out = rewrite("SELECT d FROM t ORDER BY d WITH FILL FROM 1 TO 9 STEP 2 LIMIT 5")
    assert "sequence(1, 9, 2)" in out and out.rstrip().endswith("LIMIT 5")
    # defaulted bounds: ONE combined min/max subquery, not one per bound
    out = rewrite("SELECT d FROM t ORDER BY d WITH FILL")
    assert out.count("(SELECT d FROM t)") == 2  # one bounds scan + the join
    assert "min(d) AS mn, max(d) AS mx" in out
    # unknown clause text between WITH FILL and keywords raises
    with pytest.raises(ChSqlError, match="unrecognized"):
        rewrite("SELECT d FROM t ORDER BY d WITH FILL BOGUS 3")


def test_special_handlers_datediff_multiif_formatdatetime():
    out = rewrite("SELECT dateDiff('day', a, b) FROM t")
    # r8: calendar-boundary semantics — the difference of toRelativeDayNum
    # values, not elapsed 24h periods (00538)
    assert "datediff(to_date(cast(b as timestamp)), DATE '1970-01-01')" in out
    assert " - datediff(to_date(cast(a as timestamp))" in out
    with pytest.raises(ChSqlError, match="unit"):
        rewrite("SELECT dateDiff('fortnight', a, b) FROM t")
    out = rewrite("SELECT multiIf(a > 1, 'x', a > 0, 'y', 'z') FROM t")
    assert out.count("WHEN") == 2 and "ELSE 'z' END" in out
    with pytest.raises(ChSqlError, match="pairs"):
        rewrite("SELECT multiIf(a, b) FROM t")
    out = rewrite("SELECT formatDateTime(d, '%Y-%m-%d %H:%i:%S') FROM t")
    assert "date_format(d, 'yyyy-MM-dd HH:mm:ss')" in out
    with pytest.raises(ChSqlError, match="letter"):
        rewrite("SELECT formatDateTime(d, 'year %Y') FROM t")
    # bit ops and misc templates
    assert "(a & b)" in rewrite("SELECT bitAnd(a, b) FROM t")
    assert "bround(x, 2)" in rewrite("SELECT roundBankers(x, 2) FROM t")
    assert "weekofyear(d)" in rewrite("SELECT toISOWeek(d) FROM t")
    assert "dayofweek" in rewrite("SELECT toWeek(d) FROM t")  # mode-0 arithmetic


def test_array_family_templates(spark):
    r = ch_sql(
        spark,
        """
        SELECT arrayPushBack(array(3, 1), 9) AS pb,
               arrayPopFront(array()) AS pf0,
               arrayUniq(array(1, 1, 2)) AS un,
               countEqual(array(1, 1, 2), 1) AS ce,
               arrayFirst(x -> x > 1, array(1, 5, 7)) AS af,
               arrayFirstIndex(x -> x > 9, array(1, 5)) AS afi,
               arrayResize(array('a'), 3, '_') AS ar,
               tokens('Hello, big-World!') AS tk
        """,
    ).first()
    assert r.pb == [3, 1, 9] and r.pf0 == [] and r.un == 2 and r.ce == 2
    assert r.af == 5 and r.afi == 0  # not-found index is 0, like the reference
    assert r.ar == ["a", "_", "_"]
    assert r.tk == ["Hello", "big", "World"]
    with pytest.raises(ChSqlError, match="arrayResize"):
        rewrite("SELECT arrayResize(a) FROM t")


def test_toweek_mode0_and_formatdatetime_modern(spark):
    # MySQL/CH mode-0 weeks: Sunday-start, week 0 before the first Sunday.
    # 2017-01-01 was a Sunday → week 1; ISO week of the same date is 52.
    r = ch_sql(
        spark,
        "SELECT toWeek(DATE '2017-01-01') AS w0a, toISOWeek(DATE '2017-01-01') AS iso,"
        "       toWeek(DATE '2017-01-07') AS w1, toWeek(DATE '2017-01-08') AS w2,"
        "       toWeek(DATE '2024-01-01') AS wm",  # 2024-01-01 Monday → week 0
    ).first()
    assert (r.w0a, r.iso, r.w1, r.w2, r.wm) == (1, 52, 1, 2, 0)
    # modern %M = month name, %i = minutes; quotes and tz-arg refuse loudly
    r = ch_sql(
        spark,
        "SELECT formatDateTime(TIMESTAMP '2024-03-05 07:08:09', '%M %i') AS f",
    ).first()
    assert r.f == "March 08"
    with pytest.raises(ChSqlError, match="single quotes"):
        rewrite("SELECT formatDateTime(d, '%d''x') FROM t")
    # r8: the tz argument is SUPPORTED now — operands convert to the
    # zone's wall clock before the boundary count (00538)
    out = rewrite("SELECT dateDiff('day', a, b, 'UTC') FROM t")
    assert "convert_timezone('UTC', 'UTC', cast(a as timestamp))" in out
    # timeSlot floors (not truncates) for pre-epoch timestamps
    r = ch_sql(
        spark,
        "SELECT timeSlot(TIMESTAMP '1969-12-31 23:45:00') AS s",
    ).first()
    assert str(r.s) == "1969-12-31 23:30:00"


def test_json_string_parse_templates(spark):
    r = ch_sql(
        spark,
        """
        SELECT JSONArrayLength('[1,2,3]') AS jl,
               JSONExtractKeys('{"a":1,"b":2}') AS jk,
               extractAll('a1b22c333', '[0-9]+') AS ea,
               countSubstrings('ababab', 'ab') AS cs,
               trimLeft('  x ') AS tl,
               parseDateTimeBestEffortOrNull('not a date') AS bad,
               parseDateTimeBestEffort('2024-03-05 06:07:08') AS ok
        """,
    ).first()
    assert r.jl == 3 and r.jk == ["a", "b"]
    assert r.ea == ["1", "22", "333"] and r.cs == 3 and r.tl == "x "
    assert r.bad is None and str(r.ok) == "2024-03-05 06:07:08"


def test_to_start_of_interval(spark):
    r = ch_sql(
        spark,
        """
        SELECT toStartOfInterval(TIMESTAMP '2024-03-05 07:38:09', INTERVAL 15 MINUTE) AS m15,
               toStartOfFiveMinutes(TIMESTAMP '2024-03-05 07:38:09') AS m5,
               toStartOfInterval(TIMESTAMP '2024-03-05 07:38:09', INTERVAL 6 HOUR) AS h6,
               toStartOfInterval(DATE '2024-05-20', INTERVAL 3 MONTH) AS q,
               toStartOfInterval(DATE '2024-05-20', INTERVAL 2 YEAR) AS y2
        """,
    ).first()
    assert str(r.m15) == "2024-03-05 07:30:00" and str(r.m5) == "2024-03-05 07:35:00"
    assert str(r.h6) == "2024-03-05 06:00:00"
    assert str(r.q) == "2024-04-01" and str(r.y2) == "2024-01-01"
    with pytest.raises(ChSqlError, match="INTERVAL"):
        rewrite("SELECT toStartOfInterval(t, 5) FROM t")


def test_to_start_of_interval_week_and_odd_months(spark):
    r = ch_sql(
        spark,
        """
        SELECT toStartOfInterval(TIMESTAMP '2024-03-05 12:00:00', INTERVAL 1 WEEK) AS w1,
               toStartOfInterval(DATE '2024-03-10', INTERVAL 2 WEEK) AS w2,
               toStartOfInterval(DATE '2024-05-20', INTERVAL 9 MONTH) AS m9
        """,
    ).first()
    # weeks align to MONDAY (2024-03-05 is a Tuesday; 2024-03-04 a Monday)
    assert str(r.w1) == "2024-03-04"
    import datetime

    assert r.w2.weekday() == 0  # Monday
    # 9-month buckets anchor at 1900: months since 1900 = 1492 → floor to
    # 1485 → 2023-10-01 (1970-anchoring would give 2024-01-01)
    assert str(r.m9) == "2023-10-01"
    with pytest.raises(ChSqlError, match="zero"):
        rewrite("SELECT toStartOfInterval(t, INTERVAL 0 HOUR) FROM t")


def test_json_extract_bool_reference_semantics(spark):
    r = ch_sql(
        spark,
        """SELECT JSONExtractBool('{"a":true,"b":1,"c":"abc"}', 'a') AS t,
                  JSONExtractBool('{"a":true,"b":1,"c":"abc"}', 'b') AS f1,
                  JSONExtractBool('{"a":true,"b":1,"c":"abc"}', 'c') AS f2""",
    ).first()
    assert r.t is True and bool(r.f1) is False and bool(r.f2) is False


def test_with_totals_rewrite():
    out = rewrite("SELECT k, count(*) FROM t GROUP BY k WITH TOTALS")
    assert "GROUPING SETS((k), ())" in out
    out = rewrite(
        "SELECT a, b, sum(v) FROM t GROUP BY a, b WITH TOTALS HAVING sum(v) > 0"
    )
    assert "GROUPING SETS((a, b), ())" in out
    assert out.rstrip().endswith("HAVING cast((sum(v) > 0) as boolean)")
    with pytest.raises(ChSqlError, match="TOTALS"):
        rewrite("SELECT count(*) FROM t WITH TOTALS")


def test_format_and_outfile_tails():
    out = rewrite("SELECT k FROM t ORDER BY k LIMIT 5 FORMAT JSONEachRow")
    assert out.endswith("LIMIT 5")
    out = rewrite("SELECT k FROM t SETTINGS max_threads = 4 FORMAT Pretty")
    assert out.endswith("FROM t")
    # FORMAT as an ordinary identifier mid-query is untouched
    out = rewrite("SELECT format FROM t WHERE format = 'csv'")
    assert "SELECT format FROM t" in out
    with pytest.raises(ChSqlError, match="OUTFILE"):
        rewrite("SELECT k FROM t INTO OUTFILE 'x.csv'")


def test_topk_weighted_parametric(spark):
    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 10), (1, "a", 2), (1, "c", 5)],
        "g int, k string, w int",
    )
    df.createOrReplaceTempView("_tkw")
    r = ch_sql(
        spark, "SELECT topKWeighted(2)(k, w) AS tk FROM _tkw GROUP BY g"
    ).first()
    assert r.tk == ["b", "c"]  # weights: b=10, c=5, a=3


def test_settings_inside_union_raises():
    # ADVICE r4: per-SELECT SETTINGS inside a UNION used to truncate the
    # second branch silently — now it raises instead of wrong results
    with pytest.raises(ChSqlError, match="SETTINGS"):
        rewrite("SELECT a FROM t SETTINGS x = 1 UNION ALL SELECT b FROM u")
    # trailing SETTINGS (with FORMAT) still strips fine
    out = rewrite("SELECT a FROM t SETTINGS max_threads = 8 FORMAT CSV")
    assert out.endswith("FROM t")


def test_to_week_mode_and_extra_args_raise():
    # mode 0 (explicit or default) works; any other mode raises instead of
    # silently computing mode-0 numbers
    assert "dayofweek" in rewrite("SELECT toWeek(d) FROM t")
    assert "dayofweek" in rewrite("SELECT toWeek(d, 0) FROM t")
    with pytest.raises(ChSqlError, match="mode"):
        rewrite("SELECT toWeek(d, 3) FROM t")
    # generic guard: an arg the template never references raises
    with pytest.raises(ChSqlError, match="argument"):
        rewrite("SELECT parseDateTimeBestEffort(s, 'UTC') FROM t")
    with pytest.raises(ChSqlError, match="argument"):
        rewrite("SELECT toStartOfWeek(d, 1) FROM t")


def test_with_fill_keeps_off_grid_rows(spark):
    # ADVICE r4: original rows whose fill value is off the grid must survive
    spark.createDataFrame(
        [(1.0, "a"), (2.5, "b"), (4.0, "c")], "x double, v string"
    ).createOrReplaceTempView("_wf_off")
    out = ch_sql(
        spark,
        "SELECT x, v FROM _wf_off ORDER BY x WITH FILL FROM 1 TO 4 STEP 1",
    )
    rows = [(r["x"], r["v"]) for r in out.collect()]
    assert (2.5, "b") in rows          # off-grid original row kept
    # fill rows carry CH column type defaults ('' for String) like
    # FillingTransform (r7 — was NULL before the schema-aware rewrite)
    assert (3.0, "") in rows           # grid fill row present
    assert rows == [(1.0, "a"), (2.0, ""), (2.5, "b"), (3.0, ""), (4.0, "c")]


def test_with_totals_key_defaults(spark):
    # ch_sql path fills totals-row keys with type defaults (''/0) like
    # TotalsHavingTransform.cpp; bare rewrite (no schema) keeps NULL
    spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 3)], "k string, v int"
    ).createOrReplaceTempView("_wt_t")
    rows = {
        r["k"]: r["s"]
        for r in ch_sql(
            spark, "SELECT k, sum(v) AS s FROM _wt_t GROUP BY k WITH TOTALS"
        ).collect()
    }
    assert rows == {"x": 3, "y": 3, "": 6}


def test_array_literals_and_numbers_tvf(spark):
    # CH bracket array literals → array(); numbers() → range() TVF
    r = ch_sql(
        spark,
        "SELECT [1, 2, 3] AS a, [[1.0], [2.0]] AS nested, [] AS empty,"
        "       arraySum([1.0, 2.5]) AS s, [10, 20][1] AS first"
        "  FROM (SELECT 1)",
    ).first()
    assert r.a == [1, 2, 3] and r.nested == [[1.0], [2.0]] and r.empty == []
    assert r.s == 3.5 and r.first == 10
    # subscript access survives (no-space juxtaposition)
    spark.createDataFrame(
        [([5, 6], {"k": 9})], "arr array<int>, m map<string,int>"
    ).createOrReplaceTempView("_al_t")
    r2 = ch_sql(spark, "SELECT arr[2] AS x, m['k'] AS y FROM _al_t").first()
    assert r2.x == 6 and r2.y == 9
    # numbers() table function, both arities (CH: offset, COUNT)
    assert ch_sql(spark, "SELECT count(*) AS n FROM numbers(100)").first().n == 100
    r3 = ch_sql(
        spark,
        "SELECT min(number) AS mn, max(number) AS mx, count(*) AS n "
        "FROM numbers(50, 50)",
    ).first()
    assert (r3.mn, r3.mx, r3.n) == (50, 99, 50)
    # the reference's own INSERT source shape: SELECT number, [n,n,n] FROM numbers(...)
    r4 = ch_sql(
        spark,
        "SELECT number, [number, number, number] AS vec FROM numbers(3) "
        "ORDER BY number",
    ).collect()
    assert [tuple(r) for r in r4] == [(0, [0, 0, 0]), (1, [1, 1, 1]), (2, [2, 2, 2])]


def test_every_template_rewrites_to_parseable_sql(spark):
    """Safety net over the whole TEMPLATES/PARAMETRIC/SPECIAL surface: each
    rewrite output must be syntactically valid Spark SQL (parse-only — no
    type analysis, so generic dummy args work). Catches unbalanced parens /
    bad keywords in templates that no gate query happens to exercise."""
    import re as _re

    from myscaledb_spark.sql_dialect import PARAMETRIC, SPECIAL, TEMPLATES

    parser = spark._jsparkSession.sessionState().sqlParser()

    def parses(sql: str) -> None:
        parser.parsePlan(sql)  # raises ParseException on bad syntax

    for name, tpl in sorted(TEMPLATES.items()):
        if "{*}" in tpl:
            args = ["a0", "a1"]
        else:
            idx = [int(n) for n in _re.findall(r"\{(\d+)\}", tpl)]
            args = [f"a{i}" for i in range(max(idx) + 1)] if idx else []
        call = f"{name}({', '.join(args)})"
        out = rewrite(f"SELECT {call} FROM t")
        parses(out)

    # callable parametrics declare their own arity: the quantile*Weighted
    # family takes (x, weight); the timing family takes one arg
    one_arg = {"quantileTiming", "quantilesTiming", "medianTiming"}
    for name in sorted(PARAMETRIC):
        args = "a0" if name in one_arg else "a0, a1"
        out = rewrite(f"SELECT {name}(0.5)({args}) FROM t")
        parses(out)

    special_calls = {
        "transform": "transform(a, [1, 2], [10, 20], 0)",
        "ifNotFinite": "ifNotFinite(a, b)",
        "dateDiff": "dateDiff('day', a, b)",
        "date_diff": "date_diff('day', a, b)",
        "toWeek": "toWeek(a)",
        "numbers": "numbers(5)",
        "multiIf": "multiIf(a, b, c)",
        "if": "if(a, b, c)",
        "has": "has(a, b)",
        "length": "length(a)",
        "indexOf": "indexOf(a, b)",
        "arraySort": "arraySort(a)",
        "arrayReverseSort": "arrayReverseSort(a)",
        "toString": "toString(a)",
        "pointInEllipses": "pointInEllipses(a, b, 1, 2, 3, 4)",
        "toStringCutToZero": "toStringCutToZero(a)",
        "toDateTimeOrZero": "toDateTimeOrZero(a)",
        "gcd": "gcd(a, b)",
        "toDecimal32": "toDecimal32(a, 2)",
        "toDecimal64": "toDecimal64(a, 2)",
        "toDecimal128": "toDecimal128(a, 2)",
        "toDecimal256": "toDecimal256(a, 2)",
        "arraySlice": "arraySlice(a, 1, 2)",
        "timeSlots": "timeSlots(a, 3600)",
        "lcm": "lcm(a, b)",
        "retention": "retention(a, b)",
        "maxIntersections": "maxIntersections(a, b)",
        "toDateTimeOrNull": "toDateTimeOrNull(a)",
        "DATEDIFF": "DATEDIFF('day', a, b)",
        "arrayIntersect": "arrayIntersect(a, b)",
        "uniqArray": "uniqArray(a)",
        "uniqExactArray": "uniqExactArray(a)",
        "uniqCombinedArray": "uniqCombinedArray(a)",
        "uniqHLL12Array": "uniqHLL12Array(a)",
        "pointInPolygon": "pointInPolygon((a, b), [(0, 0), (10, 0), (10, 10)])",
        "toHour": "toHour(a)",
        "substring": "substring(a, 1, 2)",
        "extractAll": "extractAll(a, 'x(y)')",
        "quantileTiming": "quantileTiming(a)",
        "medianTiming": "medianTiming(a)",
        "quantileExactWeighted": "quantileExactWeighted(a, b)",
        "quantileInterpolatedWeighted": "quantileInterpolatedWeighted(a, b)",
        "formatDateTime": "formatDateTime(a, '%Y-%m-%d')",
        "arrayResize": "arrayResize(a, 3)",
        "toStartOfInterval": "toStartOfInterval(a, INTERVAL 2 HOUR)",
        "extract": "extract(a, 'x(y)')",
        "position": "position(a, b)",
        "count": "count()",
        "range": "range(1, 4)",
        "char": "char(65, 66, 67)",
        "remote": "remote('h', d, t)",
        "remoteSecure": "remoteSecure('h', d.t)",
        "cluster": "cluster('c', d.t)",
        "clusterAllReplicas": "clusterAllReplicas('c', d.t)",
        "countState": "countState()",
        "toDate": "toDate(a, 'UTC')",
        "uniqState": "uniqState(a)",
        "uniqMerge": "uniqMerge(a)",
        "uniqMergeState": "uniqMergeState(a)",
        "replaceRegexpOne": "replaceRegexpOne(a, 'x+', 'y')",
        "replaceRegexpAll": "replaceRegexpAll(a, '(x+)', 'y\\\\1')",
        "REGEXP_REPLACE": "REGEXP_REPLACE(a, '(x+)', 'y\\\\1')",
        "toDateTime": "toDateTime(a, 'UTC')",
        "sum": "sum(a = 2)",
        "floor": "floor(a, 1)",
        "ceil": "ceil(a, 1)",
        "ceiling": "ceiling(a, 1)",
        "trunc": "trunc(a, 1)",
        "truncate": "truncate(a)",
        "roundBankers": "roundBankers(a, 2)",
        "round": "round(a, 2)",
        "roundToExp2": "roundToExp2(100)",
        "positionUTF8": "positionUTF8(a, 'x', 2)",
        "positionCaseInsensitive": "positionCaseInsensitive(a, 'x')",
        "positionCaseInsensitiveUTF8": "positionCaseInsensitiveUTF8(a, 'x')",
        "arrayStringConcat": "arrayStringConcat(arr, ',')",
        "bitTestAll": "bitTestAll(a, 1, 2)",
        "bitTestAny": "bitTestAny(a, 1, 2)",
        # finalizeAggregation is type-directed and ALWAYS raises (checked
        # in test_agg_state.py::test_dialect_error_discipline)
        "finalizeAggregation": None,
    }
    assert set(special_calls) == set(SPECIAL), "new SPECIAL needs a sweep case"
    for name, call in sorted(special_calls.items()):
        if call is None:
            continue
        out = rewrite(f"SELECT {call} FROM t")
        parses(out)


def test_ansi_collisions_and_mysql_limit(spark):
    # ANSI EXTRACT(unit FROM ts) passes through; CH extract(s, re) rewrites
    out = rewrite("SELECT extract(YEAR FROM d) FROM t")
    assert "extract(YEAR FROM d)" in out
    out = rewrite("SELECT extract(s, '([0-9]+)') FROM t")
    assert "regexp_extract(s, '([0-9]+)', 1)" in out
    # ANSI POSITION(x IN y) gets CH BYTE-offset semantics (00233 — r8);
    # the 2/3-arg CH forms map the same way
    out = rewrite("SELECT position(n IN h) FROM t")
    assert "octet_length" in out and "instr(h, n)" in out
    out = rewrite("SELECT position(h, n) FROM t")
    assert "instr(h, n)" in out
    out = rewrite("SELECT position(h, n, 3) FROM t")
    assert "locate(n, h," in out  # byte start maps through char boundary
    # count() with no args = count(*)
    r = ch_sql(spark, "SELECT count() AS n FROM numbers(7)").first()
    assert r.n == 7
    # MySQL/CH LIMIT offset, n
    rows = ch_sql(
        spark, "SELECT number FROM numbers(10) ORDER BY number LIMIT 3, 4"
    ).collect()
    assert [r["number"] for r in rows] == [3, 4, 5, 6]
    # comparison-function names and tuple/arrayElement
    r2 = ch_sql(
        spark,
        "SELECT equals(1, 1) AS e, notEquals(1, 2) AS ne, less(1, 2) AS l,"
        "       greaterOrEquals(2, 2) AS ge, tuple(1, 'x') AS tp,"
        "       arrayElement([10, 20], 2) AS ae FROM (SELECT 1)",
    ).first()
    assert r2.e and r2.ne and r2.l and r2.ge and r2.ae == 20
    assert tuple(r2.tp) == (1, "x")
    # missing arguments now raise instead of emitting bad SQL
    # (arraySlice's 2-arg form is legal since r8 — 00759 — so probe a
    # genuinely short call)
    with pytest.raises(ChSqlError, match="argument"):
        rewrite("SELECT arraySlice(a) FROM t")


def test_array_join_clause(spark):
    spark.createDataFrame(
        [(1, [10, 20]), (2, []), (3, [30])], "id long, arr array<int>"
    ).createOrReplaceTempView("_aj_t")
    rows = ch_sql(
        spark,
        "SELECT id, x FROM _aj_t ARRAY JOIN arr AS x ORDER BY id, x",
    ).collect()
    assert [(r["id"], r["x"]) for r in rows] == [(1, 10), (1, 20), (3, 30)]
    # LEFT ARRAY JOIN keeps empty-array rows with NULL element
    rows = ch_sql(
        spark,
        "SELECT id, x FROM _aj_t LEFT ARRAY JOIN arr AS x ORDER BY id, x",
    ).collect()
    assert (2, None) in [(r["id"], r["x"]) for r in rows]
    # expression form with CH functions inside + WHERE after the clause
    rows = ch_sql(
        spark,
        "SELECT id, t FROM _aj_t ARRAY JOIN arrayMap(v -> v + 1, arr) AS t "
        "WHERE id = 1 ORDER BY t",
    ).collect()
    assert [r["t"] for r in rows] == [11, 21]
    # multi-array ARRAY JOIN zips POSITIONALLY (r8 — 00013: one row per
    # index, never a cross product); a no-alias EXPRESSION still raises; the
    # bare-column form SHADOWS the column (r7 — 00010_big_array_join)
    rows = ch_sql(
        spark,
        "SELECT id, a, n FROM _aj_t ARRAY JOIN arr AS a, "
        "arrayEnumerate(arr) AS n WHERE id = 1 ORDER BY n",
    ).collect()
    assert [(r["a"], r["n"]) for r in rows] == [(10, 1), (20, 2)]
    with pytest.raises(ChSqlError, match="alias"):
        rewrite("SELECT arr FROM t ARRAY JOIN arrayMap(v -> v, arr)")
    rows = ch_sql(
        spark, "SELECT id, arr FROM _aj_t ARRAY JOIN arr ORDER BY id, arr"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 10), (1, 20), (3, 30)]


def test_scalar_with_remote_and_uniq_aliases(spark):
    # CH scalar WITH: expr AS ident inlined at every later reference
    r = ch_sql(
        spark,
        "WITH 5 AS k, k * 2 AS k2 SELECT k + 1 AS a, k2 AS b FROM (SELECT 1)",
    ).first()
    assert (r.a, r.b) == (6, 10)
    # the reference-00036 shape: parenthesized lambda expression as a vector
    r2 = ch_sql(
        spark,
        "WITH (arrayMap(x -> x * 1.0, [1, 2, 3])) AS gv "
        "SELECT arraySum(gv) AS s, arrayElement(gv, 2) AS e FROM (SELECT 1)",
    ).first()
    assert (r2.s, r2.e) == (6.0, 2.0)
    # mixed: standard CTE kept, scalar inlined
    r3 = ch_sql(
        spark,
        "WITH t AS (SELECT 7 AS v), 100 AS base "
        "SELECT v + base AS tot FROM t",
    ).first()
    assert r3.tot == 107
    # pure standard CTEs untouched
    out = rewrite("WITH q AS (SELECT 1 AS x) SELECT x FROM q")
    assert out.strip().startswith("WITH q AS")
    # remote()/cluster() scatter table functions reduce to the table
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("_rm_t")
    assert ch_sql(
        spark, "SELECT count() AS n FROM remote('127.0.0.1', db, _rm_t)"
    ).first().n == 1
    assert ch_sql(
        spark, "SELECT count() AS n FROM cluster('c1', db._rm_t)"
    ).first().n == 1
    # uniq-family aliases
    r4 = ch_sql(
        spark,
        "SELECT countDistinct(number % 3) AS cd, uniqCombined64(number) AS u,"
        "       uniqExactIf(number, number > 5) AS ue FROM numbers(10)",
    ).first()
    assert (r4.cd, r4.ue) == (3, 4) and r4.u > 0


def test_url_family_and_array_extras(spark):
    u = "'https://www.example.co.uk/a/b?x=1&y=2#frag'"
    r = ch_sql(
        spark,
        f"SELECT protocol({u}) AS pr, domain({u}) AS dom,"
        f"       domainWithoutWWW({u}) AS dw, topLevelDomain({u}) AS tld,"
        f"       path({u}) AS p, queryString({u}) AS qs,"
        f"       fragment({u}) AS fr, extractURLParameter({u}, 'y') AS y,"
        f"       cutQueryString({u}) AS cq FROM (SELECT 1)",
    ).first()
    assert r.pr == "https" and r.dom == "www.example.co.uk"
    assert r.dw == "example.co.uk" and r.tld == "uk"
    assert r.p == "/a/b" and r.qs == "x=1&y=2" and r.fr == "frag" and r.y == "2"
    assert r.cq == "https://www.example.co.uk/a/b"

    r2 = ch_sql(
        spark,
        "SELECT arrayCumSum([1.0, 2.0, 3.0]) AS cs,"
        "       arrayDifference([10, 13, 11]) AS df,"
        "       arrayCount(x -> x > 1, [1, 2, 3]) AS ac,"
        "       bitCount(7) AS bc, exp2(10) AS e2,"
        "       multiSearchAny('hello world', ['xyz', 'wor']) AS ms,"
        "       tupleElement(tuple(7, 'z'), 2) AS te,"
        "       splitByRegexp('[0-9]+', 'a1b22c') AS sp"
        "  FROM (SELECT 1)",
    ).first()
    assert r2.cs == [1.0, 3.0, 6.0]
    assert r2.df == [0.0, 3.0, -2.0]
    assert r2.ac == 2 and r2.bc == 3 and r2.e2 == 1024.0
    assert r2.ms is True and r2.te == "z" and r2.sp == ["a", "b", "c"]

    r3 = ch_sql(
        spark,
        "SELECT groupBitAnd(number) AS ba, groupBitOr(number) AS bo,"
        "       sumCount(number) AS sc FROM numbers(4)",
    ).first()
    assert (r3.ba, r3.bo) == (0, 3)
    assert (r3.sc["sum"], r3.sc["count"]) == (6, 4)


def test_create_sql_function(spark):
    from myscaledb_spark.sql_dialect import (
        USER_FUNCTIONS,
        create_sql_function,
        drop_sql_function,
    )

    create_sql_function("CREATE FUNCTION linear AS (x, k, b) -> k*x + b")
    create_sql_function("CREATE FUNCTION sq AS x -> x * x")
    # user functions compose with each other and with CH builtins
    create_sql_function(
        "CREATE FUNCTION normsq AS (a, b) -> plus(sq(a), sq(b))"
    )
    try:
        r = ch_sql(
            spark,
            "SELECT linear(number, 3, 1) AS l, sq(number) AS s,"
            "       normsq(number, 2) AS n FROM numbers(4) ORDER BY number",
        ).collect()
        assert [tuple(x) for x in r] == [
            (1, 0, 4), (4, 1, 5), (7, 4, 8), (10, 9, 13),
        ]
        # substitution is hygienic: params replace whole words only
        create_sql_function("CREATE FUNCTION addx AS x -> x + xx")
        out = rewrite("SELECT addx(5) FROM t")
        assert "(5) + xx" in out  # param x replaced, xx untouched
        with pytest.raises(ChSqlError, match="argument"):
            rewrite("SELECT sq(1, 2) FROM t")
        with pytest.raises(ChSqlError, match="shadow"):
            create_sql_function("CREATE FUNCTION toYear AS x -> x")
    finally:
        for f in ("linear", "sq", "normsq", "addx"):
            drop_sql_function(f)
        assert "sq" not in USER_FUNCTIONS


def test_create_function_via_script(spark):
    from myscaledb_spark.plans.table_ddl import ch_script
    from myscaledb_spark.sql_dialect import drop_sql_function

    try:
        out = ch_script(
            spark,
            """
            CREATE FUNCTION taxed AS (p, r) -> p * (1 + r);
            SELECT round(taxed(100.0, 0.2), 2) AS t FROM (SELECT 1)
            """,
        )
        assert out.first().t == 120.0
    finally:
        drop_sql_function("taxed")


def test_div_zero_keywords_not_call_heads():
    """'(a)/(b)' directly after a clause keyword must wrap only the paren
    group, never absorb the keyword as a function name."""
    from myscaledb_spark.sql_dialect import _rewrite_div_zero as rw

    for sql, keyword in [
        ("SELECT (a+b)/(c-d) FROM t", "SELECT"),
        ("SELECT x FROM t WHERE (a)/(b) > 1", "WHERE"),
        ("SELECT x FROM t HAVING (s)/(c) < 2", "HAVING"),
        ("SELECT a FROM t1 JOIN t2 ON (t1.a)/(t2.b) > 1", "ON"),
        ("SELECT DISTINCT (a)/(b) FROM t", "DISTINCT"),
    ]:
        out = rw(sql)
        assert "CASE WHEN" in out, sql
        # the keyword survives as a clause word followed by the wrap —
        # never glued into a call like `SELECT(...)`-as-function or moved
        assert f"{keyword} (CASE" in out, f"{sql!r} -> {out!r}"

    # genuine call heads (including word-shaped aggregate names) ARE
    # absorbed so the aggregate is not pushed inside the per-row CASE
    out = rw("SELECT any(a)/(b) FROM t")
    assert "(any(a)) / ((b))" in out and "any((CASE" not in out
    out = rw("SELECT sum(a)/count() FROM t")
    assert "(sum(a)) / (count())" in out


def test_div_zero_keyword_forms_execute(spark):
    """End-to-end through the dialect: the rewritten forms must parse and
    produce ClickHouse IEEE semantics (x/0 = Inf, 0/0 = NaN)."""
    from myscaledb_spark.sql_dialect import ch_sql

    r = ch_sql(
        spark,
        "SELECT (number + 1)/(number - number) AS v FROM numbers(1)",
    ).first()
    assert math.isinf(r.v) and r.v > 0
    # WHERE (a)/(b): the paren group right after WHERE must stay a plain
    # predicate operand (number=0 row excluded: 0/0=NaN and Spark orders
    # NaN greatest, a documented comparison deviation from IEEE)
    rows = ch_sql(
        spark,
        "SELECT number FROM numbers(5) "
        "WHERE (number + number)/(number) > 1 AND number != 0",
    ).collect()
    assert [r.number for r in rows] == [1, 2, 3, 4]


def test_data_type_families_proper_names_only(spark):
    from myscaledb_spark.introspection import system_data_type_families

    names = {r.name for r in system_data_type_families(spark).collect()}
    assert "UInt8" in names and "DateTime64" in names
    assert "Uint8" not in names and "Datetime64" not in names
    assert "Uint64" not in names


def test_interpolate_preserves_column_order(spark):
    out = ch_sql(
        spark,
        """
        SELECT o_orderkey AS d, round(sum(o_totalprice), 2) AS rev,
               count(*) AS n
        FROM orders WHERE o_orderkey BETWEEN 1 AND 29 GROUP BY o_orderkey
        ORDER BY d WITH FILL FROM 1 TO 30 INTERPOLATE (rev)
        """,
    )
    assert out.columns == ["d", "rev", "n"]  # rev mid-list, not appended
    rows = out.collect()
    assert len(rows) == 29
    # fill rows carry the closest preceding original rev
    by_d = {r.d: r for r in rows}
    carried = None
    for d in range(1, 30):
        r = by_d[d]
        if r.n is not None:
            carried = r.rev
        else:
            assert r.rev == carried


def test_interpolate_computed_expr_compounds(spark):
    out = ch_sql(
        spark,
        """
        SELECT o_orderkey AS d, round(sum(o_totalprice), 2) AS rev,
               count(*) AS n
        FROM orders WHERE o_orderkey < 8 GROUP BY o_orderkey
        ORDER BY d WITH FILL FROM 1 TO 12 INTERPOLATE (rev AS rev * 2)
        """,
    ).collect()
    by_d = {r.d: r for r in out}
    carried, k = None, 0
    for d in sorted(by_d):
        r = by_d[d]
        if r.n is not None:
            carried, k = r.rev, 0
        else:
            k += 1
            assert r.rev == carried * (2 ** k)  # exact binary scaling


def test_interpolate_other_column_reads_previous_output_row(spark):
    """r7 pinned this shape as a refusal; r8 implements the reference's
    actual semantics (02233_interpolate_1: `inter AS inter2 + inter`):
    the referenced column reads the PREVIOUS OUTPUT row — the anchor's
    value on a gap's first fill, the column default (n = 0) on later
    fills."""
    rows = {
        r["d"]: (r["n"], r["rev"])
        for r in ch_sql(
            spark,
            """
            SELECT o_orderkey AS d, count(*) AS n, sum(o_totalprice) AS rev
            FROM orders WHERE o_orderkey IN (1, 6) GROUP BY o_orderkey
            ORDER BY d WITH FILL FROM 1 TO 8 INTERPOLATE (rev AS rev + n)
            """,
        ).collect()
    }
    n1, rev1 = rows[1]
    assert rows[2] == (0, rev1 + n1)          # first fill: anchor's n
    assert rows[3] == (0, rev1 + n1)          # later fills add default 0
    assert rows[5] == (0, rev1 + n1)
    n6, rev6 = rows[6]
    assert n6 >= 1
    assert rows[7] == (0, rev6 + n6)


def test_groups_frame_rejects_join(spark):
    with pytest.raises(ChSqlError, match="single-table"):
        ch_sql(
            spark,
            """
            SELECT o_orderkey,
                   sum(o_totalprice) OVER (ORDER BY o_orderdate
                     GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s
            FROM orders JOIN customer ON o_custkey = c_custkey
            """,
        )


def test_groups_frame_multiple_window_specs(spark, duck):
    """r7: GROUPS windows with DIFFERENT (PARTITION BY, ORDER BY) specs in
    one query each get their own dense_rank — checked against DuckDB's
    longhand emulation of both frames."""
    got = ch_sql(
        spark,
        """
        SELECT o_orderkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_orderdate
                 GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS s1,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_orderstatus ORDER BY o_custkey
                 GROUPS BETWEEN CURRENT ROW AND 2 FOLLOWING), 2) AS s2
        FROM orders WHERE o_custkey < 60
        """,
    ).collect()
    want = duck.sql(
        """
        WITH r AS (
          SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus,
                 DENSE_RANK() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_orderdate) AS g1,
                 DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_custkey) AS g2
          FROM orders WHERE o_custkey < 60
        )
        SELECT o_orderkey,
               ROUND(SUM(o_totalprice) OVER (
                 PARTITION BY o_orderpriority ORDER BY g1
                 RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS s1,
               ROUND(SUM(o_totalprice) OVER (
                 PARTITION BY o_orderstatus ORDER BY g2
                 RANGE BETWEEN CURRENT ROW AND 2 FOLLOWING), 2) AS s2
        FROM r
        """
    ).fetchall()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


# -- SELECT surface: LIMIT BY spellings, WITH TIES, WITH FILL, replaceRegexpOne
# (00939_limit_by_offset, 00583_limit_by_expressions, 00743_limit_by_not_found_column)


def test_limit_by_offset_comma_form(spark):
    spark.sql(
        "SELECT * FROM VALUES (1,100),(1,110),(1,120),(1,130),"
        "(2,200),(2,210),(2,220),(3,300) AS t(id, val)"
    ).createOrReplaceTempView("_lbo")
    got = [
        tuple(r)
        for r in ch_sql(
            spark, "SELECT id, val FROM _lbo ORDER BY id, val LIMIT 2, 2 BY id"
        ).collect()
    ]
    # offset-first: skip 2, take 2 per id group (00939 semantics)
    assert got == [(1, 120), (1, 130), (2, 220)]


def test_limit_by_without_order_by_keeps_input_order(spark):
    got = [
        r[0]
        for r in ch_sql(
            spark, "SELECT number FROM numbers(10) LIMIT 2 BY number % 2"
        ).collect()
    ]
    assert got == [0, 1, 2, 3]


def test_limit_by_nested_in_subquery(spark):
    spark.sql(
        "SELECT * FROM VALUES (1,'a'),(1,'b'),(2,'c') AS t(k, s)"
    ).createOrReplaceTempView("_lbn")
    got = ch_sql(
        spark,
        "SELECT count(*) AS total FROM "
        "(SELECT k, s FROM _lbn ORDER BY k, s LIMIT 1 BY k)",
    ).collect()
    assert got == [(2,)]


def test_limit_with_ties(spark):
    spark.sql(
        "SELECT * FROM VALUES (1),(4),(4),(7) AS t(x)"
    ).createOrReplaceTempView("_lwt")
    got = [
        r[0]
        for r in ch_sql(
            spark, "SELECT x FROM _lwt ORDER BY x LIMIT 2 WITH TIES"
        ).collect()
    ]
    # the 2nd row's key (4) is tied with the 3rd — ties survive
    assert got == [1, 4, 4]
    with pytest.raises(ChSqlError, match="ORDER BY"):
        rewrite("SELECT x FROM t LIMIT 2 WITH TIES")


def test_replace_one_and_regexp_one(spark):
    r = ch_sql(
        spark,
        "SELECT replaceRegexpOne('t3_ab t5_cd', 't[0-9]_', '') AS a, "
        "replaceOne('aXbXc', 'X', '-') AS b, "
        "replaceRegexpOne('hello', '(l+)', '<\\\\1>') AS c, "
        "replaceRegexpOne('none', 'zz', 'y') AS d",
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d) == ("ab t5_cd", "a-bXc", "he<ll>o", "none")


def test_with_fill_float_grid_and_defaults(spark):
    # Spark's sequence() rejects fractional types — the schema-aware grid
    # builds from + i*step instead (01614's Float32 fill), and fill rows
    # take CH column defaults ('' for String), not NULLs
    spark.sql(
        "SELECT * FROM VALUES (CAST(1.0 AS FLOAT),'o'),"
        "(CAST(4.0 AS FLOAT),'o') AS t(n, source)"
    ).createOrReplaceTempView("_wff")
    got = [
        tuple(r)
        for r in ch_sql(
            spark, "SELECT n, source FROM _wff ORDER BY n WITH FILL STEP 1"
        ).collect()
    ]
    assert got == [(1.0, "o"), (2.0, ""), (3.0, ""), (4.0, "o")]


def test_with_fill_timestamp_numeric_step(spark):
    # DateTime fill with STEP in seconds (01145: STEP 1800); explicit TO
    # is exclusive
    got = [
        r[0].isoformat()
        for r in ch_sql(
            spark,
            "WITH toDateTime('2020-06-16 03:00:00') AS dt "
            "SELECT dt ORDER BY dt ASC WITH FILL "
            "FROM toDateTime('2020-06-16 02:00:00') "
            "TO toDateTime('2020-06-16 04:00:00') STEP 1800",
        ).collect()
    ]
    assert got == [
        "2020-06-16T02:00:00",
        "2020-06-16T02:30:00",
        "2020-06-16T03:00:00",
        "2020-06-16T03:30:00",
    ]


def test_scalar_with_alias_names_output_column(spark):
    out = ch_sql(spark, "WITH 40 + 2 AS answer SELECT answer")
    assert out.columns == ["answer"]
    assert out.collect() == [(42,)]


def test_with_fill_date_grid(spark):
    spark.sql(
        "SELECT * FROM VALUES (DATE'2019-05-01', 1), (DATE'2019-05-04', 2) "
        "AS t(d, v)"
    ).createOrReplaceTempView("_wfd")
    got = [
        (r.d.isoformat(), r.v)
        for r in ch_sql(
            spark, "SELECT d, v FROM _wfd ORDER BY d WITH FILL"
        ).collect()
    ]
    # Int default 0 on fill rows, 1-day step on a Date column
    assert got == [
        ("2019-05-01", 1),
        ("2019-05-02", 0),
        ("2019-05-03", 0),
        ("2019-05-04", 2),
    ]


def test_empty_array_and_to_nullable(spark):
    r = ch_sql(
        spark,
        "SELECT emptyArrayString() AS a, emptyArrayUInt32() AS b, "
        "toNullable(7) AS c",
    ).collect()[0]
    assert (r.a, r.b, r.c) == ([], [], 7)


def test_lag_lead_in_frame(spark):
    spark.sql("SELECT * FROM VALUES (1),(2),(3) AS t(x)").createOrReplaceTempView("_lif")
    got = [
        tuple(r)
        for r in ch_sql(
            spark,
            "SELECT x, lagInFrame(x) OVER (ORDER BY x) AS p, "
            "leadInFrame(x) OVER (ORDER BY x) AS n FROM _lif ORDER BY x",
        ).collect()
    ]
    assert got == [(1, None, 2), (2, 1, 3), (3, 2, None)]
