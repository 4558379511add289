"""ClickHouse-compat function layer: every family exercised on real tables,
values pinned against plain-SQL equivalents or python computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myscaledb_spark.functions import ch_compat as ch
from myscaledb_spark.sql_dialect import ch_sql


def test_math_family(spark):
    r = (
        spark.table("lineitem")
        .limit(100)
        .select(
            ch.plus("l_quantity", F.lit(1)).alias("p"),
            ch.abs(ch.negate("l_quantity")).alias("a"),
            ch.roundBankers(F.lit(2.5)).alias("rb"),
            ch.intDiv(F.lit(7), F.lit(2)).alias("idiv"),
            ch.bitAnd(F.lit(12), F.lit(10)).alias("band"),
            ch.bitCount(F.lit(255)).alias("bc"),
            ch.sign(F.lit(-3.5)).alias("sg"),
        )
        .first()
    )
    assert r.rb == 2.0 and r.idiv == 3 and r.band == 8 and r.bc == 8 and r.sg == -1


def test_conditional_family(spark):
    r = (
        spark.range(1)
        .select(
            ch.if_(F.lit(True), F.lit(1), F.lit(2)).alias("i"),
            ch.multiIf(F.lit(False), 1, F.lit(True), 2, 3).alias("m"),
            ch.ifNull(F.lit(None).cast("int"), F.lit(7)).alias("n"),
            ch.nullIf(F.lit(5), F.lit(5)).alias("z"),
            ch.greatest(F.lit(1), F.lit(9), F.lit(4)).alias("g"),
        )
        .first()
    )
    assert (r.i, r.m, r.n, r.z, r.g) == (1, 2, 7, None, 9)


def test_string_family(spark):
    r = (
        spark.range(1)
        .select(
            ch.lower(F.lit("AbC")).alias("lo"),
            ch.substring(F.lit("hello"), 2, 3).alias("sub"),
            ch.replaceOne(F.lit("aXbXc"), "X", "-").alias("r1"),
            ch.replaceAll(F.lit("aXbXc"), "X", "-").alias("ra"),
            ch.position(F.lit("hello"), "ll").alias("pos"),
            ch.hasToken(F.lit("the quick fox"), "quick").alias("ht"),
            ch.countSubstrings(F.lit("abcabcab"), "ab").alias("cs"),
            ch.leftPad(F.lit("7"), 3, "0").alias("lp"),
            ch.splitByChar(",", F.lit("a,b,c")).alias("sp"),
            ch.startsWith(F.lit("foobar"), "foo").alias("sw"),
            ch.format("{}-{}", F.lit("a"), F.lit("b")).alias("fmt"),
            ch.trimBoth(F.lit("  x  ")).alias("tr"),
        )
        .first()
    )
    assert r.lo == "abc" and r.sub == "ell" and r.r1 == "a-bXc" and r.ra == "a-b-c"
    assert r.pos == 3 and r.ht and r.cs == 3 and r.lp == "007"
    assert r.sp == ["a", "b", "c"] and r.sw and r.fmt == "a-b" and r.tr == "x"


def test_datetime_family(spark, duck):
    got = (
        spark.table("orders")
        .filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            ch.toYYYYMM("o_orderdate").alias("ym"),
            ch.toStartOfMonth("o_orderdate").alias("som"),
            ch.toDayOfWeek("o_orderdate").alias("dow"),
            ch.dateDiff("day", F.lit("1995-01-01").cast("timestamp"), F.col("o_orderdate")).alias("dd"),
            ch.formatDateTime("o_orderdate", "%Y/%m/%d").alias("fmt"),
        )
        .collect()
    )
    want = {
        r[0]: r[1:]
        for r in duck.sql(
            """
        SELECT o_orderkey,
               (EXTRACT(year FROM o_orderdate)*100 + EXTRACT(month FROM o_orderdate))::INT,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP),
               isodow(o_orderdate)::INT,
               date_diff('day', TIMESTAMP '1995-01-01', o_orderdate),
               strftime(o_orderdate, '%Y/%m/%d')
        FROM orders WHERE o_orderkey < 100
        """
        ).fetchall()
    }
    for r in got:
        assert (r.ym, r.som, r.dow, r.dd, r.fmt) == want[r.o_orderkey], r.o_orderkey


def test_array_family(spark):
    r = (
        spark.range(1)
        .select(
            ch.arrayMap(lambda x: x * 2, F.array(F.lit(1), F.lit(2))).alias("m"),
            ch.arrayFilter(lambda x: x > 1, F.array(F.lit(1), F.lit(2))).alias("f"),
            ch.arraySum(F.array(F.lit(1.0), F.lit(2.5))).alias("s"),
            ch.arrayCumSum(F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0))).alias("cs"),
            ch.has(F.array(F.lit(1), F.lit(2)), 2).alias("h"),
            ch.hasAll(F.array(F.lit(1), F.lit(2), F.lit(3)), F.array(F.lit(1), F.lit(3))).alias("ha"),
            ch.indexOf(F.array(F.lit("a"), F.lit("b")), "b").alias("idx"),
            ch.arrayDifference(F.array(F.lit(1.0), F.lit(4.0), F.lit(9.0))).alias("d"),
            ch.arrayStringConcat(F.array(F.lit("x"), F.lit("y")), "-").alias("j"),
            ch.arrayDistinct(F.array(F.lit(1), F.lit(1), F.lit(2))).alias("dd"),
        )
        .first()
    )
    assert r.m == [2, 4] and r.f == [2] and r.s == 3.5 and r.cs == [1.0, 3.0, 6.0]
    assert r.h and r.ha and r.idx == 2 and r.d == [0.0, 3.0, 5.0]
    assert r.j == "x-y" and r.dd == [1, 2]


def test_json_hash_family(spark):
    r = (
        spark.table("events")
        .limit(1)
        .select(
            ch.JSONExtractInt("props", "k").alias("k"),
            ch.JSONHas("props", "k").alias("hk"),
            ch.JSONHas("props", "zz").alias("hz"),
            ch.MD5(F.lit("hello")).alias("md5"),
            ch.hex_(F.lit(255)).alias("hx"),
            ch.base64Encode(F.lit("hi")).alias("b64"),
        )
        .first()
    )
    assert r.k is not None and r.hk and not r.hz
    assert r.md5 == "5d41402abc4b2a76b9719d911017c592"
    assert r.hx == "FF" and r.b64 == "aGk="


def test_aggregate_family(spark, duck):
    got = (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            ch.count().alias("n"),
            ch.countIf(F.col("l_quantity") > 25).alias("nif"),
            ch.uniqExact("l_suppkey").alias("ue"),
            ch.argMax("l_orderkey", "l_quantity").alias("am"),
            ch.groupUniqArray("l_linestatus").alias("gua"),
            F.round(ch.avgWeighted("l_extendedprice", "l_quantity"), 4).alias("aw"),
            F.round(ch.quantileExact("l_quantity", 0.5), 4).alias("med"),
        )
        .collect()
    )
    want = {
        r[0]: r[1:]
        for r in duck.sql(
            """
        SELECT l_returnflag, COUNT(*), SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END),
               COUNT(DISTINCT l_suppkey),
               ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4),
               ROUND(quantile_cont(l_quantity, 0.5), 4)
        FROM lineitem GROUP BY l_returnflag
        """
        ).fetchall()
    }
    for r in got:
        w = want[r.l_returnflag]
        assert (r.n, r.nif, r.ue) == (w[0], w[1], w[2])
        assert r.aw == pytest.approx(w[3], rel=1e-9)
        assert r.med == pytest.approx(w[4], rel=1e-9)
        assert set(r.gua) <= {"O", "F"}


def test_conversion_family(spark):
    r = (
        spark.range(1)
        .select(
            ch.toInt64(F.lit("42")).alias("i"),
            ch.toFloat64(F.lit("1.5")).alias("f"),
            ch.toString(F.lit(7)).alias("s"),
            ch.accurateCastOrNull(F.lit("xx"), "Int64").alias("bad"),
            ch.toDecimal64(F.lit("1.239"), 2).alias("d"),
        )
        .first()
    )
    assert r.i == 42 and r.f == 1.5 and r.s == "7" and r.bad is None
    assert str(r.d) == "1.24"


def test_ip_family(spark):
    r = (
        spark.range(1)
        .select(
            ch.IPv4NumToString(F.lit(3232235777)).alias("s"),  # 192.168.1.1
            ch.IPv4StringToNum(F.lit("10.0.0.255")).alias("n"),
            ch.isIPv4AddressInRange(F.lit("192.168.1.77"), "192.168.1.0/24").alias("in1"),
            ch.isIPv4AddressInRange(F.lit("192.168.2.77"), "192.168.1.0/24").alias("in2"),
            ch.IPv4CIDRToRange(F.lit(3232235777), 24).alias("rng"),
        )
        .first()
    )
    assert r.s == "192.168.1.1"
    assert r.n == 10 * 16777216 + 255
    assert r.in1 and not r.in2
    assert r.rng.lo == 3232235776 and r.rng.hi == 3232236031


def test_window_helpers_and_misc(spark):
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = (
        spark.table("orders")
        .filter(F.col("o_custkey") == 1)
        .select(
            "o_orderkey",
            ch.runningDifference("o_totalprice", w).alias("rd"),
            ch.neighbor("o_orderkey", 1, w).alias("nxt"),
            ch.neighbor("o_orderkey", -1, w).alias("prv"),
        )
        .collect()
    )
    assert r[0].rd is None and r[0].prv is None
    if len(r) > 1:
        assert r[0].nxt == r[1].o_orderkey and r[1].prv == r[0].o_orderkey

    m = (
        spark.range(1)
        .select(
            ch.formatReadableSize(F.lit(512)).alias("b"),
            ch.formatReadableSize(F.lit(2048)).alias("k"),
            ch.formatReadableSize(F.lit(3 * 1024**2)).alias("mb"),
            ch.transform_(F.lit("a"), ["a", "b"], [1, 2], 0).alias("t1"),
            ch.transform_(F.lit("z"), ["a", "b"], [1, 2], 0).alias("t2"),
        )
        .first()
    )
    assert m.b == "512.00 B" and m.k == "2.00 KiB" and m.mb == "3.00 MiB"
    assert m.t1 == 1 and m.t2 == 0


def test_prewhere_rewrite(spark):
    from myscaledb_spark.sql_dialect import rewrite

    # PREWHERE ≡ WHERE; the body gains the CH UInt8→boolean cast (r8)
    assert rewrite("SELECT x FROM t PREWHERE y > 1") == (
        "SELECT x FROM t WHERE cast((y > 1) as boolean) "
    )


def test_map_and_ngram_family(spark):
    r = (
        spark.range(1)
        .select(
            ch.mapFilter(lambda k, v: v > 1, F.create_map(F.lit("a"), F.lit(1), F.lit("b"), F.lit(2))).alias("mf"),
            ch.mapApply(lambda v: v * 10, F.create_map(F.lit("a"), F.lit(1))).alias("ma"),
            ch.mapAdd(
                F.create_map(F.lit("a"), F.lit(1), F.lit("b"), F.lit(2)),
                F.create_map(F.lit("b"), F.lit(5), F.lit("c"), F.lit(7)),
            ).alias("madd"),
            ch.ngrams(F.lit("one two three four"), 2).alias("ng"),
            ch.splitByRegexp("[0-9]+", F.lit("a1b22c")).alias("sr"),
        )
        .first()
    )
    assert r.mf == {"b": 2} and r.ma == {"a": 10}
    assert r.madd == {"a": 1, "b": 7, "c": 7}
    assert r.ng == ["one two", "two three", "three four"]
    assert r.sr == ["a", "b", "c"]


def test_explain_estimate(spark):
    from myscaledb_spark.introspection import explain_estimate

    est = explain_estimate(spark.table("lineitem"))
    assert est["size_in_bytes"] > 0


def test_geo_functions(spark):
    """Haversine family vs python-math oracle; pointInEllipses membership."""
    import math
    from pyspark.sql import functions as F
    from myscaledb_spark.functions.ch_compat import (
        greatCircleAngle,
        greatCircleDistance,
        pointInEllipses,
    )

    cases = [(2.35, 48.85, -0.13, 51.51), (0.0, 0.0, 180.0, 0.0), (10.0, 10.0, 10.0, 10.0)]
    df = spark.createDataFrame(cases, "lon1 double, lat1 double, lon2 double, lat2 double")
    rows = df.select(
        greatCircleDistance("lon1", "lat1", "lon2", "lat2").alias("d"),
        greatCircleAngle("lon1", "lat1", "lon2", "lat2").alias("ang"),
    ).collect()
    for (lon1, lat1, lon2, lat2), r in zip(cases, rows):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        a = (math.sin((p2 - p1) / 2) ** 2
             + math.cos(p1) * math.cos(p2) * math.sin((math.radians(lon2) - math.radians(lon1)) / 2) ** 2)
        want = 2 * 6371000.0 * math.asin(math.sqrt(a))
        assert abs(r.d - want) < 1e-6 * max(want, 1.0)
        assert abs(r.ang - math.degrees(2 * math.asin(math.sqrt(a)))) < 1e-9

    pe = spark.createDataFrame([(0.5, 0.5), (3.0, 0.0), (10.0, 10.0)], "x double, y double")
    got = [r.inside for r in pe.select(
        pointInEllipses("x", "y", (0.0, 0.0, 1.0, 1.0), (3.0, 0.0, 0.5, 2.0)).alias("inside")
    ).collect()]
    assert got == [True, True, False]


def test_ngram_search_and_distance_semantics(spark):
    """ngramSearch/ngramDistance formulas (FunctionsStringSimilarity.cpp):
    identical strings -> sim 1 / dist 0; disjoint -> sim 0 / dist 1;
    short strings fall back to the whole-string gram."""
    from myscaledb_spark.functions.ch_compat import ngramDistance, ngramSearch

    df = spark.createDataFrame(
        [("abcdef",), ("zzzzzz",), ("ab",)], "s string"
    )
    rows = df.select(
        "s",
        ngramSearch("s", "abcdef").alias("sim"),
        ngramDistance("s", "abcdef").alias("dist"),
    ).collect()
    by_s = {r.s: r for r in rows}
    assert by_s["abcdef"].sim == 1.0 and by_s["abcdef"].dist == 0.0
    assert by_s["zzzzzz"].sim == 0.0 and by_s["zzzzzz"].dist == 1.0
    # "ab" -> single gram "ab", not in the needle's 4-gram set
    assert by_s["ab"].sim == 0.0 and 0.0 < by_s["ab"].dist <= 1.0


def test_ngram_null_haystack_is_null(spark):
    from myscaledb_spark.functions.ch_compat import ngramDistance, ngramSearch

    df = spark.createDataFrame([(None,)], "s string")
    [r] = df.select(
        ngramSearch("s", "abcdef").alias("sim"),
        ngramDistance("s", "abcdef").alias("dist"),
    ).collect()
    assert r.sim is None and r.dist is None


def test_unbin_pads_to_byte_boundary(spark):
    # 3-bit input → one byte 0x05 (reference unbin('101') = '\x05')
    row = ch_sql(spark, "SELECT hex(unbin('101')) AS h").first()
    assert row.h == "05"
    # 9 bits → two bytes, high bit in the first byte (reference pads left)
    row = ch_sql(spark, "SELECT hex(unbin('100000001')) AS h").first()
    assert row.h == "0101"
    # exact byte multiple unchanged
    row = ch_sql(spark, "SELECT hex(unbin('0000010100000101')) AS h").first()
    assert row.h == "0505"


def test_unbin_refuses_over_64_bits(spark):
    with pytest.raises(Exception, match="64 bits"):
        ch_sql(spark, f"SELECT unbin('{'1' * 65}') AS b").collect()
