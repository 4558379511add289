"""Edge paths of the relational helpers: LIMIT BY with OFFSET, ASOF left
join, with_fill FROM/TO bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark.operators.relational import asof_join, limit_by, with_fill


def test_limit_by_with_offset(spark, duck):
    out = limit_by(
        spark.table("orders"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        n=2,
        offset=1,
    ).select("o_custkey", "o_orderkey")
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        duck.sql(
            """
        SELECT o_custkey, o_orderkey FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders
        ) WHERE rn > 1 AND rn <= 3
        """
        ).fetchall()
    )
    assert got == want


def test_asof_left_join_keeps_unmatched(spark):
    ev = spark.table("events").filter(F.col("user_id") < 5).select(
        "event_id", "user_id", "ts"
    )
    o = spark.table("orders").select("o_custkey", "o_orderdate", "o_orderkey")
    inner = asof_join(ev, o, "ts", "o_orderdate", ["user_id"], ["o_custkey"], how="inner")
    left = asof_join(ev, o, "ts", "o_orderdate", ["user_id"], ["o_custkey"], how="left")
    assert left.count() == ev.count()
    assert inner.count() <= left.count()
    # unmatched rows have null right columns
    unmatched = left.filter(F.col("o_orderkey").isNull()).count()
    assert unmatched == left.count() - inner.count()


def test_with_fill_from_to(spark):
    daily = (
        spark.table("events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    import datetime

    filled = with_fill(
        daily,
        "day",
        step=datetime.timedelta(days=1),
        from_value=datetime.datetime(2023, 12, 29),
        to_value=datetime.datetime(2024, 2, 2),
    )
    rows = filled.collect()
    days = [r.day for r in rows]
    assert days[0] == datetime.datetime(2023, 12, 29)
    assert days[-1] == datetime.datetime(2024, 2, 2)
    # grid is dense
    assert len(days) == (days[-1] - days[0]).days + 1


def test_window_groups_frame(spark):
    """GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW vs a hand-computed oracle:
    peer rows (equal order key) aggregate as whole groups."""
    from myscaledb_spark.operators.relational import window_groups_frame

    rows = [
        ("a", 1, 10.0), ("a", 1, 20.0), ("a", 2, 5.0), ("a", 4, 1.0),
        ("b", 7, 100.0),
    ]
    df = spark.createDataFrame(rows, "g string, k int, v double")
    out = window_groups_frame(
        df, F.sum("v"), order_by="k", partition_by=["g"],
        preceding=1, following=0, out="s",
    ).collect()
    got = {(r.g, r.k, r.v): r.s for r in out}
    # group a: k=1 peers {10,20}; k=2 -> prev group + self = 35; k=4 -> k=2
    # is the previous PEER GROUP (gap in k doesn't matter) = 6
    assert got[("a", 1, 10.0)] == 30.0
    assert got[("a", 1, 20.0)] == 30.0
    assert got[("a", 2, 5.0)] == 35.0
    assert got[("a", 4, 1.0)] == 6.0
    assert got[("b", 7, 100.0)] == 100.0


def test_with_fill_api_computed_interpolate(spark):
    from myscaledb_spark.operators.relational import with_fill

    df = spark.createDataFrame(
        [(1, 10.0), (5, 80.0)], "x int, v double"
    )
    rows = {
        r.x: r.v
        for r in with_fill(
            df, "x", 1, interpolate={"v": lambda c: c * 2}
        ).collect()
    }
    assert rows == {1: 10.0, 2: 20.0, 3: 40.0, 4: 80.0, 5: 80.0}
