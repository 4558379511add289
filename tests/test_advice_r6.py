"""Regression tests for the round-5 ADVICE findings.

- unbin pad-to-byte semantics (FunctionsCoding.h) and >64-bit refusal
- uniq_state all-NULL key groups surface with a zero state
- system.data_type_families has no fabricated miscased names
"""
from __future__ import annotations

import pytest

from myscaledb_spark.sql_dialect import ch_sql


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


def test_data_type_families_proper_names_only(spark):
    from myscaledb_spark.introspection import system_data_type_families

    names = {r.name for r in system_data_type_families(spark).collect()}
    assert "UInt8" in names and "DateTime64" in names
    assert "Uint8" not in names and "Datetime64" not in names
    assert "Uint64" not in names
