"""Catalog guards.  Timestamp normalization (r3 VERDICT ask #8): no
TIMESTAMP_NTZ may survive load_table — top-level OR nested — so a future
testdata regeneration can't resurrect the r2 streaming timestamp bug class
(naive parquet timestamps silently diverging from the DuckDB oracle).
fan_out: byte-size parsing of the stats it reads, and the fallback when a
frame has no size estimate."""

from __future__ import annotations

from pyspark.sql.types import ArrayType, DataType, MapType, StructType, TimestampNTZType

from myscaledb_spark.catalog import TABLES, _parse_bytes, load_table
from tests.conftest import SF_DIR


def _has_ntz(dt: DataType) -> bool:
    if isinstance(dt, TimestampNTZType):
        return True
    if isinstance(dt, ArrayType):
        return _has_ntz(dt.elementType)
    if isinstance(dt, MapType):
        return _has_ntz(dt.keyType) or _has_ntz(dt.valueType)
    if isinstance(dt, StructType):
        return any(_has_ntz(f.dataType) for f in dt.fields)
    return False


def test_no_ntz_survives_load(spark):
    for name in TABLES:
        df = load_table(spark, SF_DIR, name)
        for f in df.schema.fields:
            assert not _has_ntz(f.dataType), f"{name}.{f.name} kept TIMESTAMP_NTZ"


def test_nested_ntz_normalized(spark, tmp_path):
    """Synthesized worst case: NTZ at top level, inside a struct, inside an
    array of structs, and as a map value — all must come back TIMESTAMP."""
    from pyspark.sql import functions as F

    src = spark.sql(
        """
        SELECT TIMESTAMP_NTZ '2024-05-06 07:08:09' AS t,
               named_struct('inner', TIMESTAMP_NTZ '2024-05-06 07:08:09') AS s,
               array(named_struct('x', TIMESTAMP_NTZ '2024-01-01 00:00:00')) AS a,
               map('k', TIMESTAMP_NTZ '2024-02-02 00:00:00') AS m
        """
    )
    p = str(tmp_path / "ntz.parquet")
    src.write.mode("overwrite").parquet(p)
    df = load_table(spark, str(tmp_path), "ntz")
    for f in df.schema.fields:
        assert not _has_ntz(f.dataType), f.name
    # values survive the cast (session tz is UTC, so naive == UTC instant)
    row = df.select(F.unix_micros("t").alias("u")).first()
    assert row["u"] == 1714979289000000


def test_parse_bytes_suffixes():
    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128MB") == 128 * 1024 * 1024
    assert _parse_bytes("128m") == 128 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes(" 512kb ") == 512 * 1024
    assert _parse_bytes("64b") == 64


def test_fan_out_in_memory_frame_fires(spark):
    """createDataFrame frames report defaultSizeInBytes (Long.MaxValue)
    from stats — fan_out must treat that as unknown and fall back to the
    exact partition probe, so a single-partition in-memory frame still
    fans out."""
    from myscaledb_spark.catalog import fan_out

    df = spark.createDataFrame([(i,) for i in range(10)], "id int").coalesce(1)
    out = fan_out(df, spark)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
