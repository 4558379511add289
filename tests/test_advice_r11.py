"""r11 ADVICE regression pins (fan_out stats parsing)."""

from __future__ import annotations

from myscaledb_spark.catalog import _parse_bytes


def test_parse_bytes_suffixes():
    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128MB") == 128 * 1024 * 1024
    assert _parse_bytes("128m") == 128 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes(" 512kb ") == 512 * 1024
    assert _parse_bytes("64b") == 64


def test_fan_out_in_memory_frame_fires(spark):
    """ADVICE low: createDataFrame frames report defaultSizeInBytes
    (Long.MaxValue) from stats — fan_out must treat that as unknown and
    fall back to the exact partition probe, so a single-partition
    in-memory frame still fans out."""
    from myscaledb_spark.catalog import fan_out

    df = spark.createDataFrame([(i,) for i in range(10)], "id int").coalesce(1)
    out = fan_out(df, spark)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
