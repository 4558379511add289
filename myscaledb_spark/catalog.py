"""Table catalog over the driver-generated parquet test data.

Reference analog: table registry / `system.tables` (ClickHouse DDL catalog,
`src/Storages/registerStorages.cpp`). In Spark the catalog is just
`spark.read.parquet` + temp views; on a real deployment these would be
partitioned Delta/Parquet tables registered in a metastore.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

from myscaledb_spark import memo
from myscaledb_spark.session import estimated_bytes

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _tz_normalize(dt):
    """Recursively replace TIMESTAMP_NTZ with TIMESTAMP inside any nested
    type (struct/array/map). Returns (new_type, changed)."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dt, TimestampNTZType):
        return TimestampType(), True
    if isinstance(dt, ArrayType):
        el, ch = _tz_normalize(dt.elementType)
        return ArrayType(el, dt.containsNull), ch
    if isinstance(dt, MapType):
        kt, ck = _tz_normalize(dt.keyType)
        vt, cv = _tz_normalize(dt.valueType)
        return MapType(kt, vt, dt.valueContainsNull), ck or cv
    if isinstance(dt, StructType):
        fields, changed = [], False
        for f in dt.fields:
            ft, ch = _tz_normalize(f.dataType)
            fields.append(StructField(f.name, ft, f.nullable, f.metadata))
            changed = changed or ch
        return StructType(fields), changed
    return dt, False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The normalized scan of ``<sf_dir>/<name>.parquet``.  Building it
    (footer read + schema normalization + py4j round trips) costs about
    0.1-0.15 s, which every gate invocation would pay per table, so the
    plan is memoized per session under the file's listing (``memo.py``)."""
    from myscaledb_spark.plans.frame_cache import data_files

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = data_files(path) if os.path.exists(path) else None  # remote: no memo
    key = (os.path.abspath(sf_dir), name)
    build = functools.partial(_load, spark, path, name)
    return memo.get(spark, "load_table", key, files, build, slots=64) or build()


def _load(spark: SparkSession, path: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # Legacy path only: applies if the data generator ever emits
        # TIMESTAMP(NANOS) (read as ns-long under nanosAsLong).  Current
        # testdata stores timestamp[us] → TIMESTAMP_NTZ, handled below.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet naive timestamp[us] (isAdjustedToUTC=false) arrives as
    # TIMESTAMP_NTZ in Spark 4; normalize to TIMESTAMP (recursively, incl.
    # struct/array/map fields) so chronon functions (unix_micros,
    # to_utc_timestamp, ...) resolve.  Session tz is UTC (session.py) and
    # the DuckDB oracle's epoch_us treats naive as UTC, so the two
    # representations agree bit-for-bit.
    for f in df.schema.fields:
        new_type, changed = _tz_normalize(f.dataType)
        if changed:
            df = df.withColumn(f.name, F.col(f.name).cast(new_type))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def _parse_bytes(v) -> int:
    """Parse a Spark byte conf value that may carry a size suffix
    ('128MB', '1g') — int() on such values throws and silently routed
    fan_out to its slow exact-probe fallback (r10 ADVICE)."""
    s = str(v).strip().lower()
    for suffix, mult in (
        ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
        ("kb", 1 << 10), ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
        ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a small scan across the session's cores before a
    per-row-heavy projection (hashing, tokenization): a single small
    parquet file arrives as ONE input partition, serializing the whole
    first stage on one core.  No-op when the source already has enough
    partitions — the 100 TB case, where a raw repartition would only
    double scan I/O.  AQE preserves explicit repartition(n) counts, so
    the fan-out is not coalesced back down.

    The partition estimate comes from the optimizer's size statistics
    (bytes / maxPartitionBytes) — ``df.rdd.getNumPartitions()`` would be
    exact but materializes the whole Python RDD conversion plan on every
    call (~0.1 s of driver work per invocation); the heuristic only needs
    "tiny scan vs big scan" (r10).  Falls back to the exact probe when
    stats are unavailable."""
    target = spark.sparkContext.defaultParallelism
    est = estimated_bytes(df)
    try:
        mpb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        # RDD-backed/in-memory relations report defaultSizeInBytes
        # (Long.MaxValue) instead of raising — an implausibly large estimate
        # means "unknown", not "huge" (r10 ADVICE): fall back to the exact
        # probe rather than concluding the frame has plenty of partitions.
        nparts = max(1, est // mpb) if 0 < est < (1 << 50) else None
    except Exception:
        nparts = None
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
    if nparts * 2 <= target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view so `spark.sql` works directly."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
