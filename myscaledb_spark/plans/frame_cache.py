"""Shared in-memory caches for index-artifact parquet directories, and their
writer.

The reference keeps built indexes resident (its vector index cache /
TantivyIndexStoreFactory LRU).  Two analogs here:

  - ``resident_parquet``: an artifact small enough for the driver
    (``session.DRIVER_RESIDENT_BYTES`` of Arrow) is read with pyarrow, with
    no Spark job, into a ``resident.Snapshot`` kept in memo.py; searches
    then answer in numpy.  A directory that only gained files (an append)
    reads just the new files.
  - ``cached_parquet``: any other artifact is persisted as a cached
    relation (MEMORY_AND_DISK: compressed columnar batches, spilling when
    the artifact outgrows executor memory — same degradation mode as the
    reference's cache eviction).

Both are keyed by the directory's data-file listing (relative path, size,
mtime), so any append or rewrite misses on next use.  A ``cached_parquet``
miss reopens the directory
without schema inference (one footer-reading Spark job) when it can: when
the old listing is a subset of the new one — only files were added, as an
append does — the previous frame's schema still holds; a caller that writes
the directory itself may also pass its fixed schema.  Any other change (a
rebuild or a rewrite) infers the schema again, so no frame outlives its data
or its schema.

The one writer, ``append_part``, adds a driver-computed Arrow table to such a
directory as a new data file in the layout Spark writes (the directory's
Spark schema under Spark's footer key, snappy), so both readers take it as
one of Spark's own files and a held copy reads just that file.

Partition-pruning note: a cached relation filters by the cache batches'
min/max stats instead of the parquet source's directory pruning — for the
list_id/leaf-partitioned layouts both prune to the probed lists.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.types import StructType

#: (path, listing at load) -> persisted frame
_CACHE: dict[tuple, DataFrame] = {}

#: memo.py namespace of the driver-held artifact directories, and how many
#: each session keeps (each at most ``session.DRIVER_RESIDENT_BYTES``)
_RESIDENT_NS = "artifact"
_RESIDENT_SLOTS = 8

#: the footer key under which Spark's parquet writer stores its schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: Spark types ``append_part`` writes as Spark would: ones whose parquet form
#: needs no writer option (dates, timestamps and decimals do)
_WRITABLE = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
             T.DoubleType, T.StringType, T.BooleanType)

#: Arrow bytes per row of a variable-width column beyond its footer size:
#: its int32 offsets
_OFFSET_BYTES = 4


def _hidden(name: str) -> bool:
    # Spark's file index skips these (_SUCCESS, _temporary, .crc), but not
    # a partition directory such as _col=1
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(path: str) -> frozenset:
    """(relative path, size, mtime_ns) of every file Spark reads under
    ``path``.  A single-file ``path`` lists itself; a missing one raises
    FileNotFoundError."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return frozenset({("", st.st_size, st.st_mtime_ns)})
    out = []
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        for f in files:
            if not _hidden(f):
                st = os.stat(os.path.join(dirpath, f))
                out.append((os.path.relpath(os.path.join(dirpath, f), path),
                            st.st_size, st.st_mtime_ns))
    return frozenset(out)


def cached_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """The persisted frame of the parquet directory ``path``.  ``schema``,
    when given, is the schema every file there is written with."""
    from pyspark import StorageLevel

    files = data_files(path)
    df = _CACHE.get((path, files))
    if df is None:
        for stale in [k for k in _CACHE if k[0] == path]:
            old = _CACHE.pop(stale)
            if schema is None and stale[1] <= files:
                schema = old.schema  # only files were added
            old.unpersist()
        _note_load(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path).persist(StorageLevel.MEMORY_AND_DISK)
        _CACHE[(path, files)] = df
    return df


def resident_parquet(spark: SparkSession, path: str, partitions: dict | None = None):
    """The parquet directory ``path``, written by Spark, held on the driver
    as a ``resident.Snapshot`` (Arrow) — read with pyarrow, no Spark job —
    or None when it cannot be: it holds more than
    ``session.DRIVER_RESIDENT_BYTES`` of Arrow, or a file without Spark's
    schema or with another schema than the rest.  ``partitions`` maps each
    integral partition column to the type its writer gives it (Spark would
    infer it), appended after the data columns as ``spark.read`` does.

    Held in memo.py under the directory's listing (``data_files``).  When
    the listing only gained files, as an append leaves it, only the added
    files are read and concatenated to the held table; any other change
    reads the whole directory again.  The size is checked twice: estimated
    from the footers (uncompressed bytes plus offsets per row) before
    reading, and as ``table.nbytes`` after."""
    from myscaledb_spark import memo, session

    gate = session.DRIVER_RESIDENT_BYTES
    if gate <= 0:  # nothing is held: every search takes the Spark path
        return None
    files = data_files(path)
    prev = memo.peek(spark, _RESIDENT_NS, path)
    if prev is not None and prev[0] == files and prev[1][1] is None and prev[1][0] <= gate:
        memo.get(spark, _RESIDENT_NS, path, None)  # refused under a lower gate: read again

    def build():
        from myscaledb_spark.resident import Snapshot

        _note_load(path)
        held = prev[1][1] if prev is not None and prev[0] < files else None
        added = files - prev[0] if held is not None else files
        base = held.table.nbytes if held is not None else 0
        try:
            schema, table, nbytes = _read(path, sorted(f for f, _, _ in added),
                                          partitions or {}, gate - base)
        except (ValueError, KeyError, OSError, pa.ArrowException):
            return float("inf"), None  # never held: the Spark path reads it
        if table is None:
            return base + nbytes, None  # past the gate
        if held is not None:
            if held.schema != schema:
                return float("inf"), None
            table = pa.concat_tables([held.table, table])
        return table.nbytes, Snapshot(spark, schema, table)

    nbytes, snap = memo.get(spark, _RESIDENT_NS, path, files, build, _RESIDENT_SLOTS)
    return snap if nbytes <= gate else None  # a refusal's bytes exceed any gate it met


def _read(path: str, rels: list, partitions: dict, budget: int):
    """(Spark schema, Arrow table, its bytes) of the files ``rels`` under
    ``path``; the table is None when it takes more than ``budget`` bytes,
    by the footers' estimate or once read.  Every file is cast to the
    schema's Arrow form (the one ``local_relation`` emits), since a write
    may mark other fields NOT NULL.  Raises ValueError when there is no
    file, or a file lacks Spark's schema or differs from the others."""
    from myscaledb_spark.session import _arrow_schema

    if not rels:
        raise ValueError("no data files")
    schema, files, estimate = None, [], 0
    with contextlib.ExitStack() as opened:
        for rel in rels:
            f = opened.enter_context(pq.ParquetFile(
                os.path.join(path, rel), coerce_int96_timestamp_unit="us"))
            meta = f.metadata
            spark_json = (meta.metadata or {})[_SPARK_SCHEMA_KEY]
            got = _nullable(T.StructType.fromJson(json.loads(spark_json)))
            got = T.StructType(got.fields + [T.StructField(c, t, True)
                                             for c, t in partitions.items()])
            if schema not in (None, got):
                raise ValueError(f"{rel}: another schema than its directory's")
            schema = got
            var = sum(1 for c in f.schema_arrow if _variable_width(c.type))
            estimate += sum(meta.row_group(i).total_byte_size
                            for i in range(meta.num_row_groups))
            estimate += meta.num_rows * _OFFSET_BYTES * var
            files.append((rel, f))
        if estimate > budget:
            return schema, None, estimate
        target, tables = _arrow_schema(schema), []
        for rel, f in files:
            table = f.read()
            values = dict(p.split("=", 1) for p in os.path.dirname(rel).split(os.sep)
                          if "=" in p)
            for c in partitions:
                value = None if values[c] == "__HIVE_DEFAULT_PARTITION__" else int(values[c])
                table = table.append_column(
                    c, pa.array([value] * table.num_rows, target.field(c).type))
            tables.append(table.cast(target))
    table = pa.concat_tables(tables)
    return schema, table if table.nbytes <= budget else None, table.nbytes


def writable(dt: T.DataType) -> bool:
    """Whether ``append_part`` writes a column of type ``dt``: an integer,
    float, double, string or boolean, or an array of one."""
    if isinstance(dt, T.ArrayType):
        dt = dt.elementType
    return isinstance(dt, _WRITABLE)


def part_footer(path: str, columns: T.StructType):
    """(Spark schema as ``spark.read`` gives it, the footer's schema JSON) of
    the first data file under the parquet directory ``path``, for
    ``append_part``; None when there is no such file, it carries no Spark
    schema, or its columns are not ``columns``' names and types (in any
    order, nullability aside)."""
    rels = sorted(f for f, _, _ in data_files(path)) if os.path.isdir(path) else []
    if not rels:
        return None
    raw = (pq.read_metadata(os.path.join(path, rels[0])).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    schema = _nullable(T.StructType.fromJson(json.loads(raw)))
    same = ({f.name: f.dataType for f in schema.fields}
            == {f.name: _nullable(f.dataType) for f in columns.fields})
    return (schema, raw) if same else None


def append_part(path: str, table: pa.Table, footer) -> None:
    """Add ``table`` to the parquet directory ``path`` (made when missing) as
    one new data file, in the layout Spark writes: cast to the Arrow form of
    ``footer``'s schema (``part_footer`` of the directory), with that
    schema's JSON under Spark's footer key, snappy.  It is written under a
    hidden name and renamed, so a listing only ever gains whole files and no
    file already there is touched."""
    from myscaledb_spark.session import _arrow_schema

    schema, raw = footer
    table = table.select(schema.names).cast(_arrow_schema(schema))
    # floats seldom repeat, so a dictionary only adds bytes to them (Spark's
    # writer drops a dictionary that does not pay; pyarrow's keeps it)
    dictionary = [f.name for f in table.schema
                  if not pa.types.is_floating(getattr(f.type, "value_type", f.type))]
    os.makedirs(path, exist_ok=True)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table.replace_schema_metadata({_SPARK_SCHEMA_KEY: raw}), tmp,
                   compression="snappy", use_dictionary=dictionary)
    os.replace(tmp, os.path.join(path, name))


def _variable_width(t: pa.DataType) -> bool:
    """Whether an Arrow column of type ``t`` keeps offsets per row."""
    return (pa.types.is_string(t) or pa.types.is_binary(t) or pa.types.is_list(t)
            or pa.types.is_map(t))


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable, at any depth:
    the schema ``spark.read`` gives a file source (``asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def evict_prefix(prefix: str) -> None:
    """Drop every cached artifact frame and driver-held directory under
    ``prefix`` (an artifact root or <root>/<name> dir) — DETACH / DROP /
    TRUNCATE expire the reference's index cache the same way
    (VICacheManager; VIEventLog CacheExpire)."""
    if not prefix:  # "" would match every key — never a valid artifact root
        return
    from myscaledb_spark import memo

    for k in [k for k in _CACHE if k[0].startswith(prefix)]:
        _CACHE.pop(k).unpersist()
    memo.drop(_RESIDENT_NS, lambda path: path.startswith(prefix))


def _note_load(path: str) -> None:
    """Emit LoadStart/LoadSucceed into the index's event history when a
    previously-expired artifact re-enters the cache (VIEventLog load events
    on first use after eviction — 00030's post-ATTACH query).  Loads while
    the index is already resident (the normal steady state, seeded by the
    build's own read-back) log nothing, like the reference's cache hit."""
    name_dir = os.path.dirname(path)
    root = os.path.dirname(name_dir)
    reg_path = os.path.join(
        root, "registry", os.path.basename(name_dir) + ".json"
    )
    if not os.path.exists(reg_path):
        return
    import json

    try:
        rec = json.load(open(reg_path))
    except Exception:  # noqa: BLE001 — diagnostics must never break loads
        return
    if rec.get("cache_resident", True):
        return
    from myscaledb_spark.plans.vector_index import IndexRegistry

    reg = IndexRegistry(root)
    name = os.path.basename(name_dir)
    reg.add_event(name, "LoadStart")
    reg.add_event(name, "LoadSucceed", cache_resident=True)
