"""Shared in-memory cache for index-artifact parquet frames.

The reference keeps built indexes resident (its vector index cache /
TantivyIndexStoreFactory LRU); the Spark analog persists the artifact
DataFrame as a cached relation (MEMORY_AND_DISK: compressed columnar
batches, spilling when the artifact outgrows executor memory — same
degradation mode as the reference's cache eviction).

Keyed by the directory's data-file listing (relative path, size, mtime), so
any append or rewrite misses on next use.  The miss reopens the directory
without schema inference (one footer-reading Spark job) when it can: when
the old listing is a subset of the new one — only files were added, as an
append does — the previous frame's schema still holds; a caller that writes
the directory itself may also pass its fixed schema.  Any other change (a
rebuild or a rewrite) infers the schema again, so no frame outlives its data
or its schema.

Partition-pruning note: a cached relation filters by the cache batches'
min/max stats instead of the parquet source's directory pruning — for the
list_id/leaf-partitioned layouts both prune to the probed lists.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: (path, listing at load) -> persisted frame
_CACHE: dict[tuple, DataFrame] = {}


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


def evict_prefix(prefix: str) -> None:
    """Drop every cached artifact frame under ``prefix`` (an artifact root
    or <root>/<name> dir) — DETACH / DROP / TRUNCATE expire the reference's
    index cache the same way (VICacheManager; VIEventLog CacheExpire)."""
    if not prefix:  # "" would match every key — never a valid artifact root
        return
    for k in [k for k in _CACHE if k[0].startswith(prefix)]:
        _CACHE.pop(k).unpersist()


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
