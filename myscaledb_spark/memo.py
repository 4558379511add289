"""One memo store for the engine's resident state, keyed on what an input is.

Reference analog: VICacheManager (src/VectorIndex/Cache/VICacheManager.cpp),
one LRU keyed by part and column that DETACH/DROP expire.  Here each
SparkSession has one LRU store (weak keys: a stopped session's entries are
collected).  An entry is found by (namespace, key) and holds for one input
fingerprint.  A lookup under another fingerprint releases the old entry and
unpersists its DataFrames before it returns, also a lookup that builds
nothing: Spark's cache manager would otherwise serve an identical plan over
the rewritten files from the old cached data.

``plan_key`` names a query (the analyzed plan's semantic hash); it stays the
same when the files under its paths are rewritten, which ``fingerprint``
sees.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

#: session -> {(ns, key): (fp, value)}, least recently used first
_STORES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()

#: bound on one entry's per-term memo (``terms``), so a session streaming
#: novel queries cannot grow it without limit
MAX_TERMS = 4096


def plan_key(df: DataFrame) -> int:
    """The semantic hash of ``df``'s analyzed plan."""
    return int(df._jdf.queryExecution().analyzed().semanticHash())


def fingerprint(df: DataFrame) -> tuple | None:
    """(path, size, mtime) of every file ``df`` reads, sorted, from its
    Hadoop FileSystem status (any scheme), or None when one of them cannot
    be stat'ed.  The analyzed plan of a re-registered view over an
    overwritten directory hashes the same as before; its files do not."""
    spark = df.sparkSession
    out = []
    try:
        conf = spark._jsc.hadoopConfiguration()
        Path = spark._jvm.org.apache.hadoop.fs.Path
        for f in sorted(df.inputFiles()):
            path = Path(f)
            st = path.getFileSystem(conf).getFileStatus(path)
            out.append((f, st.getLen(), st.getModificationTime()))
    except Exception:
        return None
    return tuple(out)


def _release(entry) -> None:
    value = entry[1] if entry else ()
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist()


def has(spark: SparkSession, ns: str, key) -> bool:
    """Whether (``ns``, ``key``) has an entry, under any fingerprint."""
    with _LOCK:
        return (ns, key) in _STORES.get(spark, {})


def peek(spark: SparkSession, ns: str, key):
    """(fingerprint, value) of (``ns``, ``key``) as stored, under any
    fingerprint, or None; neither releases nor reorders it.  A caller that
    can extend a stale value (a directory that only gained files) reads it
    here before ``get`` releases it."""
    with _LOCK:
        return _STORES.get(spark, {}).get((ns, key))


def drop(ns: str, match) -> None:
    """Release every entry of ``ns`` whose key satisfies ``match(key)``, in
    every session (DETACH / DROP / TRUNCATE expire an index this way)."""
    with _LOCK:
        gone = [store.pop(k) for store in list(_STORES.values())
                for k in [k for k in store if k[0] == ns and match(k[1])]]
    for e in gone:
        _release(e)


def get(spark: SparkSession, ns: str, key, fp, build=None, slots: int = 8):
    """The value of (``ns``, ``key``) under fingerprint ``fp``, built with
    ``build()`` and stored when missing.  An entry under another fingerprint
    is released first, also when ``fp`` is None (the input cannot be
    fingerprinted: the caller goes without a memo) or ``build`` is None (a
    lookup only); both return None on a miss.  ``ns`` keeps its ``slots``
    most recently used entries and releases the rest."""
    with _LOCK:
        store = _STORES.setdefault(spark, {})
        entry = store.pop((ns, key), None)
        if entry is not None and fp is not None and entry[0] == fp:
            store[(ns, key)] = entry
            return entry[1]
    _release(entry)
    if fp is None or build is None:
        return None
    value = build()
    with _LOCK:
        old = store.pop((ns, key), None)  # a concurrent build of the same key
        store[(ns, key)] = (fp, value)
        gone = [store.pop(k) for k in [k for k in store if k[0] == ns][:-slots]]
    for e in gone + [old]:
        _release(e)
    return value


def terms(table: dict, keys, fetch) -> dict:
    """{key: value} for ``keys`` from ``table``, an entry's per-term memo;
    ``fetch(missing)`` returns {key: value} for the keys not in it yet.  When
    the new keys would take the table past MAX_TERMS it keeps only this
    call's keys, so none of them is fetched twice."""
    need = [k for k in dict.fromkeys(keys) if k not in table]
    if need:
        if len(table) + len(need) > MAX_TERMS:
            kept = {k: table[k] for k in keys if k in table}
            table.clear()
            table.update(kept)
        table.update(fetch(need))
    return {k: table[k] for k in keys}
