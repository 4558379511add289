"""Batch ANN index lifecycle — the Spark answer to the reference's per-part
vector indexes (`src/VectorIndex/Storages/VIBuilderUpdater.cpp:450-560`,
`.vidx3` artifacts, `system.vector_indices` registry).

Index type: IVF (inverted file) built Spark-natively:
  - centroids: KMeans (pyspark.ml, fixed seed) on the vector column,
  - inverted lists: the table re-written as parquet PARTITIONED BY list_id,
  - registry: a parquet table mirroring `system.vector_indices`
    (status lifecycle NotBuilt → InProgress → Built, §3.3.3).

Search (`ivf_search`) mirrors `MergeTreeVSManager::vectorScan`:
  1. rank centroids by distance to the query (driver-side — centroid set is
     tiny, like the reference's in-RAM index metadata),
  2. scan ONLY the nprobe nearest partitions — Spark partition pruning on
     list_id is exactly the reference's granule-skip for vector search,
  3. exact distance + top-k within the probed candidates
     (optionally pre-filtered — filter applies before top-k like the
     reference's filtered search).

Below ``session.DRIVER_RESIDENT_BYTES`` of Arrow, a search without a filter
or a delete mask answers from the inverted lists held on the driver
(``frame_cache.resident_parquet``: read with pyarrow, keyed on the file
listing, an append's new files read alone) — the reference's in-memory
index cache (VICacheManager): the probed lists' rows are ranked in numpy by
the distance kernel's own fold (``resident.Snapshot.nearest``), bit for bit
``vector_topk``'s answer, with no Spark job.  Above the gate, and for the
other shapes, the persisted frame (``frame_cache.cached_parquet``) is
scanned.

At 100 TB: the build is one KMeans pass + one partitioned write (linear, no
driver bottleneck — assignment happens executor-side); queries read
nprobe/num_centroids of the data. Recall is controlled by nprobe like the
reference's `nprobe` parameter (`parseVSParameters.cpp:74-111`).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.functions.vector import distance_sql, double_array_sql, vector_sql
from myscaledb_spark.operators.topk import _validate_k, vector_topk


_LAST_EVENT_T = [0.0]


def _next_event_time() -> float:
    """Strictly increasing event timestamps: VIEventLog rows are consumed
    ORDER BY event_time_microseconds (00030), and several events can land
    in the same statement — ties would make the order nondeterministic."""
    t = time.time()
    if t <= _LAST_EVENT_T[0]:
        t = _LAST_EVENT_T[0] + 1e-6
    _LAST_EVENT_T[0] = t
    return t


class IndexRegistry:
    """≈ system.vector_indices (attachSystemTables.cpp:144). One JSON file
    per index under <root>/registry/ — tiny metadata, not data."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "registry")
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.json")

    def set_status(self, name: str, status: str, **extra) -> None:
        rec = {"name": name, "status": status, "updated_at": time.time(), **extra}
        prev_status = None
        if os.path.exists(self._path(name)):
            old = json.load(open(self._path(name)))
            prev_status = old.get("status")
            events = old.pop("events", [])
            old.update(rec)
            rec = old
            rec["events"] = events
        else:
            # a brand-new record is the index definition landing
            # (VIEventLog: DefinitionCreated precedes the build events);
            # seq preserves declaration order for the listing (the reference
            # lists indexes in metadata order, 00041)
            rec["events"] = [{"status": "Defined", "event_time": _next_event_time()}]
            existing = [
                json.load(open(os.path.join(self.dir, f))).get("seq", 0)
                for f in os.listdir(self.dir)
                if f.endswith(".json")
            ]
            rec["seq"] = (max(existing) if existing else 0) + 1
        # status-transition history ≈ system.vector_index_event_log
        # (src/VectorIndex/Interpreters/VIEventLog.cpp); a repeated
        # transition (e.g. deferred InProgress followed by the build's own
        # InProgress) is ONE build start, not two
        if status == "Built" and prev_status == "InProgress":
            # the build's artifact read-back is the index's initial cache
            # residency: VIEventLog logs LoadStart/LoadSucceed INSIDE the
            # build window (00030: BuildStart, LoadStart, LoadSucceed,
            # BuildSucceed)
            for lbl in ("LoadStart", "LoadSucceed"):
                rec["events"].append(
                    {"status": lbl, "event_time": _next_event_time()}
                )
            rec["cache_resident"] = True
        if not rec["events"] or rec["events"][-1].get("status") != status:
            rec["events"].append(
                {"status": status, "event_time": _next_event_time()}
            )
        json.dump(rec, open(self._path(name), "w"), indent=1)

    def add_event(self, name: str, label: str, **extra) -> None:
        """Append a raw VIEventLog row (LoadStart / LoadSucceed /
        CacheExpire / Cleared — VIEventLog.cpp event vocabulary) WITHOUT a
        status transition; ``extra`` fields merge into the record (e.g.
        cache_resident bookkeeping)."""
        p = self._path(name)
        if not os.path.exists(p):
            return
        rec = json.load(open(p))
        rec.setdefault("events", []).append(
            {"status": label, "event_time": _next_event_time()}
        )
        rec.update(extra)
        json.dump(rec, open(p, "w"), indent=1)

    def reset(self, name: str) -> None:
        """Discard a record entirely — a same-named index declared on a
        DIFFERENT table (or re-added after DROP) starts a fresh lifecycle
        (new seq, no stale fail fields); set_status would merge the old
        record's fields.  The record's event history is archived first:
        VIEventLog rows OUTLIVE the index definition (the reference's log
        table keeps DefinitionDroped history — 00030_mqvs_vector_event_log)."""
        p = self._path(name)
        if os.path.exists(p):
            rec = json.load(open(p))
            events = rec.get("events", [])
            if events:
                with open(os.path.join(self.dir, "_dropped_events.jsonl"), "a") as f:
                    f.write(json.dumps({
                        "name": name, "table": rec.get("table", ""),
                        "events": events,
                    }) + "\n")
            os.remove(p)

    def archived_events(self) -> list[dict]:
        """Event histories of records discarded by reset() — each entry
        {name, table, events}; VIEventLog parity for dropped definitions."""
        p = os.path.join(self.dir, "_dropped_events.jsonl")
        if not os.path.exists(p):
            return []
        return [json.loads(line) for line in open(p) if line.strip()]

    def annotate(self, name: str, **extra) -> None:
        """Merge metadata fields into a record WITHOUT a status transition
        (no event row — e.g. recording the owning table name)."""
        p = self._path(name)
        if not os.path.exists(p):
            raise KeyError(f"no index record {name!r}")
        rec = json.load(open(p))
        rec.update(extra)
        json.dump(rec, open(p, "w"), indent=1)

    def clear_events(self) -> None:
        """TRUNCATE system.vector_index_event_log — drop the transition
        history, keep the index records."""
        for f in os.listdir(self.dir):
            if f.endswith(".json"):
                p = os.path.join(self.dir, f)
                rec = json.load(open(p))
                rec["events"] = []
                json.dump(rec, open(p, "w"), indent=1)
        arch = os.path.join(self.dir, "_dropped_events.jsonl")
        if os.path.exists(arch):
            os.remove(arch)

    def get(self, name: str) -> dict | None:
        p = self._path(name)
        return json.load(open(p)) if os.path.exists(p) else None

    @staticmethod
    def is_built(rec: dict | None) -> bool:
        """Whether a record (as ``get`` returns it) can serve searches."""
        return rec is not None and rec.get("status") == "Built"

    def built(self, name: str, error: type[Exception] = RuntimeError) -> dict:
        """The record of ``name``; raises ``error`` unless it is Built."""
        rec = self.get(name)
        if not self.is_built(rec):
            raise error(
                f"index {name!r} not built (status={rec and rec.get('status')})"
            )
        return rec

    def list(self) -> list[dict]:
        recs = [
            json.load(open(os.path.join(self.dir, f)))
            for f in sorted(os.listdir(self.dir))
            if f.endswith(".json")
        ]
        return sorted(recs, key=lambda r: (r.get("seq", 0), r.get("name") or ""))


#: Row gate for the driver-side k-means build path (IVF lists, MSTG leaves).
#: MLlib KMeans.fit costs ~10-15 Spark jobs of fixed overhead (RDD
#: conversion, k-means|| init, per-iteration aggregates) — on reference test
#: tables of a few thousand rows that is seconds of scheduling for
#: milliseconds of math.  At or below the gate the vectors are collected and
#: clustered with the same deterministic numpy Lloyd's the PQ codebooks use;
#: above it (the 100 TB shape) the distributed MLlib path runs.
SMALL_KMEANS_ROWS = 65536


def _kmeans_np(X: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Deterministic Lloyd's k-means (numpy). Empty clusters re-seeded from
    the farthest points so codebooks stay full-rank."""
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            if len(members) == 0:
                far = d2.min(axis=1).argmax()
                newC[j] = X[far]
            else:
                newC[j] = members.mean(axis=0)
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return C


def _small_kmeans(df: DataFrame, vec_col: str, id_col: str, k: int, seed: int, n_total: int):
    """Small-input k-means: collect (id, vec), cluster driver-side (numpy,
    seeded — deterministic), assign each row its nearest centroid.  Returns
    (ids, vecs, centroids, assignment), or None when the row gate does not
    fire or the input is not collectable (NULL ids, ragged, NULL or
    non-finite vectors) — the caller then runs ``_mllib_kmeans``."""
    if n_total > SMALL_KMEANS_ROWS:
        return None
    pairs = df.select(id_col, F.col(vec_col).cast("array<double>")).collect()
    ids = [r[0] for r in pairs]
    vecs = [r[1] for r in pairs]
    if any(i is None for i in ids):
        return None
    try:
        X = np.asarray(vecs, dtype=np.float64)
    except (TypeError, ValueError):
        return None
    if X.ndim != 2 or not np.isfinite(X).all():
        return None
    C = _kmeans_np(X, k, seed)
    assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    return ids, vecs, C, assign


def _mllib_kmeans(df: DataFrame, vec_col: str, k: int, seed: int, n_total: int, out_col: str):
    """Distributed k-means: MLlib KMeans (fixed seed) trained on a bounded
    sample — centroid quality needs ~100 points per centroid, not the full
    table (the reference caps training blocks the same way, Settings.h:118)
    — then every row assigned executor-side.  Returns (``df`` plus
    ``out_col``, centroid list)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.withColumn(
        "_feat", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    train_cap = max(k * 200, 20_000)
    train = (
        feats.sample(fraction=min(1.0, train_cap / max(n_total, 1)), seed=seed)
        if n_total > train_cap
        else feats
    )
    model = KMeans(k=k, seed=seed, featuresCol="_feat", predictionCol=out_col).fit(train)
    return (
        model.transform(feats).drop("_feat"),
        [list(map(float, c)) for c in model.clusterCenters()],
    )


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    artifact_dir: str,
    name: str = "ivf",
    num_centroids: int = 16,
    metric: str = "L2",
    seed: int = 42,
) -> dict:
    """Build an IVF index artifact. Returns the registry record."""
    reg = IndexRegistry(artifact_dir)
    reg.set_status(
        name,
        "InProgress",
        column=vec_col,
        index_type="IVFFLAT",
        params={"ncentroids": num_centroids, "metric": metric},
    )

    # keep ALL table columns in the inverted lists so filtered search and
    # projections work directly on the probed scan (≈ reference reading row
    # ranges back from the part, §3.2.4)
    n_total = df.count()
    if n_total < 2:
        # index declared before data exists: exact FLAT stand-in (see
        # mstg_index.py — same DDL-first script shape)
        reg.set_status(name, "Built", column=vec_col, index_type="FLAT", metric=metric)
        return reg.get(name)
    # tiny tables: KMeans needs k <= n points — clamp rather than fail DDL
    num_centroids = max(2, min(num_centroids, n_total))
    small = _small_kmeans(df, vec_col, id_col, num_centroids, seed, n_total)
    # the assignment re-joins on id, so duplicate ids take the MLlib path
    if small is not None and len(set(small[0])) == len(small[0]):
        ids, _, C, lids = small
        amap_schema = StructType(
            [df.schema[id_col], StructField("list_id", IntegerType())]
        )
        amap = df.sparkSession.createDataFrame(
            [(i, int(l)) for i, l in zip(ids, lids)], amap_schema
        )
        assigned, centroids = df.join(F.broadcast(amap), id_col), C.tolist()
    else:
        assigned, centroids = _mllib_kmeans(
            df, vec_col, num_centroids, seed, n_total, "list_id"
        )

    inv_path = os.path.join(artifact_dir, name, "inverted")
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(inv_path)
    cent_path = os.path.join(artifact_dir, name, "centroids.json")
    os.makedirs(os.path.dirname(cent_path), exist_ok=True)
    json.dump(centroids, open(cent_path, "w"))

    reg.set_status(name, "Built", inverted=inv_path, centroids=cent_path)
    return reg.get(name)


def append_to_ivf_index(
    new_df: DataFrame,
    vec_col: str,
    id_col: str,
    artifact_dir: str,
    name: str = "ivf",
) -> dict:
    """Incremental maintenance — the reference's decoupled-parts semantics
    (`MergeTreeSettings.h:179` enable_decouple_vector_index): freshly
    inserted rows are assigned to the EXISTING centroids and appended to the
    inverted lists as new files, so search serves old+new data immediately
    and no file already written is rewritten; a periodic full rebuild
    (build_ivf_index) re-trains centroids like a part merge rebuild.  Cost
    is O(batch), linear in the number of lists.  An empty batch writes
    nothing.

    Below ``session.DRIVER_RESIDENT_BYTES`` the batch is collected once as
    Arrow (``_driver_batch``, the snapshot a following FTS append of the
    same batch reuses), assigned in numpy (``_list_ids``) and written per
    list with pyarrow (``_driver_append``).  Any batch that path declines
    is assigned by ``_with_list_id``, one JVM pass, and written by Spark;
    both give each row the same list."""
    reg = IndexRegistry(artifact_dir)
    rec = reg.built(name)
    if rec.get("index_type") == "FLAT":
        return rec  # no artifact to maintain: ddl.search_index scans the table
    centroids = json.load(open(rec["centroids"]))
    written = _driver_append(new_df, vec_col, id_col, rec["inverted"], centroids)
    if written is None:
        assigned = _with_list_id(new_df, vec_col, centroids)
        assigned.write.mode("append").partitionBy("list_id").parquet(rec["inverted"])
    if written != 0:  # an empty batch leaves the record as it was
        reg.set_status(name, "Built")
    return reg.get(name)


def _driver_batch(df: DataFrame, id_col: str, *cols: str):
    """``df``'s driver snapshot (``text._snapshot``, built by one Arrow
    collect and shared by the IVF and FTS appends of one batch) when the
    driver may append it, else None and the caller runs the Spark append:
    ``id_col`` and ``cols`` are among its column names as written, every
    column is of a type ``frame_cache.append_part`` writes, the snapshot is
    within the gate, and its ids are neither NULL nor repeated (Spark's
    ``first(dl)`` over a merged id is not deterministic)."""
    from myscaledb_spark.functions.text import _snapshot
    from myscaledb_spark.plans.frame_cache import writable

    if not ({id_col, *cols} <= set(df.columns)
            and all(writable(f.dataType) for f in df.schema.fields)):
        return None
    snap = _snapshot(df)
    if snap is None:
        return None
    ids = snap.table.column(id_col)
    if ids.null_count or pc.count_distinct(ids).as_py() != len(ids):
        return None
    return snap


def _driver_append(new_df: DataFrame, vec_col: str, id_col: str, inverted: str,
                   centroids: list) -> int | None:
    """Append ``new_df`` to the inverted lists from the driver: its rows,
    held by ``_driver_batch``, go to ``_list_ids``' lists, each list's rows
    one new file under ``list_id=<l>/`` (``frame_cache.append_part``).
    Returns the rows written, or None, having written nothing, when the
    batch is not held, its columns differ from the lists', the lists have
    no file to take Spark's schema from, or a vector is NULL, short or
    holds a NULL element (the Spark append runs)."""
    from myscaledb_spark.plans.frame_cache import append_part, part_footer

    snap = _driver_batch(new_df, id_col, vec_col)
    footer = None if snap is None else part_footer(inverted, snap.schema)
    if footer is None:
        return None
    got = snap.vectors(vec_col, len(centroids[0]))
    if got is None or len(got[0]) != snap.n:
        return None
    lists = _list_ids(got[1], centroids)
    for lid in np.unique(lists):
        append_part(os.path.join(inverted, f"list_id={lid}"),
                    snap.table.filter(pa.array(lists == lid)), footer)
    return snap.n


def _list_ids(rows: np.ndarray, centroids: list) -> np.ndarray:
    """``_with_list_id``'s list of each of ``rows`` (column-major float64,
    as ``Snapshot.vectors`` holds them), in numpy: the squared L2 distance
    to each centroid by the kernel's own fold (``vector.driver_distance``),
    the first minimum winning, NaN above +inf (Spark's double ordering) and
    a row whose distances are all NaN in list 0, where ``array_position``
    finds ``array_min``'s NaN."""
    from myscaledb_spark.functions.vector import driver_distance

    with np.errstate(invalid="ignore", over="ignore"):  # inf - inf, as Spark's NaN
        d = np.column_stack([driver_distance(rows, c, "L2Squared") for c in centroids])
    least = np.where(np.isnan(d), np.inf, d).min(axis=1)
    return np.argmax(d == least[:, None], axis=1)


def _with_list_id(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """``df`` plus ``list_id``, the index of the nearest centroid by squared
    L2.  The centroids are one ``array<array<double>>`` literal, one
    ``transform`` computes the distance to each, and
    ``array_position(d, array_min(d)) - 1`` picks the list; the distances
    are materialised once (two-level select), so the argmin does not
    recompute them.  The first minimum wins ties; NaN counts as the largest
    distance (Spark's double ordering); a NULL vector goes to list 0."""
    cents = "array(" + ", ".join(double_array_sql(c) for c in centroids) + ")"
    # a lambda variable named like the column's first part would capture
    # the row operand; this name is longer than the whole column name
    c = "_centroid" + "_" * len(vec_col)
    d = F.expr(f"transform({cents}, {c} -> "
               + distance_sql("L2Squared", vector_sql(vec_col), c) + ")")
    return (
        df.withColumn("_ivf_d", d)
        .withColumn("list_id", F.coalesce(
            F.array_position("_ivf_d", F.array_min("_ivf_d")) - 1, F.lit(0)
        ).cast("int"))
        .drop("_ivf_d")
    )


def _nearest_lists(centroids: list[list[float]], qvec: Sequence[float], nprobe: int, metric: str) -> list[int]:
    import math

    def d(c):
        if metric.lower() == "ip":
            return -sum(x * y for x, y in zip(c, qvec))
        if metric.lower() == "cosine":
            dot = sum(x * y for x, y in zip(c, qvec))
            nc = math.sqrt(sum(x * x for x in c)) or 1e-30
            nq = math.sqrt(sum(y * y for y in qvec)) or 1e-30
            return 1.0 - dot / (nc * nq)
        return sum((x - y) ** 2 for x, y in zip(c, qvec))

    order = sorted(range(len(centroids)), key=lambda i: (d(centroids[i]), i))
    return order[:nprobe]


def ivf_search(
    spark: SparkSession,
    artifact_dir: str,
    qvec: Sequence[float],
    k: int,
    name: str = "ivf",
    nprobe: int = 4,
    metric: str = "L2",
    where=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k via the IVF artifact. Reads only nprobe inverted lists
    (partition-pruned scan), exact-ranks candidates; without ``where`` and
    ``exclude_ids`` and below the driver gate, from the lists held on the
    driver (``_driver_search``), with no Spark job.

    exclude_ids: a DataFrame whose first column holds ids masked out of the
    search — the lightweight-DELETE interaction (the reference feeds the
    part's deleted-rows bitmap into vector scans,
    MergeTreeVSManager.cpp filter path; our operators/mutations.py keeps
    the same mask as a table). Applied as a broadcast anti-join BEFORE the
    top-k, so deleted rows can never surface and the index needs no
    rebuild until compaction."""
    rec = IndexRegistry(artifact_dir).built(name)
    if rec.get("index_type") == "FLAT":  # built over fewer than 2 rows
        raise InvalidSearchQuery(
            f"index {name!r} is a FLAT stand-in record (built over fewer than 2 "
            "rows, no IVF artifact): search it with ddl.search_index(df=, vec_col=)"
        )
    centroids = json.load(open(rec["centroids"]))
    probe = _nearest_lists(centroids, qvec, nprobe, metric)
    if where is None and exclude_ids is None:
        out = _driver_search(spark, rec["inverted"], qvec, k, probe, metric, id_col, vec_col)
        if out is not None:
            return out
    from myscaledb_spark.plans.frame_cache import cached_parquet

    inv = cached_parquet(spark, rec["inverted"])
    cands = inv.filter(F.col("list_id").isin(probe))  # partition pruning
    if exclude_ids is not None:
        mask = exclude_ids.select(F.col(exclude_ids.columns[0]).alias(id_col))
        cands = cands.join(F.broadcast(mask), id_col, "anti")
    return vector_topk(cands, vec_col, qvec, k, metric, where, id_col)


def _driver_search(spark, inverted: str, qvec, k, probe, metric, id_col, vec_col):
    """``ivf_search``'s answer from the inverted lists held on the driver
    (``frame_cache.resident_parquet``): the rows of the probed lists
    ranked by ``Snapshot.nearest`` — ``vector_topk``'s rows and distance
    bits — and emitted as a local relation, with no Spark job.  None when
    the lists are not held, a column is missing or the driver fold does
    not serve the metric or the vector type."""
    from myscaledb_spark.functions.vector import canonical_metric
    from myscaledb_spark.plans.frame_cache import resident_parquet
    from myscaledb_spark.resident import DRIVER_METRICS, emit

    _validate_k(k)
    if canonical_metric(metric) not in DRIVER_METRICS:
        return None
    snap = resident_parquet(spark, inverted, {"list_id": IntegerType()})
    if snap is None or not {id_col, vec_col} <= set(snap.schema.names):
        return None
    among = np.isin(snap.table.column("list_id").to_numpy(), probe)
    got = snap.nearest(vec_col, qvec, k, metric, id_col, among)
    if got is None:
        return None
    return emit(snap, got[0], snap.schema.names, "dist", got[1])


def ann_recall(
    df: DataFrame,
    approx: DataFrame,
    qvec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """recall@k of an ANN search frame ``approx`` (any searcher's result,
    holding ``id_col``) against the exact L2 top-k over ``df``
    (BASELINE.md: 'ours must pin recall explicitly')."""
    exact = {
        r[0]
        for r in vector_topk(df, vec_col, qvec, k, "L2", None, id_col)
        .select(id_col)
        .collect()
    }
    got = {r[0] for r in approx.select(id_col).collect()}
    return len(exact & got) / max(len(exact), 1)
