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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myscaledb_spark.functions.vector import distance, double_array_sql
from myscaledb_spark.operators.topk import vector_topk


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

    def list(self) -> list[dict]:
        recs = [
            json.load(open(os.path.join(self.dir, f)))
            for f in sorted(os.listdir(self.dir))
            if f.endswith(".json")
        ]
        return sorted(recs, key=lambda r: (r.get("seq", 0), r.get("name") or ""))


def small_kmeans_rows(spark) -> int:
    """Row gate for the driver-side k-means build path
    (``spark.myscaledb.kmeans.smallInputRows``, default 65536, 0 disables).
    MLlib KMeans.fit costs ~10-15 Spark jobs of fixed overhead (RDD
    conversion, k-means|| init, per-iteration aggregates) — on reference
    test tables of a few thousand rows that is seconds of scheduling for
    milliseconds of math.  Below the gate the vectors are collected and
    clustered with the same deterministic numpy Lloyd's the PQ codebooks
    already use; above it (the 100 TB shape) the distributed MLlib path
    runs unchanged."""
    try:
        return int(spark.conf.get("spark.myscaledb.kmeans.smallInputRows", "65536"))
    except Exception:
        return 65536


def _small_kmeans_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    seed: int,
    n_total: int,
    out_col: str,
):
    """Small-input build path: collect (id, vec), cluster driver-side
    (numpy, seeded — deterministic), re-attach the assignment as a
    broadcast (id → cluster) map.  Returns (assigned_df, centroids) or
    (None, None) when the gate does not fire or the input shape is not
    collectable (ragged/duplicate-id inputs keep the MLlib path)."""
    spark = df.sparkSession
    gate = small_kmeans_rows(spark)
    if gate <= 0 or n_total > gate:
        return None, None
    try:
        import numpy as np

        from pyspark.sql.types import IntegerType, StructField, StructType

        from myscaledb_spark.plans.pq_index import _kmeans_np

        pairs = df.select(
            F.col(id_col).alias("_kid"),
            F.col(vec_col).cast("array<double>").alias("_kv"),
        ).collect()
        ids = [r["_kid"] for r in pairs]
        if len(set(ids)) != len(ids) or any(i is None for i in ids):
            return None, None
        X = np.asarray([r["_kv"] for r in pairs], dtype=np.float64)
        if X.ndim != 2 or not np.isfinite(X).all():
            return None, None
        C = _kmeans_np(X, k, seed)
        lids = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        amap_schema = StructType(
            [df.schema[id_col], StructField(out_col, IntegerType())]
        )
        amap = spark.createDataFrame(
            [(i, int(l)) for i, l in zip(ids, lids)], amap_schema
        )
        return (
            df.join(F.broadcast(amap), id_col),
            [list(map(float, c)) for c in C],
        )
    except Exception:
        return None, None


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
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

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
    feats = df.withColumn(
        "_feat", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    # train on a bounded sample (reference caps training blocks the same way,
    # Settings.h:118) — centroid quality needs ~100 points per centroid, not
    # the full table; assignment below still covers every row
    n_total = df.count()
    if n_total < 2:
        # index declared before data exists: exact FLAT stand-in (see
        # mstg_index.py — same DDL-first script shape)
        reg.set_status(name, "Built", column=vec_col, index_type="FLAT", metric=metric)
        return reg.get(name)
    # tiny tables: KMeans needs k <= n points — clamp rather than fail DDL
    num_centroids = max(2, min(num_centroids, n_total))
    assigned, centroids = _small_kmeans_assign(
        df, vec_col, id_col, num_centroids, seed, n_total, "list_id"
    )
    if assigned is None:
        train_cap = max(num_centroids * 200, 20_000)
        train = (
            feats.sample(fraction=min(1.0, train_cap / max(n_total, 1)), seed=seed)
            if n_total > train_cap
            else feats
        )
        km = KMeans(
            k=num_centroids, seed=seed, featuresCol="_feat", predictionCol="list_id"
        )
        model = km.fit(train)
        assigned = model.transform(feats).drop("_feat")
        centroids = [list(map(float, c)) for c in model.clusterCenters()]

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
    inverted lists, so search serves old+new data immediately; a periodic
    full rebuild (build_ivf_index) re-trains centroids like a part merge
    rebuild.  Cost is O(batch), linear in the number of lists.

    Assignment (``_with_list_id``) is one JVM pass over the batch, no
    Python."""
    reg = IndexRegistry(artifact_dir)
    rec = reg.get(name)
    if rec is None or rec.get("status") != "Built":
        raise RuntimeError(f"index {name!r} not built")
    centroids = json.load(open(rec["centroids"]))
    assigned = _with_list_id(new_df, vec_col, centroids)
    assigned.write.mode("append").partitionBy("list_id").parquet(rec["inverted"])
    reg.set_status(name, "Built")
    return reg.get(name)


def _with_list_id(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """``df`` plus ``list_id``, the index of the nearest centroid by squared
    L2.  The centroids are one ``array<array<double>>`` literal, one
    ``transform`` computes the distance to each, and
    ``array_position(d, array_min(d)) - 1`` picks the list; the distances
    are materialised once (two-level select), so the argmin does not
    recompute them.  The first minimum wins ties; NaN counts as the largest
    distance (Spark's double ordering); a NULL vector goes to list 0."""
    a = F.col(vec_col).cast("array<double>")
    cents = F.expr("array(" + ", ".join(double_array_sql(c) for c in centroids) + ")")
    d = F.transform(cents, lambda c: F.aggregate(
        F.zip_with(a, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))
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
    (partition-pruned scan), exact-ranks candidates.

    exclude_ids: a DataFrame whose first column holds ids masked out of the
    search — the lightweight-DELETE interaction (the reference feeds the
    part's deleted-rows bitmap into vector scans,
    MergeTreeVSManager.cpp filter path; our operators/mutations.py keeps
    the same mask as a table). Applied as a broadcast anti-join BEFORE the
    top-k, so deleted rows can never surface and the index needs no
    rebuild until compaction."""
    reg = IndexRegistry(artifact_dir)
    rec = reg.get(name)
    if rec is None or rec.get("status") != "Built":
        raise RuntimeError(f"index {name!r} not built (status={rec and rec.get('status')})")
    centroids = json.load(open(rec["centroids"]))
    probe = _nearest_lists(centroids, qvec, nprobe, metric)
    from myscaledb_spark.plans.frame_cache import cached_parquet

    inv = cached_parquet(spark, rec["inverted"])
    cands = inv.filter(F.col("list_id").isin(probe))  # partition pruning
    if exclude_ids is not None:
        mask = exclude_ids.select(F.col(exclude_ids.columns[0]).alias(id_col))
        cands = cands.join(F.broadcast(mask), id_col, "anti")
    return vector_topk(cands, vec_col, qvec, k, metric, where, id_col)


def ivf_recall(
    df: DataFrame,
    spark: SparkSession,
    artifact_dir: str,
    qvec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
    metric: str = "L2",
    name: str = "ivf",
) -> float:
    """recall@k of the ANN path vs the exact oracle (BASELINE.md: 'ours must
    pin recall explicitly')."""
    exact = {
        r[0]
        for r in vector_topk(df, vec_col, qvec, k, metric, None, id_col)
        .select(id_col)
        .collect()
    }
    approx = {
        r[0]
        for r in ivf_search(
            spark, artifact_dir, qvec, k, name, nprobe, metric, None, id_col, vec_col
        )
        .select(id_col)
        .collect()
    }
    return len(exact & approx) / max(len(exact), 1)
