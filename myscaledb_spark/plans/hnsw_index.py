"""Graph-based ANN index (NSW — the single-layer core of HNSW), completing
the reference's index-type sweep (HNSWFLAT/HNSWPQ/HNSWSQ,
`tests/vector_search/benchmark.py:23`; build params ef_c, m :40-42).

Shape mirrors the reference exactly: one graph PER PART (partition), built
independently (`VIBuilderUpdater::buildVIForOnePart`), searched per part with
the candidates merged globally (§3.2.4-5). Here:

  build:  rows are split by a deterministic part key (id % n_parts); each
          part's graph is constructed in one applyInPandas call — numpy NSW
          insertion (ascending id, ties by id, fixed ef_construction) so
          rebuilds are bit-identical. Adjacency + vectors persist as parquet
          partitioned by part_id.
  search: one applyInPandas per part runs a beam search (ef candidates) over
          the local graph; the global top-k is the exact-distance merge of
          per-part candidates — same two-stage merge as the reference.

The graph machinery is parameterised by the partition column and shared with
mstg_index (one graph per leaf, `leaf_id`): `graph_schema`,
`group_graph_rows` (one group's build), `build_graphs` (the applyInPandas
build) and `search_graphs` (per-group beam search or exact ranking, then the
global merge).

Beam search is Python-side by necessity (data-dependent pointer chasing is
the one workload Catalyst can't express) — but it touches only the index
artifact, never the base table, and each part's search is O(ef·M·d).
"""

from __future__ import annotations

import heapq
import json
import os
from collections.abc import Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from myscaledb_spark.plans.vector_index import IndexRegistry


def _nsw_insertions(X: np.ndarray, M: int, efc: int) -> list[list[int]]:
    """Deterministic NSW build: insert points in row order (caller pre-sorts
    by id); connect each to its M nearest among already-inserted (multi-seed
    beam), PLUS one deterministic pseudo-random long-range link — the
    small-world shortcut that makes flat graphs navigable (Kleinberg;
    HNSW gets the same effect from its upper layers). Long links are never
    truncated away (kept in a separate slot appended after the M near
    links)."""
    n = len(X)
    adj: list[list[int]] = [[] for _ in range(n)]

    def _select_diverse(point: np.ndarray, cands: list[tuple[float, int]]) -> list[int]:
        """HNSW select_neighbors_heuristic: take a candidate only if it is
        closer to the new point than to every already-selected neighbor —
        keeps links pointing in DIFFERENT directions, which is what makes
        the graph navigable in clustered data."""
        chosen: list[int] = []
        for d, p in cands:
            ok = True
            for c in chosen:
                if ((X[p] - X[c]) ** 2).sum() < d:
                    ok = False
                    break
            if ok:
                chosen.append(p)
                if len(chosen) >= M:
                    break
        # backfill with nearest skipped if diversity pruned too many
        if len(chosen) < M:
            for _, p in cands:
                if p not in chosen:
                    chosen.append(p)
                    if len(chosen) >= M:
                        break
        return chosen

    for i in range(1, n):
        cands = _beam(X, adj, X[i], ef=efc, n_nodes=i, n_seeds=4)
        nbrs = _select_diverse(X[i], cands)
        # deterministic long-range shortcut into the inserted prefix
        far = (i * 2654435761) % i if i > 1 else 0
        extra = [far] if far not in nbrs else []
        adj[i] = nbrs + extra
        for nb in nbrs:
            merged = adj[nb][:M] + [i]
            keep_long = adj[nb][M:]
            if len(merged) > M:
                d = ((X[merged] - X[nb]) ** 2).sum(axis=1)
                order = sorted(range(len(merged)), key=lambda j: (d[j], merged[j]))
                merged = [merged[j] for j in order[:M]]
            adj[nb] = merged + keep_long
    return adj


def _beam(
    X: np.ndarray,
    adj: list[list[int]],
    q: np.ndarray,
    ef: int,
    n_nodes: int | None = None,
    n_seeds: int = 1,
) -> list[tuple[float, int]]:
    """Best-first beam search. Returns [(dist, pos)] sorted by (dist, pos).
    Deterministic: heap ties resolved by position. n_seeds > 1 starts from
    evenly-spaced entry points — greedy NSW graphs have basins a single
    node-0 entry can't escape (HNSW's upper layers solve this; multi-seed is
    the flat-graph equivalent)."""
    limit = n_nodes if n_nodes is not None else len(X)
    if limit <= 0:
        return []
    # Entry-point selection ≈ HNSW's upper-layer descent: probe a small
    # evenly-spaced sample (vectorized) and start the beam from the best
    # n_seeds probes, so the search begins near the query's region instead
    # of terminating on a distant plateau.
    n_probe = min(limit, max(64, n_seeds))
    probe_pos = np.unique((np.arange(n_probe) * limit) // n_probe)
    pd_ = ((X[probe_pos] - q) ** 2).sum(axis=1)
    order = np.lexsort((probe_pos, pd_))
    seeds = sorted({int(probe_pos[j]) for j in order[: max(n_seeds, 1)]})
    visited = set(seeds)
    cand = []
    best: list[tuple[float, int]] = []
    for s in seeds:
        ds = float(((X[s] - q) ** 2).sum())
        heapq.heappush(cand, (ds, s))
        heapq.heappush(best, (-ds, s))
    while len(best) > ef:
        heapq.heappop(best)
    while cand:
        d, p = heapq.heappop(cand)
        if len(best) >= ef and d > -best[0][0]:
            break
        for nb in adj[p]:
            if nb >= limit or nb in visited:
                continue
            visited.add(nb)
            dn = float(((X[nb] - q) ** 2).sum())
            if len(best) < ef or dn < -best[0][0]:
                heapq.heappush(cand, (dn, nb))
                heapq.heappush(best, (-dn, nb))
                if len(best) > ef:
                    heapq.heappop(best)
    out = sorted(((-nd, p) for nd, p in best), key=lambda t: (t[0], t[1]))
    return out


def graph_schema(part_col: str) -> StructType:
    """Stored graph rows: one NSW graph per ``part_col`` group, ``pos`` the
    insertion position within it, ``neighbors`` as positions."""
    return StructType(
        [
            StructField(part_col, IntegerType()),
            StructField("pos", IntegerType()),
            StructField("node_id", LongType()),
            StructField("vec", ArrayType(DoubleType())),
            StructField("neighbors", ArrayType(IntegerType())),
        ]
    )


def group_graph_rows(
    part, node_ids: list, vecs: list, m: int, ef_construction: int
) -> list[tuple]:
    """One group's graph rows (part, pos, node_id, vec, neighbors): members
    are inserted in ascending node id (a stable sort), so a rebuild is
    bit-identical whatever order the rows arrive in."""
    order = sorted(range(len(node_ids)), key=node_ids.__getitem__)
    adj = _nsw_insertions(
        np.array([vecs[j] for j in order], dtype=np.float64), m, ef_construction
    )
    return [(part, pos, node_ids[j], vecs[j], adj[pos]) for pos, j in enumerate(order)]


def build_graphs(keyed: DataFrame, part_col: str, m: int, ef_construction: int) -> DataFrame:
    """Graph rows of ``keyed`` (``part_col``, node_id, vec): one NSW graph
    per ``part_col`` group, each built in one applyInPandas call."""
    schema = graph_schema(part_col)

    def _build(pdf):
        import pandas as pd

        rows = group_graph_rows(
            pdf[part_col].iloc[0], pdf["node_id"].tolist(), pdf["vec"].tolist(),
            m, ef_construction,
        )
        return pd.DataFrame(rows, columns=schema.names)

    return keyed.groupBy(part_col).applyInPandas(_build, schema)


def search_graphs(
    graph: DataFrame,
    part_col: str,
    qvec: Sequence[float],
    k: int,
    ef_search: int,
    id_col: str,
    n_seeds: int,
    exhaustive: bool,
) -> DataFrame:
    """Top-k over stored graph rows: a beam search (ef candidates) per
    ``part_col`` group, then the global exact merge of the per-group
    candidates (reference §3.2.4-5) → (``id_col``, dist).

    exhaustive=True replaces the beam with an exact native distance ranking
    over every row of ``graph`` — equal to brute force by construction,
    giving the artifact path (build → partitioned graph storage → read →
    rank) a bit-exact oracle.  The distance is the same JVM expression as
    vector_topk, so the double association order matches the DuckDB oracle
    exactly — numpy's pairwise summation in the beam path would not."""
    if exhaustive:
        from myscaledb_spark.operators.topk import vector_topk

        out = vector_topk(graph, "vec", list(map(float, qvec)), k, "L2", None, "node_id")
        return out.withColumnRenamed("node_id", id_col).select(id_col, "dist")
    q = np.asarray(qvec, dtype=np.float64)
    ef = max(ef_search, k)
    out_schema = StructType(
        [StructField("node_id", LongType()), StructField("dist", DoubleType())]
    )

    def _search(pdf):
        import pandas as pd

        pdf = pdf.sort_values("pos").reset_index(drop=True)
        X = np.array(pdf["vec"].tolist(), dtype=np.float64)
        adj = [list(a) for a in pdf["neighbors"]]
        found = _beam(X, adj, q, ef, n_seeds=n_seeds)
        ids = pdf["node_id"].to_numpy()
        return pd.DataFrame(
            {
                "node_id": [ids[p] for _, p in found],
                "dist": [np.sqrt(d) for d, _ in found],
            }
        )

    cands = graph.groupBy(part_col).applyInPandas(_search, out_schema)
    return (
        cands.orderBy(F.col("dist").asc(), F.col("node_id").asc())
        .limit(k)
        .withColumnRenamed("node_id", id_col)
    )


def build_hnsw_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    artifact_dir: str,
    name: str = "hnsw",
    m: int = 8,
    ef_construction: int = 32,
    n_parts: int = 4,
) -> dict:
    reg = IndexRegistry(artifact_dir)
    reg.set_status(
        name, "InProgress", column=vec_col, index_type="HNSWFLAT",
        params={"m": m, "ef_c": ef_construction, "n_parts": n_parts},
    )
    n_rows = df.count()
    if n_rows < 2:
        # index declared before data exists: exact FLAT stand-in
        reg.set_status(name, "Built", column=vec_col, index_type="FLAT", metric="L2")
        return reg.get(name)

    # Cap rows per graph part: each part is ONE Arrow group buffered by one
    # executor (applyInPandas), so an unbounded part OOMs the JVM on big
    # builds (a 500k x 768-dim reference stress script kills a 16 GB heap at
    # n_parts=4).  Small per-part graphs are also the 100 TB shape — build
    # parallelism scales with parts, and search probes parts concurrently.
    max_part_rows = 8192
    n_parts = max(n_parts, -(-n_rows // max_part_rows))
    reg.set_status(
        name, "InProgress", column=vec_col, index_type="HNSWFLAT",
        params={"m": m, "ef_c": ef_construction, "n_parts": n_parts},
    )

    keyed = df.select(
        (F.col(id_col) % n_parts).cast("int").alias("part_id"),
        F.col(id_col).alias("node_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    graph = build_graphs(keyed, "part_id", m, ef_construction)
    base = os.path.join(artifact_dir, name)
    graph.write.mode("overwrite").partitionBy("part_id").parquet(
        os.path.join(base, "graph")
    )
    os.makedirs(base, exist_ok=True)
    json.dump({"m": m, "ef_c": ef_construction, "n_parts": n_parts},
              open(os.path.join(base, "meta.json"), "w"))
    reg.set_status(name, "Built", base=base)
    return reg.get(name)


def hnsw_search(
    spark: SparkSession,
    artifact_dir: str,
    qvec: Sequence[float],
    k: int,
    name: str = "hnsw",
    ef_search: int = 50,
    id_col: str = "vec_id",
    n_seeds: int = 4,
    exhaustive: bool = False,
) -> DataFrame:
    """Per-part beam search → global exact merge (``search_graphs``;
    exhaustive=True ranks every stored row exactly — the bit-exact oracle;
    the beam path stays the approximate default)."""
    rec = IndexRegistry(artifact_dir).built(name)
    from myscaledb_spark.plans.frame_cache import cached_parquet

    graph = cached_parquet(spark, os.path.join(rec["base"], "graph"))
    return search_graphs(graph, "part_id", qvec, k, ef_search, id_col, n_seeds, exhaustive)
