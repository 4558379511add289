"""Product-quantization index — the compressed-vector search family
(IVFPQ / HNSWPQ in the reference's index sweep, `tests/vector_search/
benchmark.py:23,38-42`; pq_m build param).

Layout: vectors are split into m subspaces; each subspace gets a ks-entry
codebook (numpy k-means, deterministic seed, trained on a bounded sample —
like the reference's `max_build_index_train_block_size` capped training,
Settings.h:118); every vector is stored as m uint8 codes (+ the original
vector for exact re-rank, mirroring the reference's two-stage search).

Search = ADC (asymmetric distance computation): one (m × ks) lookup table of
query-to-centroid partial distances folded into a literal array, then
candidate scoring is m element_at lookups per row as a pure JVM
transform/aggregate expression over the codes parquet (no Python stage in
the query path). Top (k × multiple) candidates re-rank exactly → top-k
(`exact_rerank`, the two-stage tail sq_index shares, as it shares the codes
table writer `write_codes`). Compression ratio vs float32: d·4 / m bytes
(64-dim → 8 codes = 32×).

At 100 TB the codes table is what gets scanned (32× less IO than raw
vectors); training stays bounded; encoding is an embarrassingly parallel
one-pass mapInPandas.
"""

from __future__ import annotations

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

from myscaledb_spark.operators.topk import vector_topk
from myscaledb_spark.plans.vector_index import IndexRegistry, _kmeans_np

TRAIN_SAMPLE_CAP = 50_000  # ≈ reference max train block (Settings.h:118)


def write_codes(
    df: DataFrame, vec_col: str, id_col: str, id_name: str, encode, path: str
) -> None:
    """The codes table of a compressed index: one mapInPandas pass stores
    each vector's ``encode(V)`` codes (an int matrix, one row per vector)
    next to the vector itself, keyed by ``id_name`` — shared by PQ
    (``pq_id``) and SQ (``sq_id``)."""

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    id_name: pdf[id_col].astype("int64"),
                    "codes": list(encode(V)),
                    "vec": list(V),
                }
            )

    schema = StructType(
        [
            StructField(id_name, LongType()),
            StructField("codes", ArrayType(IntegerType())),
            StructField("vec", ArrayType(DoubleType())),
        ]
    )
    df.select(id_col, vec_col).mapInPandas(_encode, schema).write.mode(
        "overwrite"
    ).parquet(path)


def exact_rerank(
    codes_df: DataFrame,
    id_name: str,
    approx,
    qvec: Sequence[float],
    k: int,
    candidate_multiple: int,
    metric: str,
    id_col: str,
) -> DataFrame:
    """The two-stage tail of PQ and SQ search (MergeTreeVSManager.cpp:443-456):
    the top ``k × candidate_multiple`` rows by the ``approx`` compressed
    distance (ties by id), joined back to their stored vectors and re-ranked
    exactly by ``vector_topk`` → (``id_col``, dist)."""
    ncand = max(k * candidate_multiple, k)
    cands = (
        codes_df.select(id_name, approx.alias("approx"))
        .orderBy(F.col("approx").asc(), F.col(id_name).asc())
        .limit(ncand)
    )
    joined = cands.join(codes_df.select(id_name, "vec"), id_name)
    exact = vector_topk(joined, "vec", list(qvec), k, metric, None, id_name)
    return exact.select(F.col(id_name).alias(id_col), "dist")


def build_pq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    artifact_dir: str,
    name: str = "pq",
    m: int = 8,
    ks: int = 16,
    seed: int = 42,
) -> dict:
    """Train codebooks on a bounded sample, encode all vectors, persist."""
    reg = IndexRegistry(artifact_dir)
    reg.set_status(
        name, "InProgress", column=vec_col, index_type="PQFLAT",
        params={"pq_m": m, "ks": ks},
    )

    n_total = df.count()
    if n_total < 2:
        # index declared before data exists: exact FLAT stand-in
        reg.set_status(name, "Built", column=vec_col, index_type="FLAT", metric="L2")
        return reg.get(name)
    frac = min(1.0, TRAIN_SAMPLE_CAP / max(n_total, 1))
    sample = (
        df.select(vec_col).sample(fraction=frac, seed=seed).collect()
        if frac < 1.0
        else df.select(vec_col).collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by pq_m {m}")
    sub = d // m
    codebooks = np.stack(
        [
            _kmeans_np(X[:, j * sub : (j + 1) * sub], ks, seed + j)
            for j in range(m)
        ]
    )  # (m, ks', sub) — ks' ≤ ks if sample small

    cb_list = codebooks.tolist()
    base = os.path.join(artifact_dir, name)
    os.makedirs(base, exist_ok=True)
    json.dump({"m": m, "ks": ks, "sub": sub, "codebooks": cb_list},
              open(os.path.join(base, "codebooks.json"), "w"))

    def _encode(V):
        codes = np.empty((len(V), m), dtype=np.int32)
        for j in range(m):
            sv = V[:, j * sub : (j + 1) * sub]
            d2 = ((sv[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return codes

    write_codes(df, vec_col, id_col, "pq_id", _encode, os.path.join(base, "codes"))

    reg.set_status(name, "Built", base=base)
    return reg.get(name)


def pq_search(
    spark: SparkSession,
    artifact_dir: str,
    qvec: Sequence[float],
    k: int,
    name: str = "pq",
    candidate_multiple: int = 3,
    metric: str = "L2",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage ADC search: compressed scoring → exact re-rank (mirrors
    MergeTreeVSManager.cpp:443-456 two-stage for PQ-like indexes)."""
    rec = IndexRegistry(artifact_dir).built(name)
    meta = json.load(open(os.path.join(rec["base"], "codebooks.json")))
    m, sub = meta["m"], meta["sub"]
    CB = np.array(meta["codebooks"], dtype=np.float64)  # (m, ks, sub)
    q = np.asarray(qvec, dtype=np.float64)
    # ADC lookup table: squared distance from each query subvector to each code
    lut = np.stack(
        [((CB[j] - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1) for j in range(m)]
    )  # (m, ks)

    from myscaledb_spark.plans.frame_cache import cached_parquet

    codes_df = cached_parquet(spark, os.path.join(rec["base"], "codes"))

    # ADC as a PURE JVM expression: the (m × ks) lookup table is a tiny
    # literal array (e.g. 8×16 = 128 doubles), and the per-row score is
    # adc = Σ_j LUT[j·ks + code_j] — a transform(element_at) + aggregate
    # over the m-length codes array. No Python stage, no Arrow transfer;
    # the candidate stage is FileScan + TakeOrderedAndProject.
    ks = lut.shape[1]
    lut_flat = F.array(*[F.lit(float(v)) for v in lut.ravel()])
    # two-arg transform lambda = (element, index): index picks the subspace
    picks = F.transform(
        F.col("codes"), lambda c, i: F.element_at(lut_flat, i * ks + c + 1)
    )
    adc = F.aggregate(picks, F.lit(0.0), lambda acc, v: acc + v)
    return exact_rerank(codes_df, "pq_id", adc, q, k, candidate_multiple, metric, id_col)
