"""Scalar-quantization (SQ) index — the int8 compressed-vector variant the
reference ships as IVFSQ / HNSWSQ (`tests/vector_search/benchmark.py:23`,
`tests/queries/2_vector_search/00034_mqvs_vector_index_parameter_check.sh:93`).

Layout: one pass computes global per-dimension [min, max] (d aggregate
expressions — no shuffle beyond the final merge); every vector is stored as
d uint8 codes `round((v - min) / (max - min) * 255)` plus the original
vector for exact re-rank. Compression vs float32: 4× (vs PQ's 32× — SQ is
the cheap high-recall option users actually pick first).

Search: approximate distance on the DEQUANTIZED codes as a pure JVM
zip_with/aggregate expression with the per-dim dequantization constants
folded into literals (whole-stage codegen, no Python stage — the candidate
scan is a FileScan + TakeOrderedAndProject over 4×-smaller rows), top
(k × multiple) candidates, exact re-rank on stored vectors → top-k — the
two-stage tail and the codes writer are pq_index's `exact_rerank` and
`write_codes`. With candidates ≥ corpus the re-rank is provably exact,
which is how the gate entry gets a bit-exact oracle.

At 100 TB: the codes table is the scan target (4× less IO), the min/max
stats are a single tiny artifact, encoding is one mapInPandas pass.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myscaledb_spark.functions.vector import distance_sql, double_array_sql, vector_sql
from myscaledb_spark.plans.pq_index import exact_rerank, write_codes
from myscaledb_spark.plans.vector_index import IndexRegistry


def build_sq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    artifact_dir: str,
    name: str = "sq",
    bits: int = 8,
) -> dict:
    """Compute per-dim min/max distributed, encode all vectors to intN codes."""
    reg = IndexRegistry(artifact_dir)
    reg.set_status(
        name, "InProgress", column=vec_col, index_type="SQ", params={"bits": bits}
    )
    levels = (1 << bits) - 1  # 255 for int8

    first = df.select(vec_col).first()
    if first is None:
        # index declared before data exists: exact FLAT stand-in
        reg.set_status(name, "Built", column=vec_col, index_type="FLAT", metric="L2")
        return reg.get(name)
    d = len(first[0])
    # per-dimension min/max in ONE aggregation pass (2d agg expressions, no
    # explode shuffle — element_at is a cheap projection)
    aggs = []
    for i in range(d):
        e = F.element_at(F.col(vec_col), i + 1).cast("double")
        aggs += [F.min(e).alias(f"lo{i}"), F.max(e).alias(f"hi{i}")]
    stats = df.agg(*aggs).first()
    lo = np.array([stats[f"lo{i}"] for i in range(d)], dtype=np.float64)
    hi = np.array([stats[f"hi{i}"] for i in range(d)], dtype=np.float64)
    span = np.where(hi > lo, hi - lo, 1.0)  # constant dims encode to 0

    base = os.path.join(artifact_dir, name)
    os.makedirs(base, exist_ok=True)
    json.dump(
        {"d": d, "bits": bits, "lo": lo.tolist(), "hi": hi.tolist()},
        open(os.path.join(base, "sq_stats.json"), "w"),
    )

    def _encode(V):
        return np.rint((V - lo) / span * levels).clip(0, levels).astype(np.int32)

    write_codes(df, vec_col, id_col, "sq_id", _encode, os.path.join(base, "codes"))

    reg.set_status(name, "Built", base=base)
    return reg.get(name)


def sq_search(
    spark: SparkSession,
    artifact_dir: str,
    qvec: Sequence[float],
    k: int,
    name: str = "sq",
    candidate_multiple: int = 3,
    metric: str = "L2",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage search: dequantized scoring → exact re-rank (the reference's
    two-stage path for SQ-compressed indexes, MergeTreeVSManager.cpp:443-456)."""
    rec = IndexRegistry(artifact_dir).built(name)
    meta = json.load(open(os.path.join(rec["base"], "sq_stats.json")))
    lo = np.array(meta["lo"], dtype=np.float64)
    hi = np.array(meta["hi"], dtype=np.float64)
    levels = (1 << meta["bits"]) - 1
    span = np.where(hi > lo, hi - lo, 1.0)
    q = np.asarray(qvec, dtype=np.float64)

    from myscaledb_spark.plans.frame_cache import cached_parquet

    codes_df = cached_parquet(spark, os.path.join(rec["base"], "codes"))

    # Dequantized distance as a PURE JVM expression (whole-stage codegen, no
    # Arrow transfer):  dist = Σ_i (lo_i + c_i·span_i/levels − q_i)²
    #                        = Σ_i (c_i·a_i − b_i)²
    # with per-dim constants a_i = span_i/levels, b_i = q_i − lo_i folded
    # into literal arrays. The candidate stage then compiles to a scan +
    # TakeOrderedAndProject — the same shape as the exact brute-force path,
    # over 4×-smaller rows.
    scaled = (f"zip_with({vector_sql('codes')}, {double_array_sql(span / levels)}, "
              "(c, a) -> c * a)")
    approx = F.expr(distance_sql("L2Squared", scaled, double_array_sql(q - lo)))
    return exact_rerank(codes_df, "sq_id", approx, q, k, candidate_multiple, metric, id_col)
