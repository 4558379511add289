"""Similarity search over embedding columns: brute-force cosine top-k
(baseline/oracle) and LSH-bucketed / IVF scale paths; pairwise near-duplicate
detection by embedding cosine.

Scale notes: brute force is a narrow scan + TakeOrderedAndProject (fine up to
~10⁹ rows × small k as a one-off; the per-partition top-k means no full
shuffle). The random-hyperplane LSH path buckets vectors once (linear) and
probes only matching buckets — this is the 100 TB path; plans/vector_index.py
persists IVF centroids + inverted lists for repeated querying.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myscaledb_spark.functions.vector import (
    cosine_distance,
    distance,
    ip_distance,
    row_defined,
    vector_norm,
)


def cosine_topk(
    df: DataFrame, vec_col: str, qvec: Sequence[float], k: int, id_col: str
) -> DataFrame:
    """Brute-force cosine top-k (ascending cosine *distance*)."""
    scored = df.withColumn("dist", cosine_distance(vec_col, qvec))
    return scored.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no RNG library so the
    same literals can be reproduced anywhere)."""
    x = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (2**31)
            row.append((x / 2**31) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec_col: str, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-of-projection bucket id (random-hyperplane LSH for cosine)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bucket = bucket + F.when(ip_distance(vec_col, p) > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_planes: int = 4,
    n_tables: int = 4,
    seed: int = 13,
    dim: int | None = None,
) -> DataFrame:
    """OR-amplified hyperplane LSH near-dup pairs: union the blocked pairs of
    n_tables independent plane sets (recall ≈ 1-(1-p^1)^L per pair, p =
    (1-θ/π)^n_planes), dedup, similarities verified exactly per candidate.
    This is the linear-shuffle scale path; the exact O(n²) self-join is the
    small-data oracle."""
    if dim is None:
        dim = _dim_of(df, vec_col)
    out = None
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + 101 * t)
        pairs = cosine_neardup_pairs(
            df, vec_col, id_col, threshold, block_col=lsh_bucket(vec_col, planes)
        )
        out = pairs if out is None else out.unionAll(pairs)
    return out.distinct()


def _dim_of(df: DataFrame, vec_col: str) -> int:
    """Vector dimension: from the schema's element-count metadata when a
    caller stamped it, else ONE tiny probe job (r5 ADVICE: previously this
    probe ran once per LSH table — now once per call at most; callers on a
    hot path pass ``dim=`` explicitly)."""
    md = df.schema[vec_col].metadata or {}
    if "dim" in md:
        return int(md["dim"])
    row = df.select(F.size(vec_col).alias("d")).first()
    return int(row["d"])


def cosine_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    block_col: Column | None = None,
) -> DataFrame:
    """Pairs (id_a, id_b, cos_sim) with cosine similarity ≥ threshold.

    Without block_col this is the exact O(n²) self-join (small corpora /
    oracle); with block_col (e.g. an LSH bucket) the join is equi-keyed on the
    block — the linear-shuffle scale path.  Rows without a cosine (NULL,
    with a NULL element, or zero-norm: a zero divisor, DIVIDE_BY_ZERO under
    ANSI) pair with nothing and are dropped before the join.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        vector_norm(vec_col).alias("nrm"),
        *([block_col.alias("blk")] if block_col is not None else []),
    ).filter(row_defined("v", "size(v)", "Cosine"))
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col is not None:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    sim = distance("a.v", "b.v", "IP") / (F.col("a.nrm") * F.col("b.nrm"))
    # The threshold filter on the projected cos_sim would be pushed below
    # the Project into the join condition, re-evaluating the O(d) dot
    # product a second time per candidate pair (guide §7.2 duplicated
    # subtrees).  Emitting cos_sim through a single-element explode makes
    # it GENERATOR output — Catalyst cannot push a predicate referencing
    # generator output below the Generate — so the dot product runs ONCE
    # per pair.  explode(array(x)) yields exactly one row with value x
    # (including x = NULL), so results are unchanged.
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.explode(F.array(F.round(sim, 4))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
