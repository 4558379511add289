"""Vector distance functions as *native Spark column expressions*.

Reference parity:
  - ``distance(vec_col, query_vec)`` with metric L2 / Cosine / IP —
    `src/VectorIndex/Utils/CommonUtils.h:30-98` (function names & dispatch),
    `src/Storages/MergeTree/MergeTreeSettings.h:183` (metric setting),
    brute-force kernels `src/VectorIndex/Common/BruteForceSearch.h`.
  - ``arrayDistance`` family (L1/L2/L2Squared/Linf/Cosine), ``arrayNorm``,
    ``arrayDotProduct`` — `src/Functions/array/arrayDistance.cpp:25-164`.
  - Binary vectors: Hamming / Jaccard over FixedString(N) bit vectors —
    `src/VectorIndex/Utils/CommonUtils.cpp:86-96`, test
    `tests/queries/2_vector_search/00038_mqvs_binary_vector.*`.

Design: everything here is a Catalyst expression built from higher-order
array functions (``zip_with`` + ``aggregate``), so distance computation stays
JVM-side inside whole-stage codegen — no Python row boundary, vectorized by
Tungsten, and the surrounding filter/topk plan keeps predicate pushdown.
Math is done in DOUBLE regardless of the (float32) storage type so results
are reproducible across engines and partitionings.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from myscaledb_spark.errors import UnknownMetric

METRICS = ("L2", "L2Squared", "Cosine", "IP", "L1", "Linf")
# Binary-vector metrics (reference: BinaryFLAT index, Hamming/Jaccard)
BINARY_METRICS = ("Hamming", "Jaccard")

# ORDER BY direction required per metric (reference checks this:
# tests/queries/2_vector_search/00027_mqvs_check_order_by_for_metric_type.sql)
#  ascending=True  → smaller is closer (L2, Cosine distance, Hamming, ...)
#  ascending=False → larger is better (IP / inner product)
METRIC_ASCENDING = {
    "L2": True,
    "L2Squared": True,
    "Cosine": True,
    "L1": True,
    "Linf": True,
    "IP": False,
    "Hamming": True,
    "Jaccard": True,
}


def _as_double_array(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("array<double>")


def _double_sql(x: float) -> str:
    """A SQL double literal that parses back to exactly ``x``: ``repr`` is
    the shortest round-tripping decimal; NaN and ±inf have no literal form."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def double_array_sql(values: Sequence[float]) -> str:
    """SQL text of an ``array<double>`` literal holding ``values``."""
    return "array(" + ", ".join(_double_sql(x) for x in values) + ")"


def _query_literal(qvec: Sequence[float]) -> Column:
    # one parsed expression, one JVM call: F.array(*F.lit(...)) costs two
    # py4j round trips per component (~33 ms for a 64-d query)
    return F.expr(double_array_sql(qvec))


def l2_squared_distance(col: Column | str, qvec: Sequence[float]) -> Column:
    a, q = _as_double_array(col), _query_literal(qvec)
    return F.aggregate(
        F.zip_with(a, q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_distance(col: Column | str, qvec: Sequence[float]) -> Column:
    return F.sqrt(l2_squared_distance(col, qvec))


def l1_distance(col: Column | str, qvec: Sequence[float]) -> Column:
    a, q = _as_double_array(col), _query_literal(qvec)
    return F.aggregate(
        F.zip_with(a, q, lambda x, y: F.abs(x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def linf_distance(col: Column | str, qvec: Sequence[float]) -> Column:
    a, q = _as_double_array(col), _query_literal(qvec)
    return F.aggregate(
        F.zip_with(a, q, lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )


def ip_distance(col: Column | str, qvec: Sequence[float]) -> Column:
    """Inner product 'distance' — larger is better; ORDER BY ... DESC."""
    a, q = _as_double_array(col), _query_literal(qvec)
    return F.aggregate(
        F.zip_with(a, q, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def vector_norm(col: Column | str, p: int = 2) -> Column:
    """arrayNorm (src/Functions/array/arrayDistance.cpp arrayL2Norm etc.)."""
    a = _as_double_array(col)
    if p == 2:
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    if p == 1:
        return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + F.abs(v))
    raise ValueError(f"unsupported norm order {p}")


def cosine_distance(col: Column | str, qvec: Sequence[float]) -> Column:
    """Cosine *distance* = 1 - cos_sim (reference metric 'Cosine'; ASC order).

    Query-side norm is folded to a Python constant; the row side computes dot
    and self-norm in a single array traversal via a struct accumulator.
    """
    a, q = _as_double_array(col), _query_literal(qvec)
    qnorm = math.sqrt(sum(float(x) * float(x) for x in qvec))
    zero = F.struct(F.lit(0.0).alias("dot"), F.lit(0.0).alias("na"))
    pairs = F.zip_with(a, q, lambda x, y: F.struct(x.alias("x"), y.alias("y")))
    return F.aggregate(
        pairs,
        zero,
        lambda acc, p: F.struct(
            (acc["dot"] + p["x"] * p["y"]).alias("dot"),
            (acc["na"] + p["x"] * p["x"]).alias("na"),
        ),
        lambda acc: F.lit(1.0) - acc["dot"] / (F.sqrt(acc["na"]) * F.lit(qnorm)),
    )


def distance_defined(
    col: Column | str, qvec: Sequence[float], metric: str = "L2"
) -> Column:
    """Predicate equivalent to ``distance(col, qvec, metric).isNotNull()``
    at a fraction of the cost.

    Rationale (optimization guide §7.2 "duplicated subtrees"): filtering on
    ``isnotnull(dist)`` after projecting the distance makes Catalyst push the
    filter below the Project and RE-SUBSTITUTE the whole aggregate/zip_with
    expression into the filter condition — the O(d) distance is then
    evaluated twice per row (and higher-order functions run interpreted,
    outside whole-stage codegen, so nothing de-duplicates them).  The
    distance of the sum-accumulator metrics (L2/L2Squared/L1/IP/Cosine) is
    NULL exactly when the array is NULL, has a different length than the
    query (zip_with pads with NULL), or contains a NULL element — all
    checkable with O(1)/O(d) primitives.  Linf folds NULL elements away
    (``greatest`` skips NULLs), so its distance is NULL iff the column is
    NULL.  Cosine additionally divides by the row/query norms, so a
    zero-norm row vector (or query vector) makes the distance undefined
    (NULL in non-ANSI sessions — which would sort FIRST ascending and
    displace a real neighbor): require a nonzero element row-side and
    return an all-false predicate when the query norm is zero, matching
    the old isNotNull(dist) guard's drop behavior (r10 ADVICE, high).
    Equivalence is pinned by tests/test_opt_r10.py."""
    c = F.col(col) if isinstance(col, str) else col
    if metric.lower() == "linf":
        return c.isNotNull()
    base = (
        c.isNotNull()
        & (F.size(c) == len(qvec))
        & ~F.exists(c, lambda x: x.isNull())
    )
    if metric.lower() == "cosine":
        if not any(float(x) != 0.0 for x in qvec):
            return F.lit(False)
        base = base & F.exists(c, lambda x: x != 0.0)
    return base


def distance(col: Column | str, qvec: Sequence[float], metric: str = "L2") -> Column:
    """The reference's ``distance(vec_col, [q...])`` as a column expression.

    Metric resolution mirrors `MergeTreeSettings.h:183` (table-level
    ``vector_search_metric_type``); dispatch mirrors
    `src/VectorIndex/Storages/MergeTreeVSManager.cpp:340-470`.
    """
    m = metric.lower()
    if m == "l2":
        return l2_distance(col, qvec)
    if m == "l2squared":
        return l2_squared_distance(col, qvec)
    if m == "cosine":
        return cosine_distance(col, qvec)
    if m == "ip":
        return ip_distance(col, qvec)
    if m == "l1":
        return l1_distance(col, qvec)
    if m == "linf":
        return linf_distance(col, qvec)
    raise UnknownMetric(f"metric must be one of {METRICS}, got {metric!r}")


# ---------------------------------------------------------------------------
# Binary vectors (FixedString(N) in the reference = BinaryType here; dimension
# is N*8 bits, CommonUtils.cpp:86-96). Hamming = popcount(xor); Jaccard =
# 1 - popcount(and)/popcount(or) over the bitstrings.
#
# Stays JVM-side with no UDF: hex(binary) → 7-byte (14 hex char) chunks →
# conv(chunk,16,10) bigint → xor/and/or with the query chunk → bit_count,
# summed with a higher-order aggregate. 7-byte chunks keep conv() inside
# signed-long range.
# ---------------------------------------------------------------------------

_CHUNK_HEX = 14  # 7 bytes per chunk → max value 2^56-1, safe in signed long


def _bit_chunks(col: Column | str, qbytes: bytes):
    """Yield (row_chunk_col, query_chunk_int) bigint pairs covering the vector."""
    col = F.col(col) if isinstance(col, str) else col
    hx = F.hex(col)
    qhex = qbytes.hex().upper()
    out = []
    for off in range(0, len(qhex), _CHUNK_HEX):
        qchunk = int(qhex[off : off + _CHUNK_HEX], 16)
        rchunk = F.conv(F.substring(hx, off + 1, _CHUNK_HEX), 16, 10).cast("long")
        out.append((rchunk, qchunk))
    return out


def hamming_distance(col: Column | str, qbytes: bytes) -> Column:
    """popcount(col XOR q) for BinaryType bit-vectors; ASC ordering."""
    total = F.lit(0).cast("long")
    for rchunk, qchunk in _bit_chunks(col, qbytes):
        total = total + F.bit_count(rchunk.bitwiseXOR(F.lit(qchunk)))
    return total


def jaccard_distance(col: Column | str, qbytes: bytes) -> Column:
    """1 - |a AND b| / |a OR b| for BinaryType bit-vectors; ASC ordering."""
    inter = F.lit(0).cast("long")
    union = F.lit(0).cast("long")
    for rchunk, qchunk in _bit_chunks(col, qbytes):
        inter = inter + F.bit_count(rchunk.bitwiseAND(F.lit(qchunk)))
        union = union + F.bit_count(rchunk.bitwiseOR(F.lit(qchunk)))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - inter.cast("double") / union.cast("double")
    )


__all__ = [
    "METRICS",
    "BINARY_METRICS",
    "METRIC_ASCENDING",
    "distance",
    "distance_defined",
    "l2_distance",
    "l2_squared_distance",
    "l1_distance",
    "linf_distance",
    "cosine_distance",
    "ip_distance",
    "vector_norm",
    "hamming_distance",
    "jaccard_distance",
]
