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

Design: every distance is a Catalyst expression built from higher-order
array functions (``zip_with`` + ``aggregate``) parsed from one kernel of
Spark SQL text (``KERNEL``), which the SQL dialect's distance functions,
batch_distance, IVF and SQ assignment and the cosine near-dup join share.
It stays JVM-side with no Python row boundary, and the surrounding
filter/topk plan keeps predicate pushdown; higher-order functions run
interpreted, outside whole-stage codegen.  Math is done in DOUBLE
regardless of the (float32) storage type so results are reproducible
across engines and partitionings.
"""

from __future__ import annotations

import math
import re
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


def column_sql(name: str) -> str:
    """SQL text of the column ``F.col(name)`` reads: every dot-separated
    part back-quoted, so a qualified ``a.v`` stays qualified and a
    back-quoted part keeps its dots."""
    parts = re.findall(r"`((?:[^`]|``)*)`|([^.`]+)", name)
    return ".".join(f"`{quoted or plain}`" for quoted, plain in parts)


# ---------------------------------------------------------------------------
# The kernel: one fold per metric, as Spark SQL text over two operand slots,
# {0} the row vector and {1} the query vector, both array<double>.  Cosine
# divides by the query's norm in slot {2}.  It is text because the SQL
# dialect emits text; the Column builders below parse the same text with
# F.expr.  Every fold is sequential, left to right from 0.0, so a numpy or
# Python loop in the same order reproduces it bit for bit.
# ---------------------------------------------------------------------------


def _fold(term: str, step: str = "acc + v") -> str:
    return ("aggregate(zip_with({0}, {1}, (x, y) -> " + term
            + "), cast(0.0 as double), (acc, v) -> " + step + ")")


def _self_fold(step: str) -> str:
    return "aggregate({0}, cast(0.0 as double), (acc, v) -> " + step + ")"


KERNEL: dict[str, str] = {
    "L2Squared": _fold("(x - y) * (x - y)"),
    "IP": _fold("x * y"),
    "L1": _fold("abs(x - y)"),
    "Linf": _fold("abs(x - y)", "greatest(acc, v)"),
    "L2Norm": "sqrt(" + _self_fold("acc + v * v") + ")",
    "L1Norm": _self_fold("acc + abs(v)"),
}
KERNEL["L2"] = "sqrt(" + KERNEL["L2Squared"] + ")"
KERNEL["Cosine"] = "(1.0 - " + KERNEL["IP"] + " / (" + KERNEL["L2Norm"] + " * {2}))"

_CANONICAL = {m.lower(): m for m in METRICS}


def canonical_metric(metric: str) -> str:
    try:
        return _CANONICAL[metric.lower()]
    except KeyError:
        raise UnknownMetric(f"metric must be one of {METRICS}, got {metric!r}") from None


def distance_sql(metric: str, row: str, query: str, query_norm_sql: str | None = None) -> str:
    """The kernel's ``metric`` fold (a name of ``KERNEL``) with the SQL
    texts ``row`` and ``query`` in its operand slots.  Cosine's query norm
    is ``query_norm_sql`` when the caller folded it already, else the L2
    norm fold over ``query``."""
    if query_norm_sql is None:
        query_norm_sql = KERNEL["L2Norm"].format(query)
    return KERNEL[metric].format(row, query, query_norm_sql)


def query_norm(qvec: Sequence[float]) -> float:
    """‖qvec‖ folded in Python in the kernel's order: bit-identical to the
    kernel's L2 norm fold over the same vector."""
    return math.sqrt(sum(float(x) * float(x) for x in qvec))


def vector_sql(col: str) -> str:
    """The kernel's operand for the column named ``col``: ``array<double>``."""
    return f"cast({column_sql(col)} as array<double>)"


def _operands(col: str, qvec: Sequence[float] | str) -> tuple[str, str, str]:
    """(row, query, query norm) SQL texts for a literal query (its norm
    folded in Python), or for the query column named ``qvec`` (its norm the
    kernel's fold)."""
    if isinstance(qvec, str):
        query = vector_sql(qvec)
        return vector_sql(col), query, KERNEL["L2Norm"].format(query)
    return vector_sql(col), double_array_sql(qvec), _double_sql(query_norm(qvec))


def distance(col: str, qvec: Sequence[float] | str, metric: str = "L2") -> Column:
    """The reference's ``distance(vec_col, [q...])`` as a column expression
    over the column named ``col``; ``qvec`` is a literal query or the name
    of a query column.

    Metric resolution mirrors `MergeTreeSettings.h:183` (table-level
    ``vector_search_metric_type``); dispatch mirrors
    `src/VectorIndex/Storages/MergeTreeVSManager.cpp:340-470`.
    """
    return F.expr(distance_sql(canonical_metric(metric), *_operands(col, qvec)))


def l2_distance(col: str, qvec: Sequence[float]) -> Column:
    return distance(col, qvec, "L2")


def l2_squared_distance(col: str, qvec: Sequence[float]) -> Column:
    return distance(col, qvec, "L2Squared")


def l1_distance(col: str, qvec: Sequence[float]) -> Column:
    return distance(col, qvec, "L1")


def linf_distance(col: str, qvec: Sequence[float]) -> Column:
    return distance(col, qvec, "Linf")


def ip_distance(col: str, qvec: Sequence[float]) -> Column:
    """Inner product 'distance' — larger is better; ORDER BY ... DESC."""
    return distance(col, qvec, "IP")


def cosine_distance(col: str, qvec: Sequence[float]) -> Column:
    """Cosine *distance* = 1 - cos_sim (reference metric 'Cosine'; ASC order)."""
    return distance(col, qvec, "Cosine")


def vector_norm(col: str, p: int = 2) -> Column:
    """arrayNorm (src/Functions/array/arrayDistance.cpp arrayL2Norm etc.)."""
    if p not in (1, 2):
        raise ValueError(f"unsupported norm order {p}")
    return F.expr(KERNEL[f"L{p}Norm"].format(vector_sql(col)))


def row_defined(col: str, dim: int | str, metric: str = "L2") -> Column:
    """The row side of ``distance_defined``: rows of ``col`` that have a
    ``metric`` distance to some query of ``dim`` elements (``dim`` an int
    or SQL text)."""
    return F.expr(_row_rule(col, dim, canonical_metric(metric)))


def _row_rule(col: str, dim: int | str, m: str) -> str:
    name = column_sql(col)
    if m == "Linf":
        return f"{name} IS NOT NULL"
    rule = f"{name} IS NOT NULL AND size({name}) = {dim} AND NOT exists({name}, x -> x IS NULL)"
    if m == "Cosine":
        rule += f" AND exists({vector_sql(col)}, x -> x * x != 0.0)"
    return rule


def distance_defined(col: str, qvec: Sequence[float] | str, metric: str = "L2") -> Column:
    """Predicate equivalent to ``distance(col, qvec, metric).isNotNull()``
    at a fraction of the cost: the one rule for which rows have a distance,
    for a literal query and for a query column alike (same arguments as
    ``distance``).

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
    NULL.  Cosine divides by ``sqrt(na) * ‖q‖`` (``na`` the row's sum of
    squares); where that is 0 the distance is undefined (NULL in non-ANSI
    sessions, which sorts FIRST ascending; DIVIDE_BY_ZERO under ANSI).  A
    row is kept when some ``x * x`` is non-zero, which is exactly
    ``na != 0`` (a sum of non-negative terms), and a query when its norm is
    non-zero.  Together they are exactly a non-zero divisor: a non-zero sum
    of squares is at least 4.9e-324, so both roots are at least 2.2e-162
    and their product rounds to at least 4.9e-324.  Equivalence is pinned
    by tests/test_vector_search.py."""
    m = canonical_metric(metric)
    if isinstance(qvec, str):
        query = vector_sql(qvec)
        rule = _row_rule(col, f"size({query})", m)
        if m == "Cosine":
            rule += f" AND {KERNEL['L2Norm'].format(query)} != 0.0"
        return F.expr(rule)
    if m == "Cosine" and query_norm(qvec) == 0.0:
        return F.lit(False)
    return F.expr(_row_rule(col, len(qvec), m))


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
    "KERNEL",
    "column_sql",
    "distance_sql",
    "double_array_sql",
    "query_norm",
    "vector_sql",
    "distance",
    "distance_defined",
    "row_defined",
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
