"""Driver-resident snapshots of small corpora: searches answered in numpy.

Reference analog: the engine answers searches from structures it keeps in
memory — VICacheManager (src/VectorIndex/Cache/VICacheManager.cpp) for
vector indexes and the in-memory fusion of MergeTreeHybridSearchManager
(MergeTreeHybridSearchManager.cpp:114-151).  At the sizes below
``session.DRIVER_RESIDENT_BYTES`` one Spark job's fixed cost is most of a
search, so a corpus that small is collected ONCE, through Arrow, into a
``Snapshot`` on the driver:

  - every column as collected (ids and the other output columns);
  - each vector column as one 2-D float64 array per query dimension, with
    the rows that have a distance;
  - each text column's tokens as CSR postings (term → doc index, tf) with
    the doc lengths.  Tokens come from Spark's ``tokenize`` expression in
    the collecting job, so they are the Spark path's tokens.

A snapshot lives in memo.py's ``text`` namespace, one entry per input plan
under the input files' fingerprint (``text._snapshot`` looks it up, for text,
hybrid and SQL searches alike), so it never answers from before its input
was rewritten.  It is the only resident copy of a corpus: a larger one
streams.  Distance, BM25
and fusion then run on the driver (``vector.driver_distance``,
``text.bm25_sum``, ``hybrid._fuse_local``) and return their top-k as a
VALUES relation: 0 Spark jobs.  Scores and order equal the Spark path's bit
for bit.
"""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from myscaledb_spark.session import _sort_key, _sql_literal, values_relation

#: metrics the driver fold serves (``vector.driver_distance``)
DRIVER_METRICS = ("L2", "L2Squared", "IP", "Cosine")

_SERVED = threading.local()


def served() -> int:
    """How many searches this thread has answered from a snapshot; a caller
    compares two readings to see which path ran."""
    return getattr(_SERVED, "n", 0)


def mark_served() -> None:
    """Count one search answered from a snapshot on this thread."""
    _SERVED.n = served() + 1


class Postings:
    """One text column's tokens as CSR postings: the docs holding term t are
    ``docs[ptr[t]:ptr[t + 1]]`` (ascending), with their ``tf``; ``dl`` is
    each doc's ``_dl`` as Spark computed it (NaN where NULL)."""

    def __init__(self, tokens: pa.ChunkedArray, dl: np.ndarray, log):
        lists = tokens.combine_chunks()
        n = len(lists)
        lengths = pc.list_value_length(lists).fill_null(0).to_numpy()
        doc = np.repeat(np.arange(n, dtype=np.int32), lengths)
        enc = pc.dictionary_encode(lists.flatten())
        tid = enc.indices.to_numpy(zero_copy_only=False)
        order = np.argsort(tid, kind="stable")  # docs stay ascending per term
        t, d = tid[order], doc[order]
        first = np.ones(len(t), bool)
        first[1:] = (t[1:] != t[:-1]) | (d[1:] != d[:-1])
        starts = np.flatnonzero(first)
        self.tf = np.diff(np.append(starts, len(t))).astype(np.float64)
        self.docs = d[starts]
        self.ptr = np.searchsorted(t[starts], np.arange(len(enc.dictionary) + 1))
        self.index = {w: i for i, w in enumerate(enc.dictionary.to_pylist())}
        self.dl = dl
        counted = dl[~np.isnan(dl)]
        # avg(_dl): Spark's sum over integer lengths is exact in any order
        self.n_docs = float(n)
        self.avgdl = float(counted.sum()) / float(len(counted)) if len(counted) else None
        self._log = log
        self._idf: dict = {}
        #: phrase clause -> df, the per-term memo of ``text._resident_stats``
        self.phrase_df: dict = {}

    def df(self, term: str) -> float:
        """Docs holding ``term``: Σ [tf > 0], 0.0 for an absent term."""
        t = self.index.get(term)
        return 0.0 if t is None else float(self.ptr[t + 1] - self.ptr[t])

    def term(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        t = self.index.get(term)
        if t is None:
            return np.empty(0, np.int64), np.empty(0)
        lo, hi = self.ptr[t], self.ptr[t + 1]
        return self.docs[lo:hi], self.tf[lo:hi]

    def log(self, x: float) -> float:
        """Spark's ``log`` of one idf argument (memoized)."""
        if x not in self._idf:
            self._idf[x] = self._log(x)
        return self._idf[x]

    def bm25(self, terms: list[str], operator: str):
        """(matching doc indices ascending, their BM25 scores) — OR: a doc
        holding any term, AND: every term."""
        from myscaledb_spark.functions.text import bm25_sum

        lists = [self.term(t) for t in terms]
        if operator.upper() == "AND":
            cand = lists[0][0]
            for docs, _ in lists[1:]:
                cand = np.intersect1d(cand, docs, assume_unique=True)
        else:
            cand = np.unique(np.concatenate([docs for docs, _ in lists]))
        if not len(cand):
            return cand, np.empty(0)
        tfs = []
        for docs, tf in lists:
            dense = np.zeros(len(cand))
            at = np.searchsorted(cand, docs)
            hit = at < len(cand)
            hit[hit] = cand[at[hit]] == docs[hit]
            dense[at[hit]] = tf[hit]
            tfs.append(dense)
        scores = bm25_sum(
            tfs, self.dl[cand], self.n_docs, self.avgdl,
            [self.df(t) for t in terms], 0.0, self.log,
            lambda c, v: np.where(c, v, 0.0),
        )
        return cand, scores


class Snapshot:
    """One input's rows on the driver (see the module docstring).  Built by
    ``build``; vectors and postings are derived on first use."""

    def __init__(self, df: DataFrame, table: pa.Table, toks: dict):
        self.df = df
        self.schema = df.schema
        self.table = table.select(df.columns)
        self.n = table.num_rows
        #: text column -> (tokens, lengths) of the default analyzer, until
        #: its postings are built
        self._tokens = {c: (table.column(t), table.column(d)) for c, (t, d) in toks.items()}
        self._vectors: dict = {}
        self._postings: dict = {}
        jvm = df.sparkSession._jvm
        self._log = jvm.java.lang.StrictMath.log

    # -- columns -------------------------------------------------------------
    def values(self, col: str, positions) -> list:
        return self.table.column(col).take(pa.array(positions, pa.int64())).to_pylist()

    def emittable(self, cols) -> bool:
        """Whether ``values_relation`` has a literal for each of ``cols``."""
        return all(_sql_literal(self.schema[c].dataType) is not None for c in cols)

    # -- vectors -------------------------------------------------------------
    def vectors(self, col: str, dim: int):
        """(rows with a ``dim``-element vector without NULL elements, their
        vectors as a column-major float64 array) — the structural half of
        ``vector.row_defined`` — or None when ``col`` is not an array of
        floats, doubles or integers (exact as doubles on both sides)."""
        key = (col, dim)
        if key not in self._vectors:
            arr = self.table.column(col).combine_chunks()
            if not (pa.types.is_list(arr.type) and (
                    pa.types.is_floating(arr.type.value_type)
                    or pa.types.is_integer(arr.type.value_type))):
                return None
            lengths = pc.list_value_length(arr).fill_null(-1).to_numpy()
            flat = arr.flatten()
            nulls = np.zeros(len(flat), np.int64)
            if flat.null_count:
                nulls = flat.is_null().to_numpy(zero_copy_only=False).astype(np.int64)
            ends = np.cumsum(np.where(lengths > 0, lengths, 0))
            starts = ends - np.where(lengths > 0, lengths, 0)
            cum = np.concatenate([[0], np.cumsum(nulls)])
            ok = (lengths == dim) & (cum[ends] - cum[starts] == 0)
            pos = np.flatnonzero(ok)
            values = flat.fill_null(0).to_numpy(zero_copy_only=False)
            rows = (values.reshape(len(pos), dim) if len(pos) * dim == len(values)
                    else values[starts[pos][:, None] + np.arange(dim)[None, :]])
            self._vectors[key] = (pos, np.asfortranarray(rows, dtype=np.float64))
        return self._vectors[key]

    # -- text ----------------------------------------------------------------
    def postings(self, col: str, tokenizer: str = "simple", spec=None) -> Postings:
        """``col``'s postings under the analyzer (tokenizer, spec).  The
        default analyzer's tokens came with the snapshot; another one is
        collected once more (one job, the same plan's row order)."""
        key = (col, tokenizer, repr(spec))
        if key not in self._postings:
            from myscaledb_spark.functions.text import _toked

            got = self._tokens.pop(col, None) if key[1:] == ("simple", "None") else None
            if got is None:
                extra = _toked(self.df.select(col), col, tokenizer, spec)
                extra = extra.select("_toks", "_dl").toArrow()
                got = extra.column("_toks"), extra.column("_dl")
            self._postings[key] = Postings(
                got[0], got[1].to_numpy().astype(np.float64), self._log
            )
        return self._postings[key]

    # -- searches ----------------------------------------------------------
    def distances(self, col: str, qvec, metric: str):
        """(rows with a ``metric`` distance to ``qvec`` by structure, their
        distances, which of those have a zero Cosine divisor), or None when
        the driver fold does not serve ``col`` or ``metric``."""
        from myscaledb_spark.functions.vector import (
            canonical_metric,
            driver_defined,
            driver_distance,
        )

        m = canonical_metric(metric)
        got = self.vectors(col, len(qvec)) if m in DRIVER_METRICS and len(qvec) else None
        if got is None:
            return None
        pos, rows = got
        return pos, driver_distance(rows, qvec, m), ~driver_defined(rows, qvec, m)

    def nearest(self, col: str, qvec, k: int, metric: str, id_col: str):
        """``vector_topk``'s rows: (positions, distances) of the ``k`` rows
        with a distance (``vector.distance_defined``), by (distance in the
        metric's direction, ``id_col`` ascending); None when not served."""
        from myscaledb_spark.functions.vector import METRIC_ASCENDING, canonical_metric

        got = self.distances(col, qvec, metric)
        if got is None:
            return None
        pos, d, zero = got
        pos, d = pos[~zero], d[~zero]
        best = top(d, k, not METRIC_ASCENDING[canonical_metric(metric)],
                   lambda i: self.values(id_col, pos[i]))
        return pos[best].tolist(), d[best].tolist()

    def bm25_top(self, col: str, terms: list, k: int, id_col: str | None,
                 tokenizer: str = "simple", spec=None, operator: str = "OR"):
        """``text_search``'s rows: (positions, scores) of the ``k`` best
        matches by (score DESC, ``id_col`` ASC, else input order)."""
        cand, scores = self.postings(col, tokenizer, spec).bm25(terms, operator)
        tie = (lambda i: self.values(id_col, cand[i])) if id_col else None
        best = top(scores, k, True, tie)
        return cand[best].tolist(), scores[best].tolist()


def build(df: DataFrame) -> Snapshot | None:
    """``df``'s snapshot, collected by one Spark job: every column, plus the
    default analyzer's tokens and doc length of each string column.  None
    for a frame whose column names cannot be selected back one by one."""
    from myscaledb_spark.functions.text import _toked

    names = df.columns
    if len(set(names)) != len(names) or any("`" in c or "." in c for c in names):
        return None
    toked, toks = df, {}
    for i, f in enumerate(df.schema.fields):
        if isinstance(f.dataType, T.StringType):
            toks[f.name] = (f"__snap_toks_{i}", f"__snap_dl_{i}")
            toked = _toked(toked, f.name, "simple", None, *toks[f.name])
    return Snapshot(df, toked.toArrow(), toks)


def top(values: np.ndarray, k: int, descending: bool, tie=None) -> list[int]:
    """Indices of the first ``k`` of ``values`` in Spark's order (NaN above
    every double, -0.0 equal to 0.0), ties by ``tie(indices)``'s values
    ascending when given, else by index.  A partition picks every candidate
    at or beyond the k-th key (ties included); the candidates then sort
    exactly."""
    if len(values) > k:
        key = np.where(np.isnan(values), np.inf, values)
        if descending:
            key = -key
        kth = np.partition(key, k - 1)[k - 1]
        cand = np.flatnonzero(key <= kth).tolist()
    else:
        cand = list(range(len(values)))
    if tie is not None:
        ties = dict(zip(cand, tie(cand)))
        cand.sort(key=lambda i: _sort_key(ties[i]))
    cand.sort(key=lambda i: _sort_key(float(values[i])), reverse=descending)
    return cand[:k]


def emit(snap: Snapshot, positions: list, cols: list, score_name: str,
         scores: list) -> DataFrame | None:
    """Rows ``positions`` of ``cols`` plus ``score_name`` = ``scores`` as a
    VALUES relation (collecting it runs no job), in the given order; None
    when a column type has no literal and the caller takes the Spark path."""
    if not snap.emittable(cols):
        return None
    schema = T.StructType([snap.schema[c] for c in cols]
                          + [T.StructField(score_name, T.DoubleType(), True)])
    data = [snap.values(c, positions) for c in cols] + [scores]
    mark_served()
    return values_relation(snap.df.sparkSession, schema, list(zip(*data)))
