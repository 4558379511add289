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
``text.bm25_sum``, ``hybrid._fuse_local``) and return their top-k through
``session.local_relation``, whatever the column types: 0 Spark jobs.
Scores and order equal the Spark path's bit for bit.

The same class holds an index artifact's directory, read by
``frame_cache.resident_parquet`` without Spark: an IVF index's inverted
lists (``Snapshot.nearest`` over the probed lists) and an FTS index's
postings (``Snapshot.index_postings``, CSR ``Postings`` built from its
rows), which ``ivf_search`` and ``fts_search`` answer from.
"""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from myscaledb_spark.session import collect_arrow, local_relation, spark_order

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
    """Postings in CSR form: the docs holding term t are
    ``docs[ptr[t]:ptr[t + 1]]`` (ascending doc indices), each with its
    ``tf`` and its doc length ``dl``.  Built from one row per posting
    (term id, doc index, tf, dl); rows that repeat a (term, doc) pair are
    one posting whose tf is their sum and whose dl is their largest —
    Spark's ``sum(tf)`` and ``max(dl)`` over a group by doc.  ``n_docs``
    and ``avgdl`` are the corpus statistics when the postings know them
    (a snapshot's tokens), else None (an FTS artifact's, which the search
    passes from stats.json).  ``vocab`` lists the terms by id; postings of
    a snapshot's tokens also keep each doc's ``lengths``."""

    def __init__(self, tid, doc, tf, dl, vocab: list, n_docs, avgdl, log):
        order = np.lexsort((doc, tid))
        t, d = tid[order], doc[order]
        first = np.ones(len(t), bool)
        first[1:] = (t[1:] != t[:-1]) | (d[1:] != d[:-1])
        starts = np.flatnonzero(first)
        self.tf = np.add.reduceat(tf[order], starts).astype(np.float64)
        self.dl = np.maximum.reduceat(dl[order], starts).astype(np.float64)
        self.docs = d[starts]
        self.ptr = np.searchsorted(t[starts], np.arange(len(vocab) + 1))
        self.vocab = vocab
        self.index = {w: i for i, w in enumerate(vocab)}
        self.n_docs, self.avgdl = n_docs, avgdl
        self._log = log
        self._idf: dict = {}
        #: phrase clause -> df, the per-term memo of ``text._resident_stats``
        self.phrase_df: dict = {}

    @classmethod
    def of_tokens(cls, tokens: pa.ChunkedArray, dl: np.ndarray, log) -> "Postings":
        """One text column's postings: ``tokens`` are its token arrays and
        ``dl`` each doc's ``_dl`` as Spark computed it (NaN where NULL)."""
        lists = tokens.combine_chunks()
        n = len(lists)
        lengths = pc.list_value_length(lists).fill_null(0).to_numpy()
        doc = np.repeat(np.arange(n, dtype=np.int64), lengths)
        enc = pc.dictionary_encode(lists.flatten())
        tid = enc.indices.to_numpy(zero_copy_only=False)
        counted = dl[~np.isnan(dl)]
        # avg(_dl): Spark's sum over integer lengths is exact in any order
        avgdl = float(counted.sum()) / float(len(counted)) if len(counted) else None
        post = cls(tid, doc, np.ones(len(tid), np.int64), dl[doc],
                   enc.dictionary.to_pylist(), float(n), avgdl, log)
        post.lengths = dl
        return post

    @classmethod
    def of_rows(cls, table: pa.Table, log) -> "Postings":
        """The postings of an FTS artifact's rows (term, doc_id, tf, dl): a
        doc index per distinct doc_id (NULL included), whose id is
        ``ids[index]``."""
        terms = pc.dictionary_encode(table.column("term").combine_chunks())
        ids = pc.dictionary_encode(table.column("doc_id").combine_chunks(),
                                   null_encoding="encode")
        post = cls(
            terms.indices.to_numpy(zero_copy_only=False),
            ids.indices.to_numpy(zero_copy_only=False),
            table.column("tf").to_numpy(),
            table.column("dl").to_numpy().astype(np.float64),
            terms.dictionary.to_pylist(), None, None, log,
        )
        post.ids = ids.dictionary
        return post

    def df(self, term: str) -> float:
        """Docs holding ``term``: Σ [tf > 0], 0.0 for an absent term."""
        t = self.index.get(term)
        return 0.0 if t is None else float(self.ptr[t + 1] - self.ptr[t])

    def term(self, term: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc indices, tf, dl) of ``term``'s postings."""
        t = self.index.get(term)
        if t is None:
            return np.empty(0, np.int64), np.empty(0), np.empty(0)
        lo, hi = self.ptr[t], self.ptr[t + 1]
        return self.docs[lo:hi], self.tf[lo:hi], self.dl[lo:hi]

    def log(self, x: float) -> float:
        """Spark's ``log`` of one idf argument (memoized)."""
        if x not in self._idf:
            self._idf[x] = self._log(x)
        return self._idf[x]

    def bm25(self, terms: list[str], operator: str, n_docs=None, avgdl=None, dfs=None):
        """(matching doc indices ascending, their BM25 scores) — OR: a doc
        holding any term, AND: every term.  A doc's length is its largest
        dl among the query terms' postings (``_dl = max(dl)``).  The
        statistics default to the postings' own; ``dfs`` has one df per
        term."""
        from myscaledb_spark.functions.text import bm25_sum

        lists = [self.term(t) for t in terms]
        if operator.upper() == "AND":
            cand = lists[0][0]
            for docs, _, _ in lists[1:]:
                cand = np.intersect1d(cand, docs, assume_unique=True)
        else:
            cand = np.unique(np.concatenate([docs for docs, _, _ in lists]))
        if not len(cand):
            return cand, np.empty(0)
        tfs, dl = [], np.full(len(cand), -np.inf)
        for docs, tf, dls in lists:
            dense = np.zeros(len(cand))
            at = np.searchsorted(cand, docs)
            hit = at < len(cand)
            hit[hit] = cand[at[hit]] == docs[hit]
            dense[at[hit]] = tf[hit]
            dl[at[hit]] = np.maximum(dl[at[hit]], dls[hit])
            tfs.append(dense)
        scores = bm25_sum(
            tfs, dl, self.n_docs if n_docs is None else n_docs,
            self.avgdl if avgdl is None else avgdl,
            [self.df(t) for t in terms] if dfs is None else dfs, 0.0, self.log,
            lambda c, v: np.where(c, v, 0.0),
        )
        return cand, scores


class Snapshot:
    """Rows held on the driver as one Arrow table with their Spark
    ``schema`` (see the module docstring): a corpus collected by ``build``,
    or an index artifact read by ``frame_cache.resident_parquet``.  Vectors
    and postings are derived on first use.  ``toks`` names the collected
    token and length columns of each text column; ``df``, the frame a
    corpus was collected from, serves another analyzer's tokens."""

    def __init__(self, spark: SparkSession, schema: T.StructType, table: pa.Table,
                 toks: dict | None = None, df: DataFrame | None = None):
        self.spark = spark
        self.df = df
        self.schema = schema
        self.table = table.select(schema.names)
        self.n = table.num_rows
        #: text column -> (tokens, lengths) of the default analyzer, until
        #: its postings are built
        self._tokens = {c: (table.column(t), table.column(d))
                        for c, (t, d) in (toks or {}).items()}
        self._vectors: dict = {}
        self._postings: dict = {}
        self._log = spark._jvm.java.lang.StrictMath.log

    # -- columns -------------------------------------------------------------
    def values(self, col: str, positions) -> list:
        return self.table.column(col).take(pa.array(positions, pa.int64())).to_pylist()

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
            self._postings[key] = Postings.of_tokens(
                got[0], got[1].to_numpy().astype(np.float64), self._log
            )
        return self._postings[key]

    def index_postings(self) -> Postings:
        """This snapshot's rows, an FTS artifact's postings (term, doc_id,
        tf, dl), as CSR postings (``Postings.of_rows``), built once."""
        if None not in self._postings:
            self._postings[None] = Postings.of_rows(self.table, self._log)
        return self._postings[None]

    # -- searches ----------------------------------------------------------
    def distances(self, col: str, qvec, metric: str, among=None):
        """(rows with a ``metric`` distance to ``qvec`` by structure, their
        distances, which of those have a zero Cosine divisor), or None when
        the driver fold does not serve ``col`` or ``metric``.  ``among``, a
        boolean mask over the rows, keeps only the rows it marks."""
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
        if among is not None:
            keep = among[pos]
            pos, rows = pos[keep], rows[keep]
        return pos, driver_distance(rows, qvec, m), ~driver_defined(rows, qvec, m)

    def nearest(self, col: str, qvec, k: int, metric: str, id_col: str, among=None):
        """``vector_topk``'s rows: (positions, distances) of the ``k`` rows
        (of those ``among`` marks) with a distance
        (``vector.distance_defined``), by (distance in the metric's
        direction, ``id_col`` ascending); None when not served."""
        from myscaledb_spark.functions.vector import METRIC_ASCENDING, canonical_metric

        got = self.distances(col, qvec, metric, among)
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
    return Snapshot(df.sparkSession, df.schema, collect_arrow(toked), toks, df)


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
    keys = [([float(values[i]) for i in cand], descending)]
    if tie is not None:
        keys.append((tie(cand), False))
    return [cand[i] for i in spark_order(len(cand), keys)[:k]]


def emit(snap: Snapshot, positions: list, cols: list, score_name: str,
         scores: list) -> DataFrame:
    """Rows ``positions`` of ``cols`` plus ``score_name`` = ``scores``, in
    the given order, as a ``session.local_relation`` (collecting it runs no
    job): one Arrow ``take`` on the snapshot's table, any column type."""
    return emit_rows(snap.spark, T.StructType([snap.schema[c] for c in cols]),
                     snap.table.select(cols), positions, score_name, scores)


def emit_rows(spark: SparkSession, schema: T.StructType, table: pa.Table,
              positions: list, score_name: str, scores: list) -> DataFrame:
    """``emit`` over any Arrow ``table`` with the Spark ``schema``."""
    schema = T.StructType(schema.fields + [T.StructField(score_name, T.DoubleType(), True)])
    table = table.take(pa.array(positions, pa.int64())).append_column(
        score_name, pa.array(scores, pa.float64()))
    mark_served()
    return local_relation(spark, schema, table)
