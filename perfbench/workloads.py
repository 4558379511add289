"""The benchmark's workloads: set-up plus an endless stream of operations.

Each workload is driven by one client in a closed loop.  An operation's
``run`` is the call into the program; the runner collects the DataFrame it
returns.  ``check`` compares the collected rows with the numpy oracle after
the timed loop and returns (correct, recall or None).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from myscaledb_spark import catalog, sql_dialect
from myscaledb_spark.operators import hybrid
from myscaledb_spark.plans import fts_index, vector_index

from corpus import Corpus, probe, recall, rsf, same_top_k, top_k

K = 10


@dataclass
class Op:
    kind: str
    run: Callable
    check: Callable[[list], tuple[bool, float | None]]
    rows: list | None = None
    error: str | None = None
    ms: float = 0.0
    collect_ms: float = 0.0
    seq: int = -1  # position in the seeded op stream, the same in every run
    record: int | None = None  # index of its OpRecord in a traced run


def _pairs(rows, id_col: str, score_col: str) -> list[tuple[int, float]]:
    return [(int(r[id_col]), float(r[score_col])) for r in rows]


def _vec_literal(qvec: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in qvec) + "]"


class Workload:
    """Shared set-up and oracle plumbing; subclasses define the op mix."""

    name = ""
    why = ""

    def __init__(self, spark, seed: int, smoke: bool):
        self.spark = spark
        self.seed = seed
        self.smoke = smoke
        self.corpus: Corpus | None = None
        self.art = ""
        self.data_bytes = 0
        self._blocks = np.random.default_rng(np.random.SeedSequence(seed).spawn(4)[3])
        self._lists: np.ndarray | None = None

    # -- set-up ------------------------------------------------------------
    def setup(self, work: str) -> None:
        raise NotImplementedError

    def _build(self, work: str, n_docs: int, lists: int) -> None:
        """Generate the corpus and build the IVF and FTS artifacts."""
        self.corpus = Corpus(self.seed, n_docs)
        path = os.path.join(work, "corpus.parquet")
        self.data_bytes = self.corpus.write(path)
        self.art = os.path.join(work, "artifacts")
        df = self.spark.read.parquet(path)
        vector_index.build_ivf_index(df, "vector", "id", self.art, "ivf", num_centroids=lists)
        fts_index.build_fts_index(df, "doc", "id", self.art, "fts")
        self._centroids = json.load(open(os.path.join(self.art, "ivf", "centroids.json")))
        self._lists = None

    def artifact_size(self) -> tuple[int, int]:
        """(bytes, files) of the artifact directory; (0, 0) without one."""
        total = files = 0
        for dirpath, _, names in os.walk(self.art) if self.art else ():
            for n in names:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
        return total, files

    def index_bytes_per_data_byte(self) -> float:
        """Artifact bytes on disk per byte of corpus parquet."""
        return self.artifact_size()[0] / self.data_bytes

    # -- op stream ---------------------------------------------------------
    def block(self) -> list[Op]:
        """The next block of operations: a fixed mix of kinds, in seeded order."""
        raise NotImplementedError

    def _shuffled(self, kinds: tuple[str, ...]) -> list[str]:
        return [kinds[i] for i in self._blocks.permutation(len(kinds))]

    # -- oracles -----------------------------------------------------------
    def _ivf_lists(self) -> np.ndarray:
        if self._lists is None or len(self._lists) < self.corpus.n:
            self._lists = self.corpus.ivf_lists(self._centroids)
        return self._lists

    def _probed(self, qvec, n: int, nprobe: int):
        """Exact distances, and the top-k an IVF probe of ``nprobe`` lists must return."""
        d = self.corpus.distances(qvec)[:n]
        inside = np.isin(self._ivf_lists()[:n], probe(self._centroids, qvec, nprobe))
        return d, inside, top_k(np.where(inside, d, np.nan), K, True)

    def _text(self, terms, n: int):
        s = self.corpus.bm25(terms, n)
        return s, top_k(s, K, False)

    def _ivf_op(self, nprobe: int) -> Op:
        qv, n = self.corpus.query_vector(), self.corpus.n

        def check(rows):
            d, inside, want = self._probed(qv, n, nprobe)
            got = _pairs(rows, "id", "dist")
            ok = same_top_k(got, want, lambda i: d[i] if i < n and inside[i] else None)
            return ok, recall(got, top_k(d, K, True))

        return Op("ivf", lambda: vector_index.ivf_search(
            self.spark, self.art, qv, K, "ivf", nprobe=nprobe, id_col="id", vec_col="vector",
        ), check)

    def _fts_op(self) -> Op:
        terms, n = self.corpus.query_terms(), self.corpus.n
        text = self.corpus.text(terms)

        def check(rows):
            s, want = self._text(terms, n)
            return same_top_k(_pairs(rows, "doc_id", "bm25_score"), want, lambda i: _score(s, i)), None

        return Op("fts", lambda: fts_index.fts_search(self.spark, self.art, text, K), check)

    def _hybrid_op(self, nprobe: int, kind: str = "hybrid") -> Op:
        qv, terms, n = self.corpus.query_vector(), self.corpus.query_terms(), self.corpus.n
        text = self.corpus.text(terms)

        def check(rows):
            d, _, vec = self._probed(qv, n, nprobe)
            _, txt = self._text(terms, n)
            fused = dict(rsf(vec, txt, n))
            got = _pairs(rows, "id", "fusion_score")
            ok = same_top_k(got, rsf(vec, txt, K), fused.get)
            exhaustive = rsf(top_k(d, K, True), txt, K)
            return ok, recall(got, exhaustive)

        return Op(kind, lambda: hybrid.hybrid_search_indexed(
            self.spark, self.art, None, None, qv, text, K, "id",
            index_kind="ivf", index_name="ivf", fts_name="fts",
            nprobe=nprobe, vec_col="vector",
        ), check)


def _score(s: np.ndarray, i: int) -> float | None:
    return None if i >= len(s) or np.isnan(s[i]) else float(s[i])


class SearchIndexed(Workload):
    name = "search_indexed"
    why = "Index-served vector, BM25 and hybrid top-10 on resident artifacts: the cached serving path"
    LISTS, NPROBE = 16, 4

    def setup(self, work: str) -> None:
        self._build(work, 400 if self.smoke else 10_000, 4 if self.smoke else self.LISTS)

    def block(self) -> list[Op]:
        nprobe = 1 if self.smoke else self.NPROBE
        make = {"ivf": lambda: self._ivf_op(nprobe), "fts": self._fts_op,
                "hybrid": lambda: self._hybrid_op(nprobe)}
        return [make[k]() for k in self._shuffled(("ivf", "fts", "hybrid"))]


class SearchSql(Workload):
    name = "search_sql"
    why = "MyScale SQL distance/textsearch/hybridsearch through ch_sql: dialect rewrite plus an exact full scan, no index"

    def setup(self, work: str) -> None:
        self.corpus = Corpus(self.seed, 300 if self.smoke else 5_000)
        tables = os.path.join(work, "tables")
        self.data_bytes = self.corpus.write(os.path.join(tables, "corpus.parquet"))
        catalog.load_table(self.spark, tables, "corpus").createOrReplaceTempView("corpus")

    # The slowest kind is one op in five, as the append is on ``ingest``, so
    # p90 falls mid-way through its cluster rather than in that cluster's tail.
    MIX = ("distance", "distance", "textsearch", "textsearch", "hybridsearch")

    def block(self) -> list[Op]:
        make = {"distance": self._distance_op, "textsearch": self._textsearch_op,
                "hybridsearch": self._hybridsearch_op}
        return [make[k]() for k in self._shuffled(self.MIX)]

    def _sql(self, sql: str):
        return lambda: sql_dialect.ch_sql(self.spark, sql)

    def _distance_op(self) -> Op:
        qv, n = self.corpus.query_vector(), self.corpus.n
        sql = (f"SELECT id, distance(vector, {_vec_literal(qv)}) AS dist "
               f"FROM corpus ORDER BY dist LIMIT {K}")

        def check(rows):
            d = self.corpus.distances(qv)[:n] ** 2  # SQL distance() is squared L2
            want, got = top_k(d, K, True), _pairs(rows, "id", "dist")
            return same_top_k(got, want, lambda i: _score(d, i)), recall(got, want)

        return Op("distance", self._sql(sql), check)

    def _textsearch_op(self) -> Op:
        terms, n = self.corpus.query_terms(), self.corpus.n
        sql = (f"SELECT id, textsearch(doc, '{self.corpus.text(terms)}') AS score "
               f"FROM corpus ORDER BY score DESC LIMIT {K}")

        def check(rows):
            s, want = self._text(terms, n)
            return same_top_k(_pairs(rows, "id", "score"), want, lambda i: _score(s, i)), None

        return Op("textsearch", self._sql(sql), check)

    def _hybridsearch_op(self) -> Op:
        qv, terms, n = self.corpus.query_vector(), self.corpus.query_terms(), self.corpus.n
        sql = (f"SELECT id, hybridsearch('fusion_type=rsf')(vector, doc, {_vec_literal(qv)}, "
               f"'{self.corpus.text(terms)}') AS score FROM corpus ORDER BY score DESC, id LIMIT {K}")

        def check(rows):
            vec = top_k(self.corpus.distances(qv)[:n], K, True)
            _, txt = self._text(terms, n)
            want, got = rsf(vec, txt, K), _pairs(rows, "id", "score")
            return same_top_k(got, want, dict(rsf(vec, txt, n)).get), recall(got, want)

        return Op("hybridsearch", self._sql(sql), check)


class Ingest(Workload):
    name = "ingest"
    why = "Appends rewrite the IVF and FTS artifacts between searches, so the first search after each append misses every cache"
    LISTS, NPROBE = 4, 3

    def setup(self, work: str) -> None:
        self.work = work
        self._batches = 0
        self._build(work, 300 if self.smoke else 5_000, 2 if self.smoke else self.LISTS)

    def block(self) -> list[Op]:
        nprobe = 1 if self.smoke else self.NPROBE
        ops = [self._append_op(50 if self.smoke else 250), self._hybrid_op(nprobe, "fresh_hybrid")]
        make = {"ivf": lambda: self._ivf_op(nprobe), "fts": self._fts_op,
                "hybrid": lambda: self._hybrid_op(nprobe)}
        return ops + [make[k]() for k in self._shuffled(("ivf", "fts", "hybrid"))]

    def _append_op(self, n: int) -> Op:
        self._batches += 1
        path = os.path.join(self.work, "batches", f"batch{self._batches}.parquet")
        self.corpus.append(n, path)

        def run():
            vector_index.append_to_ivf_index(self.spark.read.parquet(path), "vector", "id", self.art, "ivf")
            fts_index.append_to_fts_index(self.spark.read.parquet(path), "doc", "id", self.art, "fts")

        return Op("append", run, lambda rows: (True, None))


WORKLOADS = {w.name: w for w in (SearchIndexed, SearchSql, Ingest)}
