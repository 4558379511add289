"""Seeded inputs and numpy oracles.

Everything the program sees is generated here from one seed: the corpus
(64-d float32 Gaussian vectors, Zipf-distributed text), the query stream
and the append batches.  The program receives them only as parquet files
and query values.  The oracles recompute every search result in numpy from
the same arrays, outside the timed loop, so they share no code with the
program beyond the two published BM25 constants.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from myscaledb_spark.functions.text import BM25_B, BM25_K1

DIM = 64
VOCAB = 5000
ZIPF_S = 1.1
DOC_TOKENS = (20, 40)  # uniform doc length, about 30 tokens on average
HEAD_TERMS = 200  # query terms come from the vocabulary head, so they repeat
QUERY_TERMS = 2  # fixed, so per-op cost does not vary with the term count
FUSION_WEIGHT = 0.5  # hybridsearch RSF default
REL_TOL = 1e-6


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """VOCAB distinct lowercase words of 4-9 letters (one token each under
    the ``simple`` tokenizer)."""
    words: dict[str, None] = {}
    while len(words) < VOCAB:
        n = int(rng.integers(4, 10))
        words.setdefault("".join(chr(97 + c) for c in rng.integers(0, 26, n)))
    return list(words)


class Corpus:
    """The generated documents so far, plus the streams that extend them.

    ``seed`` fixes three independent streams: documents (base corpus and
    append batches), query vectors, and query terms.  The same seed gives
    the same inputs in the same order, however many operations a run makes.
    """

    def __init__(self, seed: int, n_docs: int):
        docs, vecs, terms = np.random.SeedSequence(seed).spawn(3)
        self._doc_rng = np.random.default_rng(docs)
        self._vec_rng = np.random.default_rng(vecs)
        self._term_rng = np.random.default_rng(terms)
        self.words = _vocabulary(self._doc_rng)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self._p = p / p.sum()
        self.vecs = np.empty((0, DIM), np.float32)
        self.toks = np.empty((0, DOC_TOKENS[1]), np.int32)  # -1 pads
        self.dl = np.empty(0, np.int64)
        self._batch(n_docs)

    @property
    def n(self) -> int:
        return len(self.dl)

    def _batch(self, n: int) -> tuple[int, int]:
        """Generate ``n`` more docs; ids are row positions. Returns the id range."""
        lo = self.n
        vecs = self._doc_rng.standard_normal((n, DIM)).astype(np.float32)
        dl = self._doc_rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
        toks = self._doc_rng.choice(VOCAB, size=(n, DOC_TOKENS[1]), p=self._p)
        toks[np.arange(DOC_TOKENS[1])[None, :] >= dl[:, None]] = -1
        self.vecs = np.concatenate([self.vecs, vecs])
        self.toks = np.concatenate([self.toks, toks.astype(np.int32)])
        self.dl = np.concatenate([self.dl, dl])
        return lo, self.n

    def write(self, path: str, lo: int = 0, hi: int | None = None) -> int:
        """Write docs [lo, hi) as parquet (id bigint, doc string,
        vector array<float>). Returns the file size in bytes."""
        hi = self.n if hi is None else hi
        docs = [
            " ".join(self.words[t] for t in row[: self.dl[i]])
            for i, row in enumerate(self.toks[lo:hi], start=lo)
        ]
        flat = pa.array(self.vecs[lo:hi].reshape(-1))
        offsets = pa.array(np.arange(0, (hi - lo) * DIM + 1, DIM, dtype=np.int32))
        table = pa.table({
            "id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "doc": pa.array(docs),
            "vector": pa.ListArray.from_arrays(offsets, flat),
        })
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return os.path.getsize(path)

    def append(self, n: int, path: str) -> None:
        """Generate the next append batch of ``n`` docs and write it."""
        lo, hi = self._batch(n)
        self.write(path, lo, hi)

    # -- query stream ------------------------------------------------------
    def query_vector(self) -> list[float]:
        return [float(x) for x in self._vec_rng.standard_normal(DIM).astype(np.float32)]

    def query_terms(self) -> list[int]:
        return [int(t) for t in self._term_rng.choice(HEAD_TERMS, QUERY_TERMS, replace=False)]

    def text(self, terms: list[int]) -> str:
        return " ".join(self.words[t] for t in terms)

    # -- oracles -----------------------------------------------------------
    def distances(self, qvec: list[float]) -> np.ndarray:
        """Exact L2 distance of every doc to ``qvec`` (float64)."""
        d = self.vecs.astype(np.float64) - np.asarray(qvec, np.float64)
        return np.sqrt((d * d).sum(axis=1))

    def bm25(self, terms: list[int], n: int) -> np.ndarray:
        """BM25 of the first ``n`` docs (NaN where no term matches), summed
        in query-term order like the program's expression tree."""
        dl = self.dl[:n].astype(np.float64)
        avgdl = float(dl.mean())
        score = np.zeros(n)
        matched = np.zeros(n, bool)
        for t in terms:
            tf = (self.toks[:n] == t).sum(axis=1).astype(np.float64)
            df = float((tf > 0).sum())
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            norm = tf * (BM25_K1 + 1.0) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
            )
            score = score + idf * norm
            matched |= tf > 0
        return np.where(matched, score, np.nan)

    def ivf_lists(self, centroids: list[list[float]]) -> np.ndarray:
        """Inverted list of every doc: its nearest centroid, lowest index on ties."""
        c = np.asarray(centroids, np.float64)
        out = np.empty(self.n, np.int64)
        for lo in range(0, self.n, 2048):
            x = self.vecs[lo : lo + 2048].astype(np.float64)
            out[lo : lo + 2048] = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        return out


def probe(centroids: list[list[float]], qvec: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` lists nearest to ``qvec``, ties broken by list index."""
    c = np.asarray(centroids, np.float64)
    d = ((c - np.asarray(qvec, np.float64)) ** 2).sum(axis=1)
    return sorted(range(len(c)), key=lambda i: (d[i], i))[:nprobe]


def top_k(scores: np.ndarray, k: int, ascending: bool) -> list[tuple[int, float]]:
    """Top ``k`` (id, score) of the non-NaN scores, ties broken by id."""
    ids = np.flatnonzero(~np.isnan(scores))
    key = scores[ids] if ascending else -scores[ids]
    order = np.lexsort((ids, key))[:k]
    return [(int(ids[i]), float(scores[ids[i]])) for i in order]


def rsf(vec: list[tuple[int, float]], txt: list[tuple[int, float]], k: int) -> list[tuple[int, float]]:
    """Relative-score fusion of an L2 leg and a BM25 leg: min-max normalise
    each leg (squared L2, ascending), weight them 50/50, sum per id."""
    scores: dict[int, float] = {}
    legs = (([(i, d * d) for i, d in vec], True, 1.0 - FUSION_WEIGHT), (txt, False, FUSION_WEIGHT))
    for rows, ascending, weight in legs:
        if not rows:
            continue
        vals = [s for _, s in rows]
        lo, hi = min(vals), max(vals)
        for i, s in rows:
            nrm = 1.0 if hi == lo else (s - lo) / (hi - lo)
            scores[i] = scores.get(i, 0.0) + (1.0 - nrm if ascending else nrm) * weight
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def same_top_k(got: list[tuple[int, float]], want: list[tuple[int, float]], score_of) -> bool:
    """``got`` is a correct top-k if its scores match ``want`` rank by rank
    and each returned id really has the score it was returned with
    (``score_of``, None for an id the oracle would not return).  Ids may
    differ only among equal scores."""
    if len(got) != len(want) or len({i for i, _ in got}) != len(got):
        return False
    for (gid, gs), (_, ws) in zip(got, want):
        truth = score_of(gid)
        if truth is None or not close(gs, ws) or not close(gs, truth):
            return False
    return True


def recall(got: list[tuple[int, float]], exact: list[tuple[int, float]]) -> float:
    want = {i for i, _ in exact}
    return len(want & {i for i, _ in got}) / max(len(want), 1)
