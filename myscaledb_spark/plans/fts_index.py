"""Persisted full-text index — the Spark answer to the reference's per-part
tantivy index (`src/Storages/MergeTree/TantivyIndexStore.h:55-59`,
`MergeTreeIndexTantivy.cpp`; build lifecycle like §3.3).

Artifact layout (parquet):
  <root>/<name>/postings/   (term, doc_id, tf, dl)  partitioned/bucketable
                            by term; dl is inlined per posting (Lucene
                            stores per-doc norms with the index the same
                            way) so scoring needs no doc-length join
  <root>/<name>/dfreq/      (term: string, df: bigint)  per-term doc
                            frequency — the reference's tantivy index stores
                            term dictionaries with doc counts likewise
  <root>/<name>/stats.json  {n_docs, avgdl, total_dl, dl_docs, tokenizer,
                            spec}: total_dl is the integer sum of the doc
                            lengths over the dl_docs docs that have one
                            (dl_docs == n_docs unless a text is NULL), and
                            avgdl = total_dl / dl_docs — bit-identical to
                            Spark's avg(dl), which sums integer lengths as
                            doubles (exact below 2^53)

An artifact without dfreq/ or without total_dl predates this layout;
searches and appends refuse it with one "rebuild the index" error.

Query path (`fts_search`) scores through the same
``text.bm25_scores_from_tf`` as the direct path, but takes tf and dl from
ONLY the query terms' postings (predicate pushed to the parquet scan)
instead of re-tokenizing the corpus — at 100 TB this is
the difference between touching ~kB of postings and re-scanning the table.
Incremental maintenance (`append_to_fts_index`, ≈ VIBuilderUpdater on new
parts, foreachBatch in streaming ingestion) costs O(batch + vocabulary), not
O(index): the batch is tokenized once, its postings are appended, dfreq is
the old dfreq plus the batch's per-term counts, and the global stats are
updated from the batch's counts.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from myscaledb_spark import memo
from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.functions.text import bm25_scores_from_tf, tokenize, tokenize_query
from myscaledb_spark.plans.frame_cache import cached_parquet, data_files
from myscaledb_spark.plans.vector_index import IndexRegistry
from myscaledb_spark.session import local_relation, observed_metrics

#: the schema every dfreq dir is written with, so reads skip inference
_DFREQ_SCHEMA = StructType(
    [StructField("term", StringType()), StructField("df", LongType())]
)

#: Retired: the artifact frames live in ``frame_cache._CACHE`` with every
#: other index's.  The name stays, always empty, for tools that count the
#: keys of both caches.
_FRAMES_CACHE: dict[tuple, tuple] = {}


def _cached_index_frames(spark: SparkSession, base: str):
    """(postings, dfreq) of an artifact, persisted through frame_cache."""
    return (
        cached_parquet(spark, os.path.join(base, "postings")),
        cached_parquet(spark, os.path.join(base, "dfreq"), _DFREQ_SCHEMA),
    )


def _built(artifact_dir: str, name: str) -> tuple[str, dict]:
    """(base dir, stats.json) of a built index.  An artifact without dfreq
    or without total_dl predates the current layout and is refused."""
    base = IndexRegistry(artifact_dir).built(name)["base"]
    with open(os.path.join(base, "stats.json")) as f:
        stats = json.load(f)
    if "total_dl" not in stats or not os.path.isdir(os.path.join(base, "dfreq")):
        raise RuntimeError(
            f"fts index {name!r} has an old artifact format (no dfreq or "
            "total_dl): rebuild the index"
        )
    return base, stats


def _cached_dfmap(dfreq, base: str, terms: list[str]) -> dict:
    """{term: df} of ``terms`` (0.0 for a term absent from the index, the df
    a scan of the corpus counts), collecting only the terms not
    yet in the artifact's memo (``memo.py``; keyed by base under the
    stats.json mtime, which an append or a rebuild rewrites).  The r8 fast
    path collected the pruned dfreq rows on EVERY query — one whole Spark
    job per search just to fetch ≤|terms| floats."""

    def fetch(need):
        got = {r["term"]: float(r["df"])
               for r in dfreq.filter(F.col("term").isin(need)).collect()}
        return {t: got.get(t, 0.0) for t in need}

    mtime = os.path.getmtime(os.path.join(base, "stats.json"))
    table = memo.get(dfreq.sparkSession, "fts_dfmap", base, mtime, dict, slots=16)
    return memo.terms(table, terms, fetch)


def _spec_to_json(spec) -> dict | None:
    if spec is None:
        return None
    return {
        "type": spec.type,
        "stop_word_filters": list(spec.stop_word_filters),
        "stem_languages": list(spec.stem_languages),
        "length_limit": spec.length_limit,
    }


def _spec_from_json(obj):
    if not obj:
        return None
    from myscaledb_spark.functions.tokenizer_spec import parse_tokenizer

    return parse_tokenizer(obj)


def build_fts_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    artifact_dir: str,
    name: str = "fts",
    tokenizer: str = "simple",
    spec=None,
) -> dict:
    """``spec`` (TokenizerSpec) persists the reference's full per-column
    tokenizer config with the index artifact (MergeTreeIndexTantivy.cpp
    stores the config in the index metadata the same way), so searches
    always analyze queries with the exact chain the postings were built
    with."""
    reg = IndexRegistry(artifact_dir)
    reg.set_status(name, "InProgress", column=text_col, index_type="fts",
                   params={"tokenizer": tokenizer, "spec": _spec_to_json(spec)})

    base = os.path.join(artifact_dir, name)
    toked = _tokenized(df, text_col, id_col, tokenizer, spec)
    written, totals = _write_postings(toked, os.path.join(base, "postings"), "overwrite")
    _dfreq_rows(written).groupBy("term").agg(F.sum("df").alias("df")).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "dfreq"))
    _write_stats(base, {"tokenizer": tokenizer, "spec": _spec_to_json(spec)},
                 totals["n_docs"], totals["total_dl"], totals["dl_docs"])
    reg.set_status(name, "Built", base=base)
    return reg.get(name)


def _tokenized(docs: DataFrame, text_col: str, id_col: str, tokenizer: str, spec):
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize(text_col, tokenizer, spec=spec).alias("toks"),
    ).withColumn("dl", F.size("toks"))


def _postings(toked: DataFrame):
    """(postings of one tokenized batch, an Observation of its totals
    {n_docs, total_dl, dl_docs} that completes when they are written).

    The Observation sits after the groupBy, in the write's result stage:
    Spark applies a result task's accumulator updates once per partition,
    whereas a shuffle-map stage that is re-run after a fetch failure would
    add its rows again.  Each doc is counted on exactly one grouped row:
    the one holding its first token (pos 0), or, for a doc without tokens,
    the row explode_outer gives it (pos NULL, so tf 0), which is dropped."""
    first = F.col("pos").isNull() | (F.col("pos") == 0)
    grouped = (
        toked.select("doc_id", "dl", F.posexplode_outer("toks").alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(
            # dl rides along into each posting row (first() over the
            # constant-per-doc dl) so the query path needs no doc-length join
            F.count("pos").alias("tf"),
            F.first("dl").alias("dl"),
            F.count(F.when(first, 1)).alias("docs_"),
            F.sum(F.when(first, F.col("dl"))).alias("dl_"),
            F.count(F.when(first, F.col("dl"))).alias("dl_docs_"),
        )
    )
    obs = Observation()
    postings = grouped.observe(
        obs,
        F.sum("docs_").alias("n_docs"),
        F.sum("dl_").alias("total_dl"),
        F.sum("dl_docs_").alias("dl_docs"),
    ).filter(F.col("tf") > 0)
    return postings.select("term", "doc_id", "tf", "dl"), obs


def _write_postings(toked: DataFrame, path: str, mode: str):
    """Write the postings of one tokenized batch to ``path``; return (the
    postings this write added, read back from its own files with their
    known schema, and the batch's totals).  A 1-row collect is the
    fallback when the observed totals do not arrive in time."""
    spark = toked.sparkSession
    before = data_files(path) if mode == "append" and os.path.isdir(path) else frozenset()
    postings, obs = _postings(toked)
    postings.write.mode(mode).parquet(path)
    got = observed_metrics(obs) or toked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        F.count("dl").alias("dl_docs"),
    ).first().asDict()
    got = {k: v or 0 for k, v in got.items()}  # SUM over no rows is NULL
    added = sorted(os.path.join(path, f) for f, _, _ in data_files(path) - before)
    written = (
        spark.read.schema(postings.schema).parquet(*added)
        if added
        else local_relation(spark, postings.schema)
    )
    return written, got


def _dfreq_rows(postings: DataFrame) -> DataFrame:
    # one (term, 1) row per posting: a term's df is its number of postings
    return postings.select("term", F.lit(1).cast("long").alias("df"))


def _write_stats(base: str, stats: dict, n_docs: int, total_dl: int, dl_docs: int) -> None:
    """Commit point of a build or append: stats.json is written last."""
    stats.update({
        "n_docs": n_docs,
        "avgdl": total_dl / dl_docs if dl_docs else 0.0,
        "total_dl": total_dl,
        "dl_docs": dl_docs,
    })
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "stats.json"), "w") as f:
        json.dump(stats, f)


def fts_search(
    spark: SparkSession,
    artifact_dir: str,
    query: str,
    k: int,
    name: str = "fts",
    operator: str = "OR",
    score_name: str = "bm25_score",
) -> DataFrame:
    """Index-backed BM25 top-k. Same scores as the direct path (table-global
    stats), but the scan touches only the query terms' postings.

    One groupBy over the term-pruned postings pivots each doc's tf per
    query term, in query-term order, and takes its dl; df comes from the
    dfreq memo and N and avgdl from stats.json, all as literals into
    ``bm25_scores_from_tf`` — the direct path's scorer, so indexed and
    direct scores are bit-identical doubles.  A term absent from the index
    has no postings: its tf is NULL and it adds the scorer's 0.0.  Doc ids
    are assumed unique across the build and its appends; a duplicated id
    scores as one doc whose tf sums its copies' and whose dl is the
    longest copy's."""
    if k is None or k <= 0:
        raise InvalidSearchQuery("text search requires a positive LIMIT (top-k)")
    base, stats = _built(artifact_dir, name)
    terms = tokenize_query(
        query, stats["tokenizer"], spec=_spec_from_json(stats.get("spec"))
    )
    if not terms:
        raise InvalidSearchQuery("empty text-search query after tokenization")
    all_postings, dfreq = _cached_index_frames(spark, base)
    dfmap = _cached_dfmap(dfreq, base, terms)
    # term filter prunes the cached columnar batches (min/max per batch;
    # on a cold cache the same predicate pushes into the parquet scan)
    tfed = all_postings.filter(F.col("term").isin(terms)).groupBy("doc_id").agg(
        F.max("dl").cast("double").alias("_dl"),
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf"))).cast("double").alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    lit_stats = (float(stats["n_docs"]), float(stats["avgdl"]), [dfmap[t] for t in terms])
    return (
        bm25_scores_from_tf(tfed, len(terms), operator, score_name, stats=lit_stats)
        .orderBy(F.col(score_name).desc(), F.col("doc_id").asc())
        .limit(k)
    )


def append_to_fts_index(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    artifact_dir: str,
    name: str = "fts",
) -> dict:
    """Incremental maintenance (≈ index build on a freshly inserted part) in
    O(batch + vocabulary): append the batch's postings, merge its per-term
    counts into dfreq, and update the global stats from its totals.  Write
    order: postings, then dfreq (tmp + rename), then stats.json last as the
    commit point."""
    base, stats = _built(artifact_dir, name)
    toked = _tokenized(
        new_docs, text_col, id_col, stats["tokenizer"], _spec_from_json(stats.get("spec"))
    )
    written, totals = _write_postings(toked, os.path.join(base, "postings"), "append")
    dfreq_path = os.path.join(base, "dfreq")
    merged = (
        new_docs.sparkSession.read.schema(_DFREQ_SCHEMA).parquet(dfreq_path)
        .unionByName(_dfreq_rows(written))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    tmp = os.path.join(base, "dfreq_next")
    merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(dfreq_path)
    os.rename(tmp, dfreq_path)
    _write_stats(
        base, stats,
        stats["n_docs"] + totals["n_docs"],
        stats["total_dl"] + totals["total_dl"],
        stats["dl_docs"] + totals["dl_docs"],
    )
    reg = IndexRegistry(artifact_dir)
    reg.set_status(name, "Built", base=base)
    return reg.get(name)
