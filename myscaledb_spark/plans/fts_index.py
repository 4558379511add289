"""Persisted full-text index — the Spark answer to the reference's per-part
tantivy index (`src/Storages/MergeTree/TantivyIndexStore.h:55-59`,
`MergeTreeIndexTantivy.cpp`; build lifecycle like §3.3).

Artifact layout (parquet):
  <root>/<name>/postings/   (term, doc_id, tf, dl)  partitioned/bucketable
                            by term; dl is inlined per posting (Lucene
                            stores per-doc norms with the index the same
                            way) so scoring needs no doc-length join
  <root>/<name>/dfreq/      (term: string, df: bigint)  per-term doc
                            frequency, one part per build or append (each
                            the per-term counts of its docs), so a term's
                            df is the sum of its rows — the reference's
                            tantivy index stores term dictionaries with doc
                            counts likewise, one per part
  <root>/<name>/stats.json  {n_docs, avgdl, total_dl, dl_docs, tokenizer,
                            spec}: total_dl is the integer sum of the doc
                            lengths over the dl_docs docs that have one
                            (dl_docs == n_docs unless a text is NULL), and
                            avgdl = total_dl / dl_docs — bit-identical to
                            Spark's avg(dl), which sums integer lengths as
                            doubles (exact below 2^53)

An artifact without dfreq/ or without total_dl predates this layout;
searches and appends refuse it with one "rebuild the index" error.

Query path (`fts_search`): below ``session.DRIVER_RESIDENT_BYTES`` of Arrow
the postings and dfreq directories are held on the driver
(``frame_cache.resident_parquet``, read with pyarrow, keyed on their file
listing; an append's new postings files are read alone and concatenated)
and the search runs in numpy over their CSR form (``resident.Postings``)
with the scorer's own expression (``text.bm25_sum``), each df summed over
the dfreq parts: no Spark job, the Spark plan's rows and score bits.  Above
the gate it scores through the
same ``text.bm25_scores_from_tf`` as the direct path, but takes tf and dl
from ONLY the query terms' postings (predicate pushed to the parquet scan)
instead of re-tokenizing the corpus — at 100 TB this is the difference
between touching ~kB of postings and re-scanning the table.
Incremental maintenance (`append_to_fts_index`, ≈ VIBuilderUpdater on new
parts, foreachBatch in streaming ingestion) costs O(batch), not O(index): the
batch is tokenized once, its postings and its per-term counts are added as
new files of postings/ and dfreq/ (no file already written is rewritten),
and the global stats are updated from the batch's counts.  Below the driver
gate the batch's tokens come from its driver snapshot and both parts are
written with pyarrow (``_driver_append``); otherwise Spark writes them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, IntegerType, LongType, ShortType, StringType, StructField, StructType,
)

from myscaledb_spark import memo
from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.functions.text import bm25_scores_from_tf, tokenize, tokenize_query
from myscaledb_spark.plans.frame_cache import cached_parquet, data_files, resident_parquet
from myscaledb_spark.plans.vector_index import IndexRegistry
from myscaledb_spark.session import local_relation, observed_metrics

#: the schema every dfreq dir is written with, so reads skip inference
_DFREQ_SCHEMA = StructType(
    [StructField("term", StringType()), StructField("df", LongType())]
)

#: doc id types the driver search serves: its doc grouping is Arrow's value
#: equality, Spark's for these
_DRIVER_ID_TYPES = (ByteType, ShortType, IntegerType, LongType, StringType)

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
        rows = dfreq.filter(F.col("term").isin(need)).collect()
        got = _summed((r["term"], r["df"]) for r in rows)
        return {t: float(got.get(t, 0)) for t in need}

    mtime = os.path.getmtime(os.path.join(base, "stats.json"))
    table = memo.get(dfreq.sparkSession, "fts_dfmap", base, mtime, dict, slots=16)
    return memo.terms(table, terms, fetch)


def _summed(pairs) -> dict:
    """{term: df} from (term, df) rows of dfreq: a term has one row in each
    part that counts it, and its df is their sum."""
    out: dict = {}
    for t, n in pairs:
        out[t] = out.get(t, 0) + n
    return out


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
    _write_dfreq(written, os.path.join(base, "dfreq"), "overwrite")
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
    fallback when the observed totals do not arrive in time.  An append of
    no docs removes the empty file its write added and returns no
    postings, so the listing is left as it was."""
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
    if mode == "append" and not got["n_docs"]:
        for f in added:  # with the checksum file Hadoop's local FS writes beside it
            for gone in (f, os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")):
                if os.path.exists(gone):
                    os.remove(gone)
        return None, got
    written = (
        spark.read.schema(postings.schema).parquet(*added)
        if added
        else local_relation(spark, postings.schema)
    )
    return written, got


def _write_dfreq(postings: DataFrame, path: str, mode: str) -> None:
    """Write the per-term counts of ``postings`` to ``path`` as one dfreq
    part: a term's df in a part is its number of postings there."""
    postings.groupBy("term").agg(F.count(F.lit(1)).alias("df")).write.mode(mode).parquet(path)


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

    Below the driver gate the answer comes from the artifact held on the
    driver (``_driver_search``) as a local relation, with no Spark job.
    Above it, one groupBy over the term-pruned postings pivots each doc's tf per
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
    out = _driver_search(spark, base, stats, terms, k, operator, score_name)
    if out is not None:
        return out
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


def _driver_search(spark, base: str, stats: dict, terms: list, k: int, operator: str,
                   score_name: str) -> DataFrame | None:
    """``fts_search``'s answer from the postings and dfreq held on the
    driver (``frame_cache.resident_parquet``), with no Spark job: the
    postings as CSR (``Snapshot.index_postings``: tf summed per (doc,
    term), a doc's length its largest dl among the query terms' postings,
    a duplicated doc id one doc), df from dfreq, N and avgdl from
    stats.json, scored by ``Postings.bm25`` (``text.bm25_sum``, each idf's
    log from ``StrictMath.log``) and ordered by (score DESC, doc_id ASC) —
    the Spark plan's rows and score bits.  None when either directory is
    not held or doc ids are neither integers nor strings."""
    from myscaledb_spark.resident import emit_rows, top

    post = resident_parquet(spark, os.path.join(base, "postings"))
    if post is None or not isinstance(post.schema["doc_id"].dataType, _DRIVER_ID_TYPES):
        return None
    dfreq = resident_parquet(spark, os.path.join(base, "dfreq"))
    if dfreq is None:
        return None
    found = dfreq.table.filter(pc.is_in(dfreq.table.column("term"), pa.array(terms, pa.string())))
    dfs = _summed(zip(found.column("term").to_pylist(), found.column("df").to_pylist()))
    inv = post.index_postings()
    cand, scores = inv.bm25(terms, operator, float(stats["n_docs"]), float(stats["avgdl"]),
                            [float(dfs.get(t, 0.0)) for t in terms])
    best = top(scores, k, True, lambda i: inv.ids.take(pa.array(cand[i])).to_pylist())
    return emit_rows(spark, StructType([post.schema["doc_id"]]), pa.table({"doc_id": inv.ids}),
                     cand[best].tolist(), score_name, scores[best].tolist())


def append_to_fts_index(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    artifact_dir: str,
    name: str = "fts",
) -> dict:
    """Incremental maintenance (≈ index build on a freshly inserted part) in
    O(batch): add the batch's postings and its per-term counts as new files
    of postings/ and dfreq/, then update the global stats from its totals.
    stats.json is written last, as the commit point.  Below the driver gate
    the driver writes both parts (``_driver_append``); any batch it
    declines is tokenized, counted and written by Spark.  An empty batch
    writes nothing and returns the record as it was."""
    base, stats = _built(artifact_dir, name)
    spec = _spec_from_json(stats.get("spec"))
    totals = _driver_append(new_docs, text_col, id_col, base, stats["tokenizer"], spec)
    if totals is None:
        toked = _tokenized(new_docs, text_col, id_col, stats["tokenizer"], spec)
        written, totals = _write_postings(toked, os.path.join(base, "postings"), "append")
        if written is not None:
            _write_dfreq(written, os.path.join(base, "dfreq"), "append")
    reg = IndexRegistry(artifact_dir)
    if totals["n_docs"]:
        _write_stats(
            base, stats,
            stats["n_docs"] + totals["n_docs"],
            stats["total_dl"] + totals["total_dl"],
            stats["dl_docs"] + totals["dl_docs"],
        )
        reg.set_status(name, "Built", base=base)
    return reg.get(name)


def _driver_append(new_docs: DataFrame, text_col: str, id_col: str, base: str,
                   tokenizer: str, spec) -> dict | None:
    """Append ``new_docs`` from the driver: the batch held by
    ``vector_index._driver_batch`` (the same snapshot an IVF append of it
    took), its postings rows (term, doc_id, tf bigint, dl int, as
    ``_postings`` types them) from ``Snapshot.postings`` under the index's
    analyzer, and its per-term counts, each written as one new file
    (``frame_cache.append_part``).  Returns the batch's totals {n_docs,
    total_dl, dl_docs}, counted from the doc lengths Spark computed with the
    tokens as ``_postings`` counts them, so the NULL-text rule stays
    Spark's; or None, having written nothing, when the batch is not held,
    the text is not a string, the ids are typed otherwise than the
    postings', or a directory has no file to take Spark's schema from."""
    from myscaledb_spark.plans.frame_cache import append_part, part_footer
    from myscaledb_spark.plans.vector_index import _driver_batch

    snap = _driver_batch(new_docs, id_col, text_col)
    if snap is None or not isinstance(snap.schema[text_col].dataType, StringType):
        return None
    post_dir, dfreq_dir = os.path.join(base, "postings"), os.path.join(base, "dfreq")
    post_footer = part_footer(post_dir, StructType([
        StructField("term", StringType()), StructField("doc_id", snap.schema[id_col].dataType),
        StructField("tf", LongType()), StructField("dl", IntegerType())]))
    dfreq_footer = part_footer(dfreq_dir, _DFREQ_SCHEMA)
    if post_footer is None or dfreq_footer is None:
        return None
    if not snap.n:
        return {"n_docs": 0, "total_dl": 0, "dl_docs": 0}
    post = snap.postings(text_col, tokenizer, spec)
    counts = np.diff(post.ptr)
    vocab = pa.array(post.vocab, pa.string())
    if len(post.docs):
        append_part(post_dir, pa.table({
            "term": vocab.take(pa.array(np.repeat(np.arange(len(counts)), counts))),
            "doc_id": snap.table.column(id_col).take(pa.array(post.docs)),
            "tf": post.tf.astype(np.int64),
            "dl": post.dl.astype(np.int32),
        }), post_footer)
        append_part(dfreq_dir, pa.table({"term": vocab, "df": counts.astype(np.int64)}),
                    dfreq_footer)
    counted = post.lengths[~np.isnan(post.lengths)]
    return {"n_docs": snap.n, "total_dl": int(counted.sum()), "dl_docs": len(counted)}
