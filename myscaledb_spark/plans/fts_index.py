"""Persisted full-text index — the Spark answer to the reference's per-part
tantivy index (`src/Storages/MergeTree/TantivyIndexStore.h:55-59`,
`MergeTreeIndexTantivy.cpp`; build lifecycle like §3.3).

Artifact layout (parquet):
  <root>/<name>/postings/   (term, doc_id, tf, dl)  partitioned/bucketable
                            by term; dl is inlined per posting (Lucene
                            stores per-doc norms with the index the same
                            way) so scoring needs NO doclens join
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
  <root>/<name>/doclens/    (doc_id, dl)  legacy only: pre-r8 artifacts (no
                            dl column, no dfreq dir) keep it, and fts_search
                            reads it through the join-based plan; an artifact
                            with dfreq built before stats.json held total_dl
                            has its doclens summed once, by its first append,
                            which then removes it

Query path (`fts_search`) computes exactly the same tantivy-style BM25 as
functions/text.py but reads ONLY the query terms' postings (predicate pushed
to the parquet scan) instead of re-tokenizing the corpus — at 100 TB this is
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

from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.functions.text import BM25_B, BM25_K1, tokenize, tokenize_query
from myscaledb_spark.plans.frame_cache import cached_parquet, data_files
from myscaledb_spark.plans.vector_index import IndexRegistry
from myscaledb_spark.session import observed_metrics

#: the schema every dfreq dir is written with, so reads skip inference
_DFREQ_SCHEMA = StructType(
    [StructField("term", StringType()), StructField("df", LongType())]
)

#: Retired: the artifact frames live in ``frame_cache._CACHE`` with every
#: other index's.  The name stays, always empty, for tools that count the
#: keys of both caches.
_FRAMES_CACHE: dict[tuple, tuple] = {}


def _cached_index_frames(spark: SparkSession, base: str):
    """(postings, doclens, dfreq) of an artifact, persisted through
    frame_cache.  Exactly one of doclens and dfreq is None: an artifact
    with a dfreq dir never opens its doclens."""
    postings = cached_parquet(spark, os.path.join(base, "postings"))
    dfreq_path = os.path.join(base, "dfreq")
    if os.path.isdir(dfreq_path):
        return postings, None, cached_parquet(spark, dfreq_path, _DFREQ_SCHEMA)
    return postings, cached_parquet(spark, os.path.join(base, "doclens")), None


#: per-build document-frequency memo: {(base, stats mtime): {term: df|None}}
#: (None = term absent from the index).  The r8 fast path collected the
#: pruned dfreq rows on EVERY query — one whole Spark job per search just
#: to fetch ≤|terms| floats; repeated terms now resolve driver-side.
#: Keyed by (base, stats.json mtime): append/rebuild rewrites stats.json,
#: which invalidates the stale entry.
_DFMAP_CACHE: dict[tuple, dict] = {}
_DFMAP_MAX_TERMS = 4096


def _cached_dfmap(dfreq, base: str, terms: list[str]) -> dict:
    """{term: df} for the terms PRESENT in the index (absent terms omitted,
    matching the pruned-collect behavior), collecting only cache misses."""
    key = (base, os.path.getmtime(os.path.join(base, "stats.json")))
    for stale in [k for k in _DFMAP_CACHE if k[0] == base and k != key]:
        _DFMAP_CACHE.pop(stale)
    memo = _DFMAP_CACHE.setdefault(key, {})
    need = [t for t in set(terms) if t not in memo]
    if need:
        if len(memo) + len(need) > _DFMAP_MAX_TERMS:
            # eviction drops previously-cached terms of THIS query too, so
            # the whole term set must be re-collected, not just the misses
            # (r10 ADVICE: memo[t] below would KeyError otherwise)
            memo.clear()
            need = list(set(terms))
        for r in dfreq.filter(F.col("term").isin(need)).collect():
            memo[r["term"]] = float(r["df"])
        for t in need:
            memo.setdefault(t, None)
    return {t: memo[t] for t in set(terms) if memo[t] is not None}


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
    # a rebuild over a legacy artifact leaves no stale doclens behind
    shutil.rmtree(os.path.join(base, "doclens"), ignore_errors=True)
    _write_stats(base, {"tokenizer": tokenizer, "spec": _spec_to_json(spec)},
                 totals["n_docs"], totals["total_dl"], totals["dl_docs"])
    reg.set_status(name, "Built", base=base)
    return reg.get(name)


def _tokenized(docs: DataFrame, text_col: str, id_col: str, tokenizer: str, spec):
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize(text_col, tokenizer, spec=spec).alias("toks"),
    ).withColumn("dl", F.size("toks"))


def _postings(toked: DataFrame, with_dl: bool = True):
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
            # constant-per-doc dl) so the query path never joins doclens
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
    return postings.select("term", "doc_id", "tf", *(["dl"] if with_dl else [])), obs


def _write_postings(toked: DataFrame, path: str, mode: str, with_dl: bool = True):
    """Write the postings of one tokenized batch to ``path``; return (the
    postings this write added, read back from its own files with their
    known schema, and the batch's totals).  A 1-row collect is the
    fallback when the observed totals do not arrive in time."""
    spark = toked.sparkSession
    before = data_files(path) if mode == "append" and os.path.isdir(path) else frozenset()
    postings, obs = _postings(toked, with_dl)
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
        else spark.createDataFrame([], postings.schema)
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
    stats), but the scan touches only the query terms' postings."""
    if k is None or k <= 0:
        raise InvalidSearchQuery("text search requires a positive LIMIT (top-k)")
    reg = IndexRegistry(artifact_dir)
    rec = reg.get(name)
    if rec is None or rec.get("status") != "Built":
        raise RuntimeError(f"fts index {name!r} not built")
    base = rec["base"]
    stats = json.load(open(os.path.join(base, "stats.json")))
    terms = tokenize_query(
        query, stats["tokenizer"], spec=_spec_from_json(stats.get("spec"))
    )
    if not terms:
        raise InvalidSearchQuery("empty text-search query after tokenization")
    n_docs, avgdl = float(stats["n_docs"]), float(stats["avgdl"])

    all_postings, doclens, dfreq = _cached_index_frames(spark, base)
    # term filter prunes the cached columnar batches (min/max per batch;
    # on a cold cache the same predicate pushes into the parquet scan)
    postings = all_postings.filter(F.col("term").isin(terms))

    if dfreq is not None:
        # r8 fast path (an artifact with dfreq always inlines dl): df comes
        # from the dfreq table (one tiny pruned lookup — ≤ #query-terms
        # rows) and dl is inlined in the postings, so the scoring plan is
        # ONE groupBy pivot over the pruned
        # postings + executeTake — zero joins, one shuffle (map-side
        # partial-agg'd), vs the legacy plan's dfreq shuffle + broadcast
        # join + doclens join.
        dfmap = _cached_dfmap(dfreq, base, terms)
        norm = (
            F.col("tf").cast("double")
            * (BM25_K1 + 1.0)
            / (
                F.col("tf").cast("double")
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / F.lit(avgdl))
            )
        )
        # Pivot per-term norms and add idf·norm in query-term order — the
        # same association order as bm25_scores' expression tree
        # (((0+s0)+s1)+s2), so indexed and direct scores are bit-identical
        # doubles. idf's log argument is computed driver-side with the same
        # IEEE op order ((n_docs - df) + 0.5) / (df + 0.5); F.log of the
        # literal is constant-folded by the SAME JVM Math.log as the legacy
        # column expression, so the folded constant is bit-identical too.
        aggs = [
            F.sum(F.when(F.col("term") == t, norm)).alias(f"_n_{i}")
            for i, t in enumerate(terms)
        ] + [F.count(F.lit(1)).alias("_nterms")]
        agg = postings.groupBy("doc_id").agg(*aggs)
        score = F.lit(0.0)
        for i, t in enumerate(terms):
            if t in dfmap:
                idf = F.log(
                    F.lit(1.0 + (n_docs - dfmap[t] + 0.5) / (dfmap[t] + 0.5))
                )
                score = score + F.coalesce(idf * F.col(f"_n_{i}"), F.lit(0.0))
            else:
                # term absent from the index: no posting rows, contributes
                # exactly the 0.0 the legacy inner-join plan contributed
                score = score + F.lit(0.0)
        agg = agg.withColumn(score_name, score)
        if operator.upper() == "AND":
            agg = agg.filter(F.col("_nterms") == len(terms))
        return (
            agg.drop("_nterms", *[f"_n_{i}" for i in range(len(terms))])
            .orderBy(F.col(score_name).desc(), F.col("doc_id").asc())
            .limit(k)
        )

    # legacy plan for pre-r8 artifacts (no dfreq dir / no inlined dl)
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .join(doclens, "doc_id")
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_s",
            # parenthesized idf * (norm) — the exact association order of
            # bm25_scores' `idf * norm`, keeping indexed scores bit-identical
            F.col("_idf")
            * (
                F.col("tf").cast("double")
                * (BM25_K1 + 1.0)
                / (
                    F.col("tf").cast("double")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / F.lit(avgdl))
                )
            ),
        )
    )
    # Pivot per-term scores and add them in query-term order — the same
    # association order as bm25_scores' expression tree (((0+s0)+s1)+s2), so
    # indexed and direct scores are bit-identical doubles, not just close.
    # A float F.sum over term-rows would have nondeterministic add order.
    aggs = [
        F.sum(F.when(F.col("term") == t, F.col("_s"))).alias(f"_s_{i}")
        for i, t in enumerate(terms)
    ] + [F.count(F.lit(1)).alias("_nterms")]
    agg = scored.groupBy("doc_id").agg(*aggs)
    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + F.coalesce(F.col(f"_s_{i}"), F.lit(0.0))
    agg = agg.withColumn(score_name, score)
    if operator.upper() == "AND":
        agg = agg.filter(F.col("_nterms") == len(terms))
    return (
        agg.drop("_nterms", *[f"_s_{i}" for i in range(len(terms))])
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
    reg = IndexRegistry(artifact_dir)
    rec = reg.get(name)
    if rec is None or rec.get("status") != "Built":
        raise RuntimeError(f"fts index {name!r} not built")
    base = rec["base"]
    stats = json.load(open(os.path.join(base, "stats.json")))
    toked = _tokenized(
        new_docs, text_col, id_col, stats["tokenizer"], _spec_from_json(stats.get("spec"))
    )
    dfreq_path = os.path.join(base, "dfreq")
    doclens_path = os.path.join(base, "doclens")
    has_dfreq = os.path.isdir(dfreq_path)
    spark = new_docs.sparkSession
    total_dl, dl_docs = stats.get("total_dl"), stats.get("dl_docs", stats["n_docs"])
    if total_dl is None:  # artifact from before total_dl: derive it once
        if os.path.isdir(doclens_path):
            # exact: count(dl) skips NULL lengths, as avg(dl) did
            total_dl, dl_docs = spark.read.parquet(doclens_path).agg(
                F.sum("dl"), F.count("dl")
            ).first()
            total_dl = total_dl or 0
        else:
            total_dl = round(stats["avgdl"] * dl_docs)
    written, totals = _write_postings(
        toked, os.path.join(base, "postings"), "append", with_dl=has_dfreq
    )
    if has_dfreq:
        merged = (
            spark.read.schema(_DFREQ_SCHEMA).parquet(dfreq_path)
            .unionByName(_dfreq_rows(written))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        tmp = os.path.join(base, "dfreq_next")
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(dfreq_path)
        os.rename(tmp, dfreq_path)
    else:
        # pre-r8 artifact: keep its (term, doc_id, tf) postings and the
        # doclens its join-based plan reads
        toked.select("doc_id", "dl").write.mode("append").parquet(doclens_path)
    _write_stats(
        base, stats,
        stats["n_docs"] + totals["n_docs"],
        total_dl + totals["total_dl"],
        dl_docs + totals["dl_docs"],
    )
    if has_dfreq:
        # an artifact built before total_dl: its doclens, now stale, is
        # read by nothing once stats.json holds the totals
        shutil.rmtree(doclens_path, ignore_errors=True)
    reg.set_status(name, "Built", base=base)
    return reg.get(name)
