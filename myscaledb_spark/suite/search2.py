"""Index-machinery gate entries + information-theoretic aggregates.

pq_rerank_topk runs the FULL PQ pipeline (codebook training → encoding → ADC
candidate scan → exact re-rank) with candidates covering the corpus, so the
final result is provably the exact top-k — giving the index machinery a
bit-exact oracle through the driver gate. ivf_search_topk is the genuinely
approximate path → rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark.catalog import load_table
from myscaledb_spark.suite import register
from myscaledb_spark.suite.artifact_cache import cached_artifact, cached_value
from myscaledb_spark.suite.search import QV, QV2, sql_ip, sql_l2


@register(
    "pq_rerank_topk",
    f"""
    SELECT vec_id, ROUND({sql_l2('embedding', QV)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 6
    """,
)
def pq_rerank_topk(spark, sf_dir):
    from myscaledb_spark.plans.pq_index import build_pq_index, pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    art = cached_artifact(
        sf_dir, "pq_m8_ks16",
        lambda d: build_pq_index(emb, "embedding", "vec_id", d, m=8, ks=16),
    )
    n = cached_value(sf_dir, "embeddings_count", emb.count)
    # candidates ≥ corpus ⇒ re-rank is exact ⇒ result == exact top-k oracle
    out = pq_search(spark, art, QV, 6, candidate_multiple=(n // 6) + 1)
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


@register(
    "sq_rerank_topk",
    f"""
    SELECT vec_id, ROUND({sql_l2('embedding', QV)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 6
    """,
)
def sq_rerank_topk(spark, sf_dir):
    """Full SQ pipeline (per-dim min/max stats → int8 encode → dequantized
    scan → exact re-rank) with candidates ≥ corpus ⇒ bit-exact top-k."""
    from myscaledb_spark.plans.sq_index import build_sq_index, sq_search

    emb = load_table(spark, sf_dir, "embeddings")
    art = cached_artifact(
        sf_dir, "sq", lambda d: build_sq_index(emb, "embedding", "vec_id", d)
    )
    n = cached_value(sf_dir, "embeddings_count", emb.count)
    out = sq_search(spark, art, QV, 6, candidate_multiple=(n // 6) + 1)
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


def _recall_indicator(spark, got, exact, k: int, floor: float):
    """(k, n_results, recall_ok) from two ≤k-row candidate frames with ONE
    Spark job: tag + union the independent subtrees (each keeps its own
    TakeOrderedAndProject), compute the overlap driver-side, and emit the
    1-row indicator as a VALUES LocalRelation — the old
    intersect().count() + count() + createDataFrame shape scheduled four
    jobs per invocation for a ≤2k-row comparison."""
    tagged = got.select(F.col(got.columns[0]).alias("_id"), F.lit(0).alias("_leg")).unionAll(
        exact.select(F.col(exact.columns[0]).alias("_id"), F.lit(1).alias("_leg"))
    )
    rows = tagged.collect()
    got_ids = [r[0] for r in rows if r[1] == 0]
    e = {r[0] for r in rows if r[1] == 1}
    ok = 1 if len(set(got_ids) & e) / float(k) >= floor else 0
    return spark.sql(
        f"SELECT CAST({int(k)} AS INT) AS k,"
        f" CAST({len(got_ids)} AS BIGINT) AS n_results,"
        f" CAST({ok} AS INT) AS recall_ok"
    )


@register(
    "ivf_search_topk",
    "SELECT 10 AS k, CAST(10 AS BIGINT) AS n_results, 1 AS recall_ok",
)
def ivf_search_topk(spark, sf_dir):
    """Approximate IVF search, recall-pinned (r5 VERDICT ask #6): the query
    runs the genuinely approximate nprobe<ncentroids path AND the exact
    brute-force top-k, and emits (k, n_results, recall_ok = recall@10 ≥
    0.3).  The build is deterministic, so the indicator is a stable
    hash-checkable value (measured recall@10: 0.5 at sf0.001, 0.7 at
    sf0.01 — 0.3 leaves margin without letting a broken index pass);
    `ivf_search_exhaustive` keeps the bit-exact oracle for the machinery."""
    from myscaledb_spark.operators.topk import vector_topk
    from myscaledb_spark.plans.vector_index import build_ivf_index, ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    art = cached_artifact(
        sf_dir, "ivf_c8",
        lambda d: build_ivf_index(emb, "embedding", "vec_id", d, num_centroids=8),
    )
    got = ivf_search(spark, art, QV, 10, nprobe=4).select("vec_id")
    exact = vector_topk(
        emb, "embedding", QV, 10, metric="L2", id_col="vec_id"
    ).select("vec_id")
    return _recall_indicator(spark, got, exact, 10, 0.3)


@register(
    "ivf_search_exhaustive",
    f"""
    SELECT vec_id, ROUND({sql_l2('embedding', QV)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def ivf_search_exhaustive(spark, sf_dir):
    """Full IVF artifact path with nprobe = ncentroids: probing every
    inverted list makes the candidate set the whole corpus, so the exact
    re-rank equals brute force bit-for-bit (MergeTreeVSManager.cpp:382-408
    brute-force equivalence; reference test 00028_mqvs_mstg*). This gives
    the build → partitioned write → centroid-routed probe → exact-rank
    machinery a hash-green oracle; ivf_search_topk keeps exercising the
    genuinely approximate nprobe<ncentroids path (rows-only + recall sweeps
    in BENCH)."""
    from myscaledb_spark.plans.vector_index import build_ivf_index, ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    art = cached_artifact(
        sf_dir, "ivf_c8",
        lambda d: build_ivf_index(emb, "embedding", "vec_id", d, num_centroids=8),
    )
    out = ivf_search(spark, art, QV, 10, nprobe=8)
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


@register(
    "mstg_search_topk",
    "SELECT 10 AS k, CAST(10 AS BIGINT) AS n_results, 1 AS recall_ok",
)
def mstg_search_topk(spark, sf_dir):
    """MSTG analog (MyScale flagship; closed contrib/search-index): 2-level
    tree routing over per-leaf NSW graphs (plans/mstg_index.py).

    Recall-pinned like `ivf_search_topk` (r5 VERDICT ask #6): emits
    (k, n_results, recall_ok = recall@10 ≥ 0.3) against the exact
    brute-force top-k — deterministic build ⇒ stable hash (measured
    recall@10: 0.5 at sf0.001, 0.4 at sf0.01)."""
    from myscaledb_spark.operators.topk import vector_topk
    from myscaledb_spark.plans.mstg_index import build_mstg_index, mstg_search

    emb = load_table(spark, sf_dir, "embeddings")
    art = cached_artifact(
        sf_dir, "mstg_l8_t3",
        lambda d: build_mstg_index(emb, "embedding", "vec_id", d, num_leaves=8, num_top=3),
    )
    got = mstg_search(spark, art, QV, 10, probe_top=2, nprobe=4).select("vec_id")
    exact = vector_topk(
        emb, "embedding", QV, 10, metric="L2", id_col="vec_id"
    ).select("vec_id")
    return _recall_indicator(spark, got, exact, 10, 0.3)


@register(
    "hnsw_search_exhaustive",
    f"""
    SELECT vec_id, ROUND({sql_l2('embedding', QV)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def hnsw_search_exhaustive(spark, sf_dir):
    """HNSW artifact path with exhaustive exact ranking over the stored
    per-part graphs: every graph row ranked with the native distance
    expression ≡ brute force, pinning the build → partitioned-graph
    storage → read machinery to a bit-exact oracle (the beam path keeps
    its recall sweeps in BENCH: 0.9-1.0 @ ef50-100)."""
    from myscaledb_spark.plans.hnsw_index import build_hnsw_index, hnsw_search

    emb = load_table(spark, sf_dir, "embeddings")
    art = cached_artifact(
        sf_dir, "hnsw_m8_ef32",
        lambda d: build_hnsw_index(emb, "embedding", "vec_id", d, m=8, ef_construction=32),
    )
    out = hnsw_search(spark, art, QV, 10, exhaustive=True)
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


@register(
    "mstg_search_exhaustive",
    f"""
    SELECT vec_id, ROUND({sql_l2('embedding', QV)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def mstg_search_exhaustive(spark, sf_dir):
    """MSTG artifact path probing ALL top cells and ALL leaves with exact
    per-leaf ranking (exhaustive=True): candidates = whole corpus ⇒ result
    ≡ brute force (MergeTreeVSManager.cpp:382-408), so the flagship index's
    build → tree routing → partition-pruned leaf read machinery gets a
    bit-exact oracle; mstg_search_topk keeps the approximate beam path."""
    from myscaledb_spark.plans.mstg_index import build_mstg_index, mstg_search

    emb = load_table(spark, sf_dir, "embeddings")
    art = cached_artifact(
        sf_dir, "mstg_l8_t3",
        lambda d: build_mstg_index(emb, "embedding", "vec_id", d, num_leaves=8, num_top=3),
    )
    out = mstg_search(spark, art, QV, 10, probe_top=3, nprobe=8, exhaustive=True)
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


# --- search composition (§2.9 last uncovered rows) ----------------------------
@register(
    "vec_search_join",
    f"""
    SELECT d.doc_id, d.lang, d.n_chars, ROUND({sql_l2('e.embedding', QV)}, 4) AS dist
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.lang = 'en'
    ORDER BY {sql_l2('e.embedding', QV)} ASC, d.doc_id ASC
    LIMIT 10
    """,
)
def vec_search_join(spark, sf_dir):
    """Vector search over a JOINed table — reference tests
    00025_mqvs_*_subquery / 00026_mqvs_distance_with_join
    (TreeRewriter.cpp:1502-1565 moves distance through joins): distance()
    computed on the right side of documents⋈embeddings with a pre-filter on
    the left side. DataFrames compose this naturally: filter → broadcast-join
    → exact top-k; the filter applies BEFORE candidate generation (filtered
    search ordering) and the small filtered side broadcasts."""
    from myscaledb_spark.operators.topk import vector_topk

    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = F.broadcast(docs).join(emb, docs["doc_id"] == emb["vec_id"])
    out = vector_topk(joined, "embedding", QV, 10, "L2", id_col="doc_id")
    return out.select("doc_id", "lang", "n_chars", F.round("dist", 4).alias("dist"))


@register(
    "vec_search_subquery",
    f"""
    SELECT vec_id, ROUND({sql_l2('embedding', QV2)}, 4) AS dist
    FROM (
      SELECT * FROM embeddings
      WHERE vec_id IN (SELECT doc_id FROM documents WHERE n_chars >= 200)
    )
    ORDER BY {sql_l2('embedding', QV2)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def vec_search_subquery(spark, sf_dir):
    """Vector search INSIDE a subquery — reference test
    00025_mqvs_distance_subquery (TreeRewriter.cpp:1502-1565): the search
    table is itself a subquery (semi-join-restricted embeddings). Spark
    expresses the IN-subquery as a left-semi join (broadcast, the doc-id
    side is small after its filter) and the top-k still compiles to
    TakeOrderedAndProject over the filtered scan."""
    from myscaledb_spark.operators.topk import vector_topk

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    emb = load_table(spark, sf_dir, "embeddings")
    sub = emb.join(
        F.broadcast(docs.select(F.col("doc_id").alias("vec_id"))), "vec_id", "semi"
    )
    out = vector_topk(sub, "embedding", QV2, 10, "L2", id_col="vec_id")
    return out.select("vec_id", F.round("dist", 4).alias("dist"))


@register(
    "vec_multi_distance",
    f"""
    SELECT vec_id,
           ROUND({sql_l2('embedding', QV)}, 4) AS dist_l2,
           ROUND({sql_ip('embedding', QV2)}, 4) AS dist_ip
    FROM embeddings
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def vec_multi_distance(spark, sf_dir):
    """Multiple distance functions in ONE query — reference test
    00037_mqvs_select_multiple_vector_indices.sql: two different metrics
    (L2 vs IP, different query vectors) evaluated per row, ordered by one.
    Both are native zip_with/aggregate expressions in a single projection —
    one scan, no extra shuffle."""
    from myscaledb_spark.functions.vector import distance

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("dist_l2", distance("embedding", QV, "L2"))
        .withColumn("dist_ip", distance("embedding", QV2, "IP"))
        .orderBy(F.col("dist_l2").asc(), F.col("vec_id").asc())
        .limit(10)
        .select(
            "vec_id",
            F.round("dist_l2", 4).alias("dist_l2"),
            F.round("dist_ip", 4).alias("dist_ip"),
        )
    )


# --- entropy / theilsU (registerAggregateFunctions.cpp:78-81) -----------------
@register(
    "entropy_event_types",
    """
    WITH c AS (
      SELECT (user_id % 5) AS bucket, event_type, COUNT(*)::DOUBLE AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT bucket, SUM(n) AS t FROM c GROUP BY bucket)
    SELECT c.bucket, ROUND(-SUM((n / t) * ln(n / t)), 6) AS entropy
    FROM c JOIN tot ON c.bucket = tot.bucket
    GROUP BY c.bucket
    """,
)
def entropy_event_types(spark, sf_dir):
    """entropy(x): Shannon entropy of the value distribution per group."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy((F.col("user_id") % 5).alias("bucket"), "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tot = c.groupBy("bucket").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t")
    return (
        c.join(tot, "bucket")
        .groupBy("bucket")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )


@register(
    "theils_u_priority_status",
    """
    WITH joint AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*)::DOUBLE AS n
      FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS t FROM joint),
    pa AS (SELECT a, SUM(n) AS na FROM joint GROUP BY a),
    pb AS (SELECT b, SUM(n) AS nb FROM joint GROUP BY b),
    ha AS (SELECT -SUM((na / t) * ln(na / t)) AS h_a FROM pa CROSS JOIN tot),
    hab AS (
      SELECT -SUM((n / t) * ln(n / nb)) AS h_a_given_b
      FROM joint JOIN pb USING (b) CROSS JOIN tot
    )
    SELECT ROUND((h_a - h_a_given_b) / h_a, 6) AS theils_u FROM ha CROSS JOIN hab
    """,
)
def theils_u_q(spark, sf_dir):
    """theilsU: uncertainty coefficient U(a|b) = (H(a) − H(a|b)) / H(a)."""
    o = load_table(spark, sf_dir, "orders")
    joint = o.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    t = joint.agg(F.sum("n").alias("t"))
    pa = joint.groupBy("a").agg(F.sum("n").alias("na"))
    pb = joint.groupBy("b").agg(F.sum("n").alias("nb"))
    h_a = (
        pa.crossJoin(F.broadcast(t))
        .agg((-F.sum((F.col("na") / F.col("t")) * F.log(F.col("na") / F.col("t")))).alias("h_a"))
    )
    h_ab = (
        joint.join(F.broadcast(pb), "b")
        .crossJoin(F.broadcast(t))
        .agg(
            (-F.sum((F.col("n") / F.col("t")) * F.log(F.col("n") / F.col("nb")))).alias(
                "h_a_given_b"
            )
        )
    )
    return (
        h_a.crossJoin(h_ab)
        .select(
            F.round(
                (F.col("h_a") - F.col("h_a_given_b")) / F.col("h_a"), 6
            ).alias("theils_u")
        )
    )


# --- histogram (fixed-bin; reference's adaptive histogram ≈ width_bucket) -----
@register(
    "histogram_totalprice",
    """
    WITH rng AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
    SELECT (FLOOR((o_totalprice - lo) / ((hi + 0.01 - lo) / 10.0)) + 1)::BIGINT AS bin,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS bin_min,
           ROUND(MAX(o_totalprice), 2) AS bin_max
    FROM orders CROSS JOIN rng
    GROUP BY 1
    """,
)
def histogram_totalprice(spark, sf_dir):
    # explicit floor-binning (identical math in the oracle; DuckDB 1.0 has no
    # width_bucket)
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    bin_expr = (
        F.floor(
            (F.col("o_totalprice") - F.col("lo"))
            / ((F.col("hi") + 0.01 - F.col("lo")) / 10.0)
        )
        + 1
    ).cast("bigint")
    return (
        o.crossJoin(F.broadcast(rng))
        .groupBy(bin_expr.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
    )


@register(
    "ddl_index_search",
    f"""
    SELECT vec_id, ROUND({sql_l2('embedding', QV)}, 4) AS dist
    FROM embeddings
    ORDER BY {sql_l2('embedding', QV)} ASC, vec_id ASC
    LIMIT 10
    """,
)
def ddl_index_search(spark, sf_dir):
    """The reference's DDL surface end-to-end (ParserAlterQuery.cpp:113):
    `ALTER TABLE … ADD VECTOR INDEX … TYPE IVFFLAT('ncentroids=8')` parsed
    and built by plans/ddl.py, then answered through the type-dispatching
    search_index in exhaustive mode — bit-equal to the brute-force oracle."""
    from myscaledb_spark.plans.ddl import alter_index_ddl, search_index

    emb = load_table(spark, sf_dir, "embeddings")

    def _build(d: str) -> None:
        alter_index_ddl(
            spark,
            "ALTER TABLE embeddings ADD VECTOR INDEX v_ddl embedding "
            "TYPE IVFFLAT('ncentroids=8')",
            emb,
            "vec_id",
            d,
        )

    art = cached_artifact(sf_dir, "ddl_ivf_c8", _build)
    out = search_index(spark, art, "v_ddl", QV, 10, id_col="vec_id", nprobe=8)
    return out.select("vec_id", F.round("dist", 4).alias("dist"))
