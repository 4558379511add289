"""Dedup + similarity suite entries with DuckDB oracles (driver brief:
dedup/similarity are first-class operator families).

Every hash is the portable md5-48 so the oracle reproduces signatures,
buckets, candidates, and verified pairs exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark.catalog import load_table
from myscaledb_spark.suite import register

SQL_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
NUM_HASHES = 12
BANDS = 4
ROWS = NUM_HASHES // BANDS


def _sql_md5_48(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 12)) AS BIGINT)"


# --- exact dedup --------------------------------------------------------------
_NORM_TEXT = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"

# The corpus has near-dups but no byte-exact dups, so the query runs exact
# dedup over documents ∪ an injected copy subset (doc_id % 50 = 0, re-id'd) —
# exercising the operator on data where it actually fires.
@register(
    "exact_dedup_groups",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
    ),
    hashed AS (
      SELECT doc_id, {_sql_md5_48(_NORM_TEXT)} AS content_hash
      FROM corpus
    )
    SELECT content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
    FROM hashed GROUP BY content_hash HAVING COUNT(*) > 1
    """,
)
def exact_dedup_q(spark, sf_dir):
    from myscaledb_spark.operators.dedup import exact_dedup_groups

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return exact_dedup_groups(docs.unionAll(copies), "doc_id", "text")


# --- MinHash signatures (deterministic, hash-portable) ------------------------
def _minhash_sql_core(hashed: bool = False) -> str:
    """``hashed=True`` mirrors the r8 operator pipeline: the shingle set
    stores md5-48(shingle) bigints and the seeded MinHash re-hashes the
    digit string — CAST(bigint AS VARCHAR) renders identically in Spark
    and DuckDB, so signatures stay bit-portable."""
    sh_expr = "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
    seed_in = "'%d:' || CAST(sh AS VARCHAR)" if hashed else "'%d:' || sh"
    if hashed:
        sh_expr = _sql_md5_48(sh_expr)
    mins = ", ".join(
        "MIN(" + _sql_md5_48(seed_in % s) + ") AS mh%d" % s
        for s in range(NUM_HASHES)
    )
    return f"""
    toked AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {sh_expr} AS sh
      FROM toked, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3
    ),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
    """


@register(
    "minhash_signatures",
    f"""
    WITH {_minhash_sql_core()}
    SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5 FROM sig WHERE doc_id < 120
    """,
)
def minhash_signatures_q(spark, sf_dir):
    from myscaledb_spark.functions.text import tokenize
    from myscaledb_spark.operators.dedup import minhash_signatures, shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.withColumn("_toks", tokenize("text")).filter(F.size("_toks") >= 3)
    sh = shingle_sets(toked, "doc_id", F.col("_toks"), 3)
    sig = minhash_signatures(sh, "doc_id", NUM_HASHES)
    return sig.filter(F.col("doc_id") < 120).select(
        "doc_id", "mh0", "mh1", "mh2", "mh3", "mh4", "mh5"
    )


# --- MinHash-LSH verified near-dup pairs --------------------------------------
def _lsh_pairs_sql(threshold: float) -> str:
    band_rows = []
    for b in range(BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh{b * ROWS + r} AS VARCHAR)" for r in range(ROWS)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, {cols} AS band_key FROM sig")
    banded = " UNION ALL ".join(band_rows)
    return f"""
    WITH {_minhash_sql_core(hashed=True)},
    banded AS ({banded}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cands c
      JOIN sh s1 ON s1.doc_id = c.id_a
      JOIN sh s2 ON s2.doc_id = c.id_b AND s2.sh = s1.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           ROUND(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= {threshold}
    """


@register("minhash_lsh_pairs", _lsh_pairs_sql(0.5))
def minhash_lsh_pairs_q(spark, sf_dir):
    """Materialized under a per-query SETTINGS scope (8 shuffle
    partitions, AQE kept ON): the sliver is ~260k narrow rows at sf0.1
    and every downstream stage is smaller, so 32 shuffle partitions are
    pure task overhead — but AQE stays on because its runtime broadcast
    of the tiny candidate/size join sides beats the static planner
    (measured: AQE-on/8 1.49 s, AQE-off/8 1.96 s, AQE-off/16 1.87 s).
    At 100 TB the same query raises the partition count with the input."""
    from myscaledb_spark.functions.text import tokenize
    from myscaledb_spark.operators.dedup import minhash_dedup_pairs
    from myscaledb_spark.session import checkpoint_scoped

    docs = load_table(spark, sf_dir, "documents")
    # no size(_toks) pre-filter: the operator excludes short docs via the
    # cached empty-set column — a filter here would cost one extra full
    # tokenization per row below the operator's cache (r10 optimization)
    toked = docs.withColumn("_toks", tokenize("text"))
    pairs = minhash_dedup_pairs(
        toked, "doc_id", F.col("_toks"), 3, NUM_HASHES, BANDS, 0.5
    )
    return checkpoint_scoped(pairs, **{"spark.sql.shuffle.partitions": "8"})


# --- SimHash fingerprints -----------------------------------------------------
@register(
    "simhash_fingerprints",
    f"""
    WITH toked AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents WHERE doc_id < 100),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM toked),
    hashed AS (SELECT doc_id, {_sql_md5_48('tok')} AS h FROM tok),
    bitted AS (
      SELECT doc_id, b,
             CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
      FROM hashed, UNNEST(range(0, 48)) t(b)
    ),
    votes AS (SELECT doc_id, b, SUM(vote) AS v FROM bitted GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def simhash_q(spark, sf_dir):
    from myscaledb_spark.functions.text import tokenize
    from myscaledb_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toked = docs.withColumn("_toks", tokenize("text"))
    return simhash(toked, "doc_id", F.col("_toks"), 48)


# --- n-gram Jaccard near-dup (blocked by shared rare shingle min-hash) --------
@register(
    "ngram_jaccard_pairs",
    f"""
    WITH toked AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM toked, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3
    ),
    fp AS (SELECT doc_id, MIN({_sql_md5_48('sh')}) AS fp_min FROM sh GROUP BY doc_id),
    cands AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fp a JOIN fp b ON a.fp_min = b.fp_min AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cands c
      JOIN sh s1 ON s1.doc_id = c.id_a
      JOIN sh s2 ON s2.doc_id = c.id_b AND s2.sh = s1.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, ROUND(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.2
    """,
)
def ngram_jaccard_q(spark, sf_dir):
    from myscaledb_spark.functions.text import tokenize
    from myscaledb_spark.operators.dedup import exact_jaccard, md5_48, shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.withColumn("_toks", tokenize("text")).filter(F.size("_toks") >= 3)
    sh = shingle_sets(toked, "doc_id", F.col("_toks"), 3)
    fp = sh.groupBy("doc_id").agg(F.min(md5_48(F.col("sh"))).alias("fp_min"))
    a = fp.alias("a")
    b = fp.alias("b")
    cands = a.join(
        b, (F.col("a.fp_min") == F.col("b.fp_min")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    jac = exact_jaccard(sh, cands)
    return jac.filter(F.col("jaccard") >= 0.2).select("id_a", "id_b", "jaccard")


# --- duplicate clustering: connected components over minhash pairs -----------
@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_minhash_sql_core().strip().rstrip()},
    banded AS ({" UNION ALL ".join(
        "SELECT doc_id, %d AS band, %s AS band_key FROM sig"
        % (b, " || ',' || ".join("CAST(mh%d AS VARCHAR)" % (b * ROWS + r) for r in range(ROWS)))
        for b in range(BANDS)
    )}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cands c
      JOIN sh s1 ON s1.doc_id = c.id_a
      JOIN sh s2 ON s2.doc_id = c.id_b AND s2.sh = s1.sh
      GROUP BY c.id_a, c.id_b
    ),
    dup_pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
    ),
    e AS (
      SELECT id_a AS a, id_b AS b FROM dup_pairs
      UNION ALL SELECT id_b, id_a FROM dup_pairs
    ),
    reach(id, r) AS (
      SELECT DISTINCT a, a FROM e
      UNION
      SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.id
    )
    SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """,
)
def dedup_clusters_q(spark, sf_dir):
    from myscaledb_spark.functions.text import tokenize
    from myscaledb_spark.operators.dedup import dedup_clusters, minhash_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.withColumn("_toks", tokenize("text"))
    pairs = minhash_dedup_pairs(toked, "doc_id", F.col("_toks"), 3, NUM_HASHES, BANDS, 0.5)
    return dedup_clusters(pairs)


# --- embedding cosine near-dup pairs ------------------------------------------
@register(
    "embedding_neardup_pairs",
    """
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b)) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_reduce(list_transform(range(1, 65),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                 (x,y) -> x + y) / (a.nrm * b.nrm), 4) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND(list_reduce(list_transform(range(1, 65),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                (x,y) -> x + y) / (a.nrm * b.nrm), 4) >= 0.4
    """,
)
def embedding_neardup_q(spark, sf_dir):
    from myscaledb_spark.operators.similarity import cosine_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, "embedding", "vec_id", 0.4)
