"""Benchmark harness — runs headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Mirrors the reference benchmark structure (tests/vector_search/benchmark.py:
QPS per query shape) on the driver's TPC-H-ish + vector/text tables.
Each query is fully materialized (count/collect) so the measured time includes
scan → compute → merge, not just plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative query shapes, one per operator family (full-suite
# correctness runs in the driver's t2 gate at sf0.01; bench measures the
# scan/shuffle/topk cost profiles at sf0.1).
HEADLINE = [
    "vec_l2_topk",          # narrow scan + TakeOrdered
    "vec_l2_filtered",      # pushed filter + topk
    "vec_cosine_topk",      # heavier per-row expression
    "batch_distance_l2",    # row explosion + per-query window topk
    "two_stage_l2",         # candidate gen + re-rank
    "bm25_topk",            # corpus stats + broadcast + scoring
    "bm25_phrase_topk",     # NLQ: phrase tf via consecutive-run containment
    "bm25_cjk_topk",        # JVM regex-FMM tokenization path
    "bm25_cjk_indexed",     # FTS postings artifact: no corpus re-tokenization (r4)
    "sq_rerank_topk",       # int8 SQ index scan + exact re-rank (build cached)
    "bitmap_retention",     # bitmap set-algebra over grouped collect_sets
    "hybrid_search_rsf",    # two candidate pipelines + fusion join
    "hybrid_search_indexed",  # artifact-backed candidates + one re-rank scan
    "pricing_summary",      # full-scan decimal aggregation
    "revenue_by_nation",    # 5-way join w/ broadcast dims
    "top_customers",        # join + agg + topk
    "window_rank_orders",   # window shuffle
    "limit_by_customer",    # per-group topk window
    "asof_events_orders",   # union + window asof
    "minhash_lsh_pairs",    # explode/groupBy hash pipeline
    "window_funnel_levels", # sorted-array state machine
    "exact_dedup_groups",   # hash groupBy dedup
    "point_in_polygon_customers",  # per-row geo expression scan (r4)
    "group_array_moving_qty",      # window + sorted collect per group (r4)
    "pack_sequences_docs",         # distributed prefix sum + checkpoint (r4)
    "bucketed_join_priority",      # co-located fact-fact join, no probe shuffle (r4)
    "collapsing_final_state",      # engine-family FINAL: one shuffle-on-key agg (r4)
    "batch_distance_gemm",         # blocked-GEMM mapInPandas batch kernel (r5)
    "text_search_routed",          # registry-routed postings path + row recovery (r5)
    "versioned_collapsing_state",  # two-window FINAL w/ unpaired-row emission (r5)
    "sequence_next_node_chain",    # sorted-array next-node scan (r5)
    "gopher_repetition_docs",      # per-row n-gram repetition expressions (r5)
    "dsir_importance_docs",        # 2 linear model aggs + codegen scoring fold (r5)
    "agg_state_merge_orders",      # -State build + -Merge: 2-level partial agg (r5)
    "uniq_hll_state_events",       # portable-HLL registers: build/merge/estimate (r5)
    "rank_corr_qty_price",         # distributed tie-avg rank: distinct-value prefix sum (r7)
    "quantile_tdigest_grouped",    # per-group Dunning digest via applyInPandas (r7)
]


#: gates whose driver-visible ratio this round watches (emitted at the
#: tail of the JSON line — the driver's record truncates from the front).
#: r11: the two r10 >2x seats (hybrid indexed leg fusion, revenue scoped
#: execution) + every gate this round's scoped-execution/memo work touched.
_PRIORITY_TAIL = [
    "bm25_topk",
    "bm25_phrase_topk",
    "uniq_hll_state_events",
    "quantile_tdigest_grouped",
    "pack_sequences_docs",
    "minhash_lsh_pairs",
    "agg_state_merge_orders",
    "rank_corr_qty_price",
    "pricing_summary",
    "revenue_by_nation",
    "hybrid_search_indexed",
]

#: gates with a per-session memo (MinHash sliver, rank_corr sampled stats):
#: their FIRST invocation is structurally different from steady state, so
#: the bench records both (r9 VERDICT ask #8) — drift analysis must not
#: conflate a cold build with the memoized steady path.
_MEMOIZED = [
    "minhash_lsh_pairs",
    "minhash_signatures",
    "rank_corr_qty_price",
    # r10: the direct-BM25 resident corpus/stats memo and the DSIR model
    # memo make these gates' first invocation structurally different too
    "bm25_topk",
    "bm25_phrase_topk",
    "dsir_importance_docs",
]


def main() -> None:
    from myscaledb_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("myscaledb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    all_queries = entrymod.queries()
    queries = {k: all_queries[k] for k in HEADLINE if k in all_queries}

    # warm the JVM + parquet footer caches once with a trivial action
    t0 = time.time()
    from myscaledb_spark.catalog import load_table

    load_table(spark, SF_DIR, "lineitem").count()
    warm = time.time() - t0

    # Calibration: a fixed pure-Spark scan-agg (no engine code) whose cost
    # tracks the HOST, not this repo — per-query ratios against it make
    # round-over-round comparisons drift-immune (BENCH_NOTES.md r2: 1.52×
    # host drift masked a like-for-like speedup).
    def _calibrate() -> float:
        from pyspark.sql import functions as F

        best = float("inf")
        for _ in range(3):
            t = time.time()
            (
                spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
                .groupBy("l_returnflag")
                .agg(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            best = min(best, time.time() - t)
        return best

    # Measurement note (r10, documented in OPTIMIZATION_r10.md): the
    # start-of-run calibration sample is host-state-volatile (0.489 s vs
    # 0.836 s on the same quiet box an hour apart — JIT/page-cache state)
    # while absolute query times move <6%.  The headline `calibration_sec`
    # stays the START sample — the r8/r9 records used exactly that, and the
    # driver's round-over-round ratio comparison is only meaningful if the
    # denominator's definition does not change mid-series.  The probe is
    # ALSO re-sampled at end of run and emitted as `calibration_end_sec`
    # (a fully-JIT-warm reference, far more reproducible across sessions)
    # so drift analysis can separate host state from engine changes.
    calibration_start = _calibrate()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, fn in sorted(queries.items()):
        try:
            t0 = time.time()
            fn(spark, SF_DIR).collect()  # cold: includes codegen compile
            cold[name] = round(time.time() - t0, 4)
            # steady-state: min of 2 runs (robust to host scheduling noise)
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(spark, SF_DIR).collect()
                best = min(best, time.time() - t0)
            timings[name] = round(best, 4)
        except Exception as e:  # never let one query kill the bench line
            timings[name] = -1.0
            print(f"# bench error {name}: {e}", file=sys.stderr)

    # --- vector index sweep: mirrors the reference harness structure
    # (tests/vector_search/benchmark.py: index type x search param), with
    # recall@k pinned against the exact oracle (BASELINE.md requirement).
    sweep: dict[str, dict] = {}
    try:
        import tempfile

        from myscaledb_spark.catalog import load_table
        from myscaledb_spark.plans.pq_index import build_pq_index, pq_search
        from myscaledb_spark.plans.vector_index import (
            ann_recall,
            build_ivf_index,
            ivf_search,
        )
        from myscaledb_spark.suite.search import make_qvec

        art = tempfile.mkdtemp(prefix="bench_idx_")
        emb = load_table(spark, SF_DIR, "embeddings").cache()
        emb.count()
        q = make_qvec(seed=77)

        t0 = time.time()
        build_ivf_index(emb, "embedding", "vec_id", art, num_centroids=16)
        ivf_build = round(time.time() - t0, 3)
        for nprobe in (1, 2, 4, 8):
            t0 = time.time()
            hits = ivf_search(spark, art, q, 10, nprobe=nprobe)
            hits.collect()
            sweep[f"ivf_nprobe{nprobe}"] = {
                "sec": round(time.time() - t0, 4),
                "recall@10": round(ann_recall(emb, hits, q, 10), 3),
            }
        sweep["ivf_build_sec"] = ivf_build

        t0 = time.time()
        build_pq_index(emb, "embedding", "vec_id", art, m=8, ks=16)
        pq_build = round(time.time() - t0, 3)
        for mult in (3, 10):
            t0 = time.time()
            hits = pq_search(spark, art, q, 10, candidate_multiple=mult)
            hits.collect()
            sweep[f"pq_cand{mult}x"] = {
                "sec": round(time.time() - t0, 4),
                "recall@10": round(ann_recall(emb, hits, q, 10), 3),
            }
        sweep["pq_build_sec"] = pq_build

        from myscaledb_spark.plans.hnsw_index import build_hnsw_index, hnsw_search

        t0 = time.time()
        build_hnsw_index(emb, "embedding", "vec_id", art, m=8, ef_construction=32)
        hnsw_build = round(time.time() - t0, 3)
        for ef in (50, 100):  # reference sweeps ef_s ∈ {50,100,200,400}
            t0 = time.time()
            hits = hnsw_search(spark, art, q, 10, ef_search=ef)
            hits.collect()
            sweep[f"hnsw_ef{ef}"] = {
                "sec": round(time.time() - t0, 4),
                "recall@10": round(ann_recall(emb, hits, q, 10), 3),
            }
        sweep["hnsw_build_sec"] = hnsw_build

        from myscaledb_spark.plans.mstg_index import build_mstg_index, mstg_search

        t0 = time.time()
        build_mstg_index(emb, "embedding", "vec_id", art, num_leaves=16, num_top=4)
        mstg_build = round(time.time() - t0, 3)
        for pt, np_ in ((1, 2), (2, 4), (3, 8)):
            t0 = time.time()
            hits = mstg_search(spark, art, q, 10, probe_top=pt, nprobe=np_)
            hits.collect()
            sweep[f"mstg_top{pt}_probe{np_}"] = {
                "sec": round(time.time() - t0, 4),
                "recall@10": round(ann_recall(emb, hits, q, 10), 3),
            }
        sweep["mstg_build_sec"] = mstg_build
        emb.unpersist()

        # FTS index: one-time postings build vs per-query corpus re-scan.
        # At 100 TB the index path touches ~kB of term-pruned postings;
        # direct BM25 re-tokenizes the table every query.
        from myscaledb_spark.functions.text import text_search
        from myscaledb_spark.plans.fts_index import build_fts_index, fts_search

        docs = load_table(spark, SF_DIR, "documents")
        t0 = time.time()
        build_fts_index(docs, "text", "doc_id", art)
        sweep["fts_build_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        fts_search(spark, art, "vector search fast", 15).collect()
        sweep["fts_indexed_search_sec"] = round(time.time() - t0, 4)
        t0 = time.time()
        text_search(docs, "text", "vector search fast", 15, id_col="doc_id").collect()
        sweep["fts_direct_search_sec"] = round(time.time() - t0, 4)

        # hybrid: artifact-backed candidates at a realistic probe width vs
        # the 3-corpus-scan default. (The GATE entry keeps nprobe=ncentroids
        # so it stays bit-exact against the brute-force oracle; the scale
        # win appears when nprobe < ncentroids — this is the 100 TB shape.)
        from myscaledb_spark.operators.hybrid import hybrid_search, hybrid_search_indexed
        from myscaledb_spark.plans.fts_index import build_fts_index
        from myscaledb_spark.plans.vector_index import build_ivf_index
        from myscaledb_spark.suite.artifact_cache import cached_artifact
        from myscaledb_spark.suite.search import QTEXT, QV

        d = load_table(spark, SF_DIR, "documents")
        e = load_table(spark, SF_DIR, "embeddings")
        corpus = d.join(e, d.doc_id == e.vec_id).select("doc_id", "text", "embedding")

        def _build_hybrid(a: str) -> None:
            build_ivf_index(corpus, "embedding", "doc_id", a, num_centroids=8)
            build_fts_index(corpus, "text", "doc_id", a)

        hart = cached_artifact(SF_DIR, "hybrid_ivf_fts", _build_hybrid)
        t0 = time.time()
        hybrid_search_indexed(
            spark, hart, None, None, QV, QTEXT, 8, "doc_id",
            index_kind="ivf", fts_name="fts", fusion_type="rsf", nprobe=2,
        ).collect()
        sweep["hybrid_indexed_nprobe2_sec"] = round(time.time() - t0, 4)
        t0 = time.time()
        hybrid_search(
            corpus, "embedding", "text", QV, QTEXT, 8, "doc_id", fusion_type="rsf"
        ).collect()
        sweep["hybrid_default_3scan_sec"] = round(time.time() - t0, 4)

        # Amortized repeated-query framing (reference tests/vector_search/
        # benchmark.py:51-58 measures QPS over many queries against a BUILT
        # index): N=20 distinct queries against the prebuilt artifacts vs
        # the single-scan default. The index build is one-time; its per-query
        # advantage only shows when queries repeat — this is the honest
        # measurement the r4 verdict asked for (ask #3).
        N_Q = 20
        qvecs20 = [make_qvec(seed=100 + i) for i in range(N_Q)]
        qtexts = [
            "vector search fast",
            "hash join merge",
            "window agg group",
            "scan filter column",
        ]
        corpus.persist()
        corpus.count()
        t0 = time.time()
        for i, qv in enumerate(qvecs20):
            hybrid_search_indexed(
                spark, hart, None, None, qv, qtexts[i % 4], 8, "doc_id",
                index_kind="ivf", fts_name="fts", fusion_type="rsf", nprobe=2,
            ).collect()
        sweep["hybrid_indexed_20q_sec"] = round(time.time() - t0, 4)
        t0 = time.time()
        for i, qv in enumerate(qvecs20):
            hybrid_search(
                corpus, "embedding", "text", qv, qtexts[i % 4], 8, "doc_id",
                fusion_type="rsf",
            ).collect()
        sweep["hybrid_default_20q_sec"] = round(time.time() - t0, 4)
        corpus.unpersist()

        t0 = time.time()
        for i in range(N_Q):
            fts_search(spark, art, qtexts[i % 4], 15).collect()
        sweep["fts_indexed_20q_sec"] = round(time.time() - t0, 4)
        t0 = time.time()
        for i in range(N_Q):
            text_search(docs, "text", qtexts[i % 4], 15, id_col="doc_id").collect()
        sweep["fts_direct_20q_sec"] = round(time.time() - t0, 4)

        # Crossover demonstration at a corpus size where per-query constants
        # stop dominating: the SAME testdata corpus replicated ×20 with
        # distinct ids (at sf0.1: 100k docs). The direct path re-tokenizes /
        # re-scans all of it per query; the indexed path reads nprobe/16 of
        # the vectors plus term-pruned postings. This is the 100 TB shape in
        # miniature — the per-query gap here scales with corpus size.
        from pyspark.sql import functions as SF

        big = (
            corpus.withColumn("_r", SF.explode(SF.sequence(SF.lit(0), SF.lit(19))))
            .select(
                (SF.col("doc_id") + SF.col("_r") * SF.lit(10_000_000)).alias("doc_id"),
                "text",
                "embedding",
            )
            .persist()
        )
        n_big = big.count()
        sweep["x20_corpus_rows"] = n_big
        t0 = time.time()
        bart = tempfile.mkdtemp(prefix="bench_x20_")
        build_ivf_index(big, "embedding", "doc_id", bart, num_centroids=16)
        build_fts_index(big, "text", "doc_id", bart)
        sweep["x20_build_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        for i, qv in enumerate(qvecs20):
            hybrid_search_indexed(
                spark, bart, None, None, qv, qtexts[i % 4], 8, "doc_id",
                index_kind="ivf", fts_name="fts", fusion_type="rsf", nprobe=2,
            ).collect()
        sweep["hybrid_indexed_20q_x20_sec"] = round(time.time() - t0, 4)
        t0 = time.time()
        for i, qv in enumerate(qvecs20):
            hybrid_search(
                big, "embedding", "text", qv, qtexts[i % 4], 8, "doc_id",
                fusion_type="rsf",
            ).collect()
        sweep["hybrid_default_20q_x20_sec"] = round(time.time() - t0, 4)
        big.unpersist()
    except Exception as e:
        sweep["error"] = str(e)[:200]
        print(f"# vector sweep error: {e}", file=sys.stderr)

    # Engine-vs-engine side-by-side (r7 VERDICT ask #7): pricing_summary /
    # revenue_by_nation sat at 2.2-2.5x the CALIBRATION ratio for three
    # rounds with plan-asserted-correct shapes (broadcast dims, partial/
    # final agg). The calibration query is a 2-agg double scan, so
    # decimal-heavy aggregates read unfairly against it. Running the SAME
    # oracle SQL in DuckDB (a real columnar engine, same parquet, same SF)
    # gives the honest denominator; the driver reads engine_ratios to judge
    # these two queries instead of the calibration proxy.
    duck_secs: dict[str, float] = {}
    engine_ratios: dict[str, float] = {}
    try:
        import duckdb

        oracles = entrymod.oracle_sql()
        con = duckdb.connect()
        for t in ("lineitem", "orders", "customer", "nation", "region"):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(SF_DIR, t)}.parquet'"
            )
        for name in ("pricing_summary", "revenue_by_nation"):
            best = float("inf")
            for _ in range(3):
                t0 = time.time()
                con.sql(oracles[name]).fetchall()
                best = min(best, time.time() - t0)
            duck_secs[name] = round(best, 4)
            if timings.get(name, -1) > 0:
                engine_ratios[name] = round(timings[name] / best, 2)
    except Exception as e:
        print(f"# duckdb side-by-side error: {e}", file=sys.stderr)

    calibration_end = _calibrate()
    calibration = calibration_start

    # Gate index artifacts are built once per session (suite.artifact_cache);
    # the first (cold) invocation of each indexed query pays the build, the
    # steady-state timings above are search-only. Report builds separately.
    from myscaledb_spark.suite.artifact_cache import BUILD_SECONDS

    total = round(sum(t for t in timings.values() if t >= 0), 4)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "total_query_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "warmup_scan_sec": round(warm, 4),
                "cold_total_sec": round(sum(cold.values()), 4),
                # cold (first-invocation, memo empty) vs steady (memoized)
                # for the per-session-memo gates — r9 VERDICT ask #8
                "cold_memoized": {
                    k: {"cold": cold[k], "steady": timings[k]}
                    for k in _MEMOIZED
                    if k in cold and timings.get(k, -1) >= 0
                },
                "calibration_sec": round(calibration, 4),
                "calibration_start_sec": round(calibration_start, 4),
                "calibration_end_sec": round(calibration_end, 4),
                # the driver's BENCH record keeps the LINE TAIL: emit the
                # round's watched gates LAST so their ratios stay
                # driver-visible (r8 VERDICT ask #5 "PRIORITY window")
                "ratios": (lambda r: {
                    **{k: v for k, v in r.items() if k not in _PRIORITY_TAIL},
                    **{k: r[k] for k in _PRIORITY_TAIL if k in r},
                })({
                    name: round(t / calibration, 2)
                    for name, t in timings.items()
                    if t >= 0 and calibration > 0
                }),
                "normalized_total": round(total / calibration, 2) if calibration > 0 else None,
                "duckdb_secs": duck_secs,
                "engine_ratios": engine_ratios,
                "gate_build_secs": dict(BUILD_SECONDS),
                "vector_sweep": sweep,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
