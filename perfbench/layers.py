"""Per-layer metrics of a traced run, named after the program's modules.

Times are per call of the wrapped function (``_ms``: outermost calls,
children included; ``_self_ms``: the function's own share) over the traced
blocks of the timed loop.  ``spark.*`` and ``driver.*`` values are means per
traced operation.  Set-up layers (``session``, ``plans.build_*``,
``catalog``) come from the set-up phase.  A layer the workload never calls
reports 0.
"""

from __future__ import annotations

import statistics

#: per_layer name -> (span name, "total" | "self")
SPAN_TIMES = {
    "sql_dialect.ch_sql_self_ms": ("sql_dialect.ch_sql", "self"),
    "sql_dialect.rewrite_ms": ("sql_dialect.rewrite", "total"),
    "sql_search.maybe_search_query_self_ms": ("sql_search.maybe_search_query", "self"),
    "functions.tokenize_query_ms": ("functions.tokenize_query", "total"),
    "functions.text_search_ms": ("functions.text_search", "total"),
    "operators.vector_topk_ms": ("operators.vector_topk", "total"),
    "operators.hybrid_search_self_ms": ("operators.hybrid_search", "self"),
    "operators.hybrid_search_indexed_self_ms": ("operators.hybrid_search_indexed", "self"),
    "plans.ivf_search_ms": ("plans.ivf_search", "total"),
    "plans.fts_search_ms": ("plans.fts_search", "total"),
    "plans.append_ivf_ms": ("plans.append_ivf", "total"),
    "plans.append_fts_ms": ("plans.append_fts", "total"),
}

#: per_layer name -> OpRecord field averaged per traced operation
OP_MEANS = {
    "spark.jobs_per_op": "jobs",
    "spark.stages_per_op": "stages",
    "spark.tasks_per_op": "tasks",
    "spark.analysis_ms": "analysis_ms",
    "spark.optimization_ms": "optimization_ms",
    "spark.planning_ms": "planning_ms",
    "spark.codegen_compiles_per_op": "codegen_compiles",
    "spark.codegen_ms_per_op": "codegen_ms",
    "spark.collect_ms": "collect_ms",
    "driver.py_cpu_ms_per_op": "py_cpu_ms",
    "driver.jvm_cpu_ms_per_op": "jvm_cpu_ms",
    "driver.jvm_gc_ms": "jvm_gc_ms",
}


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(runner) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of ``runner``'s traced run, as (value, unit)."""
    from myscaledb_spark import introspection

    tracer, wl = runner.tracer, runner.wl
    loop_ids = {op.record for op, traced in runner.loop if traced}
    recs = [r for r in runner.records if r.op in loop_ids]
    self_s = tracer.self_times()

    def setup_spans(name):
        return [s.end - s.start for s in tracer.outermost(name, ops=False)]

    def call_ms(name, how):
        if how == "total":
            per = [s.end - s.start for s in tracer.outermost(name, ops=True) if s.op in loop_ids]
        else:
            per = [self_s[s.sid] for s in tracer.spans if s.name == name and s.op in loop_ids]
        return _mean(per) * 1e3

    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (runner.session_s, "s"),
        "plans.build_ivf_s": (_median(setup_spans("plans.build_ivf")), "s"),
        "plans.build_fts_s": (_median(setup_spans("plans.build_fts")), "s"),
    }
    loads = [s for s in tracer.spans if s.name == "catalog.load_table"]
    out["catalog.load_table_ms"] = (_mean(s.end - s.start for s in loads) * 1e3, "ms")
    out["catalog.load_table_calls"] = (float(len(loads)), "count")
    for name, (span, how) in SPAN_TIMES.items():
        out[name] = (call_ms(span, how), "ms")

    frame_loads = sum(r.frame_loads for r in recs)
    frame_calls = sum(r.frame_calls for r in recs)
    out["plans.frame_cache.loads"] = (frame_loads / max(len(recs), 1), "1/op")
    out["plans.frame_cache.hit_ratio"] = (
        1.0 - frame_loads / frame_calls if frame_calls else 0.0, "ratio")
    size, files = wl.artifact_size()
    out["plans.artifact_bytes"] = (float(size), "B")
    out["plans.artifact_files"] = (float(files), "count")
    out["plans.index_bytes_per_data_byte"] = (wl.index_bytes_per_data_byte(), "B/B")
    loop = [op for op, _ in runner.loop]
    out["plans.append_p50_ms"] = (_median(op.ms for op in loop if op.kind == "append"), "ms")
    out["plans.fresh_search_p50_ms"] = (
        _median(op.ms for op in loop if op.kind == "fresh_hybrid"), "ms")

    for name, field in OP_MEANS.items():
        unit = "ms" if field.endswith("_ms") else "1/op"
        out[name] = (_mean(getattr(r, field) for r in recs), unit)
    out["introspection.query_log_rows"] = (float(len(introspection.QUERY_LOG)), "count")
    out["trace.overhead_pct"] = (_overhead_pct(runner.loop), "%")
    return out


def _overhead_pct(loop) -> float:
    """Traced against untraced blocks of the same run: the sum over op kinds
    of the median traced time, relative to the same sum untraced."""
    kinds = {op.kind for op, _ in loop}
    traced = untraced = 0.0
    for k in kinds:
        t = [op.ms for op, tr in loop if tr and op.kind == k]
        u = [op.ms for op, tr in loop if not tr and op.kind == k]
        if t and u:
            traced += statistics.median(t)
            untraced += statistics.median(u)
    return 100.0 * (traced / untraced - 1.0) if untraced else 0.0
