"""Spans and Spark-side counts for the traced run.

The benchmark wraps public functions of ``myscaledb_spark`` modules from
here; no program file changes.  Every module attribute that is the wrapped
function is replaced, so a function imported by name into another module
(``fts_index`` imports ``tokenize_query`` at module top) is traced at that
call site too.

Spans (name, start, end, parent, operation id) stay in memory and are
written out when the run ends.  A span's self time is its duration minus
the part of it covered by its children.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass

#: layer name -> "module:function" wrapped in the traced run
TARGETS = {
    "session.get_spark": "myscaledb_spark.session:get_spark",
    "catalog.load_table": "myscaledb_spark.catalog:load_table",
    "sql_dialect.ch_sql": "myscaledb_spark.sql_dialect:ch_sql",
    "sql_dialect.rewrite": "myscaledb_spark.sql_dialect:rewrite",
    "sql_search.maybe_search_query": "myscaledb_spark.sql_search:maybe_search_query",
    "functions.tokenize_query": "myscaledb_spark.functions.text:tokenize_query",
    "functions.text_search": "myscaledb_spark.functions.text:text_search",
    "operators.vector_topk": "myscaledb_spark.operators.topk:vector_topk",
    "operators.hybrid_search": "myscaledb_spark.operators.hybrid:hybrid_search",
    "operators.hybrid_search_indexed": "myscaledb_spark.operators.hybrid:hybrid_search_indexed",
    "plans.build_ivf": "myscaledb_spark.plans.vector_index:build_ivf_index",
    "plans.build_fts": "myscaledb_spark.plans.fts_index:build_fts_index",
    "plans.append_ivf": "myscaledb_spark.plans.vector_index:append_to_ivf_index",
    "plans.append_fts": "myscaledb_spark.plans.fts_index:append_to_fts_index",
    "plans.ivf_search": "myscaledb_spark.plans.vector_index:ivf_search",
    "plans.fts_search": "myscaledb_spark.plans.fts_index:fts_search",
    "plans.frame_cache": "myscaledb_spark.plans.frame_cache:cached_parquet",
    "plans.fts_frames": "myscaledb_spark.plans.fts_index:_cached_index_frames",
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class OpRecord:
    """Counts and times of one traced operation."""

    op: int
    seq: int
    kind: str
    wall_ms: float
    collect_ms: float
    jobs: int
    stages: int
    tasks: int
    analysis_ms: float
    optimization_ms: float
    planning_ms: float
    codegen_compiles: int
    codegen_ms: float
    py_cpu_ms: float
    jvm_cpu_ms: float
    jvm_gc_ms: float
    frame_loads: int
    frame_calls: int


class Tracer:
    """Records spans around the wrapped functions while ``active``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None  # operation id the next spans belong to
        self.root: int | None = None  # span of the whole operation
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> tuple[int, int | None, float]:
        stack = self._stack()
        parent = stack[-1] if stack else self.root  # worker threads hang off the op
        sid = next(self._ids)
        stack.append(sid)
        return sid, parent, time.perf_counter()

    def end(self, token: tuple[int, int | None, float], name: str) -> None:
        sid, parent, start = token
        self._stack().pop()
        with self._lock:
            self.spans.append(Span(sid, name, start, time.perf_counter(), parent, self.op))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            token = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(token, name)

        return traced

    def install(self) -> None:
        """Replace every module-level reference to each target function."""
        for name, target in TARGETS.items():
            mod_name, attr = target.split(":")
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(name, fn)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("myscaledb_spark"):
                    for key, val in list(vars(mod).items()):
                        if val is fn:
                            setattr(mod, key, wrapped)

    # -- reductions --------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> seconds not covered by its children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.sid] = (s.end - s.start) - covered
        return out

    def outermost(self, name: str, ops: bool) -> list[Span]:
        """Spans named ``name`` with no ancestor of the same name, inside
        operations (``ops``) or outside them."""
        by_id = {s.sid: s for s in self.spans}

        def nested(s: Span) -> bool:
            p = by_id.get(s.parent) if s.parent is not None else None
            while p is not None:
                if p.name == name:
                    return True
                p = by_id.get(p.parent) if p.parent is not None else None
            return False

        return [
            s for s in self.spans
            if s.name == name and (s.op is not None) == ops and not nested(s)
        ]

    def write(self, path: str, records: list[OpRecord]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "spans": [asdict(s) for s in self.spans],
                "ops": [asdict(r) for r in records],
            }, f)


class SparkCounters:
    """Per-operation engine counts read through py4j: jobs, stages and
    tasks by job group, Catalyst phase times, whole-stage codegen compiles,
    JVM CPU and GC time."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.tick = os.sysconf("SC_CLK_TCK")

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self.tick

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self.gc_beans))

    def snapshot(self) -> dict:
        st = self.sc.statusTracker()
        return {
            "ungrouped": set(st.getJobIdsForGroup(None)),
            "compiles": int(self.codegen.getCount()),
            "py_cpu": time.process_time(),
            "jvm_cpu": self.jvm_cpu_s(),
            "gc": self.gc_ms(),
        }

    def jobs(self, group: str, before: dict) -> tuple[int, int, int]:
        """Jobs, stages and tasks run in ``group``, plus jobs that threads
        spawned by the operation ran without a group."""
        st = self.sc.statusTracker()
        jids = set(st.getJobIdsForGroup(group))
        jids |= set(st.getJobIdsForGroup(None)) - before["ungrouped"]
        stages = tasks = 0
        for j in jids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si is not None else 0
        return len(jids), stages, tasks

    def phases(self, df) -> dict[str, float]:
        out = dict.fromkeys(self.PHASES, 0.0)
        if df is None:
            return out
        ph = df._jdf.queryExecution().tracker().phases()
        for k in self.PHASES:
            opt = ph.get(k)
            if opt.isDefined():
                out[k] = float(opt.get().durationMs())
        return out

    def codegen_ms(self, compiles: int) -> float:
        """Compile time of ``compiles`` new classes, estimated from the
        histogram mean (the metric keeps no exact sum)."""
        return compiles * float(self.codegen.getSnapshot().getMean()) if compiles else 0.0
