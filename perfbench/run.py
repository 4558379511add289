"""Benchmark command: one workload, one client, closed loop.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run pins its environment before Spark
starts: two of the cores this process may use with ``local[2]`` on them, a
2 GB driver heap, and a ``PYTHONPATH`` that lets Python workers import
``myscaledb_spark``.  It
generates its inputs from ``--seed`` under ``.perfbench_work/``, sets the
workload up several times and keeps the median set-up, runs one cold pass
(one block) and a few seconds of warm-up, then runs blocks
of operations (a fixed mix of kinds) back to back until ``--seconds`` seconds
have passed.  After the loop every result is checked against a
numpy oracle.

Human-readable lines come first; the last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and spans plus per-operation counts are written to
``.perfbench_work/traces/``.  ``--smoke`` uses tiny inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("search_indexed", "search_sql", "ingest")
SETUP_REPEATS = 3
WARMUP_SECONDS = 4  # JIT keeps speeding ops up for a while after the cold pass
MIN_BLOCKS = 2  # the traced run alternates traced and untraced blocks
# Spread over every core of a shared host, a run's threads wait on the host's
# other tenants (steal time) and its figures swing with their load; on two
# cores the runs saw almost no steal and agreed far more closely.
CPUS = 2

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "throughput_ops_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "cold_pass_s": "s",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}


def pin_environment(work: str) -> None:
    """Fix everything the JVM and Python workers inherit."""
    cpus = sorted(os.sched_getaffinity(0))[:CPUS]
    os.sched_setaffinity(0, cpus)  # the JVM and Python workers inherit it
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(cpus)),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Xms2g -Djava.io.tmpdir={tmp}" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the only value if there is one."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Runner:
    def __init__(self, args):
        from pyspark import SparkContext

        from myscaledb_spark import session
        from myscaledb_spark.plans import fts_index, frame_cache

        import tracing
        import workloads

        self.args = args
        self.tracer = tracing.Tracer() if args.trace else None
        if self.tracer:
            self.tracer.install()
            self.tracer.active = True
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = SparkContext._gateway.proc
        self.caches = (frame_cache._CACHE, fts_index._FRAMES_CACHE)
        self.counters = tracing.SparkCounters(self.spark)
        self.records: list = []
        self.wl = workloads.WORKLOADS[args.workload](self.spark, args.seed, args.smoke)
        self.cold: list = []
        self.loop: list = []  # (op, traced)
        self.blocks = self.seq = 0  # position in the seeded op stream

    def next_block(self) -> list:
        """The workload's next block, its ops numbered by stream position."""
        ops = self.wl.block()
        for op in ops:
            op.seq, self.seq = self.seq, self.seq + 1
        self.blocks += 1
        return ops

    # -- one operation -----------------------------------------------------
    def run_op(self, op, traced: bool) -> None:
        tr, sc = self.tracer, self.spark.sparkContext
        if traced:
            op_id = len(self.records)
            group = f"op-{op_id}"
            sc.setJobGroup(group, op.kind)
            before = self.counters.snapshot()
            keys = [set(c) for c in self.caches]
            tr.op = op_id
            token = tr.begin("op." + op.kind)
            tr.root = token[0]
        df = None
        t0 = t1 = time.perf_counter()
        try:
            df = op.run()
            t1 = time.perf_counter()
            op.rows = df.collect() if df is not None else []
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, the loop goes on
            op.error = f"{type(e).__name__}: {e}"
        t2 = time.perf_counter()
        op.ms, op.collect_ms = (t2 - t0) * 1e3, (t2 - t1) * 1e3
        if not traced:
            return
        tr.end(token, "op." + op.kind)
        tr.op = tr.root = None
        op.record = op_id
        self.records.append(self._record(op, op_id, group, before, keys, df))
        sc.setLocalProperty("spark.jobGroup.id", None)

    def _record(self, op, op_id, group, before, keys, df):
        from tracing import OpRecord

        after = self.counters.snapshot()
        jobs, stages, tasks = self.counters.jobs(group, before)
        compiles = after["compiles"] - before["compiles"]
        try:
            phases = self.counters.phases(df) if op.error is None else {}
        except Exception:  # noqa: BLE001 - a plan without a tracker reports no phases
            phases = {}
        calls = sum(
            1 for s in self.tracer.spans
            if s.op == op_id and s.name in ("plans.frame_cache", "plans.fts_frames")
        )
        return OpRecord(
            op=op_id, seq=op.seq, kind=op.kind, wall_ms=op.ms, collect_ms=op.collect_ms,
            jobs=jobs, stages=stages, tasks=tasks,
            analysis_ms=phases.get("analysis", 0.0),
            optimization_ms=phases.get("optimization", 0.0),
            planning_ms=phases.get("planning", 0.0),
            codegen_compiles=compiles,
            codegen_ms=self.counters.codegen_ms(compiles),
            py_cpu_ms=(after["py_cpu"] - before["py_cpu"]) * 1e3,
            jvm_cpu_ms=(after["jvm_cpu"] - before["jvm_cpu"]) * 1e3,
            jvm_gc_ms=after["gc"] - before["gc"],
            frame_loads=sum(len(set(c) - k) for c, k in zip(self.caches, keys)),
            frame_calls=calls,
        )

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        args, wl = self.args, self.wl
        setups = []
        for rep in range(1 if args.smoke else SETUP_REPEATS):
            work = os.path.join(args.work, f"setup{rep}")
            t0 = time.perf_counter()
            wl.setup(work)
            setups.append(time.perf_counter() - t0)
        self.setup_s = self.session_s + statistics.median(setups)

        t0 = time.perf_counter()
        for op in self.next_block():
            self.run_op(op, bool(self.tracer))
            self.cold.append(op)
        self.cold_s = time.perf_counter() - t0
        if self.tracer:
            self.tracer.active = False
        self.warmup = []
        deadline = time.perf_counter() + (0 if args.smoke else WARMUP_SECONDS)
        while time.perf_counter() < deadline:
            for op in self.next_block():
                self.run_op(op, False)
                self.warmup.append(op)

        deadline = time.perf_counter() + args.seconds
        t0, first = time.perf_counter(), self.blocks
        while self.blocks < first + MIN_BLOCKS or time.perf_counter() < deadline:
            # even stream blocks are traced, so two runs of a seed trace the same ops
            traced = bool(self.tracer) and self.blocks % 2 == 0
            if self.tracer:
                self.tracer.active = traced
            for op in self.next_block():  # whole blocks keep the op mix fixed
                self.run_op(op, traced)
                self.loop.append((op, traced))
        self.loop_s = time.perf_counter() - t0
        if self.tracer:
            self.tracer.active = False
        self.peak_rss_mb = self._peak_rss_mb()
        return self.report()

    def _peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{self.counters.pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (py_kb + jvm_kb) / 1024.0

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait for it."""
        proc = self.jvm_proc
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a stuck JVM is killed, never left behind
                proc.kill()
                proc.wait()

    # -- results -----------------------------------------------------------
    def report(self) -> dict:
        ops = self.cold + self.warmup + [op for op, _ in self.loop]
        failed, recalls = 0, []
        for op in ops:
            ok, rec = False, None
            if op.error is None:
                try:
                    ok, rec = op.check(op.rows)
                except Exception as e:  # noqa: BLE001 - an oracle crash is a failed check
                    op.error = f"check: {type(e).__name__}: {e}"
            if rec is not None:
                recalls.append(rec)
            if not ok:
                failed += 1
                print(f"FAILED {op.kind}: {op.error or 'result differs from the oracle'}")
        lat = [op.ms for op, _ in self.loop]
        p90 = percentile(lat, 90)

        def by_kind(kind):
            return [op.ms for op, _ in self.loop if op.kind == kind]

        e2e = {
            "setup_s": self.setup_s,
            "throughput_ops_s": len(lat) / self.loop_s,
            "latency_p50_ms": percentile(lat, 50),
            "latency_p90_ms": p90,
            "cold_pass_s": self.cold_s,
            "recall_at_10": statistics.fmean(recalls) if recalls else 0.0,
            "peak_rss_mb": self.peak_rss_mb,
        }
        info = {
            "error_rate": (failed / len(ops), ""),
            "latency_samples": (len(lat), "ops"),
            "samples_beyond_p90": (sum(1 for x in lat if x > p90), "ops"),
            "append_p50_ms": _median_with_count(by_kind("append"), "ms"),
            "fresh_search_p50_ms": _median_with_count(by_kind("fresh_hybrid"), "ms"),
            "index_bytes_per_data_byte": (self.wl.index_bytes_per_data_byte() if self.wl.art else "n/a", "B/B"),
        }
        print(f"workload {self.wl.name} seed {self.args.seed}: {self.wl.why}")
        for name, value in e2e.items():
            print(f"{name} {value:.6g} {END_TO_END[name]}")
        for name, (value, unit) in info.items():
            print(f"{name} {value} {unit}".rstrip())
        if self.tracer:
            metrics = self.per_layer()
            for name, (value, unit) in metrics.items():
                print(f"{name} {value:.6g} {unit}")
        else:
            metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def per_layer(self) -> dict:
        from layers import per_layer

        path = os.path.join(WORK, "traces", f"trace-{self.wl.name}-seed{self.args.seed}.json")
        self.tracer.write(path, self.records)
        return per_layer(self)


def _median_with_count(values: list[float], unit: str) -> tuple:
    if not values:
        return "n/a", ""
    return f"{statistics.median(values):.6g} (n={len(values)})", unit


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "myscaledb_spark", "__init__.py")):
        print(f"no myscaledb_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    args.work = os.path.join(WORK, f"run-{os.getpid()}")
    pin_environment(args.work)
    sys.path[:0] = [ROOT, HERE]
    runner = None
    try:
        runner = Runner(args)
        result = runner.run()
    finally:
        if runner is not None:
            runner.close()
        shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
