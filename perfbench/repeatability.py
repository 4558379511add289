"""Exact-count repeatability report.

Runs each workload traced twice with the same seed and lists, per
operation count (jobs, stages, tasks, codegen compiles, frame-cache loads),
whether every operation the two runs share reported the same value.  A
count that repeats exactly may be cited as evidence for a scheduling
change; one that does not may not.

    python3 perfbench/repeatability.py --seed 1 --seconds 20 [--workloads ingest search_sql]

Prints a markdown table on standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("jobs", "stages", "tasks", "codegen_compiles", "frame_loads")


def traced_ops(workload: str, seed: int, seconds: float) -> list[dict]:
    subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600,
    )
    path = os.path.join(ROOT, ".perfbench_work", "traces", f"trace-{workload}-seed{seed}.json")
    with open(path) as f:
        return json.load(f)["ops"]


def compare(a: list[dict], b: list[dict]) -> tuple[int, dict[str, list[str]]]:
    """Operations traced in both runs, matched by stream position, and per
    count the sorted kinds of those whose value differed."""
    a_by, b_by = {x["seq"]: x for x in a}, {y["seq"]: y for y in b}
    shared = sorted(a_by.keys() & b_by.keys())
    differ: dict[str, set[str]] = {c: set() for c in COUNTS}
    for x, y in ((a_by[s], b_by[s]) for s in shared):
        for c in COUNTS:
            if x[c] != y[c]:
                differ[c].add(f"{x['kind']} ({x[c]} vs {y[c]})")
    return len(shared), {c: sorted(v) for c, v in differ.items()}


def main() -> int:
    from run import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=WORKLOADS)
    args = ap.parse_args()
    print("| workload | count | repeats exactly | shared ops | differing ops (run 1 vs run 2) |")
    print("|---|---|---|---|---|")
    for w in args.workloads:
        a = traced_ops(w, args.seed, args.seconds)
        b = traced_ops(w, args.seed, args.seconds)
        shared, differ = compare(a, b)
        for c, diff in differ.items():
            print(f"| {w} | {c} | {'yes' if not diff else 'no'} | {shared} | "
                  f"{'; '.join(diff[:6]) + (' ...' if len(diff) > 6 else '')} |")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
