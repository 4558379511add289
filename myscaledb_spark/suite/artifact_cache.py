"""Session-scoped index-artifact cache for gate queries.

The driver gate and bench measure each `queries()` entry as one timed call;
rebuilding a vector/FTS index artifact inside that call charges build cost to
query latency and hides search-only regressions (r3 VERDICT ask #3). Real
deployments build an index once and amortize it across every query — this
cache reproduces that: ONE build per (sf_dir, kind) per process, with build
seconds recorded so bench.py reports `*_build_sec` separately from search
time. Artifact temp dirs are removed atexit (prior code leaked one mkdtemp
per gate invocation).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import time
from collections.abc import Callable

_ARTIFACTS: dict[tuple[str, str], str] = {}

#: build wall-seconds per kind, exported into bench.py's JSON line
BUILD_SECONDS: dict[str, float] = {}


def cached_artifact(sf_dir: str, kind: str, build_fn: Callable[[str], None]) -> str:
    """Return the artifact dir for (sf_dir, kind), building it on first use.

    ``kind`` should encode every build parameter (e.g. ``ivf_c8``) so a
    param change can never alias a stale artifact.
    """
    key = (sf_dir, kind)
    if key not in _ARTIFACTS:
        art = tempfile.mkdtemp(prefix=f"gate_{kind}_")
        t0 = time.perf_counter()
        build_fn(art)
        BUILD_SECONDS[f"{kind}_build_sec"] = round(time.perf_counter() - t0, 3)
        _ARTIFACTS[key] = art
        atexit.register(shutil.rmtree, art, ignore_errors=True)
    return _ARTIFACTS[key]


_VALUES: dict[tuple[str, str], object] = {}


def cached_value(sf_dir: str, key: str, fn: Callable[[], object]) -> object:
    """Memoize a small driver-side value once per (sf_dir, key) per
    process — e.g. the EXACT top-k id list a recall-pinned gate compares
    against.  Real deployments compute a recall baseline once per corpus,
    not per query; without this the gate would charge a full exact scan
    to every timed invocation."""
    k = (sf_dir, key)
    if k not in _VALUES:
        _VALUES[k] = fn()
    return _VALUES[k]
