"""Reference-conformance sweep: run the reference's own .sql test files
VERBATIM through ch_script and compare what they print against the recorded
.reference outputs.

The reference ships its test suite as ClickHouse-client scripts
(tests/queries/2_vector_search/*.sql, 3_ai_core_support/*.sql) with
``.reference`` files holding the expected TSV. This tool is the migration
story made measurable: a user's existing test script either runs verbatim or
we know the exact statement that stops it.

Usage:
    python tools/conformance.py                # sweep, print per-file status
    python tools/conformance.py 00014 00015    # only files matching substrings
    python tools/conformance.py --errors       # only print failing files

Output classes per file:
    PASS      every statement ran; every SELECT's rows match the .reference
              block-by-block (ints/strings exact, floats to 1e-4 relative —
              the reference computes Float32, we compute Float64)
    RAN       every statement ran but output comparison was not attempted
              (non-deterministic ids, FORMAT Vertical, error-expectation
              tests whose .reference is an error string)
    FAIL:<n>  statement n raised — the exact verbatim gap, with the message

Comparison notes: ClickHouse prints TSV with ``\\t`` separators; floats in
shortest-roundtrip Float32 notation. We parse both sides to typed cells and
compare numerically, never textually, for numbers.
"""

from __future__ import annotations

import math
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF_DIRS = [
    "/root/reference/tests/queries/2_vector_search",
    "/root/reference/tests/queries/3_ai_core_support",
]

#: reference SETTINGS / SET names that are engine-tuning knobs with no
#: semantic effect on our always-exact paths (brute-force toggle, index
#: granularity, build thresholds...). SET statements naming only these are
#: accepted and ignored; anything else raises so a semantic setting is never
#: silently dropped.
_NOOP_SET = re.compile(
    r"^(enable_brute_force_vector_search|min_rows_to_build_vector_index|"
    r"optimize_move_to_prewhere_for_vector_search|optimize_move_to_prewhere|"
    r"index_granularity|float_vector_search_metric_type|binary_vector_search_metric_type|"
    r"max_threads|mutations_sync|allow_experimental_[a-z_]+|"
    r"vector_search_.*|max_build_index_train_size|slow_mode_build_vector_index_in_merge|"
    r"max_rows_in_building_vector_index|enable_rebuild_for_decouple|"
    r"vector_index_parameter_check|dfs_[a-z_]+|storage_policy|disable_rebuild_for_decouple|"
    r"allow_vector_search_with_mutations|exact_search_top_k|batch_distance_queue_size)$",
    re.IGNORECASE,
)


def _split(script: str):
    """Top-level semicolon split honoring string literals. Returns
    (statement, expect_error) pairs — ClickHouse test files mark statements
    that MUST fail with a same-line trailing `-- { serverError N }` /
    `{ clientError N }` annotation (clickhouse-test's error-expectation
    protocol)."""
    from myscaledb_spark.sql_dialect import _string_mask

    # clickhouse-client ends an INSERT with same-line inline data (FORMAT
    # JSONEachRow/CSV/TSV ... <data>) at the NEWLINE, no ';' required —
    # virtually terminate those lines so the next statement isn't swallowed
    # as payload (02114_bool_type); a line that already ends with ';' or a
    # bare `FORMAT <fmt>` header (data on following lines) is left alone
    fixed = []
    for ln in script.splitlines():
        if (
            re.match(r"^\s*INSERT\s+INTO\b", ln, re.IGNORECASE)
            and re.search(
                r"\bFORMAT\s+(?!Values\b)\w+\s+\S", ln, re.IGNORECASE
            )
            and not ln.rstrip().endswith(";")
        ):
            ln = ln + ";"
        fixed.append(ln)
    script = "\n".join(fixed)
    mask = _string_mask(script)
    pieces, last = [], 0
    for i, c in enumerate(mask):
        if c == ";":
            nl = script.find("\n", i)
            trailer = script[i + 1 : nl if nl != -1 else len(script)]
            pieces.append((script[last:i], trailer, script[last : i + 1]))
            last = i + 1
    pieces.append((script[last:], "", script[last:]))
    out = []
    prev_trailer = ""
    for stmt, trailer, raw in pieces:
        s = stmt.strip()
        if not s:
            prev_trailer = trailer
            continue
        expect_err = bool(
            re.search(r"--\s*\{\s*(serverError|clientError|error)\b", trailer)
            # a final statement without `;` carries its annotation as a
            # TRAILING same-line comment (00161's last ceil); whole-line
            # comments inside the piece belong to the PREVIOUS statement's
            # trailer and must not leak forward
            or any(
                not ln.strip().startswith("--")
                and re.search(
                    r"--\s*\{\s*(serverError|clientError|error)\b", ln
                )
                for ln in s.splitlines()
            )
        )
        # verbatim display text for the echo protocol: the raw span up to
        # and INCLUDING the ';' plus a same-line trailing comment; the
        # previous statement's trailer line is not part of this statement
        disp = raw + (trailer if trailer.strip().startswith("--") else "")
        dlines = disp.splitlines()
        if (prev_trailer.strip() and dlines
                and dlines[0].strip() == prev_trailer.strip()):
            dlines = dlines[1:]
        # leading blank lines are between-statement separators, not part
        # of the echoed statement text (02353 vs 01571 interior blanks)
        while dlines and not dlines[0].strip():
            dlines = dlines[1:]
        out.append((s, expect_err, dlines))
        prev_trailer = trailer
    return out


def _strip_comment_lines(stmt: str) -> str:
    # `#`-prefixed lines appear in some 0_stateless files (clickhouse-test
    # treats them as comments, e.g. 02233_interpolate_1.sql); whole-line
    # /* block */ comments prefix statements in the long generator files
    # (00328_long_case_construction)
    return "\n".join(
        l for l in stmt.splitlines()
        if not l.strip().startswith("--") and not l.strip().startswith("#")
        and not re.fullmatch(r"\s*/\*.*?\*/\s*", l)
    ).strip()


def _parse_cell(tok: str):
    # leading-zero integer tokens ('0000') are strings: ClickHouse prints
    # numbers canonically, so a zero-padded cell can only be textual data
    bare = tok.lstrip("+-")
    if re.fullmatch(r"\d+", bare) and len(bare) > 1 and bare.startswith("0"):
        return tok
    if re.fullmatch(r"[+-]?\d+", tok):
        return int(tok)
    try:
        return float(tok)
    except ValueError:
        # ClickHouse TSV escaping: \' \\ \t \n \r \0 \b inside string cells.
        # Decode in ONE left-to-right scan so `\\` consumes its backslash
        # before the following character is interpreted (ordered
        # str.replace turned a literal `\\t` into backslash+TAB — r8 ADVICE)
        _esc = {"'": "'", "\\": "\\", "t": "\t", "n": "\n",
                "r": "\r", "0": "\0", "b": "\b"}
        return re.sub(
            r"\\(.)", lambda m: _esc.get(m.group(1), m.group(0)), tok
        )


def _parse_ref(path: str):
    """.reference → list of typed rows (tab-separated cells)."""
    rows = []
    for line in open(path).read().splitlines():
        rows.append([_parse_cell(t) for t in line.split("\t")])
    return rows


def _cmp_cell(a, b) -> bool:
    import decimal

    if a is None:
        # ClickHouse TSV renders NULL as \N
        return b == "\\N"
    if isinstance(a, (bytes, bytearray)):
        # CH String/FixedString are byte strings — BINARY cells compare as
        # their bytes' text (00394 FixedString columns)
        a = bytes(a).decode("utf-8", "surrogateescape")
    if isinstance(a, decimal.Decimal):
        a = float(a)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if a == b:
            return True
        if (isinstance(a, float) and isinstance(b, float)
                and math.isnan(a) and math.isnan(b)):
            return True
        # reference math is Float32; ours is Float64 — compare at f32 grain
        return math.isclose(float(a), float(b), rel_tol=1e-4, abs_tol=1e-6)
    if isinstance(b, list):  # already-parsed nested composite
        try:
            seq = list(a) if not isinstance(a, (str, bytes)) else None
        except TypeError:
            return False
        return (
            seq is not None and len(seq) == len(b)
            and all(_cmp_cell(x, y) for x, y in zip(seq, b))
        )
    # ClickHouse prints arrays/tuples as composite literals ('[0,0,0]',
    # '(0,2.43)', nested '[[''a''],[''b'']]'); our cells come back as
    # lists / Rows — parse the literal RECURSIVELY and compare elementwise
    if isinstance(b, str) and len(b) >= 2 and b[0] in "[(" and b[-1] in "])":
        try:
            elems = _parse_composite(b)
        except Exception:
            return str(a) == str(b)
        seq = list(a) if not isinstance(a, (str, bytes)) else None
        if seq is not None and len(seq) == len(elems):
            return all(_cmp_cell(x, y) for x, y in zip(seq, elems))
        return False
    return str(a) == str(b)


def _parse_composite(s: str):
    """Parse a ClickHouse composite literal ('[...]' / '(...)') into nested
    Python lists of typed cells — top-level commas only, quotes respected,
    nested composites recurse."""
    inner = s[1:-1]
    parts, depth, q, last = [], 0, False, 0
    for i, c in enumerate(inner):
        if q:
            q = c != "'"
            continue
        if c == "'":
            q = True
        elif c in "[(":
            depth += 1
        elif c in "])":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(inner[last:i])
            last = i + 1
    tailp = inner[last:]
    if tailp.strip() != "" or parts:
        parts.append(tailp)
    out = []
    for p in parts:
        p = p.strip()
        if len(p) >= 2 and p[0] in "[(" and p[-1] in "])":
            out.append(_parse_composite(p))
        elif len(p) >= 2 and p[0] == "'" and p[-1] == "'":
            out.append(_parse_cell(p[1:-1]))
        elif p == "NULL":
            # NULL spells bare inside composites ('[NULL,1]' — 00450)
            out.append("\\N")
        else:
            out.append(_parse_cell(p))
    return out


def _cmp_rows(got, want) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_cmp_cell(x, y) for x, y in zip(g, w)):
            return False
    return True


#: Adjudicated exact-vs-approximate deviations.  00038_mqvs_binary_vector
#: _feature pins rows that the reference's BinaryMSTG APPROXIMATE graph
#: traversal returned (MergeTreeVSManager.cpp binary branch): our engine
#: answers binary top-k EXACTLY, so where the two disagree our row must be
#: at least as near (distance ≤ the reference's recorded distance) — the
#: deviation is the index's recall loss, not an error on either side.
#: Adjudication rule per file: same row count; a deviating row must be
#: (id, dist) shaped with got.dist ≤ want.dist + f32 grain.
ADJUDICATED = {
    "00038_mqvs_binary_vector_feature.sql": {"dist_col": 1},
}


def _adjudicate(fname: str, got, want):
    """Return (ok, n_deviations) under the file's adjudication rule."""
    spec = ADJUDICATED.get(fname)
    if spec is None or len(got) != len(want):
        return False, 0
    dc = spec["dist_col"]
    ndev = 0
    for g, w in zip(got, want):
        if len(g) == len(w) and all(_cmp_cell(x, y) for x, y in zip(g, w)):
            continue
        ndev += 1
        if len(g) != len(w) or len(g) <= dc:
            return False, ndev
        gd, wd = g[dc], w[dc]
        if not isinstance(gd, (int, float)) or not isinstance(wd, (int, float)):
            return False, ndev
        if not float(gd) <= float(wd) + 1e-4 * max(1.0, abs(float(wd))):
            return False, ndev
    return True, ndev


_GC_TICK = 0


def _temp_views(spark) -> set:
    """Temp-view names via SHOW VIEWS — 4x faster than
    spark.catalog.listTables(), which materializes per-table metadata
    objects over py4j (measured 0.285 vs 0.074 s/call; ×2 calls ×619
    pinned files ≈ 4 min of the suite's budget).  SHOW VIEWS also lists
    the current database's permanent views; cleanup must never drop
    those, so they are filtered out."""
    return {
        r["viewName"] for r in spark.sql("SHOW VIEWS").collect() if r["isTemporary"]
    }


def _cleanup_file_state(spark, art: str, pre_views: set) -> None:
    """Release everything one conformance file leaves in the driver JVM —
    without this the 241-file pinned suite ratchets the driver's committed
    heap up ~40 MB/file until the box OOMs (r8 VERDICT finding #1).

    Three sources, measured with tools/leakprobe.py:
      * temp views the file never DROPs (LocalRelations holding its inserted
        rows — clickhouse-test files often skip the trailing DROP TABLE);
      * persisted artifact frames in plans.frame_cache keyed by this file's
        private tempdir (index builds with no DROP);
      * committed-but-idle G1 regions from allocation spikes (02233's
        interpolate grid transiently allocates ~1 GB; with Xmx16g G1 never
        shrinks on its own — an explicit full GC uncommits per
        MaxHeapFreeRatio, verified RSS drops in the probe).
    """
    import shutil

    from myscaledb_spark.plans import frame_cache
    from myscaledb_spark.plans.table_ddl import drop_table

    try:
        from myscaledb_spark.streaming.live_view import LIVE_VIEWS
    except Exception:  # pragma: no cover
        LIVE_VIEWS = {}
    for name in _temp_views(spark):
        if name not in pre_views:
            base = name[:-len("__store")] if name.endswith("__store") else name
            # drop_table pops EVERY per-table registry (TABLES, NESTED_TABLES,
            # TABLE_ENGINES, MV_HOOKS, skip-indices, …) — a file that creates
            # a Nested table without DROP must not leave its dotted-column
            # prefixes to backtick-mangle later files' `alias.col` refs
            try:
                drop_table(spark, base)
            except Exception:
                try:
                    spark.catalog.dropTempView(name)
                except Exception:
                    pass
            LIVE_VIEWS.pop(base, None)
    if art:
        frame_cache.evict_prefix(art)
        shutil.rmtree(art, ignore_errors=True)
    # The explicit full GC bounds the driver's committed-heap ratchet (r8
    # VERDICT finding #1) — but one full GC per FILE costs ~0.1-0.4 s × 619
    # pinned files.  Every 16 files bounds the ratchet at ~16 files' worth
    # of idle regions (measured ~40 MB/file → ≤0.7 GB between collections)
    # for 1/16th of the pause cost.
    global _GC_TICK
    _GC_TICK += 1
    if _GC_TICK % 16 == 0:
        try:
            spark._jvm.System.gc()
        except Exception:
            pass


def run_file(spark, path: str):
    """Run one reference .sql through ch_script statement-by-statement.

    Returns (status, detail): status in {"PASS", "RAN", "FAIL"}.
    """
    from myscaledb_spark.plans.table_ddl import ch_script, reset_session_settings

    # one .sql file = one client session: SET statements must not leak in
    # from the previous file (r7 ADVICE)
    reset_session_settings()
    pre_views = _temp_views(spark)
    # run_file owns the artifact-dir lifecycle so the finally always cleans
    # THIS file's dir — the old module-global handoff left a stale (or
    # empty, on raise-before-assign) path that evicted the whole frame cache
    art = tempfile.mkdtemp(prefix="conf_")
    try:
        return _run_file_inner(spark, path, art)
    finally:
        try:
            _cleanup_file_state(spark, art, pre_views)
        except Exception:
            pass


def _run_file_inner(spark, path: str, art: str):
    from myscaledb_spark.plans.table_ddl import ch_script

    script = open(path).read()
    stmts = _split(script)
    ref_path = path[: -len(".sql")] + ".reference"
    want = _parse_ref(ref_path) if os.path.exists(ref_path) else []
    got_rows: list[list] = []
    compared = True
    echo = False
    for i, (stmt, expect_err, dlines) in enumerate(stmts):
        # clickhouse-test echo protocol: after a `-- { echoOn }` (or
        # `-- { echo }`) marker the client prints each statement's RAW
        # text — comment lines, blank lines and the ';' exactly as they
        # appear in the file (01571) — before its results
        emit_from = 0 if echo else None
        for j, line in enumerate(dlines):
            ls = line.strip()
            if re.fullmatch(r"--\s*\{\s*echo(On)?\s*\}", ls):
                echo = True
                emit_from = j
            elif re.fullmatch(r"--\s*\{\s*echoOff\s*\}", ls):
                echo = False
                emit_from = None
        if echo and emit_from is not None:
            for line in dlines[emit_from:]:
                got_rows.append([line])
        s = _strip_comment_lines(stmt)
        if not s:
            continue
        if expect_err:
            try:
                res = ch_script(spark, s, artifact_dir=art)
                if hasattr(res, "collect"):
                    # lazy plans: force the error. CAPPED — an expected
                    # error we don't reproduce over an unbounded source
                    # (system.numbers) must not collect billions of rows
                    # into the driver (the r8 suite's JVM killer)
                    res.limit(10_000_000).collect()
            except Exception:
                continue  # the reference expects this statement to fail
            return "FAIL", (
                f"stmt {i + 1}: {s.splitlines()[0][:90]!r} was annotated "
                "{{ serverError }} but succeeded"
            )
        try:
            res = ch_script(spark, s, artifact_dir=art)
        except Exception as e:  # first failing statement is the verdict
            return "FAIL", f"stmt {i + 1}: {s.splitlines()[0][:90]!r} -> {type(e).__name__}: {str(e)[:160]}"
        if re.match(r"^\s*(SELECT|WITH|SHOW|EXPLAIN)\b", s, re.IGNORECASE) and res is not None:
            if re.search(r"\bFORMAT\s+Null\b", s, re.IGNORECASE):
                # FORMAT Null executes the query and discards the output
                # (clickhouse-client prints nothing) — errors still count
                try:
                    if hasattr(res, "collect"):
                        res.limit(10_000_000).collect()
                except Exception as e:
                    return "FAIL", f"stmt {i + 1} collect: {type(e).__name__}: {str(e)[:160]}"
                continue
            if re.search(r"FORMAT\s+Vertical", s, re.IGNORECASE):
                # replay clickhouse-client's Vertical rendering: per row a
                # `Row N:` header, a ─ rule of the header's width, then
                # `col:<pad>value` lines padded to the longest column name
                try:
                    vrows = res.collect()
                except Exception as e:
                    return "FAIL", f"stmt {i + 1} collect: {type(e).__name__}: {str(e)[:160]}"
                cols = res.columns
                if vrows:
                    w = max(len(c) for c in cols) + 2
                    for rn, r in enumerate(vrows, 1):
                        hdr = f"Row {rn}:"
                        got_rows.append([hdr])
                        got_rows.append(["─" * len(hdr)])
                        for c, v in zip(cols, r):
                            val = "ᴺᵁᴸᴸ" if v is None else v
                            got_rows.append(
                                [f"{c}:{' ' * (w - len(c) - 1)}{val}"]
                            )
                continue
            try:
                if hasattr(res, "collect"):
                    stmt_rows = [
                        [x if not isinstance(x, bool) else int(x) for x in r]
                        for r in res.collect()
                    ]
                    if (
                        len(stmt_rows) >= 2
                        and re.search(r"\bWITH\s+TOTALS\b", s, re.IGNORECASE)
                    ):
                        # clickhouse-client prints the totals row after a
                        # BLANK separator line; the dialect pins it last
                        # under ORDER BY (grouping_id() sort key)
                        stmt_rows.insert(len(stmt_rows) - 1, [""])
                    got_rows.extend(stmt_rows)
                else:
                    got_rows.append([res])
            except Exception as e:
                return "FAIL", f"stmt {i + 1} collect: {type(e).__name__}: {str(e)[:160]}"
    if not want and compared and not got_rows:
        # an EMPTY .reference with zero produced rows IS an exact match
        # (e.g. 00136: LIMIT past the end of the input)
        return "PASS", f"{len(stmts)} stmts, 0 rows match"
    if not want or not compared:
        return "RAN", f"{len(stmts)} stmts"
    if _cmp_rows(got_rows, want):
        return "PASS", f"{len(stmts)} stmts, {len(got_rows)} rows match"
    ok_adj, ndev = _adjudicate(os.path.basename(path), got_rows, want)
    if ok_adj:
        return "PASS", (
            f"{len(stmts)} stmts, {len(got_rows)} rows — ADJUDICATED: "
            f"{ndev} rows deviate where our EXACT answer is nearer than "
            "the reference index's approximate traversal (see ADJUDICATED)"
        )
    if "--diff" in sys.argv:
        n = max(len(got_rows), len(want))
        for j in range(n):
            g = got_rows[j] if j < len(got_rows) else None
            w = want[j] if j < len(want) else None
            ok = g is not None and w is not None and len(g) == len(w) and all(
                _cmp_cell(x, y) for x, y in zip(g, w)
            )
            if not ok:
                print(f"  row {j}: got={g!r} want={w!r}")
    return "RAN", (
        f"{len(stmts)} stmts ran; output mismatch: got {len(got_rows)} rows, "
        f"reference {len(want)}"
    )


def main(argv):
    only = [a for a in argv if not a.startswith("-")]
    errors_only = "--errors" in argv
    shard = None
    for a in argv:
        sm = re.fullmatch(r"--shard=(\d+)/(\d+)", a)
        if sm:
            shard = (int(sm.group(1)), int(sm.group(2)))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("conformance")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # reference stress scripts materialize multi-GB tables (00020:
        # 500k rows x 768-dim vectors) — the 1g default heap dies
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    files = []
    for d in REF_DIRS:
        for f in sorted(os.listdir(d)):
            if f.endswith(".sql") and (not only or any(o in f for o in only)):
                files.append(os.path.join(d, f))
    if shard:
        files = [p for i, p in enumerate(files) if i % shard[1] == shard[0]]
    counts = {"PASS": 0, "RAN": 0, "FAIL": 0}
    import time

    def _alive() -> bool:
        try:
            spark.sql("SELECT 1").collect()
            return True
        except Exception:
            return False

    for path in files:
        t0 = time.time()
        status, detail = run_file(spark, path)
        detail += f"  [{time.time() - t0:.0f}s]"
        counts[status] += 1
        if not errors_only or status == "FAIL":
            print(f"{status:4} {os.path.basename(path):55} {detail}", flush=True)
        if status == "FAIL" and not _alive():
            # a stress file killed the JVM — restart so ONE crash cannot
            # poison every later file's verdict
            print(".... session died; restarting JVM", flush=True)
            try:
                spark.stop()
            except Exception:
                pass
            # the gateway is gone: clear pyspark's module-level JVM handles
            # or getOrCreate would reuse the dead gateway
            from pyspark import SparkContext

            SparkContext._active_spark_context = None
            SparkContext._gateway = None
            SparkContext._jvm = None
            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
            spark = (
                SparkSession.builder.master(
                    f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
                .appName("conformance")
                .config("spark.sql.shuffle.partitions", "8")
                .config("spark.ui.enabled", "false")
                .config("spark.driver.memory",
                        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
                .getOrCreate()
            )
    print(f"\ntotal {len(files)}: {counts}")


if __name__ == "__main__":
    main(sys.argv[1:])
