"""The memo layer (myscaledb_spark/memo.py): every namespace follows an input
rewritten outside Spark, the LRU bound releases what it evicts, the per-term
helper keeps the current query's terms, the statement log is bounded, and no
private memo comes back."""

from __future__ import annotations

import ast
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from myscaledb_spark import memo

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "myscaledb_spark")


def _clear_memo(spark):
    for entry in memo._STORES.pop(spark, {}).values():
        memo._release(entry)


def _write(path, name, table):
    """Replace every file under ``path`` with ``name`` holding ``table``."""
    os.makedirs(path, exist_ok=True)
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    pq.write_table(table, os.path.join(path, name))


def _view(spark, path, view):
    spark.read.parquet(path).createOrReplaceTempView(view)
    return spark.table(view)


def _stale_then_cleared(spark, path, view, first, second, run):
    """run() on ``first``, then on ``second`` written over it outside Spark,
    then again after the memo is cleared; returns the last two results."""
    _write(path, "a.parquet", first)
    run(_view(spark, path, view))
    _write(path, "b.parquet", second)
    after = run(_view(spark, path, view))
    _clear_memo(spark)
    return after, run(_view(spark, path, view))


def _docs(texts):
    return pa.table({"doc_id": list(range(len(texts))), "text": texts})


def test_minhash_follows_rewritten_input(spark, tmp_path):
    """The resident MinHash index is rebuilt when its input files change."""
    from myscaledb_spark.operators.dedup import minhash_dedup_pairs

    words = [f"w{i}" for i in range(400)]
    dup = " ".join(words[:40])
    first = _docs([dup] * 9 + [" ".join(words[40 * i: 40 * i + 40]) for i in range(1, 5)])
    second = _docs([dup] * 3 + [" ".join(words[40 * i: 40 * i + 40]) for i in range(1, 10)])

    def run(df):
        toks = F.split(F.col("text"), " ")
        pairs = minhash_dedup_pairs(df, "doc_id", toks, 3, 12, 4, 0.5)
        return sorted(tuple(r) for r in pairs.collect())

    after, cleared = _stale_then_cleared(
        spark, str(tmp_path / "mh"), "t_memo_mh", first, second, run
    )
    assert after == cleared
    assert len(cleared) == 3


def test_rank_corr_follows_rewritten_input(spark, tmp_path):
    """Literal-tier rank_corr (about 3,000 distinct values per axis) rebuilds
    its stats row and rank tables when its input files change."""
    from myscaledb_spark.operators.stats import rank_corr

    rng = np.random.default_rng(7)
    n = 200_000
    x = rng.integers(0, 3000, n).astype("float64")
    first = pa.table({"x": x, "y": rng.integers(0, 3000, n).astype("float64")})
    x2 = rng.integers(1000, 4000, n).astype("float64")
    second = pa.table({"x": x2, "y": x2 + rng.integers(0, 500, n)})

    def run(df):
        return rank_corr(df, "x", "y").collect()[0][0]

    after, cleared = _stale_then_cleared(
        spark, str(tmp_path / "rc"), "t_memo_rc", first, second, run
    )
    assert after == cleared
    assert cleared > 0.9


def test_load_table_follows_rewritten_input(spark, tmp_path):
    """load_table's memoized scan is rebuilt when its file changes."""
    from myscaledb_spark.catalog import load_table

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = os.path.join(sf, "region.parquet")

    def run():
        df = load_table(spark, sf, "region")
        df.createOrReplaceTempView("t_memo_region")
        return sorted(tuple(r) for r in spark.table("t_memo_region").collect())

    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    run()
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2], "r_name": ["C", "D", "EEE"]}), path)
    after = run()
    _clear_memo(spark)
    assert after == run() == [(0, "C"), (1, "D"), (2, "EEE")]


def test_text_resident_follows_rewritten_input(spark, tmp_path):
    """The resident tokenized corpus, and its BM25 stats, are rebuilt when
    the view's files change."""
    from myscaledb_spark.functions.text import text_search

    first = _docs(["apple pie", "banana split", "cherry tart", "date loaf"])
    second = _docs(["apple pie", "banana split", "cherry tart", "date loaf",
                    "apple crumble with apple"])

    def run(df):
        return [tuple(r) for r in
                text_search(df, "text", "apple", 3, id_col="doc_id").collect()]

    after, cleared = _stale_then_cleared(
        spark, str(tmp_path / "tx"), "t_memo_tx", first, second, run
    )
    assert after == cleared
    assert cleared[0][0] == 4


def test_fts_dfmap_follows_rebuilt_index(spark, tmp_path):
    """The FTS document-frequency memo follows a rebuild of the index over
    rewritten input (keyed on the stats.json mtime)."""
    from myscaledb_spark.plans.fts_index import build_fts_index, fts_search

    art = str(tmp_path / "art")
    first = _docs(["apple pie", "banana split", "cherry tart"])
    second = _docs(["apple pie", "apple tart", "apple crumble", "date loaf"])

    def run(df):
        build_fts_index(df, "text", "doc_id", art)
        return sorted(tuple(r) for r in fts_search(spark, art, "apple tart", 4).collect())

    after, cleared = _stale_then_cleared(
        spark, str(tmp_path / "fts_in"), "t_memo_fts", first, second, run
    )
    assert after == cleared
    assert len(cleared) == 3


def test_lru_overflow_releases_the_oldest_entry(spark):
    frames = [spark.range(i + 1).persist() for i in range(3)]
    for i, f in enumerate(frames):
        assert memo.get(spark, "t_lru", i, "fp", lambda f=f: f, slots=2) is f
    assert not frames[0].storageLevel.useMemory
    assert all(f.storageLevel.useMemory for f in frames[1:])
    assert memo.get(spark, "t_lru", 0, "fp") is None
    assert memo.get(spark, "t_lru", 2, "fp") is frames[2]
    _clear_memo(spark)
    assert not frames[2].storageLevel.useMemory


def test_unfingerprinted_call_drops_the_stale_entry(spark):
    frame = spark.range(2).persist()
    assert memo.get(spark, "t_nofp", "k", "fp1", lambda: frame) is frame
    assert memo.get(spark, "t_nofp", "k", None, lambda: 1 / 0) is None
    assert not frame.storageLevel.useMemory
    assert memo.get(spark, "t_nofp", "k", "fp1") is None


def test_cached_dfmap_eviction_keeps_current_query_terms(spark, tmp_path, monkeypatch):
    """When the per-term memo evicts, terms of the CURRENT query that were
    already cached must still be returned — the old code cleared the memo
    after computing the miss list and then KeyError'd on the cached terms."""
    import json

    import myscaledb_spark.plans.fts_index as fts

    base = str(tmp_path / "fts")
    os.makedirs(base, exist_ok=True)
    json.dump({"n_docs": 3, "avgdl": 2.0, "tokenizer": "simple"},
              open(os.path.join(base, "stats.json"), "w"))
    dfreq = spark.createDataFrame(
        [("alpha", 2), ("beta", 1), ("gamma", 3)], "term string, df long"
    )
    monkeypatch.setattr(memo, "MAX_TERMS", 2)
    first = fts._cached_dfmap(dfreq, base, ["alpha"])
    assert first == {"alpha": 2.0}
    # alpha is cached; adding beta+gamma overflows the 2-slot cap and
    # forces eviction mid-query — alpha must survive in the result
    mixed = fts._cached_dfmap(dfreq, base, ["alpha", "beta", "gamma"])
    assert mixed == {"alpha": 2.0, "beta": 1.0, "gamma": 3.0}


def test_terms_overflow_fetches_only_missing_keys(monkeypatch):
    table, fetched = {}, []

    def fetch(need):
        fetched.append(sorted(need))
        return {k: k.upper() for k in need}

    monkeypatch.setattr(memo, "MAX_TERMS", 3)
    assert memo.terms(table, ["a", "b"], fetch) == {"a": "A", "b": "B"}
    assert memo.terms(table, ["b", "c", "d"], fetch) == {"b": "B", "c": "C", "d": "D"}
    assert fetched == [["a", "b"], ["c", "d"]]
    assert sorted(table) == ["b", "c", "d"]


def test_query_log_is_bounded(spark):
    from myscaledb_spark import introspection as I

    saved = list(I.QUERY_LOG)
    try:
        for i in range(I.QUERY_LOG_MAX_ROWS + 1):
            I.log_query(f"SELECT {i}", f"SELECT {i}", 0.0)
        assert len(I.QUERY_LOG) == I.QUERY_LOG_MAX_ROWS
        assert I.QUERY_LOG[0]["query"] == "SELECT 1"
        assert I.system_query_log(spark).count() == I.QUERY_LOG_MAX_ROWS
    finally:
        I.QUERY_LOG.clear()
        I.QUERY_LOG.extend(saved)


def test_input_identity_is_read_only_in_memo():
    """Plan hashes, input file listings and weak session maps belong to
    memo.py; a module with its own copy is a private memo."""
    stray = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py") or f == "memo.py":
                continue
            path = os.path.join(dirpath, f)
            for ln, line in enumerate(open(path, encoding="utf-8"), start=1):
                if not re.search(r"semanticHash\(|inputFiles\(|WeakKeyDictionary", line):
                    continue
                stray.append(f"{os.path.relpath(path, PKG)}:{ln}")
    assert not stray, stray


def test_rank_corr_memoized_second_run_identical(spark):
    """The rank-table memo and the AQE-off cells scope leave repeated runs
    bit-identical (the memo only skips re-collecting an immutable rank
    table)."""
    from myscaledb_spark.operators.stats import rank_corr

    li = spark.table("lineitem")
    a = rank_corr(li, "l_quantity", "l_extendedprice").collect()[0][0]
    b = rank_corr(li, "l_quantity", "l_extendedprice").collect()[0][0]
    assert a == b


def test_text_corpus_has_one_lookup_and_no_persisted_copy():
    """The driver snapshot is the one resident text corpus: only
    ``text._snapshot`` reads or writes memo.py's ``text`` namespace, and
    functions/text.py persists nothing."""
    owners, persists = [], []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path, encoding="utf-8").read())
            funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
            for n in ast.walk(tree):
                if not isinstance(n, ast.Call) or not isinstance(n.func, ast.Attribute):
                    continue
                if n.func.attr == "persist" and rel == os.path.join("functions", "text.py"):
                    persists.append(n.lineno)
                if (n.func.attr == "get" and isinstance(n.func.value, ast.Name)
                        and n.func.value.id == "memo" and len(n.args) > 1
                        and isinstance(n.args[1], ast.Constant) and n.args[1].value == "text"):
                    inner = [g for g in funcs if g.lineno <= n.lineno <= g.end_lineno]
                    owners.append((rel, max(inner, key=lambda g: g.lineno).name))
    assert set(owners) == {(os.path.join("functions", "text.py"), "_snapshot")}, owners
    assert not persists, persists


def test_rank_corr_value_tier_nan_single_tie_group(spark):
    """A value-tier (low-cardinality) axis containing NaN spread over
    several cells of the other axis must treat all NaN as ONE tie group
    (Spark groupBy normalizes NaN; the driver-side dicts must too)."""
    from myscaledb_spark.operators.stats import rank_corr

    nan = float("nan")
    # x: 3 distinct values incl. NaN -> value tier; y: unique -> NaN cells
    # of x span many distinct y cells
    data = [
        (1.0, 10.0), (1.0, 20.0), (2.0, 30.0), (2.0, 40.0),
        (nan, 50.0), (nan, 60.0), (nan, 70.0), (nan, 80.0),
        (1.0, 90.0), (2.0, 100.0),
    ]
    df = spark.createDataFrame(data, "x double, y double")
    got = rank_corr(df, "x", "y").first().rank_corr

    pdf = df.toPandas()
    # oracle: average ranks with NaN as a real tie group ranked last —
    # matches the engine's NULL-first / NaN-last ordering
    want = (
        pdf["x"].rank(na_option="bottom").corr(pdf["y"].rank())
    )
    assert got == pytest.approx(want, abs=1e-12)
