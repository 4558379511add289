"""IVF index lifecycle: build → registry status → partition-pruned search →
recall vs exact oracle."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from myscaledb_spark import session
from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.plans.vector_index import (
    IndexRegistry,
    ann_recall,
    append_to_ivf_index,
    build_ivf_index,
    ivf_search,
)
from myscaledb_spark.plans.frame_cache import data_files
from tests.test_index_maintenance import _rows, _writers, local_batch
from tests.test_resident import _served_and_spark


@pytest.fixture(scope="module")
def ivf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf"))
    emb = spark.table("embeddings")
    rec = build_ivf_index(emb, "embedding", "vec_id", d, num_centroids=8)
    assert rec["status"] == "Built"
    return d


def _q(seed=5):
    rng = np.random.default_rng(seed)
    return rng.standard_normal(64).tolist()


def test_registry_lifecycle(spark, ivf_dir):
    reg = IndexRegistry(ivf_dir)
    rec = reg.get("ivf")
    assert rec["status"] == "Built"
    assert rec["params"]["ncentroids"] == 8
    assert len(reg.list()) == 1


def test_search_returns_k(spark, ivf_dir):
    out = ivf_search(spark, ivf_dir, _q(), 10, nprobe=4).collect()
    assert len(out) == 10
    # distances ascending
    d = [r.dist for r in out]
    assert d == sorted(d)


def test_full_probe_equals_exact(spark, ivf_dir):
    """nprobe = num_centroids ⇒ recall 1.0 (ANN degenerates to exact)."""
    r = ann_recall(
        spark.table("embeddings"), ivf_search(spark, ivf_dir, _q(7), 10, nprobe=8),
        _q(7), 10,
    )
    assert r == 1.0


def test_partial_probe_recall(spark, ivf_dir):
    """Random gaussian vectors are the ANN worst case; still, nprobe=4/8
    must recover a meaningful fraction and never crash."""
    r = ann_recall(
        spark.table("embeddings"), ivf_search(spark, ivf_dir, _q(11), 10, nprobe=4),
        _q(11), 10,
    )
    assert 0.0 <= r <= 1.0


def test_filtered_ivf_search(spark, ivf_dir):
    out = ivf_search(
        spark, ivf_dir, _q(3), 5, nprobe=8, where=F.col("label") == 2
    ).collect()
    assert all(r.label == 2 for r in out)
    assert len(out) == 5


def test_partition_pruning_in_plan(spark, ivf_dir, monkeypatch):
    """Above the driver gate the probed scan must read only the selected
    list_id partitions; below it the answer is a local relation."""
    def plan():
        df = ivf_search(spark, ivf_dir, _q(), 5, nprobe=2)
        return df._jdf.queryExecution().executedPlan().toString()

    assert plan().startswith("LocalTableScan")
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", 0)
    assert "PartitionFilters" in plan() or "list_id" in plan()


def test_incremental_append_serves_new_rows(spark, tmp_path_factory):
    """Decoupled-parts analog: build on half the data, append the other half
    assigned to existing centroids; full-probe search == exact over ALL."""
    from myscaledb_spark.plans.vector_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_search,
    )
    from myscaledb_spark.operators.topk import vector_topk

    d = str(tmp_path_factory.mktemp("ivf_inc"))
    emb = spark.table("embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    build_ivf_index(first, "embedding", "vec_id", d, num_centroids=8)
    append_to_ivf_index(second, "embedding", "vec_id", d)

    q = _q(21)
    got = [r.vec_id for r in ivf_search(spark, d, q, 10, nprobe=8).collect()]
    want = [
        r.vec_id
        for r in vector_topk(emb, "embedding", q, 10, "L2", id_col="vec_id").collect()
    ]
    assert got == want
    # odd ids (appended) must be reachable
    assert any(v % 2 == 1 for v in got)


def test_ivf_search_excludes_deleted(spark, tmp_path):
    """Lightweight-DELETE ↔ vector index: deleted ids are masked out of
    search results without rebuilding the artifact (the reference passes
    the part's deleted-rows filter into vector scans)."""
    import tempfile

    from myscaledb_spark.catalog import load_table
    from myscaledb_spark.operators.topk import vector_topk
    from myscaledb_spark.plans.vector_index import build_ivf_index, ivf_search
    from myscaledb_spark.suite.search import QV
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    d = str(tmp_path / "ivf_del")
    build_ivf_index(emb, "embedding", "vec_id", d, num_centroids=4)

    # exhaustive probe == brute force; delete the true top-3
    top = ivf_search(spark, d, QV, 3, nprobe=4).collect()
    deleted = spark.createDataFrame([(r.vec_id,) for r in top], "vec_id long")
    masked = ivf_search(spark, d, QV, 5, nprobe=4, exclude_ids=deleted).collect()
    assert {r.vec_id for r in top}.isdisjoint({r.vec_id for r in masked})
    # and equals brute force over the un-deleted rows
    want = vector_topk(
        emb.join(deleted, "vec_id", "anti"), "embedding", QV, 5, "L2",
        id_col="vec_id",
    ).collect()
    assert [r.vec_id for r in masked] == [r.vec_id for r in want]


def test_vector_index_event_log(spark, tmp_path):
    from myscaledb_spark.introspection import system_vector_index_event_log
    from myscaledb_spark.plans.vector_index import IndexRegistry, build_ivf_index

    emb = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    art = str(tmp_path / "evlog")
    build_ivf_index(emb, "embedding", "vec_id", art, name="ivf", num_centroids=2)
    IndexRegistry(art).set_status("ivf", "Dropped")
    log = system_vector_index_event_log(spark, art)
    rows = log.orderBy("event_time").collect()
    # Defined -> InProgress -> LoadStart/LoadSucceed (the build's artifact
    # read-back is the initial cache residency, 00030) -> Built -> Dropped
    assert [r["status"] for r in rows] == [
        "Defined", "InProgress", "LoadStart", "LoadSucceed", "Built", "Dropped",
    ]
    assert [r["event_type"] for r in rows] == [
        "DefinitionCreated", "BuildStart", "LoadStart", "LoadSucceed",
        "BuildSucceed", "DefinitionDroped",
    ]


def test_recall_indicator_counts_returned_rows(spark):
    """n_results counts the rows the search returned, duplicates included;
    only the overlap with the exact top-k is taken over distinct ids."""
    from myscaledb_spark.suite.search2 import _recall_indicator

    got = spark.createDataFrame([(1,), (1,), (2,)], "vec_id int")
    exact = spark.createDataFrame([(1,), (3,), (4,)], "vec_id int")
    row = _recall_indicator(spark, got, exact, 3, 0.3).collect()[0]
    assert (row["k"], row["n_results"], row["recall_ok"]) == (3, 3, 1)
    row = _recall_indicator(spark, got, exact, 3, 0.5).collect()[0]
    assert row["recall_ok"] == 0


def test_mllib_build_path_full_probe_equals_exact(spark, tmp_path, monkeypatch):
    """Above the small-input gate the centroids come from MLlib KMeans and
    the lists from its executor-side assignment; a full probe still equals
    the exact top-k, ids and distances."""
    from myscaledb_spark.operators.topk import vector_topk
    from myscaledb_spark.plans import vector_index

    monkeypatch.setattr(vector_index, "SMALL_KMEANS_ROWS", 0)
    emb = spark.table("embeddings")
    d = str(tmp_path / "ivf_mllib")
    build_ivf_index(emb, "embedding", "vec_id", d, num_centroids=8)
    got = ivf_search(spark, d, _q(7), 10, nprobe=8).select("vec_id", "dist").collect()
    want = vector_topk(emb, "embedding", _q(7), 10, "L2", None, "vec_id")
    assert got == want.select("vec_id", "dist").collect()


# -- the driver search equals the Spark plan ------------------------------------


def _vectors(spark, lo, hi, dim=4, defined=True):
    """Rows ``lo``..``hi`` - 1 of (id, label, vector); every ninth repeats the
    vector before it (tied distances).  Unless ``defined``, they also hold
    NULL, short, NULL-element and zero-norm vectors."""
    rng = np.random.default_rng(lo)
    rows, prev = [], None
    for i in range(lo, hi):
        v = prev if i % 9 == 0 and prev else [float(x) for x in rng.standard_normal(dim)]
        prev = v
        if not defined:
            v = (None if i % 5 == 0 else v[:-1] if i % 5 == 1
                 else [v[0], None, *v[2:]] if i % 5 == 2 else [0.0] * dim if i % 5 == 3 else v)
        rows.append((i, i % 3, v))
    return spark.createDataFrame(rows, "id long, label int, vector array<float>")


@pytest.mark.parametrize("metric", ["L2", "IP", "Cosine"])
def test_driver_search_equals_spark_plan_after_appends(spark, tmp_path, monkeypatch, metric):
    """ivf_search from the inverted lists held on the driver equals the
    Spark plan bit for bit (rows, distances, order, schema) after 0, 1 and
    2 appends, with no Spark job, also on the first search after an append:
    NULL, short, NULL-element and zero-norm vectors in the lists, tied
    distances, a partial and a full probe, and k past the rows."""
    d = str(tmp_path / "ivf_driver")
    build_ivf_index(_vectors(spark, 0, 60), "vector", "id", d, num_centroids=3)
    q = [0.5, -1.0, 0.25, 2.0]
    for batch in (_vectors(spark, 60, 90, defined=False), _vectors(spark, 90, 120), None):
        for nprobe, k in ((1, 7), (3, 500)):
            driver, want = _served_and_spark(spark, monkeypatch, lambda: ivf_search(
                spark, d, q, k, nprobe=nprobe, metric=metric, id_col="id", vec_col="vector"))
            assert driver == want
        if batch is not None:
            append_to_ivf_index(batch, "vector", "id", d)
    assert len(driver) == 120 - 18 - 6 * (metric == "Cosine")  # rows with a distance
    dists = [r[-1] for r in driver]
    assert len(dists) > len(set(dists))  # tied distances, ordered by id


def test_driver_search_carries_every_column_type(spark, tmp_path, monkeypatch):
    """The lists held on the driver keep every column type the Spark read
    gives: floats with -0.0 and NaN, decimal, date, binary, tinyint,
    boolean, INT96 timestamps in years 1 and 9999, timestamp_ntz, an array
    with a NULL element, a map, a struct, a NULL struct whose field is NOT
    NULL and a string with a quote and non-ASCII text."""
    df = spark.sql(r"""SELECT id, array(CAST(id AS FLOAT), 1.0F) AS vector, f, d, dec, dt, b,
        ti, bo, ts, tsn, arr, m, st, IF(bo, named_struct('x', 1), NULL) AS nn, s FROM VALUES
      (1L, CAST(1.5 AS FLOAT), -0.0D, CAST(1.234 AS DECIMAL(5,3)), DATE'2024-03-10', X'00FF',
       CAST(-7 AS TINYINT), true, TIMESTAMP'0001-01-02 12:00:00',
       TIMESTAMP_NTZ'2024-03-10 02:30:00', array(1, NULL, 3), map('a', 1),
       named_struct('x', 1, 'y', 'a'), 'é 漢字 " ,)'),
      (2L, CAST('NaN' AS FLOAT), CAST('Infinity' AS DOUBLE), NULL, NULL, NULL, NULL, NULL,
       TIMESTAMP'9999-12-31 23:59:59.999999', NULL, NULL, NULL, NULL, NULL),
      (3L, CAST('-Infinity' AS FLOAT), CAST('NaN' AS DOUBLE), NULL, DATE'0001-01-01', X'',
       NULL, false, NULL, TIMESTAMP_NTZ'9999-12-31 23:59:59', array(), map(), NULL, '')
      AS t(id, f, d, dec, dt, b, ti, bo, ts, tsn, arr, m, st, s)""")
    d = str(tmp_path / "ivf_types")
    build_ivf_index(df, "vector", "id", d, num_centroids=2)
    driver, want = _served_and_spark(spark, monkeypatch, lambda: ivf_search(
        spark, d, [0.0, 0.0], 3, nprobe=2, id_col="id", vec_col="vector"))
    assert repr(driver) == repr(want) and len(driver) == 3


def test_flat_stand_in_append_is_a_noop_and_search_names_it(spark, tmp_path):
    """An IVF index declared over fewer than 2 rows records a FLAT stand-in
    with no artifact: an append returns the record unchanged (ddl.search_index
    scans the table for it), and ivf_search refuses it by name."""
    d = str(tmp_path / "ivf_flat")
    rec = build_ivf_index(_vectors(spark, 0, 1), "vector", "id", d)
    assert rec["index_type"] == "FLAT"
    again = append_to_ivf_index(_vectors(spark, 1, 3), "vector", "id", d)
    assert again == rec
    with pytest.raises(InvalidSearchQuery, match="'ivf' is a FLAT stand-in"):
        ivf_search(spark, d, [0.0] * 4, 2, id_col="id", vec_col="vector")


def test_first_search_after_cache_expire_logs_the_load(spark, tmp_path):
    """DETACH's CacheExpire releases the lists held on the driver; the next
    search loads them again and logs LoadStart/LoadSucceed, once."""
    from myscaledb_spark.plans import frame_cache

    d = str(tmp_path / "ivf_expire")
    build_ivf_index(_vectors(spark, 0, 30), "vector", "id", d, num_centroids=2)
    reg = IndexRegistry(d)

    def search():
        ivf_search(spark, d, [0.0] * 4, 3, id_col="id", vec_col="vector").collect()
        return [e["status"] for e in reg.get("ivf")["events"]]

    before = search()
    frame_cache.evict_prefix(os.path.join(d, "ivf"))
    reg.add_event("ivf", "CacheExpire", cache_resident=False)
    assert search() == before + ["CacheExpire", "LoadStart", "LoadSucceed"]
    assert search() == before + ["CacheExpire", "LoadStart", "LoadSucceed"]


#: modules of the ANN index family under myscaledb_spark/plans
_ANN_MODULES = ("vector_index", "pq_index", "sq_index", "hnsw_index", "mstg_index", "ddl")


def test_index_family_keeps_one_built_check_and_one_graph_search():
    """Source guard: the registry's Built comparison lives only in
    IndexRegistry, and the NSW graph's applyInPandas only in hnsw_index."""
    import ast
    import os

    plans = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "myscaledb_spark", "plans",
    )
    stray = []
    for mod in _ANN_MODULES:
        path = os.path.join(plans, mod + ".py")
        tree = ast.parse(open(path, encoding="utf-8").read())
        registry = {
            id(n)
            for c in ast.walk(tree)
            if isinstance(c, ast.ClassDef) and c.name == "IndexRegistry"
            for n in ast.walk(c)
        }
        for n in ast.walk(tree):
            if isinstance(n, ast.Compare) and id(n) not in registry and any(
                isinstance(e, ast.Constant) and e.value == "Built"
                for e in ast.walk(n)
            ):
                stray.append(f"{mod}:{n.lineno} Built comparison")
            if (mod != "hnsw_index" and isinstance(n, ast.Attribute)
                    and n.attr == "applyInPandas"):
                stray.append(f"{mod}:{n.lineno} applyInPandas")
    assert not stray, stray


# -- driver appends decline what they cannot write as Spark would ----------------


def _append_writers(spark, d: str, rows: list, schema: str) -> set:
    """The writers of the files an IVF append of ``rows`` adds."""
    inv = os.path.join(d, "ivf", "inverted")
    before = data_files(inv)
    append_to_ivf_index(local_batch(spark, rows, schema), "vector", "id", d)
    return _writers(inv, before)


def test_driver_append_declines_null_and_short_vectors(spark, tmp_path):
    """A batch with a NULL vector, a short one or a NULL element is appended
    by Spark (its files are parquet-mr's); a batch of whole vectors by the
    driver.  Every row is searchable after either."""
    d = str(tmp_path / "ivf_decline")
    schema = "id long, vector array<float>, doc string"
    build_ivf_index(local_batch(spark, _rows(0, 30), schema), "vector", "id", d,
                    num_centroids=2)
    assert _append_writers(spark, d, _rows(30, 34), schema) == {"parquet-cpp-arrow"}
    for lo, bad in ((40, None), (50, [1.0, 2.0, 3.0]), (60, [1.0, None, 3.0, 4.0])):
        rows = _rows(lo, lo + 4) + [(lo + 4, bad, "vector")]
        assert _append_writers(spark, d, rows, schema) == {"parquet-mr"}, bad
    ids = {r.id for r in ivf_search(spark, d, [0.0] * 4, 100, nprobe=2, id_col="id",
                                     vec_col="vector").collect()}
    assert ids == set(range(34)) | {i for lo in (40, 50, 60) for i in range(lo, lo + 4)}


def test_driver_append_declines_a_timestamp_column(spark, tmp_path):
    """A column type the driver writer does not write as Spark would (a
    timestamp) sends the batch to the Spark append."""
    import datetime

    d = str(tmp_path / "ivf_ts")
    schema = "id long, vector array<float>, ts timestamp"
    at = datetime.datetime(2024, 3, 10, 2, 30)
    build_ivf_index(local_batch(spark, [(i, v, at) for i, v, _ in _rows(0, 10)], schema),
                    "vector", "id", d, num_centroids=2)
    rows = [(i, v, at) for i, v, _ in _rows(10, 14)]
    assert _append_writers(spark, d, rows, schema) == {"parquet-mr"}
    got = spark.read.parquet(os.path.join(d, "ivf", "inverted")).filter("id >= 10")
    assert sorted((r.id, r.ts) for r in got.collect()) == [(i, at) for i in range(10, 14)]

