"""Index DDL surface: ALTER TABLE … ADD/DROP VECTOR INDEX and ADD INDEX …
TYPE fts, parsed and dispatched to the artifact builders, plus type-routed
search_index."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from myscaledb_spark.catalog import load_table
from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.plans.ddl import alter_index_ddl, search_index

SF = "/root/testdata/sf0.001"
QV = [0.1] * 64


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_add_vector_index_types_and_search(spark, emb):
    art = tempfile.mkdtemp(prefix="ddl_art_")
    for stmt, expected_type in [
        (
            "ALTER TABLE e ADD VECTOR INDEX v_ivf embedding TYPE IVFFLAT('ncentroids=4')",
            "IVFFLAT",
        ),
        (
            "ALTER TABLE e ADD VECTOR INDEX v_mstg embedding TYPE MSTG('alpha=1')",
            "MSTG",
        ),
        ("ALTER TABLE e ADD VECTOR INDEX v_sq embedding TYPE IVFSQ", "SQ"),
    ]:
        rec = alter_index_ddl(spark, stmt, emb, "vec_id", art)
        assert rec["status"] == "Built" and rec["index_type"] == expected_type

    # exhaustive-mode search through the DDL-built IVF equals brute force
    from myscaledb_spark.operators.topk import vector_topk

    want = [
        r.vec_id for r in vector_topk(emb, "embedding", QV, 5, "L2", None, "vec_id").collect()
    ]
    got = [
        r.vec_id
        for r in search_index(
            spark, art, "v_ivf", QV, 5, id_col="vec_id", nprobe=4
        ).collect()
    ]
    assert got == want


def test_flat_and_drop(spark, emb):
    art = tempfile.mkdtemp(prefix="ddl_flat_")
    rec = alter_index_ddl(
        spark, "ALTER TABLE e ADD VECTOR INDEX v0 embedding TYPE FLAT", emb,
        "vec_id", art,
    )
    assert rec["index_type"] == "FLAT"
    out = search_index(
        spark, art, "v0", QV, 3, df=emb, vec_col="embedding", id_col="vec_id"
    )
    assert out.count() == 3
    alter_index_ddl(spark, "ALTER TABLE e DROP VECTOR INDEX v0", None, "vec_id", art)
    with pytest.raises(InvalidSearchQuery):
        search_index(spark, art, "v0", QV, 3, df=emb, vec_col="embedding")
    # DROP of a missing index without IF EXISTS raises
    with pytest.raises(InvalidSearchQuery):
        alter_index_ddl(
            spark, "ALTER TABLE e DROP VECTOR INDEX nope", None, "vec_id", art
        )
    # with IF EXISTS it is a no-op
    alter_index_ddl(
        spark, "ALTER TABLE e DROP VECTOR INDEX IF EXISTS nope", None, "vec_id", art
    )


def test_add_fts_index_ddl_and_search(spark):
    from myscaledb_spark.plans.fts_index import fts_search

    art = tempfile.mkdtemp(prefix="ddl_fts_")
    docs = load_table(spark, SF, "documents")
    rec = alter_index_ddl(
        spark,
        "ALTER TABLE d ADD INDEX ft text TYPE fts('{\"type\": \"stem\"}') GRANULARITY 1",
        docs,
        "doc_id",
        art,
    )
    assert rec["status"] == "Built"
    hits = fts_search(spark, art, "data systems", 5, name="ft")
    assert hits.count() == 5


def test_bad_ddl_raises(spark, emb):
    art = tempfile.mkdtemp(prefix="ddl_bad_")
    with pytest.raises(InvalidSearchQuery):
        alter_index_ddl(
            spark, "ALTER TABLE e ADD VECTOR INDEX v embedding TYPE WAT", emb,
            "vec_id", art,
        )
    with pytest.raises(InvalidSearchQuery):
        alter_index_ddl(spark, "SELECT 1", emb, "vec_id", art)


def test_create_vector_index_form(spark, emb):
    """ParserCreateIndexQuery.cpp:37 — the standalone CREATE VECTOR INDEX
    syntax routes to the same builder as ALTER … ADD VECTOR INDEX."""
    art = tempfile.mkdtemp(prefix="ddl_create_")
    rec = alter_index_ddl(
        spark,
        "CREATE VECTOR INDEX v_c ON e (embedding) TYPE HNSWFLAT('m=4', 'ef_c=16')",
        emb,
        "vec_id",
        art,
    )
    assert rec["status"] == "Built" and rec["index_type"] == "HNSWFLAT"
    out = search_index(spark, art, "v_c", QV, 4, id_col="vec_id")
    assert out.count() == 4


def test_if_not_exists_is_idempotent_and_plain_add_raises(spark, emb):
    art = tempfile.mkdtemp(prefix="ddl_ine_")
    stmt = "ALTER TABLE e ADD VECTOR INDEX IF NOT EXISTS vi embedding TYPE IVFFLAT('ncentroids=4')"
    r1 = alter_index_ddl(spark, stmt, emb, "vec_id", art)
    r2 = alter_index_ddl(spark, stmt, emb, "vec_id", art)  # no rebuild
    assert r1["status"] == r2["status"] == "Built"
    with pytest.raises(InvalidSearchQuery):
        alter_index_ddl(
            spark,
            "ALTER TABLE e ADD VECTOR INDEX vi embedding TYPE IVFFLAT",
            emb, "vec_id", art,
        )


def test_drop_if_exists_no_phantom_record(spark, emb):
    from myscaledb_spark.plans.vector_index import IndexRegistry

    art = tempfile.mkdtemp(prefix="ddl_ph_")
    alter_index_ddl(
        spark, "ALTER TABLE e DROP VECTOR INDEX IF  EXISTS ghost", None, "vec_id", art
    )  # double space: the regex group, not a substring test, must detect IF EXISTS
    assert IndexRegistry(art).get("ghost") is None
    # still raises without IF EXISTS afterwards (no phantom record)
    with pytest.raises(InvalidSearchQuery):
        alter_index_ddl(
            spark, "ALTER TABLE e DROP VECTOR INDEX ghost", None, "vec_id", art
        )


def test_fts_per_column_config_shape(spark):
    """The reference's per-column '{"col": {"tokenizer": {...}}}' DDL config
    must reach the index build (not silently fall back to simple)."""
    from myscaledb_spark.plans.fts_index import IndexRegistry as _IR  # noqa: F401

    art = tempfile.mkdtemp(prefix="ddl_ftscol_")
    docs = load_table(spark, SF, "documents")
    cfg = '{"text": {"tokenizer": {"type": "stem", "stop_word_filters": ["english"]}}}'
    rec = alter_index_ddl(
        spark,
        f"ALTER TABLE d ADD INDEX ftc text TYPE fts('{cfg}')",
        docs,
        "doc_id",
        art,
    )
    assert rec["status"] == "Built"
    assert rec.get("tokenizer") in ("stem", None) or "stem" in str(rec)


def test_non_l2_graph_index_falls_back_to_flat(spark, emb):
    """A Cosine/IP declaration on the L2-only graph/compressed analogs must
    never silently rank by L2 — it registers an exact FLAT record carrying
    the declared metric (00030_mqvs_skip_check_order_direction uses
    HNSWFLAT('metric_type=IP') this way)."""
    from myscaledb_spark.plans.vector_index import IndexRegistry

    art = tempfile.mkdtemp(prefix="ddl_metric_")
    rec = alter_index_ddl(
        spark,
        "ALTER TABLE e ADD VECTOR INDEX vm embedding TYPE MSTG('metric_type=Cosine')",
        emb, "vec_id", art,
    )
    assert rec["status"] == "Built"
    assert rec["index_type"] == "FLAT" and rec["declared_type"] == "MSTG"
    assert rec["metric"] == "Cosine"
    assert IndexRegistry(art).get("vm")["metric"] == "Cosine"


def test_search_index_uses_declared_metric(spark, emb):
    from myscaledb_spark.operators.topk import vector_topk

    art = tempfile.mkdtemp(prefix="ddl_cos_")
    alter_index_ddl(
        spark,
        "ALTER TABLE e ADD VECTOR INDEX vcos embedding TYPE FLAT('metric_type=Cosine')",
        emb, "vec_id", art,
    )
    got = [
        r.vec_id
        for r in search_index(
            spark, art, "vcos", QV, 5, df=emb, vec_col="embedding", id_col="vec_id"
        ).collect()
    ]
    want = [
        r.vec_id
        for r in vector_topk(emb, "embedding", QV, 5, "Cosine", None, "vec_id").collect()
    ]
    assert got == want


def test_compound_drop_add_same_name(spark, emb, tmp_path):
    """`ALTER TABLE t DROP VECTOR INDEX v, ADD VECTOR INDEX v col TYPE FLAT`
    — the reference applies comma-separated actions in order
    (00037_mqvs_multiple_drop_vector_index); previously this raised
    'unrecognized index DDL'."""
    art = str(tmp_path / "compound")
    alter_index_ddl(
        spark, "ALTER TABLE e ADD VECTOR INDEX vc embedding TYPE IVFFLAT",
        emb, "vec_id", art,
    )
    rec = alter_index_ddl(
        spark,
        "ALTER TABLE e DROP VECTOR INDEX vc, ADD VECTOR INDEX vc embedding TYPE FLAT",
        emb, "vec_id", art,
    )
    assert rec["name"] == "vc" and rec["status"] == "Built"
    from myscaledb_spark.plans.vector_index import IndexRegistry

    assert IndexRegistry(art).get("vc")["index_type"].upper() == "FLAT"


#: every vector index type the DDL builds, with the record type it leaves
_DDL_TYPES = [
    ("FLAT", "FLAT"),
    ("IVFFLAT('ncentroids=4')", "IVFFLAT"),
    ("IVFPQ('pq_m=2', 'ks=4')", "PQFLAT"),
    ("IVFSQ", "SQ"),
    ("HNSWFLAT('m=4')", "HNSWFLAT"),
    ("MSTG('alpha=1')", "MSTG"),
]


@pytest.mark.parametrize(
    "ddl_type,record_type", _DDL_TYPES + [("IVFFLAT", "stand-in")],
    ids=[t for t, _ in _DDL_TYPES] + ["n<2 stand-in"],
)
def test_every_index_type_serves_search_index_and_hybrid(spark, tmp_path, ddl_type, record_type):
    """``search_index`` returns the caller's ``id_col`` for every type, and
    ``hybrid_search(artifact_dir=…)`` returns k rows next to an FTS index:
    the record's type picks the searcher, and a FLAT record (declared, or
    the stand-in a build over fewer than 2 rows leaves) takes the exact
    path."""
    from myscaledb_spark.operators.hybrid import hybrid_search
    from myscaledb_spark.plans.fts_index import build_fts_index

    rng = np.random.default_rng(3)
    words = ["vector", "search", "fast", "hash", "join", "table"]
    df = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.standard_normal(8)],
             " ".join(words[j % 6] for j in range(i, i + 3)))
            for i in range(40)
        ],
        "id long, vec array<double>, text string",
    )
    art = str(tmp_path / "art")
    table = df.limit(1) if record_type == "stand-in" else df
    rec = alter_index_ddl(
        spark, f"ALTER TABLE t ADD VECTOR INDEX v vec TYPE {ddl_type}", table, "id", art
    )
    assert rec["status"] == "Built"
    assert rec["index_type"] == ("FLAT" if record_type == "stand-in" else record_type)
    q = [0.1] * 8
    # only FLAT needs the table back; the others search their artifact
    table_args = {"df": df, "vec_col": "vec"} if rec["index_type"] == "FLAT" else {}
    out = search_index(spark, art, "v", q, 5, id_col="id", **table_args)
    assert "id" in out.columns and "vec_id" not in out.columns
    assert len(out.select("id").collect()) == 5
    build_fts_index(df, "text", "id", art, name="fts")
    fused = hybrid_search(
        df, "vec", "text", q, "vector fast", 5, "id", artifact_dir=art,
        index_name="v", fts_name="fts",
    ).collect()
    assert len(fused) == 5


def test_compound_alter_rejects_leading_non_index_action(spark, tmp_path):
    from myscaledb_spark.errors import InvalidSearchQuery
    from myscaledb_spark.plans.ddl import alter_index_ddl

    df = spark.range(10).select(
        F.col("id"), F.array(F.rand(1), F.rand(2)).alias("vec")
    )
    with pytest.raises(InvalidSearchQuery, match="compound ALTER"):
        alter_index_ddl(
            spark,
            "ALTER TABLE t MODIFY SETTING x = 1, "
            "ADD VECTOR INDEX vi vec TYPE FLAT",
            df,
            "id",
            str(tmp_path),
        )
