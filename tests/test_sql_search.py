"""sql_search: verbatim SQL forms of textsearch/hybridsearch/batch_distance —
shape routing plus the reference's error rules (one search per query,
mandatory LIMIT, ORDER BY direction, unknown params)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.sql_dialect import ChSqlError, ch_sql


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    docs = spark.createDataFrame(
        [
            (0, "ancient empires rise and fall", [0.0, 0.0, 0.0]),
            (1, "artistic expressions reflect cultures", [1.0, 1.0, 1.0]),
            (2, "ancient philosophies provide wisdom", [2.0, 2.0, 2.0]),
            (3, "strategic military campaigns", [3.0, 3.0, 3.0]),
        ],
        "id long, doc string, vector array<double>",
    )
    docs.createOrReplaceTempView("t_search")
    yield


def test_textsearch_sql_end_to_end(spark):
    out = ch_sql(
        spark,
        "SELECT id, textsearch(doc, 'ancient') AS bm25 FROM t_search "
        "ORDER BY bm25 DESC LIMIT 3",
    )
    rows = out.collect()
    assert out.columns == ["id", "bm25"]
    assert {r["id"] for r in rows} == {0, 2}  # only matching docs
    assert rows[0]["bm25"] >= rows[-1]["bm25"]


def test_textsearch_sql_where_prefilters(spark):
    rows = ch_sql(
        spark,
        "SELECT id, textsearch(doc, 'ancient') AS bm25 FROM t_search "
        "WHERE id < 2 ORDER BY bm25 DESC LIMIT 5",
    ).collect()
    assert [r["id"] for r in rows] == [0]


def test_hybridsearch_sql_matches_operator(spark):
    from myscaledb_spark.operators.hybrid import hybrid_search

    out = ch_sql(
        spark,
        "SELECT id, hybridsearch('fusion_type=rsf')"
        "(vector, doc, [1.0, 1.0, 1.0], 'ancient') AS score "
        "FROM t_search ORDER BY score DESC, id LIMIT 3",
    ).collect()
    want = hybrid_search(
        spark.table("t_search"), "vector", "doc", [1.0, 1.0, 1.0], "ancient",
        3, "id", fusion_type="rsf",
    ).collect()
    assert [(r["id"], r["score"]) for r in out] == [
        (r["id"], r["fusion_score"]) for r in want
    ]


def test_batch_distance_sql_shape(spark):
    out = ch_sql(
        spark,
        "SELECT id, batch_distance(vector, [[0.0, 0.0, 0.0], [3.0, 3.0, 3.0]]) "
        "AS dist FROM t_search ORDER BY dist.1, dist.2 LIMIT 2 BY dist.1",
    )
    rows = out.collect()
    assert out.columns == ["id", "dist"]
    got = [(r["dist"]["q"], r["id"]) for r in rows]
    assert got == [(0, 0), (0, 1), (1, 3), (1, 2)]  # per-query top-2, L2


def test_search_sql_error_rules(spark):
    # one search function per query (reference serverError 62)
    with pytest.raises(ChSqlError, match="one"):
        ch_sql(
            spark,
            "SELECT id, textsearch(doc, 'a') AS b, "
            "hybridsearch('fusion_type=rsf')(vector, doc, [1.0], 'a') AS s "
            "FROM t_search ORDER BY b DESC LIMIT 3",
        )
    with pytest.raises(ChSqlError, match="62"):
        ch_sql(
            spark,
            "SELECT id, textsearch(doc, 'a') AS b, distance(vector, [1.0,1,1]) AS d "
            "FROM t_search ORDER BY b DESC LIMIT 3",
        )
    # LIMIT is mandatory (top-k extracted from LIMIT)
    with pytest.raises(InvalidSearchQuery, match="LIMIT"):
        ch_sql(
            spark,
            "SELECT id, textsearch(doc, 'a') AS b FROM t_search ORDER BY b DESC",
        )
    # score direction must be DESC
    with pytest.raises(InvalidSearchQuery, match="DESC"):
        ch_sql(
            spark,
            "SELECT id, textsearch(doc, 'a') AS b FROM t_search "
            "ORDER BY b ASC LIMIT 3",
        )
    # unknown hybridsearch parameter (reference BAD_ARGUMENTS on dense_alpha)
    with pytest.raises(ChSqlError, match="dense_alpha"):
        ch_sql(
            spark,
            "SELECT id, hybridsearch('dense_alpha=3', 'fusion_type=rsf')"
            "(vector, doc, [1.0, 1.0, 1.0], 'a') AS s "
            "FROM t_search ORDER BY s DESC LIMIT 3",
        )
    # batch_distance needs LIMIT n BY dist.1
    with pytest.raises(InvalidSearchQuery, match="BY"):
        ch_sql(
            spark,
            "SELECT id, batch_distance(vector, [[1.0, 1.0, 1.0]]) AS dist "
            "FROM t_search ORDER BY dist.1, dist.2 LIMIT 3",
        )


def test_search_sql_trailing_settings_stripped(spark):
    # the reference's own tests end in SETTINGS enable_brute_force...=1
    rows = ch_sql(
        spark,
        "SELECT id, textsearch(doc, 'ancient') AS bm25 FROM t_search "
        "ORDER BY bm25 DESC LIMIT 3 SETTINGS enable_brute_force_vector_search=1",
    ).collect()
    assert {r["id"] for r in rows} == {0, 2}


def test_search_sql_rejects_trailing_text_after_limit(spark):
    with pytest.raises(ChSqlError, match="after LIMIT"):
        ch_sql(
            spark,
            "SELECT id, textsearch(doc, 'a') AS b FROM t_search "
            "ORDER BY b DESC LIMIT 3, 4",
        )
    with pytest.raises(ChSqlError, match="after LIMIT"):
        ch_sql(
            spark,
            "SELECT id, textsearch(doc, 'a') AS b FROM t_search "
            "ORDER BY b DESC LIMIT 3 OFFSET 2",
        )


def _jobs(spark, group: str, fn):
    """(result of fn, Spark jobs it ran): its job group plus any job started
    meanwhile without a group (a thread that did not inherit it)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    before = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    ids = set(st.getJobIdsForGroup(group)) | (set(st.getJobIdsForGroup(None)) - before)
    return out, len(ids)


_WORDS = ("ancient", "artistic", "strategic", "wisdom", "empires", "cultures",
          "campaigns", "philosophies", "military", "rise")


def _pin_view(spark, name, path):
    """A 40-doc parquet-backed view (a frame built from a Python list is an
    RDD scan of unknown size, which never gets a resident corpus)."""
    rows = [
        (i, " ".join(_WORDS[(i * j) % len(_WORDS)] for j in range(1, 4 + i % 5)),
         [float(i % 7), float(i % 3), float(i % 5)])
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "id long, doc string, vector array<double>"
    ).coalesce(1).write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(name)


def _textsearch_sql(view, words):
    return (f"SELECT id, textsearch(doc, '{words}') AS s FROM {view} "
            "ORDER BY s DESC LIMIT 5")


def _hybridsearch_sql(view, words):
    return (f"SELECT id, hybridsearch('fusion_type=rsf')(vector, doc, "
            f"[1.0, 2.0, 0.5], '{words}') AS s FROM {view} "
            "ORDER BY s DESC, id LIMIT 5")


def _distance_sql(view, qvec="[1.0, 2.0, 0.5]", k=5):
    return f"SELECT id, distance(vector, {qvec}) AS d FROM {view} ORDER BY d LIMIT {k}"


def test_sql_searches_run_no_job_after_the_first(spark, tmp_path):
    """The first search on a table builds its driver snapshot in at most one
    Spark job; then SQL distance, textsearch and hybridsearch with fresh
    queries each run none: numpy over the snapshot, rows emitted as a
    VALUES relation.  (Before the snapshot they ran 1 job each, and before
    the resident corpus 4, then 3 and 8.)"""
    _pin_view(spark, "t_pin_jobs", str(tmp_path / "t_pin_jobs"))
    first, n_first = _jobs(
        spark, "pin-first",
        lambda: ch_sql(spark, _textsearch_sql("t_pin_jobs", "ancient")).collect(),
    )
    assert first and n_first <= 1
    steady = [
        _jobs(spark, f"pin-{i}", lambda: ch_sql(spark, sql).collect())
        for i, sql in enumerate([
            _distance_sql("t_pin_jobs"),
            _textsearch_sql("t_pin_jobs", "wisdom rise"),
            _hybridsearch_sql("t_pin_jobs", "military cultures"),
        ])
    ]
    assert all(rows for rows, _ in steady)
    assert [n for _, n in steady] == [0, 0, 0]


def _key_groups(rows, idx):
    """Rows split into runs that tie on every key; -0.0 and 0.0 tie, NaN
    ties with NaN.  Each run is its key plus its rows as a sorted list."""
    def norm(v):
        return repr(v + 0.0) if isinstance(v, float) else repr(v)

    out = []
    for r in rows:
        key = tuple(norm(r[i]) for i in idx)
        if out and out[-1][0] == key:
            out[-1][1].append(repr(tuple(r)))
        else:
            out.append((key, [repr(tuple(r))]))
    return [(k, sorted(v)) for k, v in out]


def test_driver_order_by_equals_spark_sort(spark):
    """_apply_order over a local relation sorts on the driver with Spark's
    ordering (ASC NULLS FIRST, DESC NULLS LAST, NaN largest, -0.0 == 0.0)
    and runs no job; the rows equal Spark's Sort of the same VALUES rows."""
    from pyspark.sql import types as T

    from myscaledb_spark.session import values_relation
    from myscaledb_spark.sql_search import _apply_order

    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("s", T.DoubleType()),
        T.StructField("name", T.StringType()),
    ])
    nan = float("nan")
    rows = [(3, 1.0, "a"), (None, 1.0, "b"), (1, nan, "c"), (2, -0.0, "d"),
            (5, 0.0, "e"), (4, None, "f"), (7, 1.0, "g"), (6, nan, "h"),
            (None, None, "i"), (8, 2.5, "é"), (9, -3.0, "a"), (10, 1.0, None),
            (None, nan, "k"), (-1, 0.0, "d")]
    local = values_relation(spark, schema, rows)
    for order, keys in [
        ("s DESC", [("s", True)]),
        ("s DESC, id", [("s", True), ("id", False)]),
        ("s DESC, id ASC", [("s", True), ("id", False)]),
        ("s DESC, id DESC", [("s", True), ("id", True)]),
        ("s DESC, name DESC, id", [("s", True), ("name", True), ("id", False)]),
    ]:
        got, n = _jobs(
            spark, "pin-order", lambda: _apply_order(local, "s", order, "id").collect()
        )
        assert n == 0
        want = spark.createDataFrame(rows, schema).repartition(3).orderBy(
            *[F.col(c).desc() if d else F.col(c).asc() for c, d in keys]
        ).collect()
        idx = [schema.names.index(c) for c, _ in keys]
        assert _key_groups(got, idx) == _key_groups(want, idx)


def test_resident_corpus_follows_rewritten_input(spark, tmp_path, monkeypatch):
    """Overwriting a view's parquet through Spark and re-registering the view
    must not serve the old corpus's snapshot: distance, textsearch and
    hybridsearch equal a run that streams the corpus with no resident
    entry."""
    from myscaledb_spark import session

    path = str(tmp_path / "t_fresh")
    schema = "id long, doc string, vec array<double>"
    docs = [(1, "apple pie", [1.0, 0.0]), (2, "banana split", [0.0, 1.0]),
            (3, "cherry tart", [1.0, 1.0]), (4, "date loaf", [0.5, 0.5])]
    text_q = "SELECT id, textsearch(doc, 'apple') AS s FROM t_fresh ORDER BY s DESC LIMIT 3"
    hybrid_q = ("SELECT id, hybridsearch('fusion_type=rsf')(vec, doc, [1.0, 0.0], "
                "'apple') AS s FROM t_fresh ORDER BY s DESC, id LIMIT 3")
    distance_q = "SELECT id, distance(vec, [0.95, 0.1]) AS d FROM t_fresh ORDER BY d LIMIT 3"

    def run():
        return [[tuple(r) for r in ch_sql(spark, q).collect()]
                for q in (text_q, hybrid_q, distance_q)]

    spark.createDataFrame(docs, schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t_fresh")
    run()
    docs.append((5, "apple crumble with apple", [0.9, 0.1]))
    spark.createDataFrame(docs, schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t_fresh")
    after = run()
    monkeypatch.setattr(session, "DRIVER_RESIDENT_BYTES", 0)  # no resident corpus
    assert after == run()
    assert after[0][0][0] == 5 and after[2][0][0] == 5


def test_query_log_names_the_driver_resident_plan(spark, tmp_path):
    """system.query_log shows which path answered a search: a snapshot's
    answer under its own plan tag, a filtered search under the Spark
    operators' tag."""
    from myscaledb_spark.introspection import system_query_log

    _pin_view(spark, "t_pin_log", str(tmp_path / "t_pin_log"))
    queries = [_distance_sql("t_pin_log"), _textsearch_sql("t_pin_log", "wisdom"),
               _hybridsearch_sql("t_pin_log", "rise"),
               "SELECT id, textsearch(doc, 'wisdom') AS s FROM t_pin_log "
               "WHERE id > 3 ORDER BY s DESC LIMIT 5"]
    for q in queries:
        ch_sql(spark, q).collect()
    log = {r["query"]: r["translated"] for r in system_query_log(spark).collect()
           if r["kind"] == "search"}
    assert [log[q] for q in queries] == ["<driver-resident plan>"] * 3 + [
        "<search-operator plan>"]


def test_per_part_hybridsearch_evaluates_text_subquery_once(spark, monkeypatch):
    """A hybridsearch over a 2-part ch_ddl table with a scalar-subquery text
    argument evaluates the subquery once."""
    from myscaledb_spark import sql_search
    from myscaledb_spark.plans.table_ddl import ch_script

    calls = []
    text_arg = sql_search._text_arg
    monkeypatch.setattr(
        sql_search, "_text_arg",
        lambda *a: calls.append(a[1]) or text_arg(*a),
    )
    spark.createDataFrame([("ancient",)], "kw string").createOrReplaceTempView("t_pp_kw")
    ch_script(
        spark,
        """
        DROP TABLE IF EXISTS t_pp;
        CREATE TABLE t_pp(id UInt64, vector Array(Float32), doc String,
            INDEX inv_idx(doc) TYPE fts GRANULARITY 1) ENGINE = MergeTree ORDER BY id;
        INSERT INTO t_pp VALUES (0, [0,0,0], 'ancient empires rise'), (1, [1,1,1], 'artistic cultures');
        INSERT INTO t_pp VALUES (2, [2,2,2], 'ancient wisdom'), (3, [3,3,3], 'military campaigns');
        """,
    )
    try:
        rows = ch_sql(
            spark,
            "SELECT id, hybridsearch('fusion_type=rsf')(vector, doc, [1.0, 1, 1], "
            "(SELECT kw FROM t_pp_kw LIMIT 1)) AS s FROM t_pp "
            "ORDER BY s DESC, id LIMIT 3",
        ).collect()
    finally:
        ch_script(spark, "DROP TABLE t_pp")
    assert rows and len(calls) == 1


def test_joined_search_alias_qualified_args(spark):
    docs = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "ducks swim fast"),
         (3, "spark spark spark")],
        "id int, body string",
    )
    docs.createOrReplaceTempView("adv_docs")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id int, tag string"
    ).createOrReplaceTempView("adv_tags")
    out = ch_sql(
        spark,
        "SELECT t.tag, textsearch(d.body, 'spark') AS bm25 "
        "FROM adv_tags t JOIN adv_docs d ON t.doc_id = d.id "
        "ORDER BY bm25 DESC LIMIT 2",
    ).collect()
    assert [r.tag for r in out] == ["gamma", "alpha"]


def test_joined_search_rejects_other_side_qualifier(spark):
    spark.createDataFrame(
        [(1, "x")], "id int, body string"
    ).createOrReplaceTempView("adv_docs2")
    spark.createDataFrame(
        [(1, "alpha")], "doc_id int, tag string"
    ).createOrReplaceTempView("adv_tags2")
    # `body` lives on d (the search side) but is qualified with t — an
    # unresolvable qualifier that previously leaked into the inner SQL
    with pytest.raises(ChSqlError, match="non-search side"):
        ch_sql(
            spark,
            "SELECT t.tag, textsearch(t.body, 'x') AS bm25 "
            "FROM adv_tags2 t JOIN adv_docs2 d ON t.doc_id = d.id "
            "ORDER BY bm25 DESC LIMIT 1",
        )


def test_binary_batch_distance_order_by_honored(spark):
    from myscaledb_spark.plans.table_ddl import ch_script

    ch_script(spark, """
        DROP TABLE IF EXISTS adv_bin;
        CREATE TABLE adv_bin (id UInt32, v FixedString(2))
          ENGINE = MergeTree ORDER BY id;
        INSERT INTO adv_bin VALUES (1, unhex('0000')), (2, unhex('00FF')),
          (3, unhex('FFFF'))
    """)
    out = ch_sql(
        spark,
        "SELECT id, batch_distance(v, [unhex('0000')]) AS dist FROM adv_bin "
        "ORDER BY dist.1, dist.2 DESC LIMIT 3 BY dist.1",
    ).collect()
    # descending Hamming distance from 0x0000: 3 (16 bits), 2 (8), 1 (0)
    assert [r.id for r in out] == [3, 2, 1]
    with pytest.raises(ChSqlError, match="ORDER BY"):
        ch_sql(
            spark,
            "SELECT id, batch_distance(v, [unhex('0000')]) AS dist "
            "FROM adv_bin ORDER BY id LIMIT 3 BY dist.1",
        )
    from myscaledb_spark.plans.table_ddl import ch_script

    ch_script(spark, "DROP TABLE adv_bin")


def test_binary_distance_char_query_ranks_by_hamming(spark):
    """distance(FixedString column, <bytes expr>) through ch_sql ranks by
    Hamming over the query's raw bytes, whether the expression evaluates to
    binary (char(0, 255) is 0x00 0xFF) or to a string ('ab' is 0x61 0x62)."""
    from myscaledb_spark.plans.table_ddl import ch_script

    ch_script(spark, """
        DROP TABLE IF EXISTS adv_bin_d;
        CREATE TABLE adv_bin_d (id UInt32, v FixedString(2))
          ENGINE = MergeTree ORDER BY id;
        INSERT INTO adv_bin_d VALUES (1, unhex('0000')), (2, unhex('00FF')),
          (3, unhex('FFFF')), (4, unhex('01FF'))
    """)
    try:
        out = ch_sql(
            spark,
            "SELECT id, distance(v, char(0, 255)) AS d FROM adv_bin_d "
            "WHERE id > 1 ORDER BY d, id LIMIT 3",
        ).collect()
        assert [(r.id, r.d) for r in out] == [(2, 0), (4, 1), (3, 8)]
        out = ch_sql(
            spark,
            "SELECT id, distance(v, 'ab') AS d FROM adv_bin_d "
            "WHERE id > 1 ORDER BY d, id LIMIT 3",
        ).collect()
        assert [(r.id, r.d) for r in out] == [(4, 7), (2, 8), (3, 10)]
    finally:
        ch_script(spark, "DROP TABLE adv_bin_d")


_HS_DOCS = [
    (0, "ancient empires rise and fall", [0.5, 0.0, 1.0]),
    (1, "artistic expressions reflect cultures", [1.0, 1.5, 1.0]),
    (2, "ancient philosophies provide wisdom", [2.0, 0.5, 2.5]),
    (3, "strategic military campaigns", [3.0, 3.0, 0.0]),
    (4, "wisdom of ancient ancient cultures", [0.0, 2.0, 1.0]),
    (5, "modern economies fluctuate", [1.5, 1.0, 1.0]),
    (6, "empires and cultures in history", [2.5, 2.0, 0.5]),
    (7, "quiet rivers flow", [0.25, 0.75, 1.25]),
]

#: SQL hybridsearch shapes over ch_ddl MergeTree tables: (vector type, fts
#: INDEX declared, inserts as id ranges, query vector).  One part with an
#: fts INDEX reads the text leg from the store frame; two parts fuse per
#: part; a FixedString vector ranks by Hamming; no fts INDEX leaves the text
#: leg empty.
_HS_SHAPES = {
    "fts_index": ("Array(Float32)", True, [range(8)], "[1.0, 1, 1]"),
    "two_parts": ("Array(Float32)", True, [range(4), range(4, 8)], "[1.0, 1, 1]"),
    "binary": ("FixedString(2)", True, [range(8)], "char(5, 9)"),
    "no_fts_index": ("Array(Float32)", False, [range(8)], "[1.0, 1, 1]"),
}


def _hs_script(table, shape):
    vtype, fts, parts, _ = _HS_SHAPES[shape]
    index = ", INDEX inv_idx(doc) TYPE fts GRANULARITY 1" if fts else ""
    script = (f"DROP TABLE IF EXISTS {table}; CREATE TABLE {table}(id UInt64, "
              f"vector {vtype}, doc String{index}) ENGINE = MergeTree ORDER BY id;")
    for ids in parts:
        rows = []
        for i in ids:
            _, doc, vec = _HS_DOCS[i]
            v = (f"char({i * 37 % 256}, {i * 11 % 256})" if vtype.startswith("Fixed")
                 else "[" + ", ".join(map(str, vec)) + "]")
            rows.append(f"({i}, {v}, '{doc}')")
        script += f" INSERT INTO {table} VALUES {', '.join(rows)};"
    return script


def _hs_sql(table, shape, kind):
    return (f"SELECT id, hybridsearch('fusion_type={kind}')(vector, doc, "
            f"{_HS_SHAPES[shape][3]}, 'ancient cultures') AS s FROM {table} "
            "ORDER BY s DESC, id LIMIT 5")


#: Per shape: the Spark jobs of the first query and of a repeated one, and
#: per fusion type, the ids and score bits.  The first text leg over a
#: table's store builds its driver snapshot (BM25 stats) in one more job.
#: The rows equal those of the earlier Spark-window fusion, which ran
#: fts_index 5/3, two_parts 7/7, binary 6/4 and no_fts_index 2/1 jobs
#: (rsf/rrf) per query; before the stores had a size estimate, fts_index
#: ran 2, two_parts 5 and binary 3 jobs per query.
_HS_PINS = {
    "fts_index": ((2, 1), {
        "rsf": [(1, "3fe127d3da925ab1"), (4, "3fe0000000000000"), (5, "3fe0000000000000"),
                (7, "3fd8000000000000"), (0, "3fcb6db6db6db6dc")],
        "rrf": [(1, "3fa0a6c92bff7560"), (4, "3fa04536afbeeb26"), (0, "3fa0000000000000"),
                (5, "3f90842108421084"), (2, "3f90410410410410")],
    }),
    "two_parts": ((2, 1), {
        "rsf": [(1, "3ff0000000000000"), (2, "3fea0ea0ea0ea0ea"), (4, "3fe7627627627627"),
                (5, "3fe0000000000000"), (0, "3fdc57c57c57c57c")],
        "rrf": [(1, "3fa0c9714fbcda3b"), (4, "3fa0853aaffeef26"), (0, "3fa062928c418a4a"),
                (2, "3fa062928c418a4a"), (6, "3fa0421084210842")],
    }),
    "binary": ((3, 2), {
        "rsf": [(1, "3fe127d3da925ab1"), (4, "3fe0000000000000"), (0, "3fd0000000000000"),
                (7, "3fd0000000000000"), (2, "3fa27d3da925ab09")],
        "rrf": [(1, "3fa0a6c92bff7560"), (4, "3fa04536afbeeb26"), (0, "3fa0421084210842"),
                (2, "3f90410410410410"), (7, "3f90410410410410")],
    }),
    "no_fts_index": ((1, 1), {
        "rsf": [(1, "3fe0000000000000"), (5, "3fe0000000000000"), (7, "3fd8000000000000"),
                (0, "3fcb6db6db6db6dc"), (4, "0000000000000000")],
        "rrf": [(1, "3f90c9714fbcda3b"), (5, "3f90842108421084"), (7, "3f90410410410410"),
                (0, "3f90000000000000"), (4, "3f8f81f81f81f820")],
    }),
}


@pytest.mark.parametrize("shape", list(_HS_SHAPES))
def test_sql_hybridsearch_shapes_pin_rows_and_jobs(spark, shape):
    """Each SQL hybridsearch shape returns the pinned ids and score bits for
    rsf and rrf, and its first (rsf) and repeated (rrf) queries run the
    pinned numbers of Spark jobs."""
    import struct

    from myscaledb_spark.plans.table_ddl import ch_script

    table = f"t_hs_{shape}"
    jobs, pins = _HS_PINS[shape]
    ch_script(spark, _hs_script(table, shape))
    try:
        for (kind, want), n_jobs in zip(pins.items(), jobs):
            sql = _hs_sql(table, shape, kind)
            rows, n = _jobs(spark, f"pin-{shape}-{kind}", lambda: ch_sql(spark, sql).collect())
            assert [(r[0], struct.pack(">d", r[1]).hex()) for r in rows] == want, kind
            assert n == n_jobs, kind
    finally:
        ch_script(spark, f"DROP TABLE {table}")
