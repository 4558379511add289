"""Verbatim ClickHouse SQL forms of the search table-functions.

The reference accepts `textsearch`, `hybridsearch` and `batch_distance` as
plain SQL functions inside an ordinary SELECT (TreeRewriter.cpp:1605-1760
recognizes them, extracts top-k from LIMIT, and enforces the one-search-per-
query and ORDER-BY-direction rules; surfaces:
`src/VectorIndex/TableFunctions/TableFunctionFullTextSearch.h:25-56`,
tests/queries/2_vector_search/00040_mqvs_hybrid_search.sql,
00002_mqvs_batch_distance.sh). The SQL dialect shim previously refused these
shapes with a pointer at the API helpers; this module parses the reference's
canonical query shape and routes it to the existing operators, so a CH user
can paste their query unchanged:

    SELECT id, textsearch(doc, 'Ancient') AS bm25
    FROM t [WHERE p] ORDER BY bm25 DESC LIMIT 5

    SELECT id, hybridsearch('fusion_type=rsf')(vec, doc, [1.0,1,1], 'q') AS s
    FROM t [WHERE p] ORDER BY s DESC[, id] LIMIT 5

    SELECT id, batch_distance(vec, [[..],[..]]) AS dist
    FROM t [WHERE p] ORDER BY dist.1, dist.2 LIMIT 10 BY dist.1

Semantics notes:
  - textsearch WHERE prunes AFTER scoring: BM25 stats stay corpus-global,
    matching the reference's index-backed filtered search (00040 'text
    search with WHERE clause'). hybridsearch/batch_distance filter before
    candidate generation, which is observably identical for fusion (the
    candidate lists are filtered either way).
  - batch_distance's tuple column is a struct with fields ``q`` (0-based
    query index) and ``d`` (distance); ``dist.1`` / ``dist.2`` in ORDER BY /
    LIMIT BY are recognized and mapped (Spark cannot name struct fields
    ``1``/``2`` without quoting).

Everything executes as the operators' DataFrame plans — Catalyst sees the
same declarative shape as the API path; this module is parsing only.  Two
exceptions run on the driver.  An ORDER BY over an already-local result:
every hybridsearch shape (binary, per-part, partial fts coverage, default)
fuses into a local relation, whose rows are read back as Arrow and sort on
the driver with Spark's ordering (`session.spark_order`).  And a search over
a plain table with a driver snapshot (`resident.py`, below
`session.DRIVER_RESIDENT_BYTES`): the flat `distance()` shape, plain-term
textsearch and the default hybridsearch answer in numpy with the Spark
plan's rows and score bits, and no Spark job, whatever the output column
types; `ch_sql` logs them as `<driver-resident plan>`.  Both leave through
`session.local_relation`.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myscaledb_spark.errors import InvalidSearchQuery
from myscaledb_spark.resident import top
from myscaledb_spark.sql_dialect import (
    TABLE_ENGINES,
    ChSqlError,
    _find_call_end,
    _rewrite_calls,
    _split_args,
    _string_mask,
    _top_level_mask,
    _unquote,
)

_FN_RE = re.compile(r"\b(textsearch|hybridsearch|batch_distance)\s*\(", re.IGNORECASE)
_IDENT = r"[A-Za-z_]\w*"


def maybe_search_query(spark: SparkSession, sql: str) -> DataFrame | None:
    """Execute ``sql`` if it is a search-function query; None otherwise."""
    smask = _string_mask(sql)
    hits = list(_FN_RE.finditer(smask))
    if not hits:
        return _resident_distance(spark, sql)
    if len(hits) > 1:
        raise ChSqlError(
            "only one text/hybrid/batch search function is allowed per query "
            "(reference serverError 62, TreeRewriter.cpp:1605)"
        )
    if re.search(r"\bdistance\s*\(", smask, re.IGNORECASE):
        raise ChSqlError(
            "combining distance() with a text/hybrid search function in one "
            "query is rejected (reference serverError 62)"
        )
    kind = hits[0].group(1).lower()
    # wrapper shape: SELECT <cols> FROM ( <search query> ) [...] — the
    # reference projects over a search subquery (00025_mqvs_distance_with_
    # subquery 'batch distance', 00040 'with_subquery'); run the inner search
    # and let the outer query read it as a view
    tmask = _top_level_mask(sql)
    fm = None
    for cand in re.finditer(r"\bFROM\b", tmask, re.IGNORECASE):
        nxt = re.match(r"\s*\(", sql[cand.end() :])
        if nxt:  # the '(' itself is masked, so probe the original text
            fm = cand
            open_idx = cand.end() + nxt.end() - 1
            break
    if fm is not None:
        close = _find_call_end(sql, open_idx)
        if all(open_idx < h.start() < close for h in hits):
            from myscaledb_spark.sql_dialect import ch_sql

            inner = sql[open_idx + 1 : close - 1]
            inner_df = maybe_search_query(spark, inner)
            if inner_df is None:  # pragma: no cover — hits guarantee a shape
                raise ChSqlError("unrecognized search subquery shape")
            inner_df.createOrReplaceTempView("__search_inner__")
            am = re.match(r"\s*(?:AS\s+)?(\w+)", sql[close:], re.IGNORECASE)
            alias = ""
            rest = sql[close:]
            if am and am.group(1).upper() not in (
                "WHERE", "ORDER", "LIMIT", "GROUP", "HAVING", "UNION",
            ):
                alias = " " + am.group(0).strip()
                rest = sql[close + am.end() :]
            return ch_sql(
                spark,
                sql[: fm.start()] + " FROM __search_inner__" + alias + rest,
            )
    joined = _maybe_joined_search(spark, sql, tmask, hits[0], kind)
    if joined is not None:
        return joined
    try:
        return _run(spark, sql, kind)
    except (ChSqlError, InvalidSearchQuery):
        raise
    except Exception as e:  # parse slip → actionable error, never silence
        raise ChSqlError(
            f"unsupported {kind} query shape ({e}); the canonical form is "
            f"SELECT cols, {kind}(...) AS alias FROM t [WHERE p] "
            "ORDER BY alias ... LIMIT k — or use the API operator directly"
        ) from e


_NUMBER = re.compile(r"[+-]?(\d*)(?:\.(\d*))?([eE][+-]?\d+)?")
_DISTANCE_SHAPE = re.compile(
    r"\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>[A-Za-z_]\w*)\s+ORDER\s+BY\s+"
    r"(?P<key>[A-Za-z_]\w*)(?:\s+(?P<dir>ASC|DESC))?\s+LIMIT\s+(?P<k>\d+)\s*",
    re.IGNORECASE | re.DOTALL,
)


def _exact_vector(text: str) -> list[float] | None:
    """The query vector literal ``[x, ...]`` as the doubles Spark reads it
    (each element's literal, widened to the array's common type, then cast
    to double), or None when Python's parse could differ: a non-numeric
    element, or decimal literals whose common type needs more than 38
    digits (Spark would round them)."""
    t = text.strip()
    if not (t.startswith("[") and t.endswith("]")):
        return None
    elems = [e.strip() for e in _split_args(t[1:-1])] if t[1:-1].strip() else []
    digits = scale = 0
    double = False
    for e in elems:
        m = _NUMBER.fullmatch(e)
        if m is None or not (m.group(1) or m.group(2)):
            return None
        if m.group(3):
            double = True
        elif m.group(2) is not None:  # decimal(p, s)
            digits = max(digits, len(m.group(1).lstrip("0")))
            scale = max(scale, len(m.group(2)))
        else:  # INT, BIGINT or decimal(p, 0) literal, widened as a decimal
            n = len(m.group(1).lstrip("0"))
            digits = max(digits, 10 if n < 10 else 20 if n < 19 else n)
    if not double and digits + scale > 38:
        return None
    return [float(e) for e in elems]


def _resident_distance(spark, sql):
    """The dialect's vector-search shape, ``SELECT cols, distance(v, [..])
    AS d FROM t ORDER BY d [ASC|DESC] LIMIT k``, answered from ``t``'s
    driver snapshot: the kernel's distance in numpy (``vector.driver_
    distance``), the metric from the table (L2 → squared L2, Cosine, IP),
    rows without a distance last with a NULL ``d`` once LIMIT exceeds the
    rows that have one, ties in input order — the Spark plan's rows with no
    Spark job.  None (the dialect's Spark plan runs) for any other shape, a
    ch_ddl or engine table, a direction the metric rejects, a zero Cosine
    divisor (DIVIDE_BY_ZERO under ANSI, NULL otherwise: Spark decides) or a
    corpus without a snapshot."""
    from myscaledb_spark.functions.text import _snapshot
    from myscaledb_spark.plans.table_ddl import TABLES
    from myscaledb_spark.sql_dialect import TABLE_ENGINES, effective_vs_metric

    m = _DISTANCE_SHAPE.fullmatch(_top_level_mask(sql))
    if m is None or m.group("table") in TABLES or m.group("table") in TABLE_ENGINES:
        return None
    items = _split_args(sql[m.start("items"): m.end("items")])
    call = re.fullmatch(r"\s*distance\s*\((.*)\)\s+AS\s+(" + _IDENT + r")\s*",
                        items[-1], re.IGNORECASE | re.DOTALL)
    cols = [it.strip() for it in items[:-1]]
    if call is None or call.group(2) != m.group("key") or len(set(cols)) != len(cols) or any(
            not re.fullmatch(_IDENT, c) for c in cols):
        return None
    args = _split_args(call.group(1))
    qvec = _exact_vector(args[-1]) if len(args) == 2 else None
    if qvec is None or not re.fullmatch(_IDENT, args[0].strip()):
        return None
    metric = {"l2": "L2Squared", "cosine": "Cosine", "ip": "IP"}.get(
        effective_vs_metric(m.group("table")).lower())
    desc = (m.group("dir") or "").upper() == "DESC"
    if metric is None or desc != (metric == "IP"):
        return None
    df = spark.table(m.group("table"))
    if any(c not in df.columns for c in cols) or args[0].strip() not in df.columns:
        return None
    snap = _snapshot(df)
    got = None if snap is None else snap.distances(args[0].strip(), qvec, metric)
    if got is None or got[2].any():
        return None
    pos, d, _ = got
    k = int(m.group("k"))
    best = top(d, k, desc)
    rows = pos[best].tolist()
    scores = d[best].tolist()
    if len(rows) < k:  # NULL distances last, in input order
        rest = np.setdiff1d(np.arange(snap.n), pos)[: k - len(rows)].tolist()
        rows, scores = rows + rest, scores + [None] * len(rest)
    return _resident_answer(snap, rows, scores, cols, call.group(2), [])


def _maybe_joined_search(spark, sql, tmask, hit, kind):
    """Search over a two-table equi-join with the search columns on one
    side (00040 'on right joined table'): the reference pushes the search
    into the INDEXED table — top-k candidates first, then the join drops
    unmatched ones and duplicates multi-matched ones, and the outer ORDER
    BY/LIMIT re-rank the joined rows.  Returns None when the query is not
    this shape."""
    jm = re.search(
        r"\bFROM\s+(?P<lt>\w+)(?:\s+AS\s+(?P<la>\w+)|\s+(?!JOIN\b|INNER\b|LEFT\b|"
        r"RIGHT\b)(?P<la2>\w+))?\s+(?:INNER\s+)?JOIN\s+(?P<rt>\w+)"
        r"(?:\s+AS\s+(?P<ra>\w+)|\s+(?!ON\b)(?P<ra2>\w+))?\s+ON\b",
        tmask, re.IGNORECASE,
    )
    if jm is None:
        return None
    lt, rt = jm.group("lt"), jm.group("rt")
    la = jm.group("la") or jm.group("la2") or lt
    ra = jm.group("ra") or jm.group("ra2") or rt
    tail_m = re.search(
        r"\bWHERE\b|\bORDER\s+BY\b|\bLIMIT\b", tmask[jm.end():], re.IGNORECASE
    )
    on_txt = (sql[jm.end(): jm.end() + tail_m.start()] if tail_m
              else sql[jm.end():]).strip()
    om = re.fullmatch(r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)", on_txt)
    if om is None:
        raise ChSqlError(
            f"search over a join supports a single equi-ON condition, got "
            f"{on_txt!r}"
        )
    if re.search(r"\bWHERE\b", tmask[jm.end():], re.IGNORECASE):
        raise ChSqlError(
            "search over a join does not take a WHERE clause — filter in a "
            "temp view first"
        )
    # the full search-call text (parametric form has two paren groups:
    # name(params)(args) — the ARGS group is the last one)
    open1 = sql.index("(", hit.end() - 1)
    end = _find_call_end(sql, open1)
    open_args = open1
    probe = re.match(r"\s*\(", sql[end:])
    if probe:
        open_args = end + probe.end() - 1
        end = _find_call_end(sql, open_args)
    call_txt = sql[hit.start(): end]
    am = re.match(r"\s+as\s+(\w+)", sql[end:], re.IGNORECASE)
    alias = am.group(1) if am else "score"
    # which side owns the search columns? probe the first argument column
    arg0 = re.match(r"[\w.]+", sql[open_args + 1:].strip())
    col0 = (arg0.group(0).split(".")[-1]) if arg0 else ""
    qual = {la: lt, lt: lt, ra: rt, rt: rt}
    s_table = rt if col0 in spark.table(rt).columns else lt
    o_table = lt if s_table == rt else rt
    s_names = {k for k, v in qual.items() if v == s_table}
    keys = {om.group(1): om.group(2), om.group(3): om.group(4)}
    s_key = next((c for q, c in keys.items() if q in s_names), None)
    o_key = next((c for q, c in keys.items() if q not in s_names), None)
    if s_key is None or o_key is None:
        raise ChSqlError("join ON must relate the two joined tables")
    lim = re.search(r"\bLIMIT\s+(\d+)\s*$", tmask, re.IGNORECASE)
    if lim is None:
        raise ChSqlError(f"{kind} over a join needs a trailing LIMIT k")
    k = int(lim.group(1))
    # the inner FROM has no alias, so alias-qualified arguments like
    # textsearch(t2.doc, ...) must lose their qualifier; a qualifier that
    # names the OTHER table is a genuine error (the search args must all
    # live on the indexed side)
    call_mask = _string_mask(call_txt)
    out_txt, pos = [], 0
    for qm in re.finditer(r"\b(\w+)\.(\w+)\b", call_mask):
        q, c = call_txt[qm.start(1): qm.end(1)], call_txt[qm.start(2): qm.end(2)]
        if q[0].isdigit():  # a numeric literal like 0.5, not a qualifier
            continue
        if q not in s_names:
            raise ChSqlError(
                f"search argument {q}.{c} references the non-search side of "
                f"the join; all search columns must be on {s_table}"
            )
        out_txt.append(call_txt[pos: qm.start()])
        out_txt.append(c)
        pos = qm.end()
    out_txt.append(call_txt[pos:])
    call_txt = "".join(out_txt)
    # distance-like searches rank ascending; score-like rank descending
    inner_dir = "ASC" if kind == "batch_distance" else "DESC"
    inner_sql = (
        f"SELECT {s_key}, {call_txt} AS {alias} FROM {s_table} "
        f"ORDER BY {alias} {inner_dir} LIMIT {k}"
    )
    inner = _run(spark, inner_sql, kind).withColumnRenamed(s_key, "_skey")
    other = spark.table(o_table)
    out = other.join(inner, other[o_key] == inner["_skey"]).drop("_skey")
    # outer projection: qualified plain columns + the search alias
    smask = _string_mask(sql)
    sel_m = re.search(r"\bSELECT\b(.*?)\bFROM\b", tmask, re.IGNORECASE | re.DOTALL)
    cols = []
    s0 = sel_m.start(1)
    bounds, last = [], s0
    for i in range(s0, sel_m.end(1)):
        if tmask[i] == "," and smask[i] == ",":
            bounds.append((last, i))
            last = i + 1
    bounds.append((last, sel_m.end(1)))
    for a, b in bounds:
        item = sql[a:b].strip()
        if hit.start() >= a and hit.start() < b:
            cols.append(F.col(alias))
            continue
        cm = re.fullmatch(r"(?:(\w+)\.)?(\w+)", item)
        if cm is None:
            raise ChSqlError(f"unsupported select item over a join: {item!r}")
        cols.append(F.col(cm.group(2)))
    ord_m = re.search(r"\bORDER\s+BY\b(.*?)\bLIMIT\b", tmask,
                      re.IGNORECASE | re.DOTALL)
    order = []
    if ord_m:
        for piece in sql[ord_m.start(1): ord_m.end(1)].split(","):
            pm = re.fullmatch(
                r"\s*(?:(\w+)\.)?(\w+)\s*(ASC|DESC)?\s*", piece, re.IGNORECASE
            )
            if pm is None:
                raise ChSqlError(f"unsupported join ORDER BY item {piece!r}")
            c = F.col(pm.group(2))
            order.append(c.desc() if (pm.group(3) or "").upper() == "DESC"
                         else c.asc())
    return out.select(*cols).orderBy(*order).limit(k)


def _clause_spans(sql: str) -> dict:
    """Top-level clause positions; raises on clauses the shape excludes."""
    mask = _top_level_mask(sql)
    for bad in ("GROUP\\s+BY", "HAVING", "UNION", "\\bJOIN\\b", "WINDOW"):
        if re.search(bad, mask, re.IGNORECASE):
            raise ChSqlError(
                "search-function SQL supports the flat SELECT ... FROM t "
                "[WHERE] ORDER BY ... LIMIT shape only (wrap joins/grouping "
                "in a temp view first)"
            )
    sel = re.search(r"\bSELECT\b", mask, re.IGNORECASE)
    frm = re.search(r"\bFROM\s+(" + _IDENT + r")\b", mask, re.IGNORECASE)
    if sel is None or frm is None:
        raise ChSqlError("need SELECT ... FROM <table>")
    whr = re.search(r"\bWHERE\b", mask, re.IGNORECASE)
    ob = re.search(r"\bORDER\s+BY\b", mask, re.IGNORECASE)
    lim = re.search(r"\bLIMIT\s+(\d+)(\s+BY\b)?", mask, re.IGNORECASE)
    if lim is None:
        # top-k is extracted from LIMIT and mandatory (TreeRewriter.cpp:1670)
        raise InvalidSearchQuery("search requires a positive LIMIT (top-k)")
    spans = {
        "select": (sel.end(), frm.start()),
        "table": frm.group(1),
        "where": None,
        "order": None,
        "limit_n": int(lim.group(1)),
        "limit_by": None,
    }
    where_end = ob.start() if ob else lim.start()
    if whr:
        spans["where"] = (whr.end(), where_end)
    if ob:
        spans["order"] = (ob.end(), lim.start())
    if lim.group(2):  # LIMIT n BY cols
        spans["limit_by"] = (lim.end(), len(sql))
    elif sql[lim.end() :].strip():
        # anything after a bare LIMIT k (e.g. `LIMIT 3, 4`, OFFSET) would be
        # silently ignored — the supported search shape ends at LIMIT k
        raise ChSqlError(
            f"unsupported text after LIMIT in search query: "
            f"{sql[lim.end():].strip()!r}"
        )
    return spans


def _parse_select_items(sql: str, span: tuple, kind: str):
    """Split the select list into (plain column names, search item text)."""
    items = _split_args(sql[span[0] : span[1]])
    plain, search_item = [], None
    for it in items:
        if re.match(rf"\s*{kind}\s*\(", it, re.IGNORECASE):
            if search_item is not None:
                raise ChSqlError("duplicate search function in select list")
            search_item = it.strip()
        elif re.fullmatch(r"\s*" + _IDENT + r"\s*", it):
            plain.append(it.strip())
        else:
            raise ChSqlError(
                f"select item {it.strip()!r} is not a plain column; only "
                "bare columns plus the search function are supported here"
            )
    if search_item is None:
        raise ChSqlError(f"{kind} must appear in the SELECT list")
    return plain, search_item


def _parse_call(item: str, kind: str):
    """Return (params, args, alias) from
    ``kind[('p1', ...)](a1, ...) [AS alias]``."""
    m = re.match(rf"\s*{kind}\s*", item, re.IGNORECASE)
    open1 = item.index("(", m.end() - 1)
    end1 = _find_call_end(item, open1)
    first = _split_args(item[open1 + 1 : end1 - 1])
    rest = item[end1:].lstrip()
    if rest.startswith("("):
        end2 = _find_call_end(item, item.index("(", end1))
        params, args = first, _split_args(item[item.index("(", end1) + 1 : end2 - 1])
        rest = item[end2:].lstrip()
    else:
        params, args = [], first
    am = re.fullmatch(r"(?:AS\s+)?(" + _IDENT + r")\s*", rest, re.IGNORECASE) if rest else None
    if rest and am is None:
        raise ChSqlError(f"trailing text after search call: {rest!r}")
    alias = am.group(1) if am else {"textsearch": "bm25", "hybridsearch": "score", "batch_distance": "dist"}[kind]
    return params, args, alias


def _parse_vec_literal(text: str) -> list[float]:
    t = text.strip()
    if not (t.startswith("[") and t.endswith("]")):
        raise ChSqlError(f"expected an array literal, got {t!r}")
    return [float(x) for x in _split_args(t[1:-1])]


def _parse_nested_vec_literal(text: str) -> list[list[float]]:
    t = text.strip()
    if not (t.startswith("[") and t.endswith("]")):
        raise ChSqlError(f"expected a nested array literal, got {t!r}")
    return [_parse_vec_literal(p) for p in _split_args(t[1:-1])]


def _infer_id_col(table: str, cols: list[str]) -> str:
    """The reference ties search rows to the table's primary key; our
    stand-ins: registered engine keys, then conventional id names."""
    meta = TABLE_ENGINES.get(table)
    if meta and meta.get("keys") and meta["keys"][0] in cols:
        return meta["keys"][0]
    for c in ("id", "doc_id", "vec_id", "event_id"):
        if c in cols:
            return c
    return cols[0]


def _ident_arg(arg: str, what: str) -> str:
    if not re.fullmatch(_IDENT, arg.strip()):
        raise ChSqlError(f"{what} must be a bare column name, got {arg!r}")
    return arg.strip()


def _order_keys(alias: str, order_text: str | None) -> list:
    """[(column, descending)] of ORDER BY `alias DESC[, col [ASC|DESC]]*` —
    DESC on the score is mandatory (the reference errors when the direction
    contradicts the metric, 00027_mqvs_check_order_by_for_metric_type.sql)."""
    if order_text is None:
        raise InvalidSearchQuery(
            f"search requires ORDER BY {alias} DESC (direction is checked)"
        )
    parts = [p.strip() for p in _split_args(order_text)]
    m = re.fullmatch(rf"{re.escape(alias)}\s+DESC", parts[0], re.IGNORECASE)
    if m is None:
        raise InvalidSearchQuery(
            f"first ORDER BY key must be {alias} DESC (scores rank "
            "descending; ASC would invert the metric direction)"
        )
    keys = [(alias, True)]
    for p in parts[1:]:
        om = re.fullmatch(r"(" + _IDENT + r")(?:\s+(ASC|DESC))?", p, re.IGNORECASE)
        if om is None:
            raise ChSqlError(f"unsupported ORDER BY key {p!r}")
        keys.append((om.group(1), (om.group(2) or "").upper() == "DESC"))
    return keys


def _apply_order(df: DataFrame, alias: str, order_text: str | None, id_col: str):
    """ORDER BY `alias DESC[, col [ASC|DESC]]*` (``_order_keys``)."""
    keys = _order_keys(alias, order_text)
    local = _sorted_local(df, keys)
    if local is not None:
        return local
    return df.orderBy(*[F.col(c).desc() if d else F.col(c).asc() for c, d in keys])


def _sorted_local(df: DataFrame, keys: list) -> DataFrame | None:
    """``df`` sorted by ``keys`` [(column, descending)] on the driver and
    re-emitted as a local relation, when ``df`` is already one (the fused
    rows of a hybrid search; ``session.local_rows`` reads them with no job)
    — Spark would plan an adaptive range-partitioned sort of ≤k rows, three
    jobs.  Ordering is Spark's (``session.spark_order``); rows that tie on
    every key keep their order.  None when ``df`` is not local or a key is
    not one of its string/integral/double columns."""
    from pyspark.sql import types as T

    from myscaledb_spark.session import local_relation, local_rows, spark_order

    table = local_rows(df)
    if table is None:
        return None
    names = table.column_names
    sortable = (T.StringType, T.ByteType, T.ShortType, T.IntegerType,
                T.LongType, T.DoubleType)
    if len(set(names)) != len(names) or any(
        c not in names or not isinstance(df.schema[c].dataType, sortable)
        for c, _ in keys
    ):
        return None
    order = spark_order(table.num_rows, [(table.column(c).to_pylist(), d) for c, d in keys])
    return local_relation(df.sparkSession, df.schema, table.take(order))


def _resident_answer(snap, pos: list, scores: list, cols: list, alias: str,
                     keys: list) -> DataFrame | None:
    """A search answered from a driver snapshot: rows ``pos`` of ``cols``
    plus the score ``alias``, sorted by ``keys`` as ``_sorted_local`` sorts,
    as a local relation (``resident.emit``); None when a key is not an
    output column (the caller runs the Spark path)."""
    from myscaledb_spark.resident import emit
    from myscaledb_spark.session import spark_order

    if any(c not in cols + [alias] for c, _ in keys):
        return None
    order = spark_order(len(pos), [
        (scores if c == alias else snap.values(c, pos), desc) for c, desc in keys
    ])
    return emit(snap, [pos[i] for i in order], cols, alias, [scores[i] for i in order])


def _fts_text_frame(spark: SparkSession, table: str, df: DataFrame):
    """(text_corpus_df, is_empty): the rows the reference's text leg can
    serve.  textsearch/hybridsearch read the TANTIVY INDEX, never the raw
    column (MergeTreeIndexTantivy) — so on a ch_ddl table the text corpus
    is the fts-covered parts only: everything for an inline fts INDEX,
    nothing without a declaration, and parts written after ADD INDEX until
    MATERIALIZE INDEX backfills (00040_mqvs_hybrid_search_with_lwd).
    Non-ch_ddl tables (plain views) keep the engine's index-less direct
    BM25 — a documented capability beyond the reference."""
    try:
        from myscaledb_spark.plans.table_ddl import ISEQ, TABLES
    except ImportError:  # pragma: no cover
        return df, False
    if table not in TABLES:
        return df, False
    decl = TABLES[table].get("fts_decl")
    if decl is None:
        return df.limit(0), True
    from myscaledb_spark.plans.table_ddl import EXISTS

    part0 = int(decl.get("covered_from_part", 0))
    store = spark.table(f"{table}__store")
    if part0 > 0:
        store = store.filter(F.col(ISEQ) >= part0 * (1 << 50))
    elif EXISTS not in store.columns:
        return df, False
    # masked (lightweight-deleted) rows STAY in the corpus — the index
    # still contains them, so BM25 statistics are pre-delete; the caller
    # filters results on the mask (the reference's _row_exists read filter)
    return store.drop(ISEQ), False


def _text_arg(spark: SparkSession, raw: str, fnname: str) -> str:
    """The query-text argument: a string literal, or a scalar subquery
    `(SELECT ... LIMIT 1)` evaluated eagerly (ExecuteScalarSubqueriesVisitor
    — 00040_mqvs_hybrid_search_with_subquery)."""
    t = raw.strip()
    # peel redundant wrapping parens (a WITH-inlined subquery arrives as
    # ((select ...)))
    while re.match(r"^\(\s*\(", t) and _find_call_end(t, 0) == len(t):
        t = t[1:-1].strip()
    if t.startswith("(") and re.match(r"^\(\s*select\b", t, re.IGNORECASE | re.DOTALL):
        from myscaledb_spark.sql_dialect import ch_sql

        rows = ch_sql(spark, t[1:-1]).limit(2).collect()
        if not rows:
            raise ChSqlError(f"{fnname}: scalar subquery returned no rows")
        if len(rows) > 1 or len(rows[0]) != 1:
            raise ChSqlError(
                f"{fnname}: scalar subquery must return exactly one value"
            )
        return str(rows[0][0])
    return _unquote(raw, fnname)


def _sql_text_candidates(text_df, col, query, k, id_col, score_name, where):
    """Top-k of ``_text_scores_frame``; ``where`` prunes after scoring."""
    from myscaledb_spark.functions.text import _check_k

    _check_k(k)
    scored = _text_scores_frame(text_df, col, query, score_name)
    if where is not None:
        scored = scored.filter(where)
    return scored.orderBy(F.col(score_name).desc(), F.col(id_col).asc()).limit(k)


def _query_bytes(spark: SparkSession, expr: str) -> bytes:
    """The bytes of a FixedString query expression (``char(...)``,
    ``unbin``, ``unhex``, a string), evaluated by Spark.  A string result
    encodes as latin-1, one byte per codepoint 0..255 (utf-8 would expand
    >127 into two bytes and corrupt the bit vector)."""
    v = spark.sql(f"SELECT {_rewrite_calls(expr)}").first()[0]
    return bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode("latin-1")


def maybe_binary_distance(spark: SparkSession, sql: str) -> DataFrame | None:
    """Execute `SELECT ..., distance(bincol, <bytes-expr>) AS d FROM t
    [WHERE p] ORDER BY ... LIMIT k` when the vector column is a BINARY
    FixedString — the reference's binary-vector search (Hamming by default,
    Jaccard via binary_vector_search_metric_type;
    00038_mqvs_binary_vector_feature).  Returns None for float vectors (the
    dialect's arithmetic rewrite handles those)."""
    mask = _string_mask(sql)
    calls = [m for m in re.finditer(r"\bdistance\s*\(", mask, re.IGNORECASE)]
    if len(calls) != 1 or not re.match(r"^\s*SELECT\b", sql, re.IGNORECASE):
        return None
    fm = re.search(r"\bFROM\s+([A-Za-z_]\w*)", _top_level_mask(sql), re.IGNORECASE)
    if fm is None:
        return None
    table = fm.group(1)
    try:
        dtypes = dict(spark.table(table).dtypes)
    except Exception:
        return None
    m = calls[0]
    close = _find_call_end(sql, sql.index("(", m.start()))
    args = _split_args(sql[sql.index("(", m.start()) + 1: close - 1])
    if len(args) != 2:
        return None
    col = args[0].strip().split(".")[-1]
    if dtypes.get(col) not in ("binary", "string"):
        return None
    from myscaledb_spark.functions.vector import hamming_distance, jaccard_distance
    from myscaledb_spark.sql_dialect import effective_vs_metric

    qbytes = _query_bytes(spark, args[1])
    # metric resolution order = built index → table SETTINGS → Hamming
    # (the binary default; MergeTreeVSManager::getVSDescription)
    metric = effective_vs_metric(table).lower()
    if metric not in ("hamming", "jaccard"):
        metric = "hamming"
    spans = _clause_spans(sql)
    am = re.match(r"\s+as\s+(\w+)", sql[close:], re.IGNORECASE)
    alias = am.group(1) if am else "dist"
    df = spark.table(table)
    if spans["where"]:
        df = df.filter(F.expr(_rewrite_calls(sql[spans["where"][0]: spans["where"][1]])))
    dcol = (hamming_distance(col, qbytes) if metric == "hamming"
            else jaccard_distance(col, qbytes))
    # projection: plain identifiers + the distance item under its alias
    sel_txt = sql[spans["select"][0]: spans["select"][1]]
    cols = []
    for item in _split_args(sel_txt):
        it = item.strip()
        if re.match(r"distance\s*\(", it, re.IGNORECASE):
            cols.append(dcol.alias(alias))
        elif re.fullmatch(_IDENT, it):
            cols.append(F.col(it))
        else:
            raise ChSqlError(f"unsupported select item with binary distance: {it!r}")
    out = df.select(*cols)
    order = []
    if spans["order"]:
        for piece in sql[spans["order"][0]: spans["order"][1]].split(","):
            pm = re.fullmatch(r"\s*(\w+)\s*(ASC|DESC)?\s*", piece, re.IGNORECASE)
            if pm is None:
                raise ChSqlError(f"unsupported ORDER BY item {piece!r}")
            c = F.col(pm.group(1))
            order.append(c.desc() if (pm.group(2) or "").upper() == "DESC" else c.asc())
    return out.orderBy(*order).limit(spans["limit_n"])


def _binary_batch_distance(spark, df, sql, spans, table, vec_col, qarg,
                           alias, plain, id_col, k, order_text):
    """batch_distance over a BINARY FixedString vector column: each query
    element is an arbitrary bytes expression (char/unbin/unhex —
    00038_mqvs_binary_vector_feature); rank per query by the table's binary
    metric (Hamming default, Jaccard via binary_vector_search_metric_type)."""
    from functools import reduce

    from pyspark.sql import Window

    from myscaledb_spark.functions.vector import hamming_distance, jaccard_distance
    from myscaledb_spark.sql_dialect import effective_vs_metric

    t = qarg.strip()
    if not (t.startswith("[") and t.endswith("]")):
        raise ChSqlError(
            f"batch_distance needs a bracket list of query vectors, got {t!r}"
        )
    qbytes = [_query_bytes(spark, e) for e in _split_args(t[1:-1])]
    metric = effective_vs_metric(table).lower()
    dist_fn = jaccard_distance if metric == "jaccard" else hamming_distance
    base_cols = plain if plain else [id_col]
    frames = [
        df.select(
            *[F.col(c) for c in base_cols],
            F.lit(qi).alias("_bq"),
            dist_fn(vec_col, qb).cast("double").alias("_bd"),
        )
        for qi, qb in enumerate(qbytes)
    ]
    allq = reduce(lambda a, b: a.unionByName(b), frames)
    w = Window.partitionBy("_bq").orderBy(
        F.col("_bd").asc(), F.col(base_cols[0]).asc()
    )
    topk = allq.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    # honor the query's ORDER BY like the float path: it must start with
    # (alias.1 [ASC], alias.2 [ASC|DESC]) and may append plain tie-break
    # columns (00038 orders by `dist.1 ASC, dist.2 ASC, id ASC`); anything
    # else is refused rather than silently replaced
    d_desc = False
    extra_order = []
    if order_text is not None:
        om = re.match(
            rf"\s*{re.escape(alias)}\s*\.\s*1\s*(?:ASC)?\s*,\s*"
            rf"{re.escape(alias)}\s*\.\s*2\s*(ASC|DESC)?\s*",
            order_text,
            re.IGNORECASE,
        )
        if om is None:
            raise ChSqlError(
                f"binary batch_distance ORDER BY must be `{alias}.1, "
                f"{alias}.2 [ASC|DESC][, col ...]`, got {order_text!r}"
            )
        d_desc = (om.group(1) or "").upper() == "DESC"
        for piece in order_text[om.end():].split(","):
            piece = piece.strip()
            if not piece:
                continue
            pm = re.fullmatch(r"(\w+)\s*(ASC|DESC)?", piece, re.IGNORECASE)
            if pm is None or pm.group(1) not in base_cols:
                raise ChSqlError(
                    f"unsupported binary batch_distance ORDER BY key {piece!r}"
                )
            c = F.col(pm.group(1))
            extra_order.append(
                c.desc() if (pm.group(2) or "").upper() == "DESC" else c.asc()
            )
    if not extra_order:
        extra_order = [F.col(base_cols[0]).asc()]
    tup = F.struct(F.col("_bq").alias("q"), F.col("_bd").alias("d")).alias(alias)
    sel = [F.col(c) for c in base_cols] + [tup]
    return topk.select(*sel).orderBy(
        F.col(f"{alias}.q").asc(),
        F.col(f"{alias}.d").desc() if d_desc else F.col(f"{alias}.d").asc(),
        *extra_order,
    )


def _multi_part_table(table: str) -> bool:
    try:
        from myscaledb_spark.plans.table_ddl import TABLES
    except ImportError:  # pragma: no cover
        return False
    return table in TABLES and TABLES[table].get("n_parts", 0) > 1


def _text_scores_frame(df, col, query, score_name):
    """All matching rows scored with table-global BM25 stats (no top-k),
    for every text leg of the SQL search functions.  Tantivy's QueryParser
    turns a bare term that tokenizes to several tokens ("history's",
    "foo-bar") into a PHRASE query, and honors quoted phrases and +/-
    operators — so such queries score through nlq_scores (the phrase/must
    machinery); plain-word queries keep OR BM25 (bit-identical to the gate
    oracles)."""
    from myscaledb_spark.functions.text import bm25_scores, nlq_scores, parse_nlq

    clauses = parse_nlq(query, "simple")
    if any(c["phrase"] or c["must"] or c["must_not"] for c in clauses):
        return nlq_scores(df, col, query, "simple", score_name)
    return bm25_scores(df, col, query, "simple", "OR", score_name)


def _resident_text(df, col, query, k, id_col, cols, alias, order_text):
    """A plain-term SQL textsearch over a table with a driver snapshot:
    ``text_search``'s top-k by (score DESC, id ASC) from the postings, then
    the query's ORDER BY — the rows and score bits of the Spark path, with
    no Spark job.  None for a phrase, +must or -must_not query (the NLQ
    path), a non-string column or a corpus without a snapshot."""
    from myscaledb_spark.functions.text import _check_k, _snapshot, parse_nlq, tokenize_query

    if dict(df.dtypes).get(col) != "string":
        return None
    clauses = parse_nlq(query, "simple")
    if any(c["phrase"] or c["must"] or c["must_not"] for c in clauses):
        return None
    _check_k(k)
    keys = _order_keys(alias, order_text)
    snap = _snapshot(df)
    if snap is None:
        return None
    pos, scores = snap.bm25_top(col, tokenize_query(query), k, id_col)
    return _resident_answer(snap, pos, scores, cols, alias, keys)


def _exists_mask(df: DataFrame):
    """The lightweight-delete read filter, when the frame carries the
    store's _row_exists column (None otherwise)."""
    try:
        from myscaledb_spark.plans.table_ddl import EXISTS
    except ImportError:  # pragma: no cover
        return None
    return F.col(EXISTS) if EXISTS in df.columns else None


def _run(spark: SparkSession, sql: str, kind: str) -> DataFrame:
    from myscaledb_spark.sql_dialect import _strip_settings

    # the reference's own search tests end in `SETTINGS
    # enable_brute_force_vector_search=1` — strip trailing SETTINGS/FORMAT
    # exactly like the main rewrite path before shape parsing
    sql = _strip_settings(sql.strip().rstrip(";"))
    spans = _clause_spans(sql)
    table = spans["table"]
    plain, item = _parse_select_items(sql, spans["select"], kind)
    params, args, alias = _parse_call(item, kind)
    df = spark.table(table)
    id_col = _infer_id_col(table, df.columns)
    where_col = None
    if spans["where"]:
        pred = sql[spans["where"][0] : spans["where"][1]].strip()
        where_col = F.expr(_rewrite_calls(pred))
        if kind != "textsearch":
            df = df.filter(where_col)
    k = spans["limit_n"]
    order_text = sql[spans["order"][0] : spans["order"][1]].strip() if spans["order"] else None

    if kind == "textsearch":
        if params:
            raise ChSqlError("textsearch parameters are not supported in SQL")
        if len(args) != 2:
            raise ChSqlError("textsearch(text_column, 'query') needs 2 args")
        text_df, no_index = _fts_text_frame(spark, table, df)
        if re.fullmatch(_IDENT, args[0].strip()):
            col = args[0].strip()
        else:
            # expression argument (e.g. textsearch(mapKeys(doc_map), ...),
            # 00040 'text search with map column') — derive a text column
            col = "_ts_text"
            text_df = text_df.withColumn(col, F.expr(_rewrite_calls(args[0])))
        query = _text_arg(spark, args[1], "textsearch")
        dtypes = dict(text_df.dtypes)
        if dtypes.get(col, "").startswith("array<"):
            # Array(String) text columns: the reference's Tantivy index
            # treats the array as one multi-value text field
            # (00040 'text search with array column') — concatenate
            text_df = text_df.withColumn(col, F.array_join(F.col(col), " "))
        # the predicate prunes AFTER scoring: BM25 stats stay corpus-global,
        # like the reference's index-backed filtered search (00040 'text
        # search with WHERE clause' keeps the unfiltered score); the
        # lightweight-delete mask prunes the same way (index stats keep
        # deleted rows, results drop them)
        sel = plain + [alias] if plain else [id_col, alias]
        if where_col is None and text_df is df:
            local = _resident_text(df, col, query, k, id_col, sel[:-1], alias, order_text)
            if local is not None:
                return local
        mask = _exists_mask(text_df)
        if mask is not None:
            where_col = mask if where_col is None else (where_col & mask)
        out = _sql_text_candidates(
            text_df, col, query, k, id_col, alias, where_col
        )
        if no_index:
            # no fts index on this ch_ddl table: the reference's textsearch
            # serves from the index and returns nothing
            out = out.limit(0)
        return _apply_order(out.select(*sel), alias, order_text, id_col)

    if kind == "hybridsearch":
        from myscaledb_spark.operators.hybrid import (
            DEFAULT_FUSION_K,
            DEFAULT_FUSION_WEIGHT,
            fuse_candidates,
            hybrid_search,
        )

        opts = {}
        for p in params:
            kv = _unquote(p, "hybridsearch")
            pm = re.fullmatch(r"(\w+)\s*=\s*(.+)", kv)
            if pm is None:
                raise ChSqlError(f"bad hybridsearch parameter {kv!r}")
            opts[pm.group(1)] = pm.group(2).strip()
        known = {"fusion_type", "fusion_weight", "fusion_k", "dense_nprobe"}
        bad = set(opts) - known
        if bad:
            # the reference rejects unknown params too (BAD_ARGUMENTS on
            # dense_alpha, 00040_mqvs_hybrid_search.sql)
            raise ChSqlError(f"unknown hybridsearch parameter(s): {sorted(bad)}")
        if "fusion_type" not in opts:
            raise ChSqlError("hybridsearch needs a 'fusion_type=rsf|rrf' parameter")
        if len(args) != 4:
            raise ChSqlError(
                "hybridsearch(vec_col, text_col, [qvec], 'qtext') needs 4 args"
            )
        vec_col = _ident_arg(args[0], "hybridsearch vector column")
        text_col = _ident_arg(args[1], "hybridsearch text column")
        qtext = _text_arg(spark, args[3], "hybridsearch")
        fusion = dict(
            fusion_type=opts["fusion_type"],
            fusion_weight=float(opts.get("fusion_weight", DEFAULT_FUSION_WEIGHT)),
            fusion_k=int(opts.get("fusion_k", DEFAULT_FUSION_K)),
            score_name=alias,
        )
        metric, part_col = "L2", None
        if not args[2].strip().startswith("["):
            # binary-vector hybrid (00040 'on binary vector'): the query
            # vector is a FixedString expression (char(1,1,1)); the dense
            # leg ranks by Hamming distance, fused exactly like L2 but
            # without the squared-metric mapping (Hamming IS the score)
            from myscaledb_spark.functions.text import text_search
            from myscaledb_spark.functions.vector import hamming_distance

            qbytes = _query_bytes(spark, args[2])
            metric = "Hamming"
            vec_cand = (
                df.select(id_col, hamming_distance(vec_col, qbytes).alias("_vdist"))
                .filter(F.col("_vdist").isNotNull())
                .orderBy(F.col("_vdist").asc(), F.col(id_col).asc())
                .limit(k)
            )
            txt_cand = (
                text_search(df, text_col, qtext, k, id_col=id_col, score_name="_bm25")
                .select(id_col, "_bm25")
            )
        else:
            qvec = _parse_vec_literal(args[2])
            # dense_nprobe tunes the reference's index probe; the SQL shim
            # runs the exact path, so it is accepted and ignored
            # (parseVSParameters.cpp accepts the same strings on the exact
            # fallback)
            text_df, no_index = _fts_text_frame(spark, table, df)
            if _multi_part_table(table) and not no_index:
                # >1 data part: the reference fuses EACH part's candidate list
                # independently (per-part top-k, per-part RSF normalization)
                # and merges by fused score — MergeTreeHybridSearchManager;
                # 00041_mqvs_text_search_multiple_parts pins the numbers
                from pyspark.sql import Window

                from myscaledb_spark.functions.vector import distance, distance_defined
                from myscaledb_spark.plans.table_ddl import EXISTS, ISEQ, TABLES

                part_col = "_part"
                store_df = spark.table(f"{table}__store").withColumn(
                    part_col, F.floor(F.col(ISEQ) / F.lit(1 << 50)).cast("int")
                )
                alive = (F.col(EXISTS) if EXISTS in store_df.columns
                         else F.lit(True))
                keep = alive if where_col is None else (alive & where_col)
                # structural null-guard BEFORE the projection: a filter on the
                # projected distance is pushed below the Project and evaluates
                # the O(d) aggregate twice per row (see vector.distance_defined)
                dense = (
                    store_df.filter(keep)
                    .filter(distance_defined(vec_col, qvec, "L2"))
                    .select(id_col, part_col,
                            distance(vec_col, qvec, "L2").alias("_vdist"))
                )
                wv = Window.partitionBy(part_col).orderBy(
                    F.col("_vdist").asc(), F.col(id_col).asc())
                vec_cand = (
                    dense.withColumn("_rn", F.row_number().over(wv))
                    .filter(F.col("_rn") <= k).select(id_col, "_vdist", part_col)
                )
                decl = TABLES[table].get("fts_decl") or {}
                part0 = int(decl.get("covered_from_part", 0))
                tbase = (store_df if part0 <= 0
                         else store_df.filter(F.col(ISEQ) >= part0 * (1 << 50)))
                scored = _text_scores_frame(tbase, text_col, qtext, "_bm25")
                scored = scored.filter(keep)
                wt = Window.partitionBy(part_col).orderBy(
                    F.col("_bm25").desc(), F.col(id_col).asc())
                txt_cand = (
                    scored.withColumn("_rn", F.row_number().over(wt))
                    .filter(F.col("_rn") <= k).select(id_col, "_bm25", part_col)
                )
            elif no_index or text_df is not df:
                # fts coverage differs from the dense corpus (missing index or
                # un-backfilled parts): build the legs separately — the dense
                # leg scans everything, the text leg ONLY the indexed parts
                # (empty text leg → pure dense fusion, as the reference's
                # 'w/o tantivy index' blocks print)
                from myscaledb_spark.operators.topk import vector_topk

                vec_cand = vector_topk(
                    df, vec_col, qvec, k, "L2", id_col=id_col, dist_name="_vdist"
                ).select(id_col, "_vdist")
                if no_index:
                    txt_cand = (
                        df.select(id_col).limit(0).withColumn("_bm25", F.lit(0.0))
                    )
                else:
                    mask = _exists_mask(text_df)
                    tw = where_col
                    if mask is not None:
                        tw = mask if tw is None else (tw & mask)
                    txt_cand = _sql_text_candidates(
                        text_df, text_col, qtext, k, id_col, "_bm25", tw
                    ).select(id_col, "_bm25")
            else:
                vec_cand = None  # the default shape: hybrid_search
        if vec_cand is None:
            out = hybrid_search(
                df, vec_col, text_col, qvec, qtext, k, id_col, **fusion
            )
        else:
            out = fuse_candidates(
                vec_cand, txt_cand, k, id_col, metric=metric,
                part_col=part_col, **fusion,
            )
        extra = [c for c in plain if c != id_col]
        if extra:
            out = out.join(df.select(id_col, *extra), id_col)
        sel = (plain if plain else [id_col]) + [alias]
        keys = _order_keys(alias, order_text)
        if not extra and keys == [(alias, True), (id_col, False)][:len(keys)]:
            # the fusion's own order (score DESC, id ASC; ties keep it)
            return out.select(*sel)
        return _apply_order(out.select(*sel), alias, order_text, id_col)

    # ---- batch_distance ----
    from myscaledb_spark.operators.topk import batch_vector_topk

    metric = "L2"
    for p in params:
        kv = _unquote(p, "batch_distance")
        pm = re.fullmatch(r"metric_type\s*=\s*(\w+)", kv, re.IGNORECASE)
        if pm is None:
            raise ChSqlError(f"unknown batch_distance parameter {kv!r}")
        metric = {"l2": "L2", "ip": "IP", "cosine": "Cosine"}.get(
            pm.group(1).lower()
        )
        if metric is None:
            raise ChSqlError(f"unknown metric_type {pm.group(1)!r}")
    if len(args) != 2:
        raise ChSqlError("batch_distance(vec_col, [[q1...], [q2...]]) needs 2 args")
    vec_col = _ident_arg(args[0], "batch_distance vector column")
    if dict(df.dtypes).get(vec_col) in ("binary", "string"):
        return _binary_batch_distance(
            spark, df, sql, spans, table, vec_col, args[1], alias, plain,
            id_col, k, order_text,
        )
    qv_text = args[1].strip()
    while re.match(r"^\(\s*\(", qv_text, re.DOTALL) and _find_call_end(qv_text, 0) == len(qv_text):
        qv_text = qv_text[1:-1].strip()
    if re.match(r"^\(\s*SELECT\b", qv_text, re.IGNORECASE | re.DOTALL):
        # scalar subquery query-set (00025 'batch distance'): the reference
        # evaluates it up front — a 1×1 scalar, driver-side by design
        from myscaledb_spark.sql_dialect import ch_sql

        rows = ch_sql(spark, qv_text[1:-1]).collect()
        if len(rows) != 1 or len(rows[0]) != 1:
            raise ChSqlError(
                "batch_distance scalar subquery must yield one nested array"
            )
        qvecs = [[float(x) for x in v] for v in rows[0][0]]
    else:
        qvecs = _parse_nested_vec_literal(args[1])
    if spans["limit_by"] is None:
        raise InvalidSearchQuery(
            f"batch_distance needs `LIMIT n BY {alias}.1` (per-query top-n, "
            "TreeRewriter.cpp:1674)"
        )
    by_text = sql[spans["limit_by"][0] : spans["limit_by"][1]].strip()
    if not re.fullmatch(rf"{re.escape(alias)}\s*\.\s*1", by_text):
        raise ChSqlError(f"LIMIT BY key must be {alias}.1, got {by_text!r}")
    if order_text is not None:
        om = re.fullmatch(
            rf"{re.escape(alias)}\s*\.\s*1\s*(?:ASC)?\s*,\s*"
            rf"{re.escape(alias)}\s*\.\s*2\s*(ASC|DESC)?",
            order_text,
            re.IGNORECASE,
        )
        if om is None:
            raise ChSqlError(
                f"batch_distance ORDER BY must be `{alias}.1, {alias}.2 "
                f"[DESC]`, got {order_text!r}"
            )
    out = batch_vector_topk(
        df, vec_col, qvecs, k,
        # SQL batch_distance carries the reference's faiss METRIC_L2
        # semantics — SQUARED L2 (00002_mqvs_batch_distance.reference);
        # the API operator keeps the explicit metric names
        metric=("L2Squared" if metric == "L2" else metric),
        id_col=id_col,
        dist_name="_bd", query_id_name="_bq",
    )
    tup = F.struct(F.col("_bq").alias("q"), F.col("_bd").alias("d")).alias(alias)
    sel = [F.col(c) for c in (plain if plain else [id_col])] + [tup]
    asc = metric != "IP"
    return out.select(*sel).orderBy(
        F.col(f"{alias}.q").asc(),
        F.col(f"{alias}.d").asc() if asc else F.col(f"{alias}.d").desc(),
        *([F.col(plain[0]).asc()] if plain else []),
    )
