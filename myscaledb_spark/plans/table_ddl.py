"""CREATE TABLE ... ENGINE = <MergeTree family> and INSERT INTO — the
reference's table DDL surface (`src/Parsers/ParserCreateQuery.cpp`,
`src/Storages/MergeTree/registerStorageMergeTree.cpp`) so a user can stand a
table up and populate it with their statements verbatim:

    CREATE TABLE t (k Int64, price Float64, ver Int64)
        ENGINE = ReplacingMergeTree(ver) ORDER BY k [SAMPLE BY k]
    INSERT INTO t VALUES (1, 1.5, 1), (2, 7.0, 1)
    INSERT INTO t SELECT o_orderkey, o_totalprice, 1 FROM orders
    SELECT * FROM t FINAL          -- via ch_sql; collapse uses the DDL

Engine metadata lands in sql_dialect.TABLE_ENGINES (what the reference reads
from the DDL at query time), so FROM t FINAL / SAMPLE f work immediately.

Spark mapping:
  - the table is a session temp view; rows live in a backing view
    ``<t>__store`` carrying a hidden monotonically increasing insertion
    sequence ``_ch_iseq`` — the stand-in for the reference's within-part row
    order that Collapsing/Summing merges depend on. The logical view ``t``
    excludes it, so ``SELECT *`` matches the declared schema.
  - INSERT appends by unioning DataFrames (each insert is one "part");
    every append localCheckpoints the store when the union lineage grows
    past a threshold, which is exactly the reference's part-merge moment.
  - PARTITION BY / SETTINGS / index clauses parse and are recorded but do
    not change the plan (Spark handles physical layout; indexes go through
    plans/ddl.py).

At scale the same surface would write a real catalog table (saveAsTable /
insertInto); the temp-view store keeps the gate hermetic.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myscaledb_spark.sql_dialect import (
    ChSqlError,
    TABLE_ENGINES,
    _split_args,
    _top_level_mask,
    register_table_engine,
)

ISEQ = "_ch_iseq"
#: lightweight-delete mask — the reference's `_row_exists` column
#: (MutationsInterpreter.cpp): DELETE flips it to false, reads filter on it,
#: and OPTIMIZE physically drops masked rows.  Keeping masked rows in the
#: store lets index-backed searches score with PRE-delete corpus statistics
#: (the tantivy/vector index is unchanged by an LWD) while results exclude
#: the deleted rows — 00040_mqvs_hybrid_search_with_lwd pins this.
EXISTS = "_ch_exists"
_CHECKPOINT_EVERY = 16  # parts before the store lineage is squashed


def _empty_store(spark: SparkSession, fields: str) -> DataFrame:
    """A new table's store: no rows, the DDL ``fields`` plus the insertion
    sequence and the lightweight-delete mask, as an empty
    ``session.local_relation`` — its size estimate is 0, where an empty
    RDD's is unknown, so a small table stays within the small-input
    gates."""
    from myscaledb_spark.session import local_relation

    ddl = f"{fields}, {ISEQ} bigint, {EXISTS} boolean"
    return local_relation(spark, T.StructType.fromDDL(ddl))


def _refresh_view(spark: SparkSession, table: str) -> None:
    """(Re)build the logical table view over its store: hidden columns
    excluded, masked rows filtered."""
    store = f"{table}__store"
    cols = spark.table(store).columns
    hid = [c for c in (ISEQ, EXISTS) if c in cols]
    q = f"SELECT * EXCEPT ({', '.join(hid)}) FROM {store}"
    if EXISTS in cols:
        q += f" WHERE {EXISTS}"
    spark.sql(q).createOrReplaceTempView(table)
    # replica views capture the primary's plan SNAPSHOT — re-point them so
    # a replica reads the primary's writes (ReplicatedMergeTree replication;
    # 00017_replicated queries the r2 table after r1 inserts)
    for rep, meta in TABLES.items():
        if meta.get("replica_of") == table:
            spark.table(table).createOrReplaceTempView(rep)

#: deferred vector-index builds per registry dir (the reference's async
#: build pool) — module-level so the timeline spans statement-at-a-time
#: ch_script invocations sharing one artifact_dir; see ch_script
PENDING_BUILDS: dict[str, list[tuple[str, str, str, str]]] = {}

#: CREATE CONNECTION records (object-storage credentials for getObject —
#: InterpreterCreateConnectionQuery.cpp); served via system.connections
CONNECTIONS: dict[str, dict] = {}

#: ZooKeeper path → primary table of a Replicated* group (later CREATEs on
#: the same path become replica views over the primary's store)
REPLICA_GROUPS: dict[str, str] = {}

#: ClickHouse type → Spark SQL type (ParserDataType; the unsigned widths
#: widen one step since Spark has no unsigned integers)
_SIMPLE_TYPES = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "uint8": "int", "uint16": "int", "uint32": "bigint", "uint64": "bigint",
    "float32": "float", "float64": "double", "string": "string",
    # legacy LowCardinality(String) spelling (00688_low_cardinality_prewhere)
    "stringwithdictionary": "string",
    "date": "date", "date32": "date", "datetime": "timestamp",
    "datetime64": "timestamp", "bool": "boolean", "boolean": "boolean",
    "uuid": "string",
    # ClickHouse type aliases (ParserDataType registers the SQL-standard
    # names as case-insensitive synonyms)
    "int": "int", "integer": "int", "bigint": "bigint", "smallint": "smallint",
    "tinyint": "tinyint", "float": "float", "double": "double",
    "varchar": "string", "text": "string",
}


#: aggregate functions allowed inside AggregateFunction(...) /
#: SimpleAggregateFunction(...) column types, lowercase → canonical
_CANON_AGG = {
    "count": "count", "sum": "sum", "min": "min", "max": "max",
    "any": "any", "anylast": "anyLast", "avg": "avg",
    "sumcount": "sumCount", "argmin": "argMin", "argmax": "argMax",
    "uniq": "uniq", "uniqexact": "uniqExact", "grouparray": "groupArray",
    "quantileexact": "quantileExact", "groupbitand": "groupBitAnd",
    "groupbitor": "groupBitOr", "groupbitxor": "groupBitXor",
    "grouparrayarray": "groupArrayArray",
    "groupuniqarrayarray": "groupUniqArrayArray",
}
_SIMPLE_AGG = {
    "sum", "min", "max", "any", "anyLast", "groupBitAnd", "groupBitOr",
    "groupBitXor", "groupArrayArray", "groupUniqArrayArray",
}


def _sum_state_type(spark_t: str) -> str:
    """The widened sum type (AggregateFunctionSum sums Int* in Int64,
    floats in Float64, Decimal(p,s) in Decimal128(s))."""
    if spark_t in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    if spark_t in ("float", "double"):
        return "double"
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", spark_t)
    if m:
        return f"decimal(38,{m.group(2)})"
    raise ChSqlError(f"sum state over non-numeric type {spark_t!r}")


def parse_agg_type(t: str) -> tuple[str, str] | None:
    """(canonical function, Spark state type) when ``t`` is an
    AggregateFunction(f, T...) / SimpleAggregateFunction(f, T) column type,
    else None.  State representations: see operators/agg_state.py
    (plain struct/array columns standing in for the reference's opaque
    serialized blobs, DataTypeAggregateFunction.h)."""
    low = t.strip().lower()
    m = re.fullmatch(r"(simpleaggregatefunction|aggregatefunction)\s*\((.*)\)",
                     low, re.DOTALL)
    if not m:
        return None
    simple = m.group(1) == "simpleaggregatefunction"
    parts = [p.strip() for p in _split_args(m.group(2)) if p.strip()]
    if not parts:
        raise ChSqlError(f"empty {t!r}")
    fn_raw, types = parts[0], parts[1:]
    if not re.fullmatch(r"\w+", fn_raw) or fn_raw not in _CANON_AGG:
        raise ChSqlError(
            f"unsupported aggregate function {fn_raw!r} in {t!r} — supported: "
            f"{sorted(set(_CANON_AGG.values()))}"
        )
    fn = _CANON_AGG[fn_raw]
    if simple:
        # state == value (DataTypeCustomSimpleAggregateFunction.cpp checks
        # the function merges values of the column type itself)
        if fn not in _SIMPLE_AGG:
            raise ChSqlError(
                f"SimpleAggregateFunction does not support {fn!r} "
                "(its state must equal the value type)"
            )
        if len(types) != 1:
            raise ChSqlError(f"SimpleAggregateFunction({fn}, T) needs one type")
        return fn, ch_type_to_spark(types[0])
    if fn == "count":
        return fn, "bigint"
    if fn == "uniq":
        return fn, "array<int>"
    if fn in ("argMin", "argMax"):
        if len(types) != 2:
            raise ChSqlError(f"AggregateFunction({fn}, A, B) needs two types")
        a, b = ch_type_to_spark(types[0]), ch_type_to_spark(types[1])
        return fn, f"struct<arg:{a},val:{b}>"
    if len(types) != 1:
        raise ChSqlError(f"AggregateFunction({fn}, T) needs one value type")
    vt = ch_type_to_spark(types[0])
    if fn == "sum":
        return fn, _sum_state_type(vt)
    if fn in ("avg", "sumCount"):
        return fn, f"struct<sum:{_sum_state_type(vt)},count:bigint>"
    if fn in ("min", "max", "any", "anyLast"):
        return fn, vt
    if fn in ("uniqExact", "groupArray", "quantileExact"):
        return fn, f"array<{vt}>"
    raise ChSqlError(f"unsupported aggregate state type {t!r}")


def enum_mapping(decl: str) -> list[tuple[str, int]]:
    """Parse an Enum8/Enum16 declaration into (name, value) pairs —
    [] when the declaration is not an enum."""
    m = re.fullmatch(
        r"\s*Enum(?:8|16)?\s*\((.*)\)\s*", decl or "", re.IGNORECASE | re.DOTALL
    )
    if not m:
        return []
    out = []
    for part in _split_args(m.group(1)):
        pm = re.match(r"\s*'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)\s*$", part)
        if pm:
            raw = pm.group(1)
            if "\\" in raw or "''" in raw:
                from myscaledb_spark.sql_dialect import _ch_unescape_bytes

                raw = _ch_unescape_bytes(raw).decode("utf-8", "surrogateescape")
            out.append((raw, int(pm.group(2))))
    return out


def ch_type_to_spark(t: str) -> str:
    t = t.strip()
    low = t.lower()
    if low in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[low]
    agg = parse_agg_type(t)
    if agg is not None:
        return agg[1]
    m = re.fullmatch(
        r"(nullable|lowcardinality|nullablewithdictionary)\s*\((.*)\)",
        low, re.DOTALL,
    )
    if m:
        return ch_type_to_spark(m.group(2))  # everything is nullable in Spark
    m = re.fullmatch(r"(\w+?)withdictionary(?:\s*\((.*)\))?", low, re.DOTALL)
    if m:
        # legacy <T>WithDictionary ≡ LowCardinality(T) (00688)
        inner = m.group(1) + (f"({m.group(2)})" if m.group(2) else "")
        return ch_type_to_spark(inner)
    m = re.fullmatch(r"array\s*\((.*)\)", low, re.DOTALL)
    if m:
        return f"array<{ch_type_to_spark(m.group(1))}>"
    m = re.fullmatch(r"map\s*\((.*)\)", low, re.DOTALL)
    if m:
        kv = _split_args(m.group(1))
        if len(kv) == 2:
            return f"map<{ch_type_to_spark(kv[0])},{ch_type_to_spark(kv[1])}>"
    m = re.fullmatch(r"(?:decimal|dec)\s*\((\d+)\s*,\s*(\d+)\)", low)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        if not (1 <= p <= 38) or s > p:
            raise ChSqlError(
                f"Decimal precision {p} out of range 1..38 or scale {s} > "
                "precision (ARGUMENT_OUT_OF_BOUND)"
            )
        return f"decimal({p},{s})"
    m = re.fullmatch(r"decimal(32|64|128|256)\s*\((\d+)\)", low)
    if m:
        # Decimal32/64/128 fix the precision (DataTypeDecimalBase); 256
        # clamps to Spark's 38-digit ceiling
        p = {"32": 9, "64": 18, "128": 38, "256": 38}[m.group(1)]
        s = int(m.group(2))
        if s > p:
            raise ChSqlError(f"Decimal scale {s} > precision {p}")
        return f"decimal({p},{s})"
    m = re.fullmatch(r"tuple\s*\((.*)\)", low, re.DOTALL)
    if m:
        # Tuple(T1, T2, ...) → struct<col1:.., col2:..> (the col1..colN
        # field convention every tuple literal/access rewrite uses);
        # named-field tuples Tuple(a T1, b T2) keep their names
        fields = []
        for k, part in enumerate(_split_args(m.group(1))):
            nm = re.match(r"^\s*([A-Za-z_]\w*)\s+(.+)$", part.strip(), re.DOTALL)
            if nm and nm.group(1).lower() not in _SIMPLE_TYPES:
                fields.append(f"{nm.group(1)}:{ch_type_to_spark(nm.group(2))}")
            else:
                fields.append(f"col{k + 1}:{ch_type_to_spark(part)}")
        return "struct<" + ",".join(fields) + ">"
    m = re.fullmatch(r"fixedstring\s*\(\d+\)", low)
    if m:
        # BINARY, not string: FixedString carries raw bytes in the reference
        # (binary bit-vectors, char(200..255) cells) — a string column would
        # round-trip them through UTF-8 and corrupt any byte > 0x7F
        # (00038_mqvs_binary_vector_feature)
        return "binary"
    if re.fullmatch(r"datetime\s*\(\s*'[^']*'\s*\)", low):
        return "timestamp"  # DateTime('UTC') — display-zone param (00753)
    m = re.fullmatch(r"datetime64\s*\(.*\)", low)
    if m:
        return "timestamp"
    # Enum8('a' = 1, 'b' = 2) — values are read back as their names
    # (DataTypeEnum renders the name on SELECT), so the faithful Spark type
    # is string; the numeric codes are a storage detail
    m = re.fullmatch(r"enum(?:8|16)?\s*\(.*\)", low, re.DOTALL)
    if m:
        return "string"
    raise ChSqlError(f"unsupported ClickHouse type {t!r}")


#: CREATE [TEMPORARY] TABLE t [ENGINE = E] AS SELECT ... (CTAS —
#: InterpreterCreateQuery as_select; 00235_create_temporary_table_as)
_CTAS_RE = re.compile(
    # optional flat column list, engine args, ORDER BY/SETTINGS clauses —
    # the AS is disambiguated by the SELECT/WITH lookahead (00488's
    # `CREATE TABLE p (...) ENGINE=MergeTree ORDER BY k settings ... AS
    # SELECT`)
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    # cols allows ONE paren nesting level so declarations with
    # parenthesized types (Decimal(10,2), Nullable(...), Enum8(...)) are
    # captured instead of silently falling into <mid> (r8 ADVICE)
    r"(?:default\.)?(?P<table>\w+)\s*"
    r"(?:\((?P<cols>(?:[^()]|\([^()]*\))*)\)\s*)?"
    r"(?:ENGINE\s*=?\s*(?P<engine>\w+)\s*(?:\((?P<eargs>[^()]*)\))?\s*)?"
    r"(?P<mid>[^;]*?)AS\s+(?P<select>(?:SELECT|WITH)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)


def create_table_as_select(spark: SparkSession, sql: str) -> dict:
    """CTAS: evaluate the SELECT through the dialect, register the result
    as a ch_ddl table (schema from the analyzed frame, rows as part 1)."""
    m = _CTAS_RE.match(sql)
    if not m:
        raise ChSqlError("not a CREATE TABLE ... AS SELECT statement")
    if re.search(r"\bsystem\.\w+", sql, re.IGNORECASE):
        # CTAS FROM system.numbers (00401) — same binding the SELECT path does
        sql = _bind_system_tables(spark, sql, None)
        m = _CTAS_RE.match(sql)
    from myscaledb_spark.sql_dialect import ch_sql

    table = m.group("table")
    df = ch_sql(spark, m.group("select"))
    if m.group("cols") and m.group("cols").strip():
        # declared schema wins: rename the SELECT's columns positionally and
        # cast to the declared types (InterpreterCreateQuery as-select with
        # explicit columns — 00488)
        from myscaledb_spark.sql_dialect import _split_args

        decls = []
        for piece in _split_args(m.group("cols")):
            dm = re.match(r"\s*`?([\w.]+)`?\s+(.+?)\s*$", piece)
            if dm:
                decls.append((dm.group(1), ch_type_to_spark(dm.group(2))))
        if len(decls) == len(df.columns):
            df = df.toDF(*[c for c, _ in decls]).selectExpr(
                *[f"CAST(`{c}` AS {t}) AS `{c}`" for c, t in decls]
            )
    schema = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    # backquote: CTAS from literals yields names like `1` (00235)
    fields = ", ".join(f"`{c}` {t}" for c, t in schema)
    _empty_store(spark, fields).createOrReplaceTempView(f"{table}__store")
    eng0 = (m.group("engine") or "").lower()
    if eng0 == "replacingmergetree" and m.group("eargs"):
        # legacy CTAS engine args (date, key..., granularity[, version]) —
        # 00616: `ReplacingMergeTree(date, x, 4096, ver) AS SELECT`
        eargs0 = [a.strip() for a in m.group("eargs").split(",") if a.strip()]
        gran = next(
            (i for i, a in enumerate(eargs0) if re.fullmatch(r"\d+", a)),
            len(eargs0),
        )
        keys0 = eargs0[1:gran]
        ver0 = eargs0[gran + 1] if gran + 1 < len(eargs0) else ISEQ
        register_table_engine(
            table, "replacing", keys0 or [df.columns[0]], version=ver0,
            order=ISEQ, store=f"{table}__store",
        )
    else:
        register_table_engine(table, "none", [])
    TABLES[table] = {"schema": schema, "n_parts": 0, "parts": []}
    _SEQ[table] = 0
    SKIP_INDICES[table] = []
    _refresh_view(spark, table)
    df.createOrReplaceTempView(f"_ctas_src_{table}")
    insert_into(
        spark, f"INSERT INTO {table} SELECT * FROM _ctas_src_{table}"
    )
    return {"table": table, "engine": m.group("engine") or "Memory",
            "keys": [], "schema": schema}


_CREATE_RE = re.compile(
    # TEMPORARY tables live session-scoped like everything in this registry,
    # so the keyword is accepted and otherwise ignored (ParserCreateQuery)
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:default\.)?(?P<table>\w+)\s*\(",
    re.IGNORECASE,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s*(?:\((?P<cols>[\w\s,.`]*)\))?\s*"
    r"(?:SETTINGS\s+[\w\s=,.'\-]*?)?\s*"
    r"(?P<rest>VALUES|SELECT|WITH|FORMAT)\b",
    re.IGNORECASE | re.DOTALL,
)


def _format_lit(v, t: str) -> str:
    """One parsed payload cell → a SQL literal CAST to the column type."""
    if v is None:
        return f"CAST(NULL AS {t})"
    if isinstance(v, bool):
        return f"CAST({'true' if v else 'false'} AS {t})"
    if isinstance(v, (int, float)):
        return f"CAST({v!r} AS {t})"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"CAST('{esc}' AS {t})"
    if isinstance(v, list):
        if not t.startswith("array<"):
            raise ChSqlError(f"array payload for non-array column type {t}")
        elem_t = t[len("array<"):-1]
        inner = ", ".join(_format_lit(x, elem_t) for x in v)
        return f"CAST(array({inner}) AS {t})"
    raise ChSqlError(
        f"unsupported inline-format value {type(v).__name__} for type {t}"
    )


def _format_payload_rows(
    fmt: str, payload: str, ins_cols: list[str], types0: dict
) -> str:
    """Parse an INSERT inline payload (`INSERT INTO t FORMAT <fmt> <data>`)
    into a `VALUES`-style row list with per-element CASTs.

    Formats mirror the reference's input registry
    (`src/Formats/registerFormats.cpp`): JSONEachRow (+ JSONLines/NDJSON
    synonyms — each row one JSON object, missing fields take the column
    TYPE default, unknown fields are skipped), CSV (RFC quoting), and
    TSV/TabSeparated (backslash escapes).  Header-carrying variants
    (…WithNames) and nested-object payloads raise rather than guess."""
    rows: list[list] = []
    if fmt in ("jsoneachrow", "jsonlines", "ndjson", "jsoncompacteachrow"):
        import json

        dec = json.JSONDecoder()
        i, n = 0, len(payload)
        while True:
            while i < n and payload[i] in " \t\r\n,;":
                i += 1
            if i >= n:
                break
            obj, i = dec.raw_decode(payload, i)
            if fmt == "jsoncompacteachrow":
                if not isinstance(obj, list) or len(obj) != len(ins_cols):
                    raise ChSqlError("JSONCompactEachRow row arity mismatch")
                rows.append(obj)
            else:
                if not isinstance(obj, dict):
                    raise ChSqlError("JSONEachRow payload row is not an object")
                if any(isinstance(x, dict) for x in obj.values()):
                    raise ChSqlError("nested JSON objects are not supported")
                _MISSING = object()
                rows.append([obj.get(c, _MISSING) for c in ins_cols])
    elif fmt == "csv":
        import csv
        import io

        for rec in csv.reader(io.StringIO(payload.strip())):
            if rec:
                rows.append(list(rec))
    elif fmt in ("tsv", "tabseparated"):
        unesc = {"\\t": "\t", "\\n": "\n", "\\\\": "\\", "\\r": "\r"}

        def _u(s: str) -> str:
            out = re.sub(
                r"\\[tnr\\]", lambda mm: unesc[mm.group(0)], s
            )
            return out

        for line in payload.strip("\n").splitlines():
            if line != "":
                rows.append([_u(c) for c in line.split("\t")])
    else:
        raise ChSqlError(f"unsupported INSERT input format {fmt!r}")
    if not rows:
        raise ChSqlError(f"empty inline payload for INSERT FORMAT {fmt}")
    out = []
    for r in rows:
        if len(r) != len(ins_cols):
            raise ChSqlError(
                f"FORMAT {fmt} row has {len(r)} fields, expected "
                f"{len(ins_cols)}"
            )
        cells = []
        for v, c in zip(r, ins_cols):
            t = types0[c]
            if v.__class__ is object:
                # missing JSON field: the column TYPE default
                from myscaledb_spark.sql_dialect import _type_default

                d = _type_default(t)
                cells.append(
                    f"CAST({d} AS {t})" if d is not None
                    else f"CAST(NULL AS {t})"
                )
            else:
                cells.append(_format_lit(v, t))
        out.append("(" + ", ".join(cells) + ")")
    return ", ".join(out)

#: created tables: name → {"schema": [(col, spark_type)...], "n_parts": int}
TABLES: dict[str, dict] = {}
_SEQ: dict[str, int] = {}


# ---------------------------------------------------------------------------
# Part model — MergeTree part NAMING lineage (`all_<min>_<max>_<level>
# [_<mutation>]`, MergeTreePartInfo::getPartNameV1) tracked as metadata so
# the diagnostics surface (system.vector_index_segments, the replicas'
# zookeeper vidx_info node) prints the reference's exact part names.  Data
# itself lives in the single logical store — parts here are bookkeeping,
# like the reference's in-RAM part set, never a physical layout constraint.
#   - INSERT allocates one block number (replicated tables count from 0,
#     plain MergeTree from 1 — MergeTreeData::getMaxBlockNumber seed),
#   - a lightweight DELETE is a mutation: it allocates a block number as its
#     version and renames every existing part `..._<version>`,
#   - OPTIMIZE FINAL merges all active parts into
#     `all_<min(min)>_<max(max)>_<max(level)+1>[_<max(mut)>]`,
#   - TRUNCATE drops all parts without consuming a block (00031's
#     post-TRUNCATE INSERT lands on the next sequential block).
# ---------------------------------------------------------------------------


def _part_label(p: dict) -> str:
    base = f"all_{p['min']}_{p['max']}_{p['level']}"
    return f"{base}_{p['mut']}" if p.get("mut") else base


def _part_base_label(p_or_name) -> str:
    """Part name WITHOUT the mutation version — what the replication
    coordinator's vidx_info node records (VIDescriptions::toString uses
    info.getPartNameWithoutMutation — 00032's post-LWD node keeps
    'all_0_0_0' while the part on disk is 'all_0_0_0_1')."""
    if isinstance(p_or_name, dict):
        return f"all_{p_or_name['min']}_{p_or_name['max']}_{p_or_name['level']}"
    bits = str(p_or_name).split("_")
    return "_".join(bits[:4])


def _active_parts(table: str) -> list[dict] | None:
    meta = TABLES.get(table)
    if meta is None:
        return None
    return meta.get("parts")


def _alloc_block(table: str) -> int:
    meta = TABLES[table]
    b = meta.setdefault("next_block", 0 if meta.get("replicated") else 1)
    meta["next_block"] = b + 1
    return b


def _eval_zk_arg(arg: str) -> str | None:
    """Evaluate a Replicated* engine coordinate argument — a string literal
    or a ``||`` concatenation of literals and currentDatabase() (the
    reference's test scripts build paths as
    ``'/clickhouse/tables/'||currentDatabase()||'/...'``). Returns None for
    anything this tiny folder can't resolve statically."""
    out = []
    for seg in (s.strip() for s in arg.split("||")):
        if len(seg) >= 2 and seg[0] == "'" and seg[-1] == "'":
            out.append(seg[1:-1])
        elif re.fullmatch(r"currentDatabase\(\s*\)", seg, re.IGNORECASE):
            out.append("default")
        else:
            return None
    return "".join(out)


def _is_vec_index_record(rec: dict) -> bool:
    """True for VECTOR index registry records (FTS records share the
    registry but live outside system.vector_index_segments / vidx_info —
    the reference keeps tantivy indexes in the skip-index machinery)."""
    return (
        "fts" not in str(rec.get("index_type", "")).lower()
        and "type fts" not in str(rec.get("expr", "")).lower()
    )


def _sync_index_segments(table: str, name: str, artifact_dir: str) -> None:
    """After a build/rebuild completes, the index covers every ACTIVE part
    with its own per-part segment (VICacheManager cache residency —
    LOADED). Decoupled lineage (owner ≠ part) is written by the OPTIMIZE
    hook instead and collapses here once the merged part's rebuild lands
    (00031's 'auto build after merge': 3 decoupled rows → 1 LOADED row)."""
    parts = _active_parts(table)
    if parts is None:
        return
    from myscaledb_spark.plans.vector_index import IndexRegistry

    reg = IndexRegistry(artifact_dir)
    rec = reg.get(name)
    if not rec or rec.get("status") != "Built" or not _is_vec_index_record(rec):
        return
    segs = [[_part_label(p), _part_label(p), 0, "LOADED"] for p in parts]
    reg.annotate(name, segments=segs)

#: data-skipping indexes (minmax / bloom_filter / set...) — metadata only:
#: Spark's parquet scan already does min/max pruning and dictionary/bloom
#: skipping at the format layer, so these DDLs register the declaration
#: (≈ system.data_skipping_indices) without a separate artifact.
#: table → [{"name", "type", "expr", "granularity"}]
SKIP_INDICES: dict[str, list[dict]] = {}

_SKIP_TYPES = r"(?:minmax|bloom_filter|set|tokenbf_v1|ngrambf_v1|hypothesis|inverted)"

_CREATE_SKIP_RE = re.compile(
    r"^\s*CREATE\s+INDEX\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s+"
    r"ON\s+(?P<table>\w+)\s*\(\s*(?P<expr>[^)]*)\)\s+"
    rf"TYPE\s+(?P<type>{_SKIP_TYPES})\s*(?:\((?P<targs>[^)]*)\))?"
    r"(?:\s+GRANULARITY\s+(?P<gran>\d+))?\s*$",
    re.IGNORECASE,
)
_ALTER_SKIP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>\w+)\s+ADD\s+INDEX\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s+(?P<expr>.+?)\s+"
    rf"TYPE\s+(?P<type>{_SKIP_TYPES})\s*(?:\((?P<targs>[^)]*)\))?"
    r"(?:\s+GRANULARITY\s+(?P<gran>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_SKIP_RE = re.compile(
    r"^\s*(?:DROP\s+INDEX\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>\w+)\s+ON\s+(?P<table>\w+)"
    r"|ALTER\s+TABLE\s+(?P<table2>\w+)\s+DROP\s+INDEX\s+(?P<ie2>IF\s+EXISTS\s+)?(?P<name2>\w+))\s*$",
    re.IGNORECASE,
)


def skip_index_ddl(sql: str):
    """CREATE INDEX / ALTER TABLE ADD INDEX (skipping-index types) and the
    matching DROPs. Returns the record, or None for a DROP / no-op."""
    m = _CREATE_SKIP_RE.match(sql) or _ALTER_SKIP_RE.match(sql)
    if m:
        table, name = m.group("table"), m.group("name")
        if table not in TABLES:
            raise ChSqlError(f"table {table!r} was not created via ch_ddl")
        lst = SKIP_INDICES.setdefault(table, [])
        if any(r["name"] == name for r in lst):
            if m.group("ine"):
                return next(r for r in lst if r["name"] == name)
            raise ChSqlError(f"index {name!r} already exists on {table!r}")
        rec = {
            "name": name,
            "type": m.group("type").lower(),
            "expr": m.group("expr").strip(),
            "granularity": int(m.group("gran") or 1),
        }
        lst.append(rec)
        return rec
    m = _DROP_SKIP_RE.match(sql)
    if m:
        table = m.group("table") or m.group("table2")
        name = m.group("name") or m.group("name2")
        if_exists = m.group("ie") or m.group("ie2")
        if table not in TABLES:
            raise ChSqlError(f"table {table!r} was not created via ch_ddl")
        lst = SKIP_INDICES.get(table, [])
        hit = [r for r in lst if r["name"] == name]
        if not hit and not if_exists:
            raise ChSqlError(f"index {name!r} does not exist on {table!r}")
        SKIP_INDICES[table] = [r for r in lst if r["name"] != name]
        return None
    raise ChSqlError(f"unrecognized index DDL {sql[:80]!r}")


def _parse_engine(clause: str) -> tuple[str, list[str]]:
    m = re.match(r"\s*(\w+)\s*(?:\((?P<args>.*?)\))?\s*$", clause, re.DOTALL)
    if not m:
        raise ChSqlError(f"cannot parse ENGINE clause {clause!r}")
    args = [a.strip() for a in _split_args(m.group("args") or "") if a.strip()]
    return m.group(1), args


def _parse_key_list(raw: str) -> list[str]:
    raw = raw.strip()
    if re.fullmatch(r"tuple\s*\(\s*\)", raw, re.IGNORECASE):
        return []  # ORDER BY tuple(): explicitly unsorted (00688)
    if raw.startswith("(") and raw.endswith(")"):
        raw = raw[1:-1]
    keys = [k.strip() for k in _split_args(raw) if k.strip()]
    if not keys or not all(re.fullmatch(r"\w+", k) for k in keys):
        raise ChSqlError(f"ORDER BY must be plain columns, got {raw!r}")
    return keys


def create_table(spark: SparkSession, sql: str) -> dict:
    """Execute a CREATE TABLE ... ENGINE statement; returns the metadata."""
    m = _CREATE_RE.match(sql)
    if not m:
        raise ChSqlError("not a CREATE TABLE statement")
    table = m.group("table")
    open_idx = sql.index("(", m.start())
    # match the column-list parens
    depth, i = 0, open_idx
    while i < len(sql):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    cols_raw, tail = sql[open_idx + 1 : i], sql[i + 1 :]

    schema: list[tuple[str, str]] = []
    inline_indices: list[dict] = []
    pending_vector: list[str] = []
    constraints_decl: list[str] = []
    agg_cols: dict[str, str] = {}
    ch_types: dict[str, str] = {}
    declared_defaults: dict[str, str] = {}
    inline_fts: dict | None = None
    for item in _split_args(cols_raw):
        it = item.strip()
        vm = re.match(
            r"VECTOR\s+INDEX\s+(?P<name>\w+)\s+(?P<col>\w+)(?P<type>\s+TYPE\s+.+)?$",
            it, re.IGNORECASE | re.DOTALL,
        )
        if vm:
            # inline vector-index declaration (00041: default indexes in the
            # CREATE column list) — deferred: built after the first INSERT
            # lands rows, like the reference's build-on-part-write
            vname, vcol = vm.group("name"), vm.group("col")
            seen = [
                re.match(r"ALTER TABLE \w+ ADD VECTOR INDEX (\w+) (\w+)", p).groups()
                for p in pending_vector
            ]
            if any(n == vname for n, _ in seen):
                raise ChSqlError(
                    f"duplicate vector index name {vname!r} (reference LOGICAL_ERROR)"
                )
            if any(c == vcol for _, c in seen):
                raise ChSqlError(
                    f"multiple vector indexes on column {vcol!r} are not "
                    "supported (reference NOT_IMPLEMENTED)"
                )
            pending_vector.append(
                f"ALTER TABLE {table} ADD VECTOR INDEX {vname} "
                f"{vcol}{vm.group('type') or ''}"
            )
            continue
        sm = re.match(
            rf"INDEX\s+(?P<name>\w+)\s+(?P<expr>.+?)\s+TYPE\s+(?P<type>{_SKIP_TYPES})"
            r"\s*(?:\([^)]*\))?(?:\s+GRANULARITY\s+(?P<gran>\d+))?$",
            it, re.IGNORECASE | re.DOTALL,
        )
        if sm:
            inline_indices.append({
                "name": sm.group("name"), "type": sm.group("type").lower(),
                "expr": sm.group("expr").strip(),
                "granularity": int(sm.group("gran") or 1),
            })
            continue
        fm = re.match(
            r"INDEX\s+(?P<name>\w+)\s*(?:\(\s*(?P<colp>[\w()]+)\s*\)|\s(?P<col>\w+))"
            r"\s+TYPE\s+fts\b", it, re.IGNORECASE,
        )
        if fm:
            # inline fts INDEX: the tantivy index covers every part from
            # birth (MergeTreeIndexTantivy builds on part write) — record
            # the declaration so textsearch/hybridsearch SQL knows this
            # table's text column is index-served (00040 family)
            inline_fts = {"name": fm.group("name"), "covered_from_part": 0}
            continue
        if re.match(r"CONSTRAINT\b", it, re.IGNORECASE):
            # recorded verbatim for SHOW CREATE (InterpreterShowCreateQuery
            # echoes the stored AST — 00015); enforcement lives in
            # operators/constraints.py
            constraints_decl.append(re.sub(r"\s+", " ", it.strip()))
            continue
        if not it or re.match(r"(INDEX|PRIMARY\s+KEY)\b", it, re.IGNORECASE):
            continue  # indexes/keys parse but route through their own ops
        nm_ = re.match(r"`?([\w.]+)`?\s+Nested\s*\(", it, re.IGNORECASE)
        if nm_:
            # Nested(a T1, b T2) — a family of parallel arrays sharing one
            # offsets column (DataTypeNested.h).  Flatten-on-create: one
            # REAL array column per subcolumn, named with the dot
            # (`nest.x` array<T1>), registered in sql_dialect.NESTED_TABLES
            # so the dialect backtick-quotes references and expands
            # ARRAY JOIN prefix forms.
            from myscaledb_spark.sql_dialect import NESTED_TABLES

            prefix = nm_.group(1)
            open2 = it.index("(", nm_.end() - 1)
            from myscaledb_spark.sql_dialect import _find_call_end

            end2 = _find_call_end(it, open2)
            subs = []
            for sub in _split_args(it[open2 + 1 : end2 - 1]):
                sm_ = re.match(r"`?(\w+)`?\s+(.+)$", sub.strip(), re.DOTALL)
                if not sm_:
                    raise ChSqlError(
                        f"cannot parse Nested subcolumn {sub!r}"
                    )
                full = f"{prefix}.{sm_.group(1)}"
                ch_types[full] = f"Array({sm_.group(2).strip()})"
                schema.append(
                    (full, ch_type_to_spark(f"Array({sm_.group(2)})"))
                )
                subs.append(sm_.group(1))
            NESTED_TABLES.setdefault(table, {})[prefix] = subs
            continue
        cm = re.match(
            r"`?([\w.]+)`?\s+(.+?)(?:\s+DEFAULT\s+(?P<dflt>.+))?$",
            it, re.DOTALL,
        )
        if not cm:
            raise ChSqlError(f"cannot parse column declaration {it!r}")
        agg = parse_agg_type(cm.group(2))
        if agg is not None:
            agg_cols[cm.group(1)] = agg[0]
        # the declared CH type, verbatim, for every column — SHOW CREATE
        # echoes it, and WITH FILL validates FROM bounds against unsigned
        # types (00995: FROM -10 on a UInt32 column is serverError 475)
        ch_types[cm.group(1)] = re.sub(r"\s+", " ", cm.group(2).strip())
        schema.append((cm.group(1), ch_type_to_spark(cm.group(2))))
        if cm.group("dflt"):
            declared_defaults[cm.group(1)] = cm.group("dflt").strip()
    if not schema:
        raise ChSqlError("CREATE TABLE needs at least one plain column")

    # the `=` is optional in ClickHouse (`engine MergeTree primary key id`)
    em = re.search(r"\bENGINE\s*=?\s*", tail, re.IGNORECASE)
    if not em:
        if re.match(r"^\s*CREATE\s+TEMPORARY\b", sql, re.IGNORECASE):
            # TEMPORARY tables default to ENGINE = Memory
            # (ParserCreateQuery: engine clause optional for temporaries)
            engine, eargs = "Memory", []
            rest = tail
        else:
            raise ChSqlError("CREATE TABLE needs ENGINE = <MergeTree family>")
    else:
        ekind_end = re.search(
            r"\b(PRIMARY\s+KEY|ORDER\s+BY|PARTITION\s+BY|SAMPLE\s+BY|TTL|SETTINGS)\b|$",
            tail[em.end() :],
            re.IGNORECASE,
        )
        engine, eargs = _parse_engine(tail[em.end() : em.end() + ekind_end.start()])
        rest = tail[em.end() + ekind_end.start() :]

    def clause(kw: str) -> str | None:
        cm = re.search(
            rf"\b{kw}\b\s+(.*?)(?=\b(PRIMARY\s+KEY|ORDER\s+BY|PARTITION\s+BY|"
            rf"SAMPLE\s+BY|TTL|SETTINGS)\b|$)",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        return cm.group(1).strip() if cm else None

    ob_decl = clause("ORDER\\s+BY")
    pk_decl = clause("PRIMARY\\s+KEY")
    order_raw = ob_decl or pk_decl
    sample_raw = clause("SAMPLE\\s+BY")
    colnames = [c for c, _ in schema]

    # table-level vector-search metric (MergeTreeSettings.h:183): distance()
    # SQL on this table resolves its metric through sql_dialect
    sm = re.search(
        r"\b(?:float|binary)_vector_search_metric_type\s*=\s*'?(\w+)'?",
        tail, re.IGNORECASE,
    )
    from myscaledb_spark.sql_dialect import PARAM_CHECK_DISABLED, TABLE_VS_METRIC

    if sm:
        TABLE_VS_METRIC[table] = sm.group(1)
    else:
        TABLE_VS_METRIC.pop(table, None)
    if re.search(r"\bvector_index_parameter_check\s*=\s*0\b", tail, re.IGNORECASE):
        PARAM_CHECK_DISABLED.add(table)
    else:
        PARAM_CHECK_DISABLED.discard(table)

    eng = engine.lower()
    if eng == "distributed":
        # Distributed(cluster, database, table[, sharding_key]) — a routing
        # shell over the local table; in Spark every table is already
        # cluster-wide, so the faithful mapping is a view over the target
        # (StorageDistributed reads fan out to the same local table)
        if len(eargs) < 3:
            raise ChSqlError("Distributed(cluster, database, table) needs 3 args")
        target = eargs[2].strip().strip("'\"")
        if target not in TABLES:
            raise ChSqlError(
                f"Distributed target table {target!r} was not created via ch_ddl"
            )
        spark.table(target).createOrReplaceTempView(table)
        TABLES[table] = {
            "schema": TABLES[target]["schema"], "n_parts": 0,
            "distributed_over": target,
        }
        _SEQ[table] = 0
        meta = dict(TABLE_ENGINES.get(target) or {})
        register_table_engine(
            table, meta.get("kind", "none"), meta.get("keys", []),
            **{k: v for k, v in meta.items() if k not in ("kind", "keys")},
        )
        return {"table": table, "engine": engine, "keys": meta.get("keys", []),
                "schema": TABLES[target]["schema"]}
    replicated = eng.startswith("replicated")
    if replicated:
        # ReplicatedXMergeTree('/zk/path', 'replica'[, engine args...]) —
        # replication is a storage-availability concern with no query
        # semantics; strip the prefix and the two ZooKeeper-coordinates args
        # (registerStorageMergeTree.cpp: the replicated variants share the
        # merge algorithm with their plain twins)
        eng = eng[len("replicated"):]
        zk_path = None
        zk_replica_path = None
        if len(eargs) >= 2 and all(a.startswith("'") for a in eargs[:2]):
            zk_eval = _eval_zk_arg(eargs[0])
            rep_eval = _eval_zk_arg(eargs[1])
            if zk_eval and rep_eval:
                # the replica's coordination node — system.zookeeper rows
                # (vidx_info etc.) live under <zk_path>/replicas/<replica>
                zk_replica_path = f"{zk_eval}/replicas/{rep_eval}"
            zk_path = eargs[0].strip().strip("'\"")
            eargs = eargs[2:]
        if zk_path:
            # a SECOND table on the same ZooKeeper path is another REPLICA:
            # it reads the same data and surfaces the same indexes
            # (ReplicatedMergeTree replication; 00034_mqvs_replicated_
            # single_replica_build_index) — map it as a view over the
            # primary's store, like the Distributed shell
            primary = REPLICA_GROUPS.get(zk_path)
            if primary and primary in TABLES and primary != table:
                spark.table(primary).createOrReplaceTempView(table)
                TABLES[table] = {
                    "schema": TABLES[primary]["schema"], "n_parts": 0,
                    "replica_of": primary, "replicated": True,
                }
                _SEQ[table] = 0
                meta = dict(TABLE_ENGINES.get(primary) or {})
                register_table_engine(
                    table, meta.get("kind", "none"), meta.get("keys", []),
                    **{k: v for k, v in meta.items()
                       if k not in ("kind", "keys")},
                )
                return {"table": table, "engine": engine,
                        "keys": meta.get("keys", []),
                        "schema": TABLES[primary]["schema"]}
            REPLICA_GROUPS[zk_path] = table
    kind, version, sign, sum_cols = "none", None, None, ()
    keys: list[str] = _parse_key_list(order_raw) if order_raw else []
    if (
        not keys
        and eng.endswith("mergetree")
        and len(eargs) >= 3
        and any(re.fullmatch(r"\d+", a.strip()) for a in eargs)
    ):
        # deprecated engine-arg syntax: Engine(date, [sampling,] (keys),
        # granularity[, version/sign]) — registerStorageMergeTree legacy
        # layout (00732 `SummingMergeTree(date, (date), 8192)`)
        gidx = max(
            i for i, a in enumerate(eargs) if re.fullmatch(r"\d+", a.strip())
        )
        if gidx >= 2:
            keys = _parse_key_list(eargs[gidx - 1])
        tailargs = eargs[gidx + 1 :]
        eargs = tailargs  # version/sign for the engine-kind branches below
    if eng in ("mergetree", "memory", "tinylog", "log", "stripelog", "null"):
        # the Log family (StorageLog/StorageStripeLog) are plain append-only
        # stores — same "no merge semantics" shape as Memory here; Null
        # (StorageNull) swallows inserts and always reads empty
        kind = "none"
    elif eng == "replacingmergetree":
        kind = "replacing"
        version = eargs[0] if eargs else None
        if version is None:
            # versionless Replacing keeps the LAST inserted row — insertion
            # sequence is the version (ReplacingSortedAlgorithm default)
            version = ISEQ
    elif eng == "collapsingmergetree":
        kind, sign = "collapsing", (eargs[0] if eargs else None)
        if not sign:
            raise ChSqlError("CollapsingMergeTree(sign) needs the sign column")
    elif eng == "versionedcollapsingmergetree":
        if len(eargs) != 2:
            raise ChSqlError("VersionedCollapsingMergeTree(sign, version)")
        kind, sign, version = "versioned_collapsing", eargs[0], eargs[1]
    elif eng == "aggregatingmergetree":
        # AggregatingMergeTree takes no engine args; the merge behavior is
        # declared by the AggregateFunction / SimpleAggregateFunction column
        # types (registerStorageMergeTree.cpp, AggregatingSortedAlgorithm.cpp)
        kind = "aggregating"
        if not agg_cols:
            raise ChSqlError(
                "AggregatingMergeTree needs at least one AggregateFunction / "
                "SimpleAggregateFunction column (otherwise use ReplacingMergeTree)"
            )
    elif eng == "summingmergetree":
        kind = "summing"
        if eargs:
            sum_cols = tuple(_parse_key_list(eargs[0]))
        else:
            # default: every numeric non-key column is summed
            numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
            sum_cols = tuple(
                c for c, t in schema
                if c not in keys and (t in numeric or t.startswith("decimal"))
            )
    else:
        raise ChSqlError(f"unsupported ENGINE {engine!r}")
    if kind != "none" and not keys:
        raise ChSqlError(f"ENGINE {engine} needs ORDER BY (the merge key)")
    for k in keys:
        if k not in colnames:
            raise ChSqlError(f"ORDER BY column {k!r} not in the table schema")

    store = f"{table}__store"
    fields = ", ".join(f"`{c}` {t}" for c, t in schema)
    _empty_store(spark, fields).createOrReplaceTempView(store)
    _refresh_view(spark, table)

    register_table_engine(
        table, kind, keys,
        version=version, sign=sign, sum_cols=list(sum_cols),
        order=ISEQ if kind != "none" else None,
        sample_by=(sample_raw if sample_raw else None),
        store=store,
        agg_cols=agg_cols if kind == "aggregating" else None,
    )
    TABLES[table] = {"schema": schema, "n_parts": 0, "parts": []}
    if declared_defaults:
        TABLES[table]["defaults"] = declared_defaults
    if eng == "null":
        TABLES[table]["engine_null"] = True
    if constraints_decl:
        TABLES[table]["constraints_decl"] = constraints_decl
    if pk_decl:
        TABLES[table]["pk_decl"] = pk_decl
    if ob_decl:
        TABLES[table]["ob_decl"] = ob_decl
    ig = re.search(r"\bindex_granularity\s*=\s*(\d+)", tail, re.IGNORECASE)
    if ig:
        TABLES[table].setdefault("settings", {})["index_granularity"] = ig.group(1)
    mr = re.search(r"\bmin_rows_to_build_vector_index\s*=\s*(\d+)", tail,
                   re.IGNORECASE)
    if mr:
        # the brute-force gate reads this: parts below the build threshold
        # are "small parts", exempt from enable_brute_force_vector_search=0
        # (MergeTreeVSManager; 00038_mqvs_brute_force_setting)
        TABLES[table].setdefault("settings", {})[
            "min_rows_to_build_vector_index"] = mr.group(1)
    for knob in ("enable_rebuild_for_decouple", "enable_decouple_vector_index"):
        km = re.search(rf"\b{knob}\s*=\s*(\w+)", tail, re.IGNORECASE)
        if km:
            # decouple/rebuild policy drives the post-merge segment lineage
            # (VIDescriptions; 00031/00032/00034 pin both branches)
            TABLES[table].setdefault("settings", {})[knob] = km.group(1).lower()
    if ch_types:
        TABLES[table]["ch_types"] = ch_types
    if inline_fts is not None:
        TABLES[table]["fts_decl"] = inline_fts
    if replicated:
        # replication itself is a no-op here, but part NAMING differs:
        # replicated merges number blocks from 0 (all_0_0_0), plain
        # MergeTree from 1 (all_1_1_0) — the system views print it
        TABLES[table]["replicated"] = True
        if zk_replica_path:
            TABLES[table]["zk_replica_path"] = zk_replica_path
    if pending_vector:
        TABLES[table]["pending_vector_indices"] = pending_vector
    _SEQ[table] = 0
    SKIP_INDICES[table] = inline_indices
    return {"table": table, "engine": engine, "keys": keys, "schema": schema}


def _comma_join_tuples(s: str) -> str:
    """ClickHouse VALUES accepts juxtaposed tuples `(...)(...)`
    (ParserInsertQuery allows the comma to be omitted —
    00995_order_by_with_fill inserts 15 rows that way); Spark's VALUES
    needs the commas, so insert one between consecutive top-level groups."""
    from myscaledb_spark.sql_dialect import _string_mask

    mask = _string_mask(s)
    out: list[str] = []
    depth, i = 0, 0
    while i < len(s):
        c = mask[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                j = i + 1
                while j < len(s) and s[j].isspace():
                    j += 1
                if j < len(s) and mask[j] == "(":
                    out.append(s[i])
                    out.append(", ")
                    i = j
                    continue
        out.append(s[i])
        i += 1
    return "".join(out)


#: batch materialized views: source table → [(mv_table, select_sql)] —
#: every INSERT into the source pushes the SELECT applied to the inserted
#: BLOCK into the mv's backing table (StorageMaterializedView push;
#: 00726_materialized_view_concurrent)
MV_HOOKS: dict[str, list[tuple[str, str]]] = {}


def _fire_mv_hooks(spark: SparkSession, table: str, part, hooks=None) -> None:
    from myscaledb_spark.sql_dialect import _masked_sub, ch_sql

    part.createOrReplaceTempView("_mv_block")
    for mv_name, select_sql in (hooks if hooks is not None
                                else MV_HOOKS.get(table, [])):
        block_sql = _masked_sub(
            re.compile(rf"\b(FROM|JOIN)\s+{re.escape(table)}\b", re.IGNORECASE),
            lambda m: f"{m.group(1)} _mv_block",
            select_sql,
        )
        ch_sql(spark, block_sql).createOrReplaceTempView("_mv_res")
        insert_into(spark, f"INSERT INTO {mv_name} SELECT * FROM _mv_res")


def create_materialized_view(spark: SparkSession, s: str):
    """CREATE MATERIALIZED VIEW name [TO target] [ENGINE = ...]
    [ORDER BY ...] [POPULATE] AS SELECT ... — a backing table fed by every
    INSERT into the SELECT's source (InterpreterCreateQuery +
    StorageMaterializedView). TO-form writes land in the named target and
    reads of the view resolve there."""
    m = re.match(
        r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(?P<name>\w+)\s*(?:\((?P<cols>[^()]*)\)\s*)?"
        r"(?:TO\s+(?P<to>\w+)\s*)?"
        r"(?:ENGINE\s*=?\s*(?P<engine>\w+)\s*(?:\([^()]*\))?\s*)?"
        r"(?P<mid>[^;]*?)(?P<populate>POPULATE\s+)?"
        r"AS\s+(?P<select>(?:SELECT|WITH)\b.*)$",
        s, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ChSqlError(f"cannot parse CREATE MATERIALIZED VIEW {s[:80]!r}")
    from myscaledb_spark.sql_dialect import _string_mask, ch_sql

    name, select_sql = m.group("name"), m.group("select").strip()
    src = re.search(
        r"\bFROM\s+([A-Za-z_]\w*)", _string_mask(select_sql), re.IGNORECASE
    )
    if src is None or src.group(1) not in TABLES:
        raise ChSqlError(
            "MATERIALIZED VIEW source must be a ch_ddl table "
            f"(got {select_sql[:60]!r})"
        )
    src_table = src.group(1)
    target = m.group("to")
    if target:
        if target not in TABLES:
            raise ChSqlError(f"MV TO target {target!r} was not created")
        # the view name is a read-alias of the target
        from myscaledb_spark.streaming.live_view import LIVE_VIEWS

        LIVE_VIEWS[name] = {"sql": f"SELECT * FROM {target}", "epochs": {}}
    else:
        # backing table shaped by the SELECT (or the declared columns)
        df = ch_sql(spark, select_sql).limit(0)
        schema = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        if m.group("cols") and m.group("cols").strip():
            decls = []
            for piece in m.group("cols").split(","):
                dm = re.match(r"\s*`?([\w.]+)`?\s+(.+?)\s*$", piece)
                if dm:
                    decls.append((dm.group(1), ch_type_to_spark(dm.group(2))))
            if len(decls) == len(schema):
                schema = decls
        fields = ", ".join(f"`{c}` {t}" for c, t in schema)
        _empty_store(spark, fields).createOrReplaceTempView(f"{name}__store")
        register_table_engine(name, "none", [])
        TABLES[name] = {"schema": schema, "n_parts": 0, "parts": []}
        _SEQ[name] = 0
        SKIP_INDICES[name] = []
        _refresh_view(spark, name)
        target = name
    MV_HOOKS.setdefault(src_table, []).append((target, select_sql))
    if m.group("populate"):
        # POPULATE backfills from the CURRENT contents — only this view
        _fire_mv_hooks(
            spark, src_table, spark.table(src_table),
            hooks=[(target, select_sql)],
        )
    return {"view": name, "source": src_table, "target": target}


def insert_into(spark: SparkSession, sql: str) -> int:
    """INSERT INTO t [(cols)] VALUES (...), ... | SELECT ... — appends one
    "part"; returns the number of rows inserted."""
    m = _INSERT_RE.match(sql)
    if not m:
        raise ChSqlError("not an INSERT INTO statement")
    table = m.group("table")
    if table not in TABLES:
        raise ChSqlError(
            f"table {table!r} was not created via create_table / ch_ddl"
        )
    schema = TABLES[table]["schema"]
    colnames = [c for c, _ in schema]
    ins_cols = (
        [c.strip().strip("`") for c in m.group("cols").split(",")]
        if m.group("cols") else colnames
    )
    unknown = set(ins_cols) - set(colnames)
    if unknown:
        raise ChSqlError(f"INSERT columns not in table: {sorted(unknown)}")

    body = sql[m.start("rest") :]
    fmatch = re.match(r"FORMAT\s+([A-Za-z0-9]+)\s*", body, re.IGNORECASE)
    if fmatch is not None:
        fmt = fmatch.group(1).lower()
        payload = body[fmatch.end() :]
        if fmt == "values":
            body = "VALUES " + payload
        else:
            rows_sql = _format_payload_rows(
                fmt, payload, ins_cols, dict(schema)
            )
            src = spark.sql(
                f"SELECT * FROM VALUES {rows_sql} "
                f"AS _ins({', '.join(f'`{c}`' for c in ins_cols)})"
            )
            body = ""  # handled
    if body[:6].upper() == "VALUES":
        from myscaledb_spark.sql_dialect import (
            _rewrite_array_literals,
            _rewrite_calls,
            _rewrite_map_literals,
            _rewrite_numeric_literals,
        )

        from myscaledb_spark.sql_dialect import substitute_query_params

        # CH VALUES rows use bracket array / brace map literals, CH
        # function names (char(...), toDate(...)) and {name:Type} query
        # parameters — rewrite like the SELECT path does (string literals
        # are respected; params substitute FIRST so `{x: Int32}` is not
        # taken for a map literal)
        rows_sql = _rewrite_calls(
            _rewrite_array_literals(
                _rewrite_map_literals(
                    substitute_query_params(
                        _rewrite_numeric_literals(
                            _comma_join_tuples(body[6:].strip())
                        )
                    )
                )
            )
        )
        # per-element CAST to the declared column type: CH coerces each
        # VALUES expression to the column independently, while Spark's
        # inline table unifies types ACROSS rows first — a '2016-01-01'
        # string row next to a toDate(...)+1 date row fails there (00306)
        from myscaledb_spark.sql_dialect import _find_call_end, _split_args

        types0 = dict(schema)
        cast_rows = []
        i0 = 0
        ok_cast = True
        while i0 < len(rows_sql):
            if rows_sql[i0] == "(":
                end0 = _find_call_end(rows_sql, i0)
                elems = _split_args(rows_sql[i0 + 1 : end0 - 1])
                if len(elems) != len(ins_cols):
                    ok_cast = False
                    break
                def _elem_sql(e: str, c: str) -> str:
                    if e.strip().upper() == "DEFAULT":
                        # the DEFAULT keyword in VALUES takes the column's
                        # DECLARED default, else the type default
                        # (02154_default_keyword_insert)
                        from myscaledb_spark.sql_dialect import _type_default

                        decl = (TABLES[table].get("defaults") or {}).get(c)
                        if decl is not None:
                            e = _rewrite_calls(decl)
                        else:
                            e = _type_default(types0[c]) or "NULL"
                    return f"CAST(({e.strip()}) AS {types0[c]})"

                cast_rows.append(
                    "("
                    + ", ".join(
                        _elem_sql(e, c) for e, c in zip(elems, ins_cols)
                    )
                    + ")"
                )
                i0 = end0
            elif rows_sql[i0] in ", \t\n\r":
                i0 += 1
            else:
                ok_cast = False
                break
        if ok_cast and cast_rows:
            rows_sql = ", ".join(cast_rows)
        src = spark.sql(
            f"SELECT * FROM VALUES {rows_sql} "
            f"AS _ins({', '.join(f'`{c}`' for c in ins_cols)})"
        )
    elif body:  # empty body: src already built by the FORMAT branch
        from myscaledb_spark.sql_dialect import ch_sql

        if re.search(r"\bsystem\.\w+", body, re.IGNORECASE):
            # INSERT ... SELECT FROM system.numbers/one (00328's generator
            # inserts) — same view binding the ch_script SELECT path does
            body = _bind_system_tables(spark, body, None)
        src = ch_sql(spark, body)
        if len(src.columns) != len(ins_cols):
            raise ChSqlError(
                f"INSERT SELECT produces {len(src.columns)} columns, "
                f"table expects {len(ins_cols)}"
            )
        src = src.toDF(*ins_cols)

    types = dict(schema)
    ch_types = TABLES[table].get("ch_types") or {}
    out_cols = []
    for c in colnames:
        # dotted (Nested-subcolumn) names need quoting for F.col — a bare
        # dot parses as struct-field access
        qn = f"`{c}`" if "." in c else c
        if c in ins_cols:
            emap = enum_mapping(ch_types.get(c, ""))
            if emap:
                # Enum columns accept the NAME or the VALUE and store the
                # display name; anything else raises like the reference's
                # UNKNOWN_ELEMENT_OF_ENUM (00453 `-- {{ clientError }}`)
                v = F.col(qn).cast("string")
                expr = F.when(F.col(qn).isNull(), F.lit(None).cast("string"))
                for nm, val in emap:
                    expr = expr.when(v == nm, F.lit(nm)).when(
                        v == str(val), F.lit(nm)
                    )
                expr = expr.otherwise(
                    F.expr(
                        "raise_error(concat('Unknown element ', "
                        f"cast(`{c}` as string), ' for enum'))"
                    )
                )
                out_cols.append(expr.alias(c))
                continue
            out_cols.append(F.col(qn).cast(types[c]).alias(c))
        else:
            # omitted columns: a DECLARED DEFAULT expression wins
            # (00361's `d Date DEFAULT '2000-01-01'`); otherwise the TYPE
            # DEFAULT (0/''/[]) unless declared Nullable — ClickHouse
            # never fabricates NULLs on INSERT (00071_insert_fewer_columns)
            from myscaledb_spark.sql_dialect import _rewrite_calls, _type_default

            decl = (TABLES[table].get("defaults") or {}).get(c)
            if decl is not None:
                out_cols.append(
                    F.expr(
                        f"CAST({_rewrite_calls(decl)} AS {types[c]})"
                    ).alias(c)
                )
                continue
            if "." in c:
                # omitted Nested subcolumn: the default KEEPS the family's
                # shared offsets — an array of element defaults sized like
                # a provided sibling (DataTypeNested; 00147 post-ALTER
                # INSERT prints [0,0] next to ['Hello2','World2'])
                from myscaledb_spark.sql_dialect import NESTED_TABLES

                prefix = c.rsplit(".", 1)[0]
                fam = (NESTED_TABLES.get(table) or {}).get(prefix) or []
                sib = next(
                    (s for s in fam if f"{prefix}.{s}" in ins_cols), None
                )
                if sib is not None and types[c].startswith("array<"):
                    elem_t = types[c][len("array<"):-1]
                    d0 = _type_default(elem_t) or "NULL"
                    out_cols.append(
                        F.expr(
                            f"transform(`{prefix}.{sib}`, "
                            f"_nv -> CAST({d0} AS {elem_t}))"
                        ).alias(c)
                    )
                    continue
            default = None
            if not str(ch_types.get(c, "")).lower().startswith("nullable"):
                default = _type_default(types[c])
                if default is None and types[c].startswith("array<"):
                    default = "array()"
            if default is None:
                out_cols.append(F.lit(None).cast(types[c]).alias(c))
            else:
                out_cols.append(
                    F.expr(f"CAST({default} AS {types[c]})").alias(c)
                )
    part = src.select(*out_cols)
    if MV_HOOKS.get(table):
        _fire_mv_hooks(spark, table, part)
    if TABLES[table].get("engine_null"):
        # ENGINE = Null swallows the write itself (StorageNull — 00481)
        # AFTER attached materialized views consumed the block (00726)
        return part.count()

    # assign the hidden insertion sequence: (part_number << 50) | row id,
    # where the row id is monotonically_increasing_id() — partition-major
    # within the part (VALUES literals are a single LocalRelation partition,
    # so literal order is preserved), strictly above every earlier part.
    # Pure JVM expression: no Python, no extra pass over the data.
    n = part.count()
    TABLES[table]["n_rows"] = TABLES[table].get("n_rows", 0) + n
    part_no = _SEQ[table]
    _SEQ[table] = part_no + 1
    w_part = part.withColumn(
        ISEQ,
        (F.lit(part_no).cast("bigint") * F.lit(1 << 50))
        + F.monotonically_increasing_id(),
    ).withColumn(EXISTS, F.lit(True))

    store = f"{table}__store"
    merged = spark.table(store).unionByName(w_part)
    TABLES[table]["n_parts"] += 1
    if "parts" in TABLES[table]:
        b = _alloc_block(table)
        TABLES[table]["parts"].append(
            {"min": b, "max": b, "level": 0, "mut": 0}
        )
    if TABLES[table]["n_parts"] % _CHECKPOINT_EVERY == 0:
        merged = merged.localCheckpoint(eager=True)  # squash union lineage
    merged.createOrReplaceTempView(store)
    _refresh_view(spark, table)
    from myscaledb_spark.streaming.live_view import note_write

    note_write(table)
    return n


def drop_table(spark: SparkSession, table: str) -> None:
    spark.catalog.dropTempView(table)
    spark.catalog.dropTempView(f"{table}__store")
    TABLES.pop(table, None)
    # dropping a table detaches it both as an MV source and as a target
    MV_HOOKS.pop(table, None)
    for hooks in MV_HOOKS.values():
        hooks[:] = [(t, q) for t, q in hooks if t != table]
    _SEQ.pop(table, None)
    TABLE_ENGINES.pop(table, None)
    SKIP_INDICES.pop(table, None)
    from myscaledb_spark.sql_dialect import (
        NESTED_TABLES,
        PARAM_CHECK_DISABLED,
        TABLE_VS_METRIC,
    )

    NESTED_TABLES.pop(table, None)

    TABLE_VS_METRIC.pop(table, None)
    PARAM_CHECK_DISABLED.discard(table)
    for zk in [z for z, t in REPLICA_GROUPS.items() if t == table]:
        REPLICA_GROUPS.pop(zk, None)


def _strip_backquotes(sql: str) -> str:
    """ClickHouse identifier quoting: `` `name` `` → ``name`` for plain
    word identifiers, outside string literals."""
    from myscaledb_spark.sql_dialect import _string_mask

    mask = _string_mask(sql)
    out, i = [], 0
    for m in re.finditer(r"`(\w+)`", sql):
        if mask[m.start()] == "`":  # not inside a string literal
            out.append(sql[i : m.start()])
            out.append(m.group(1))
            i = m.end()
    out.append(sql[i:])
    return "".join(out)


#: `SET name = value` server settings that tune storage/build machinery the
#: Spark engine has no analog for (index build thresholds, mutation sync,
#: brute-force toggles, experimental flags). Accepted and ignored; any OTHER
#: setting raises so a semantic setting is never silently dropped.
_NOOP_SETTINGS = re.compile(
    r"^(enable_brute_force_vector_search|min_rows_to_build_vector_index|"
    r"optimize_move_to_prewhere_for_vector_search|optimize_move_to_prewhere|"
    r"min_bytes_to_build_vector_index|index_granularity|mutations_sync|"
    r"float_vector_search_metric_type|binary_vector_search_metric_type|"
    r"max_threads|allow_experimental_[a-z_]+|allow_suspicious_[a-z_]+|"
    r"vector_search_[a-z_]+|"
    r"max_build_index_train_size|slow_mode_build_vector_index_in_merge|"
    r"max_rows_in_building_vector_index|enable_rebuild_for_decouple|"
    r"disable_rebuild_for_decouple|vector_index_parameter_check|"
    r"allow_vector_search_with_mutations|exact_search_top_k|"
    r"batch_distance_queue_size|two_stage_search_option|"
    r"build_vector_index_on_random_single_replica|optimize_trivial_count_query|"
    r"enable_optimizer|joined_subquery_requires_alias|"
    r"output_format_[a-z_0-9]+|max_block_size|min_insert_block_size_rows|"
    # block-sizing knobs shape BLOCKS, not results; the legacy ANY-JOIN and
    # count-distinct toggles select implementations whose outputs coincide
    # with ours on distinct-right-key / exact-count inputs (00316/00350 —
    # the conformance compare still guards every output)
    r"min_insert_block_size_bytes|max_insert_block_size|"
    r"preferred_block_size_bytes|max_insert_threads|"
    r"any_join_distinct_right_table_keys|count_distinct_implementation|"
    r"parallel_view_processing|"
    # recorded AND consulted: _fill_outer_join_defaults reads it per query
    r"join_use_nulls|"
    r"group_by_two_level_threshold[a-z_]*|max_bytes_before_external_group_by|"
    r"totals_mode|extremes|enable_positional_arguments|"
    r"query_plan_[a-z_]+|optimize_read_in_order|optimize_aggregation_in_order|"
    # pure rewrite/JIT toggles (02xxx sweep): each selects an internal CH
    # optimization whose output is defined to be identical; Spark/Catalyst
    # owns these decisions here
    r"optimize_group_by_function_keys|optimize_functions_to_subcolumns|"
    r"optimize_distinct_in_order|optimize_rewrite_sum_if_to_count_if|"
    r"optimize_syntax_fuse_functions|optimize_if_chain_to_multiif|"
    r"optimize_arithmetic_operations_in_aggregate_functions|"
    r"optimize_injective_functions_inside_uniq|optimize_move_functions_out_of_any|"
    r"optimize_normalize_count_variants|optimize_fuse_sum_count_avg|"
    r"optimize_or_like_chain|optimize_sorting_by_input_stream_properties|"
    r"optimize_group_by_constant_keys|query_plan_optimize_prewhere|"
    r"compile_expressions|min_count_to_compile_expression|"
    r"compile_aggregate_expressions|min_count_to_compile_aggregate_expression|"
    r"compile_sort_description|min_count_to_compile_sort_description|"
    r"read_in_order_two_level_merge_threshold|prefer_localhost_replica|"
    r"max_analyze_depth|log_comment|log_formatted_queries|log_queries_min_type|"
    r"max_bytes_in_join|max_rows_in_join|"
    r"insert_keeper_fault_injection_probability|"
    r"allow_deprecated_database_ordinary|allow_deprecated_error_prone_window_functions|"
    r"local_filesystem_read_method|remote_filesystem_read_method|"
    r"max_read_buffer_size|short_circuit_function_evaluation|"
    r"single_join_prefer_left_table|system_events_show_zero_values|"
    r"enable_optimize_predicate_expression[a-z_]*|"
    r"optimize_min_equality_disjunction_chain_length|"
    r"cross_to_inner_join_rewrite|"
    r"database_atomic_wait_for_drop_and_detach_synchronously|"
    r"force_primary_key|force_index_by_date|log_queries|"
    # client/diagnostics knobs: log verbosity routed to the test client
    r"send_logs_level|"
    # resource GUARDS, not semantics: the reference errors only when a
    # query exceeds them — Spark manages its own memory/sort resources, so
    # the success path is identical (00027_distinct_and_order_by)
    r"max_rows_to_sort|max_bytes_to_sort|max_bytes_before_external_sort|"
    r"max_rows_to_read|max_bytes_to_read|read_overflow_mode|join_algorithm|"
    r"allow_deprecated_syntax_for_merge_tree|"
    r"max_memory_usage|max_rows_to_group_by|max_execution_time|"
    r"merge_tree_[a-z_]+|"
    r"dfs_[a-z_]+|storage_policy)$",
    re.IGNORECASE,
)

#: settings accepted only at a SPECIFIC value — the one our execution model
#: already behaves like (value-dependent semantics; any other value raises)
_VALUE_PINNED_SETTINGS = {
    # our engines keep raw inserted rows and merge on read/FINAL — exactly
    # optimize_on_insert = 0 (the tests SET 0 to observe unmerged rows)
    "optimize_on_insert": {"0"},
    # Nested(...) flattens to dotted parallel arrays on CREATE — exactly
    # flatten_nested = 1 (the CH default); =0 keeps a real tuple-array
    # column, a storage model this engine does not implement
    "flatten_nested": {"1"},
}


#: recorded values of accepted SET statements — most are no-ops for
#: execution, but introspection surfaces (EXPLAIN SYNTAX's PREWHERE
#: annotation) consult them like the reference's InterpreterSetQuery does
SESSION_SETTINGS: dict[str, str] = {}


def reset_session_settings() -> None:
    """Start a fresh SET scope — ClickHouse settings are session-scoped per
    CLIENT, so a conformance file (= one client session) must not see the
    previous file's SET statements (r7 ADVICE: a leaked
    optimize_move_to_prewhere_for_vector_search=0 changed later files'
    EXPLAIN SYNTAX output).  Callers that represent a session boundary
    (tools/conformance.run_file) call this; ch_script itself must NOT,
    because one file legitimately spans several ch_script calls."""
    SESSION_SETTINGS.clear()


def set_statement(sql: str) -> None:
    """`SET name = value[, ...]` — session settings. Settings with no Spark
    semantic land in the no-op list; anything else raises (same discipline as
    the dialect's SETTINGS clause)."""
    body = re.sub(r"^\s*SET\s+", "", sql.strip().rstrip(";"), flags=re.IGNORECASE)
    for piece in _split_args(body):
        am = re.match(r"\s*(\w+)\s*=\s*(.+?)\s*$", piece)
        if not am:
            raise ChSqlError(f"cannot parse SET assignment {piece!r}")
        if am.group(1).lower().startswith("param_"):
            # query parameter (SET param_x = v → {x:Type} placeholders,
            # ReplaceQueryParameterVisitor) — recorded, substituted by
            # ch_sql's placeholder pass
            SESSION_SETTINGS[am.group(1).lower()] = am.group(2)
            continue
        pinned = _VALUE_PINNED_SETTINGS.get(am.group(1).lower())
        if pinned is not None:
            if am.group(2).strip() not in pinned:
                raise ChSqlError(
                    f"SET {am.group(1)} = {am.group(2)} selects behavior this "
                    f"engine does not emulate (only {sorted(pinned)} matches)"
                )
        elif not _NOOP_SETTINGS.match(am.group(1)):
            raise ChSqlError(
                f"SET {am.group(1)} has a query-semantic effect this engine "
                "does not emulate — set the Spark conf equivalent instead"
            )
        SESSION_SETTINGS[am.group(1).lower()] = am.group(2)


def delete_where(spark: SparkSession, sql: str) -> None:
    """Lightweight DELETE (`DELETE FROM t WHERE cond`) on a ch_ddl table —
    the store drops matching rows immediately (the reference's
    `_row_exists` mask applied eagerly; MutationsInterpreter.cpp)."""
    m = re.match(
        r"^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.*?)(?:\s+SETTINGS\s+.*)?$",
        sql.strip().rstrip(";"),
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ChSqlError(f"cannot parse DELETE statement {sql[:80]!r}")
    table, cond = m.group(1), m.group(2)
    if table not in TABLES:
        raise ChSqlError(f"table {table!r} was not created via ch_ddl")
    if "distributed_over" in TABLES[table]:
        raise ChSqlError("DELETE must target the local table, not the Distributed shell")
    from myscaledb_spark.sql_dialect import ch_sql

    store = f"{table}__store"
    # the reference's lightweight delete flips `_row_exists` to 0 — rows
    # stay in the part (and its indexes) but reads filter them out; NULL
    # conditions survive (DELETE removes only cond=true rows); the
    # condition goes through the full dialect rewrite
    masked = ch_sql(
        spark,
        f"SELECT * EXCEPT ({EXISTS}), "
        f"({EXISTS} AND NOT coalesce(({cond}), false)) AS {EXISTS} "
        f"FROM {store}",
    ).localCheckpoint(eager=True)
    masked.createOrReplaceTempView(store)
    _refresh_view(spark, table)
    parts = _active_parts(table)
    if parts:
        # a lightweight DELETE is a mutation: it allocates a block number
        # as its version and renames every existing part
        # `all_min_max_level_<version>` (MergeTreePartInfo mutation suffix;
        # 00031: DELETE after block 2 renames all_2_2_0 → all_2_2_0_3)
        version = _alloc_block(table)
        rename: dict[str, str] = {}
        for p in parts:
            old = _part_label(p)
            p["mut"] = version
            rename[old] = _part_label(p)
        # ch_script's DELETE hook propagates the rename into the index
        # registry's segment lineage
        TABLES[table]["last_mutation_rename"] = rename
    from myscaledb_spark.streaming.live_view import note_write

    note_write(table)


def truncate_table(spark: SparkSession, table: str) -> None:
    """TRUNCATE TABLE — drop every row, keep schema + engine metadata."""
    if table not in TABLES:
        raise ChSqlError(f"table {table!r} was not created via ch_ddl")
    schema = TABLES[table]["schema"]
    fields = ", ".join(f"{c} {t}" for c, t in schema)
    store = f"{table}__store"
    spark.createDataFrame(
        [], f"{fields}, {ISEQ} bigint, {EXISTS} boolean"
    ).createOrReplaceTempView(store)
    _refresh_view(spark, table)
    TABLES[table]["n_parts"] = 0
    TABLES[table]["n_rows"] = 0
    # TRUNCATE drops all parts WITHOUT consuming a block number (00031's
    # post-TRUNCATE INSERT lands on the next sequential block)
    if "parts" in TABLES[table]:
        TABLES[table]["parts"] = []
    from myscaledb_spark.streaming.live_view import note_write

    note_write(table)


def optimize_final(spark: SparkSession, sql: str) -> None:
    """`OPTIMIZE TABLE t FINAL [DEDUPLICATE]` — run the engine's merge to
    completion: the store is replaced by its fully-collapsed state, so
    subsequent plain SELECTs (no FINAL) see merged rows, exactly the
    reference's post-OPTIMIZE behavior."""
    m = re.match(
        # PARTITION narrows which parts merge; this store is one logical
        # part set, so the full merge is a superset of the asked work
        # (00616 `OPTIMIZE TABLE t PARTITION '201803' FINAL`)
        r"^\s*OPTIMIZE\s+TABLE\s+(\w+)(?:\s+PARTITION\s+\S+)?"
        r"(?:\s+FINAL)?(?P<dedup>\s+DEDUPLICATE)?\s*$",
        sql.strip().rstrip(";"),
        re.IGNORECASE,
    )
    if not m:
        raise ChSqlError(f"cannot parse OPTIMIZE statement {sql[:80]!r}")
    table = m.group(1)
    if table not in TABLES:
        raise ChSqlError(f"table {table!r} was not created via ch_ddl")
    if TABLES[table].pop("skip_next_merge", None):
        # an async vector index (re)build is in flight on some part: the
        # merge predicate refuses (VIBuilderUpdater merge gate — 00022);
        # OPTIMIZE returns without merging, parts stay as they are
        return
    from myscaledb_spark.sql_dialect import ch_sql

    meta = TABLE_ENGINES.get(table) or {}
    if meta.get("kind", "none") != "none":
        merged = ch_sql(spark, f"SELECT * FROM {table} FINAL")
    else:
        merged = spark.table(table)
    if m.group("dedup"):
        merged = merged.dropDuplicates()
    store = f"{table}__store"
    part_no = _SEQ[table]
    _SEQ[table] = part_no + 1
    # masked (lightweight-deleted) rows vacate on merge — the reference's
    # OPTIMIZE materializes the _row_exists filter physically
    new_store = merged.withColumn(
        ISEQ,
        (F.lit(part_no).cast("bigint") * F.lit(1 << 50))
        + F.monotonically_increasing_id(),
    ).withColumn(EXISTS, F.lit(True)).localCheckpoint(eager=True)
    new_store.createOrReplaceTempView(store)
    _refresh_view(spark, table)
    TABLES[table]["n_parts"] = 1
    parts = _active_parts(table)
    if parts:
        merged_part = {
            "min": min(p["min"] for p in parts),
            "max": max(p["max"] for p in parts),
            "level": max(p["level"] for p in parts) + 1,
            "mut": max(p.get("mut", 0) for p in parts),
        }
        # ch_script's OPTIMIZE hook turns this into the index registry's
        # decoupled-segment lineage (children stay LOADED under the merged
        # part, the merged part's own index is PENDING until rebuilt)
        TABLES[table]["last_merge"] = {
            "children": [_part_label(p) for p in parts],
            "merged": _part_label(merged_part),
        }
        TABLES[table]["parts"] = [merged_part]
    # the merged part is a DECOUPLED part when indexes existed (it carries
    # the source parts' index files); later mutations re-index it SLOWLY —
    # scripts still observe InProgress after their sleep polls (00017)
    TABLES[table]["merged_final"] = True


_ALTER_COLS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>\w+)\s+(?=(ADD\s+COLUMN|DROP\s+COLUMN|"
    r"ADD\s+CONSTRAINT|DROP\s+CONSTRAINT|MODIFY\s+COLUMN|RENAME\s+COLUMN|COMMENT\s+COLUMN))",
    re.IGNORECASE,
)


def alter_table_columns(spark: SparkSession, sql: str):
    """ALTER TABLE t ADD COLUMN / DROP COLUMN / ADD CONSTRAINT [, ...] —
    the reference's mutation-free metadata alters (ParserAlterQuery). ADD
    COLUMN materializes the DEFAULT expression over existing rows, exactly
    the reference's read-time default fill."""
    m = _ALTER_COLS_RE.match(sql)
    if not m:
        raise ChSqlError(f"unrecognized ALTER statement {sql[:80]!r}")
    table = m.group("table")
    if table not in TABLES:
        raise ChSqlError(f"table {table!r} was not created via ch_ddl")
    store = f"{table}__store"
    for action in _split_args(sql[m.end() :]):
        a = action.strip()
        am = re.match(
            # nested type parens (LowCardinality(Nullable(Int8)) — 00688);
            # dotted names = Nested subcolumns (`n.i8` — 00394)
            r"ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(?P<name>[\w.]+)`?\s+"
            r"(?P<type>\w+(?:\s*\((?:[^()]|\([^()]*\))*\))?)"
            r"(?:\s+DEFAULT\s+(?P<dflt>.+?))?"
            r"(?:\s+AFTER\s+\S+)?$",
            a, re.IGNORECASE | re.DOTALL,
        )
        if am:
            name = am.group("name")
            if any(c == name for c, _ in TABLES[table]["schema"]):
                continue  # IF NOT EXISTS semantics; duplicate adds are no-ops
            stype = ch_type_to_spark(am.group("type"))
            dflt = am.group("dflt")
            from myscaledb_spark.sql_dialect import NESTED_TABLES, _type_default
            from myscaledb_spark.sql_dialect import rewrite as _rw

            expr = _rw(dflt) if dflt else "NULL"
            if "." in name:
                # adding an Array subcolumn to an existing Nested family
                # KEEPS the shared offsets (DataTypeNested; 00394): the
                # default value per row is an array of type defaults SIZED
                # like the siblings — transform over the first sibling
                prefix, sub = name.rsplit(".", 1)
                fam = NESTED_TABLES.setdefault(table, {}).setdefault(
                    prefix, []
                )
                if dflt is None and fam and stype.startswith("array<"):
                    elem_t = stype[len("array<"):-1]
                    d0 = _type_default(elem_t) or "NULL"
                    expr = (
                        f"transform(`{prefix}.{fam[0]}`, "
                        f"_nv -> CAST({d0} AS {elem_t}))"
                    )
                if sub not in fam:
                    fam.append(sub)
            new = spark.sql(
                f"SELECT *, cast(({expr}) as {stype}) AS `{name}` FROM {store}"
            )
            # keep ISEQ the trailing column (insert_into appends by name, so
            # order only matters for readability)
            new.createOrReplaceTempView(store)
            TABLES[table]["schema"].append((name, stype))
            if TABLES[table].get("n_parts", 0) > 0:
                # pre-existing parts don't physically carry the new column
                # until MATERIALIZE COLUMN — vector search on it throws in
                # the reference (00037_mqvs_multiple_fix_non_exist_vector_
                # column: LOGICAL_ERROR); plain reads use the DEFAULT fill
                TABLES[table].setdefault("unmaterialized_cols", set()).add(name)
            _refresh_view(spark, table)
            continue
        dm = re.match(
            r"DROP\s+COLUMN\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)$", a, re.IGNORECASE
        )
        if dm:
            name = dm.group("name")
            if not any(c == name for c, _ in TABLES[table]["schema"]):
                continue
            spark.sql(f"SELECT * EXCEPT ({name}) FROM {store}").createOrReplaceTempView(store)
            TABLES[table]["schema"] = [
                (c, t) for c, t in TABLES[table]["schema"] if c != name
            ]
            _refresh_view(spark, table)
            continue
        if re.match(r"(ADD|DROP)\s+CONSTRAINT\b", a, re.IGNORECASE):
            # CHECK constraints verify on insert in the reference; our
            # constraint ops live in operators/constraints.py — the DDL
            # records nothing further here
            continue
        raise ChSqlError(f"unsupported ALTER action {a[:60]!r}")
    return None


def ch_ddl(spark: SparkSession, sql: str):
    """Single entry point for the DDL/DML statements ch_sql does not cover:
    CREATE TABLE → metadata dict, INSERT INTO → row count, DROP TABLE →
    None; plus the mutation/maintenance statements (DELETE, TRUNCATE,
    OPTIMIZE FINAL, SET, DETACH/ATTACH)."""
    s = _strip_backquotes(sql.strip().rstrip(";"))
    # CTAS first: a declared-column CTAS also matches the CREATE TABLE
    # shape, but the AS SELECT decides (00488)
    if _CTAS_RE.match(s):
        return create_table_as_select(spark, s)
    if _CREATE_RE.match(s):
        return create_table(spark, s)
    if _INSERT_RE.match(s):
        return insert_into(spark, s)
    if re.match(r"^\s*CREATE\s+LIVE\s+VIEW\b", s, re.IGNORECASE):
        from myscaledb_spark.streaming.live_view import create_live_view

        return create_live_view(s)
    if re.match(r"^\s*WATCH\b", s, re.IGNORECASE):
        from myscaledb_spark.streaming.live_view import watch_live_view

        return watch_live_view(spark, s)
    if re.match(r"^\s*CREATE\s+MATERIALIZED\s+VIEW\b", s, re.IGNORECASE):
        return create_materialized_view(spark, s)
    pvm = re.match(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(\w+)\s+AS\s+(.+)$",
        s, re.IGNORECASE | re.DOTALL,
    )
    if pvm:
        # an ordinary view is a stored query substituted at read time
        # (StorageView.cpp) — the live-view substitution table IS that
        # mechanism, so plain views register there (without WATCH epochs
        # mattering); 00330_view_subqueries
        from myscaledb_spark.streaming.live_view import (
            LIVE_VIEWS, WRITE_EPOCH, _source_tables,
        )

        name, query = pvm.group(2), pvm.group(3).strip()
        if re.search(r"\bsystem\.\w+", query, re.IGNORECASE):
            # bind system.* views NOW — at substitution time the statement
            # text no longer carries the system.* spelling (00330's
            # `CREATE VIEW v2 AS SELECT ... FROM system.numbers`)
            query = _bind_system_tables(spark, query, None)
        if name in LIVE_VIEWS and not pvm.group(1):
            raise ChSqlError(f"view {name!r} already exists")
        LIVE_VIEWS[name] = {
            "sql": query,
            "epochs": {t: WRITE_EPOCH.get(t, 0) for t in _source_tables(query)},
        }
        return None
    vm = re.match(
        r"^\s*DROP\s+VIEW\s+(?P<ie>IF\s+EXISTS\s+)?(\w+)\s*(?:SYNC)?\s*$",
        s, re.IGNORECASE,
    )
    if vm:
        from myscaledb_spark.streaming.live_view import drop_live_view

        drop_live_view(vm.group(2), if_exists=bool(vm.group("ie")))
        return None
    dm = re.match(
        r"^\s*DROP\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*(?:SYNC)?\s*$",
        s, re.IGNORECASE,
    )
    if dm:
        from myscaledb_spark.streaming.live_view import LIVE_VIEWS, drop_live_view

        if dm.group(1) in LIVE_VIEWS:
            # the reference accepts DROP TABLE on a live view too
            drop_live_view(dm.group(1))
            return None
        return drop_table(spark, dm.group(1))
    if re.match(r"^\s*SET\s+\w+\s*=", s, re.IGNORECASE):
        return set_statement(s)
    if re.match(r"^\s*DELETE\s+FROM\b", s, re.IGNORECASE):
        return delete_where(spark, s)
    tm = re.match(
        r"^\s*TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*(?:SYNC)?\s*$",
        s, re.IGNORECASE,
    )
    if tm:
        if tm.group(1).lower().startswith("system."):
            return None  # system log truncation: ch_script clears the registry log
        return truncate_table(spark, tm.group(1))
    if re.match(r"^\s*OPTIMIZE\s+TABLE\b", s, re.IGNORECASE):
        return optimize_final(spark, s)
    if _CREATE_SKIP_RE.match(s) or _ALTER_SKIP_RE.match(s) or _DROP_SKIP_RE.match(s):
        return skip_index_ddl(s)
    if _ALTER_COLS_RE.match(s):
        return alter_table_columns(spark, s)
    cm = re.match(
        r"^\s*CREATE\s+CONNECTION\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+(.+)$",
        s, re.IGNORECASE | re.DOTALL,
    )
    if cm:
        # object-storage credential object for getObject/ObjectToFetch
        # (InterpreterCreateConnectionQuery.cpp) — metadata only: the
        # multimodal fetch layer takes credentials from the Spark/Hadoop
        # conf, so the record just needs to round-trip system.connections
        props = {
            k.lower(): v
            for k, v in re.findall(r"(\w+)\s*=\s*'([^']*)'", cm.group(2))
        }
        CONNECTIONS[cm.group(1)] = props
        return None
    cdm = re.match(
        r"^\s*DROP\s+CONNECTION\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$", s, re.IGNORECASE
    )
    if cdm:
        if cdm.group(1) not in CONNECTIONS and "IF EXISTS" not in s.upper():
            raise ChSqlError(f"connection {cdm.group(1)!r} does not exist")
        CONNECTIONS.pop(cdm.group(1), None)
        return None
    mcm = re.match(
        r"^\s*ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+COLUMN\s+(\w+)"
        r"(?:\s+IN\s+PARTITION\s+\S+)?\s*$",
        s, re.IGNORECASE,
    )
    if mcm:
        # MATERIALIZE COLUMN writes the default into old parts
        # (AlterCommands::MATERIALIZE_COLUMN) — our ADD COLUMN already
        # filled the values, so this just clears the unmaterialized flag
        if mcm.group(1) not in TABLES:
            raise ChSqlError(f"table {mcm.group(1)!r} was not created via ch_ddl")
        TABLES[mcm.group(1)].get("unmaterialized_cols", set()).discard(
            mcm.group(2))
        return None
    mtm = re.match(
        r"^\s*ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+INDEX\s+(\w+)"
        r"(?:\s+IN\s+PARTITION\s+\S+)?\s*$",
        s, re.IGNORECASE,
    )
    if mtm:
        # MATERIALIZE INDEX builds the index over EXISTING parts
        # (AlterCommands::MATERIALIZE_INDEX) — for an fts declaration this
        # extends coverage back to part 0 (ADD INDEX alone covers only
        # parts written after it; 00040_mqvs_hybrid_search_with_lwd)
        if mtm.group(1) not in TABLES:
            raise ChSqlError(f"table {mtm.group(1)!r} was not created via ch_ddl")
        decl = TABLES[mtm.group(1)].get("fts_decl")
        if decl is not None and decl.get("name") in (None, mtm.group(2)):
            decl["covered_from_part"] = 0
        return None
    mm = re.match(
        r"^\s*ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+SETTING\s+(\w+)\s*=\s*(.+)$",
        s, re.IGNORECASE,
    )
    if mm:
        # MergeTree-settings knobs (build thresholds, merge tuning) have no
        # query semantics here — record them like CREATE ... SETTINGS does
        # (AlterCommands::MODIFY_SETTING), unknown names raise like SET
        if mm.group(1) not in TABLES:
            raise ChSqlError(f"table {mm.group(1)!r} was not created via ch_ddl")
        set_statement(f"SET {mm.group(2)} = {mm.group(3)}")
        TABLES[mm.group(1)].setdefault("settings", {})[mm.group(2)] = (
            mm.group(3).strip()
        )
        if mm.group(2).lower().endswith("_vector_search_metric_type"):
            from myscaledb_spark.sql_dialect import TABLE_VS_METRIC

            TABLE_VS_METRIC[mm.group(1)] = mm.group(3).strip().strip("'\"")
        return None
    am = re.match(
        r"^\s*(?P<verb>DETACH|ATTACH)\s+TABLE\s+(\w+)\s*(?:SYNC)?\s*$",
        s, re.IGNORECASE,
    )
    if am:
        # detach/attach round-trips on-disk state; views + registries are
        # already durable here, so data-wise the pair is a no-op — but a
        # detached table disappears from the system tables until re-attach
        # (00031: its vector_index_segments rows vanish while detached)
        if am.group(2) not in TABLES:
            from myscaledb_spark.streaming.live_view import LIVE_VIEWS

            if am.group(2) in LIVE_VIEWS:
                return None  # DETACH/ATTACH of a view alias: no-op (00508)
            raise ChSqlError(f"table {am.group(2)!r} was not created via ch_ddl")
        if am.group("verb").upper() == "DETACH":
            TABLES[am.group(2)]["detached"] = True
        else:
            TABLES[am.group(2)].pop("detached", None)
        return None
    if re.match(r"^\s*CREATE\s+FUNCTION\b", s, re.IGNORECASE):
        from myscaledb_spark.sql_dialect import create_sql_function

        return create_sql_function(s)
    if re.match(r"^\s*DROP\s+FUNCTION\b", s, re.IGNORECASE):
        from myscaledb_spark.sql_dialect import drop_sql_function

        return drop_sql_function(s)
    raise ChSqlError(f"unrecognized DDL statement: {s[:80]!r}")


def ch_script(spark: SparkSession, script: str, artifact_dir: str | None = None):
    """Run a multi-statement ClickHouse SQL script — the shape of the
    reference's own .sql test files (statements separated by top-level
    semicolons; string literals respected). Routing per statement:
    CREATE TABLE / INSERT / DROP TABLE → ch_ddl; ALTER TABLE ... ADD|DROP
    [VECTOR] INDEX and CREATE VECTOR INDEX → plans/ddl.alter_index_ddl
    against the statement's table (index artifacts land under
    ``artifact_dir``, a per-script temp dir by default); everything else →
    ch_sql. Returns the LAST statement's result."""
    import tempfile

    from myscaledb_spark.sql_dialect import TABLE_ENGINES, _string_mask, ch_sql

    mask = _string_mask(script)
    stmts, last = [], 0
    for i, c in enumerate(mask):
        if c == ";":
            stmts.append(script[last:i])
            last = i + 1
    stmts.append(script[last:])
    result = None
    n_content = sum(
        1 for x in stmts if x.strip() and not x.strip().startswith("--")
    )

    # Deferred vector-index builds — the reference builds asynchronously
    # (VectorIndicesMgr background pool), so scripts observe InProgress
    # right after ADD VECTOR INDEX and Built only after their own wait
    # idiom (a sleep() poll) or a real query.  We reproduce that timeline:
    # ADD records InProgress and queues here; the build itself runs at the
    # script's next synchronization point.  Pure status observations
    # (SELECTs over system.* with no sleep) do NOT flush; index DDL and
    # INSERTs don't either (the reference lets both proceed mid-build).
    # Deferred-build queue for this registry dir — module-level because
    # callers (the conformance harness, interactive use) feed statements
    # through SEPARATE ch_script calls sharing one artifact_dir; the async
    # timeline must span them.
    def _pending() -> list[tuple[str, str, str, str]]:
        if artifact_dir is None:
            return []
        return PENDING_BUILDS.setdefault(artifact_dir, [])

    def _flush_pending(
        kinds: tuple[str, ...] = ("build", "rebuild"),
        sleep_tick: bool = False,
    ) -> None:
        from myscaledb_spark.plans.ddl import alter_index_ddl
        from myscaledb_spark.plans.vector_index import IndexRegistry
        keep = []
        for ps, pt, _pn, klass in _pending():
            if TABLES.get(pt, {}).get("stop_build"):
                # SYSTEM STOP BUILD VECTOR INDICES parks this table's queue
                # until START (00037_mqvs_support_multiple_vector_indices
                # observes the decoupled state while builds are stopped)
                keep.append((ps, pt, _pn, klass))
                continue
            if klass.startswith("lazy:"):
                # a replicated table's param-deferred build failure: the
                # random-single-replica pool may schedule it on the OTHER
                # replica, so each sleep quantum only advances it one tick
                # (00033's replicated block still observes InProgress after
                # one sleep; 00019's sees the Error after several)
                n = int(klass.split(":")[1])
                if sleep_tick and n > 1:
                    keep.append((ps, pt, _pn, f"lazy:{n - 1}"))
                    continue
                # fall through: flush now
            elif klass not in kinds:
                keep.append((ps, pt, _pn, klass))
                continue
            meta = TABLE_ENGINES.get(pt) or {}
            idc = (meta.get("keys") or [None])[0]
            pdf = spark.table(pt)
            if idc is None:
                idc = next(
                    (c for c in ("id", "doc_id", "vec_id") if c in pdf.columns),
                    pdf.columns[0],
                )
            rec = alter_index_ddl(spark, ps, pdf, idc, artifact_dir)
            if isinstance(rec, dict) and rec.get("name"):
                IndexRegistry(artifact_dir).annotate(rec["name"], table=pt)
                _sync_index_segments(pt, rec["name"], artifact_dir)
        _pending()[:] = keep

    for stmt in stmts:
        s = stmt.strip()
        if not s or s.startswith("--"):
            continue
        s = _strip_backquotes(s)
        if _pending():
            low = _string_mask(s).lower()
            dm = re.match(r"^\s*drop\s+table\s+(?:if\s+exists\s+)?(\w+)", low)
            if dm:
                # DROP TABLE interrupts in-flight builds for that table
                # (00020: drop not blocked by a concurrently building index)
                _pending()[:] = [
                    p for p in _pending() if p[1] != dm.group(1)
                ]
            has_sleep = "sleep(" in low
            is_observation = (
                low.lstrip().startswith("select")
                and "system." in low
                and not has_sleep
            ) or (
                # narration echo (`SELECT '-- ...'`) — no FROM, no sleep:
                # the reference's test scripts print these between async
                # steps without waiting on builds (00037: the status line
                # after DROP+ADD must still observe InProgress)
                low.lstrip().startswith("select")
                and not re.search(r"\bfrom\b", low)
                and not has_sleep
            )
            is_index_ddl = bool(re.search(
                r"\b(add|drop)\s+(vector\s+)?index\b|\bcreate\s+vector\s+index\b",
                low))
            is_insert = bool(_INSERT_RE.match(s))
            is_optimize = bool(re.match(r"^\s*optimize\s+table\b", low))
            if is_optimize:
                # OPTIMIZE does NOT wait for async index builds — the
                # reference's merge predicate REFUSES to merge while a
                # part's vector index is still building (00022: the first
                # OPTIMIZE leaves all_0_0_0 + all_1_1_0 unmerged)
                om_ = re.match(r"^\s*optimize\s+table\s+(\w+)", low)
                if om_ and any(p[1] == om_.group(1) for p in _pending()):
                    TABLES.get(om_.group(1), {})["skip_next_merge"] = True
            if not (is_observation or is_index_ddl or is_insert or is_optimize):
                # a sleep quantum completes queued builds AND post-mutation
                # rebuilds (00037_mqvs_multiple_lwd observes Built one
                # sleep after the LWD) but advances a lazy replicated
                # failure only one tick (00033's replicated block) and
                # leaves decoupled-part re-indexes running (00017); a real
                # query forces everything
                _flush_pending(
                    ("build", "rebuild")
                    if has_sleep
                    else ("build", "build_slow", "rebuild", "rebuild_slow"),
                    sleep_tick=has_sleep,
                )
        if artifact_dir is not None:
            # distance() metric resolution reads the script's index registry
            import myscaledb_spark.sql_dialect as _dialect

            _dialect.CURRENT_REGISTRY_DIR = artifact_dir
        sbm = re.match(
            r"^\s*SYSTEM\s+(STOP|START)\s+BUILD\s+VECTOR\s+INDICES\s+(\w+)\s*$",
            s, re.IGNORECASE,
        )
        if sbm:
            # STOP parks the table's queued index (re)builds; START releases
            # them to the next flush point (VIBuilderUpdater stop flag —
            # 00037_mqvs_support_multiple_vector_indices drives a decoupled
            # merge under STOP and observes InProgress until START)
            if sbm.group(2) in TABLES:
                if sbm.group(1).upper() == "STOP":
                    TABLES[sbm.group(2)]["stop_build"] = True
                else:
                    TABLES[sbm.group(2)].pop("stop_build", None)
            result = None
            continue
        if re.match(
            r"^\s*SYSTEM\s+(FLUSH|RELOAD|DROP\s+\w*CACHE|STOP|START|SYNC|RESTART)\b",
            s, re.IGNORECASE,
        ):
            # maintenance commands for machinery Spark manages itself (log
            # flushing, merges, background index builds, replication) —
            # builds here are synchronous, merges are logical: no-ops
            result = None
            continue
        sm = re.match(r"^\s*SHOW\s+CREATE\s+TABLE\s+(\w+)\s*$", s, re.IGNORECASE)
        if sm:
            result = spark.createDataFrame(
                [(show_create_table(sm.group(1)),)], "statement string"
            )
            continue
        from myscaledb_spark.streaming.window_view import (
            is_window_view_ddl,
            window_view_ddl,
        )

        if is_window_view_ddl(s):
            result = window_view_ddl(spark, s)
            continue
        # skipping-index DDL (TYPE minmax/bloom_filter/...) routes to its
        # metadata registry, never to the vector/FTS artifact builders
        dsm = _DROP_SKIP_RE.match(s)
        if (
            _CREATE_SKIP_RE.match(s)
            or _ALTER_SKIP_RE.match(s)
            or (
                dsm
                and (
                    # the standalone `DROP INDEX ... ON t` form is always a
                    # skipping index in CH; the ALTER form is ambiguous with
                    # FTS drops, so only route names the skip registry knows
                    dsm.group("name") is not None
                    or any(
                        r["name"] == dsm.group("name2")
                        for recs in SKIP_INDICES.values() for r in recs
                    )
                )
            )
        ):
            result = skip_index_ddl(s)
            continue
        im = re.match(
            r"^\s*(?:ALTER\s+TABLE\s+(?P<t1>\w+)\s+(?:ADD|DROP)\s+(?:VECTOR\s+)?INDEX"
            r"|CREATE\s+VECTOR\s+INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?\w+\s+ON\s+(?P<t2>\w+)"
            r"|DROP\s+VECTOR\s+INDEX\s+(?:IF\s+EXISTS\s+)?\w+\s+ON\s+(?P<t3>\w+))",
            s,
            re.IGNORECASE,
        )
        if im:
            from myscaledb_spark.plans.ddl import alter_index_ddl

            table = im.group("t1") or im.group("t2") or im.group("t3")
            if artifact_dir is None:
                artifact_dir = tempfile.mkdtemp(prefix="ch_script_idx_")
            meta = TABLE_ENGINES.get(table) or {}
            id_col = (meta.get("keys") or [None])[0]
            df = spark.table(table)
            if id_col is None:
                for c in ("id", "doc_id", "vec_id"):
                    if c in df.columns:
                        id_col = c
                        break
                else:
                    id_col = df.columns[0]
            is_vec_add = bool(re.search(
                r"\badd\s+vector\s+index\b|\bcreate\s+vector\s+index\b",
                s, re.IGNORECASE))
            if not is_vec_add:
                # dropping a never-built pending index cancels its build
                # (the reference's drop-not-blocked-by-build)
                nm = re.search(r"INDEX\s+(?:IF\s+EXISTS\s+)?(\w+)", s,
                               re.IGNORECASE)
                if nm:
                    _pending()[:] = [
                        p for p in _pending() if p[2] != nm.group(1)
                    ]
            result = alter_index_ddl(
                spark, s, df, id_col, artifact_dir, defer_build=is_vec_add
            )
            fts_add = re.match(
                r"^\s*ALTER\s+TABLE\s+\w+\s+ADD\s+INDEX\s+"
                r"(?:IF\s+NOT\s+EXISTS\s+)?(\w+)[\s(].*\bTYPE\s+fts\b",
                s, re.IGNORECASE | re.DOTALL,
            )
            if fts_add and table in TABLES:
                # ADD INDEX ... TYPE fts covers only parts written FROM NOW
                # — pre-existing parts stay index-less until MATERIALIZE
                # INDEX (the reference's skip-index backfill rule)
                TABLES[table]["fts_decl"] = {
                    "name": fts_add.group(1),
                    "covered_from_part": TABLES[table].get("n_parts", 0),
                }
            if (is_vec_add and isinstance(result, dict)
                    and result.get("status") == "InProgress"):
                # builds on BIG tables outlive the script's sleep polls
                # (the reference's 500k-row MSTG/HNSW builds take minutes —
                # 00020_replicated / 00037_*_drop_vector_index pin
                # InProgress after the waits); they run only when a real
                # query needs the artifact
                klass = (
                    "build_slow"
                    if TABLES.get(table, {}).get("n_rows", 0) >= 100_000
                    else "build"
                )
                if (result.get("lazy_error")
                        and TABLES.get(table, {}).get("replicated")):
                    klass = "lazy:2"
                _pending().append((s, table, result["name"], klass))
                if (klass == "build"
                        and TABLES.get(table, {}).get("n_rows", 0) == 0):
                    # an index on an EMPTY table has nothing to build — the
                    # reference reports Built immediately (00015 observes
                    # Built on the very next statement, no sleep)
                    _flush_pending(("build",))
            if isinstance(result, dict) and result.get("name"):
                # record the owning table so system.vector_indices can
                # filter by it (the reference keys the registry per table)
                from myscaledb_spark.plans.vector_index import IndexRegistry

                try:
                    IndexRegistry(artifact_dir).annotate(
                        result["name"], table=table
                    )
                    _sync_index_segments(table, result["name"], artifact_dir)
                except KeyError:
                    pass  # IF EXISTS drop of a missing index: no record
            continue
        if re.match(
            r"^\s*TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?system\.vector_index_event_log\b",
            s, re.IGNORECASE,
        ):
            # clear the registry's event history (VIEventLog truncation)
            if artifact_dir is not None:
                from myscaledb_spark.plans.vector_index import IndexRegistry

                IndexRegistry(artifact_dir).clear_events()
            result = None
            continue
        if (
            _CREATE_RE.match(s)
            or _CTAS_RE.match(s)
            or _INSERT_RE.match(s)
            # SET needs its own test: the grouped regex below ends in \b,
            # which can never match after '=' (both neighbors non-word), so
            # SET statements silently fell through to Spark's own SET-conf
            # handler and were never recorded in SESSION_SETTINGS
            or re.match(r"^\s*SET\s+\w+\s*=", s, re.IGNORECASE)
            or re.match(
                r"^\s*(DROP\s+(?:TEMPORARY\s+)?TABLE|CREATE\s+FUNCTION|DROP\s+FUNCTION|"
                r"DELETE\s+FROM|TRUNCATE\s+TABLE|OPTIMIZE\s+TABLE|DETACH\s+TABLE|"
                r"ATTACH\s+TABLE|ALTER\s+TABLE\s+\w+\s+MODIFY\s+SETTING|"
                r"ALTER\s+TABLE\s+\w+\s+MATERIALIZE\s+(INDEX|COLUMN)|"
                r"CREATE\s+CONNECTION|DROP\s+CONNECTION|"
                r"CREATE\s+LIVE\s+VIEW|CREATE\s+MATERIALIZED\s+VIEW|"
                r"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW|"
                r"WATCH|DROP\s+VIEW)\b",
                s, re.IGNORECASE,
            )
            or _ALTER_COLS_RE.match(s)
        ):
            result = ch_ddl(spark, s)
            dtm = re.match(r"^\s*DROP\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)",
                           s, re.IGNORECASE)
            if dtm and artifact_dir is not None:
                # dropping a table drops its indexes with it (the reference
                # removes index metadata with the table — NO DefinitionDroped
                # row, just the cache/file cleanup: 00030's DROP TABLE trace
                # is CacheExpire, Cleared) — so a later CREATE + ADD of the
                # same names starts clean (00032)
                from myscaledb_spark.plans import frame_cache
                from myscaledb_spark.plans.vector_index import IndexRegistry

                reg = IndexRegistry(artifact_dir)
                for r in reg.list():
                    if (r.get("table") == dtm.group(1)
                            and r.get("status") not in (None, "Dropped")):
                        if r.get("status") == "Built":
                            frame_cache.evict_prefix(
                                os.path.join(artifact_dir, r["name"])
                            )
                            reg.add_event(r["name"], "CacheExpire",
                                          cache_resident=False)
                            reg.add_event(r["name"], "Cleared")
                        reg.reset(r["name"])
            dem = re.match(r"^\s*DETACH\s+TABLE\s+(\w+)", s, re.IGNORECASE)
            if dem and artifact_dir is not None:
                # DETACH evicts the table's resident index caches
                # (VICacheManager; 00030 logs CacheExpire) — the next
                # search's artifact read logs the LoadStart/LoadSucceed pair
                from myscaledb_spark.plans import frame_cache
                from myscaledb_spark.plans.vector_index import IndexRegistry

                reg = IndexRegistry(artifact_dir)
                for r in reg.list():
                    if (r.get("table") == dem.group(1)
                            and r.get("status") == "Built"):
                        frame_cache.evict_prefix(
                            os.path.join(artifact_dir, r["name"])
                        )
                        reg.add_event(r["name"], "CacheExpire",
                                      cache_resident=False)
            trm = re.match(
                r"^\s*TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*(?:SYNC)?\s*$",
                s, re.IGNORECASE,
            )
            if trm and artifact_dir is not None:
                # TRUNCATE removes every part: resident index caches expire
                # and the per-part index files are cleared (00030:
                # CacheExpire, Cleared)
                from myscaledb_spark.plans import frame_cache
                from myscaledb_spark.plans.vector_index import IndexRegistry

                reg = IndexRegistry(artifact_dir)
                for r in reg.list():
                    if (r.get("table") == trm.group(1)
                            and r.get("status") == "Built"):
                        frame_cache.evict_prefix(
                            os.path.join(artifact_dir, r["name"])
                        )
                        reg.add_event(r["name"], "CacheExpire",
                                      cache_resident=False)
                        reg.add_event(r["name"], "Cleared")
                    if r.get("segments"):
                        # every part is gone — the per-part segment lineage
                        # empties with them (00031: zero segment rows after
                        # TRUNCATE until the next INSERT rebuilds)
                        reg.annotate(r["name"], segments=[])
            mcm2 = re.match(
                r"^\s*ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+COLUMN\s+(\w+)",
                s, re.IGNORECASE,
            )
            if mcm2 and artifact_dir is not None:
                # the backfilled column unblocks failed index builds on it:
                # re-queue them (the reference rebuilds once the mutation
                # lands — 00037_mqvs_multiple_fix_non_exist)
                from myscaledb_spark.plans.vector_index import IndexRegistry

                t, c = mcm2.group(1), mcm2.group(2)
                reg = IndexRegistry(artifact_dir)
                for r in reg.list():
                    if (r.get("table") == t and r.get("column") == c
                            and r.get("status") == "Error" and r.get("expr")
                            and not any(p[2] == r["name"] for p in _pending())):
                        reg.set_status(r["name"], "InProgress")
                        _pending().append((
                            f"ALTER TABLE {t} ADD VECTOR INDEX {r['expr']}",
                            t, r["name"], "build",
                        ))
            delm = re.match(r"^\s*DELETE\s+FROM\s+(\w+)", s, re.IGNORECASE)
            if delm and artifact_dir is not None:
                # lightweight DELETE on an indexed table: affected Built
                # indexes rebuild asynchronously — status drops back to
                # InProgress until a query needs the artifact
                # (00016/00017: LWD triggers a part re-index)
                from myscaledb_spark.plans.vector_index import IndexRegistry

                t = delm.group(1)
                reg = IndexRegistry(artifact_dir)
                ren = TABLES.get(t, {}).pop("last_mutation_rename", None)
                if ren:
                    # the mutation renames every active part — the segment
                    # lineage follows (00031: DELETE renames all_2_2_0 →
                    # all_2_2_0_3 and its LOADED segment with it; decoupled
                    # child owners are historical names and stay)
                    for r in reg.list():
                        if r.get("table") == t and r.get("segments"):
                            reg.annotate(r["name"], segments=[
                                [ren.get(p, p), ren.get(o, o), i, st]
                                for p, o, i, st in r["segments"]
                            ])
                for r in reg.list():
                    if (r.get("table") == t and r.get("status") == "Built"
                            and r.get("expr")
                            and "fts" not in str(r.get("index_type", "")).lower()
                            and "type fts" not in str(r.get("expr", "")).lower()
                            and not any(p[2] == r["name"] for p in _pending())):
                        reg.set_status(r["name"], "InProgress")
                        # a DECOUPLED part (post-OPTIMIZE merge) re-indexes
                        # slowly: sleeps observe InProgress (00017); plain
                        # parts finish within a sleep (00037_multiple_lwd)
                        klass = (
                            "rebuild_slow"
                            if TABLES.get(t, {}).get("merged_final")
                            else "rebuild"
                        )
                        _pending().append((
                            f"ALTER TABLE {t} ADD VECTOR INDEX {r['expr']}",
                            t, r["name"], klass,
                        ))
            optm = re.match(r"^\s*OPTIMIZE\s+TABLE\s+(\w+)", s, re.IGNORECASE)
            if optm and artifact_dir is not None:
                # merge lineage for Built vector indexes
                # (MergeTreeDataMergerMutator + VIDescriptions):
                #   decouple (default): the merged part serves queries
                #   through its children's index files — child segments stay
                #   LOADED under the merged part, the merged part's OWN
                #   index is PENDING; enable_rebuild_for_decouple (default
                #   true) queues the full rebuild that collapses the lineage
                #   to one LOADED segment (00031 'auto build after merge',
                #   00032, 00034, 00037_support_multiple).
                #   enable_decouple_vector_index=false: no lineage — the
                #   merged part rebuilds from scratch (00034 second half).
                from myscaledb_spark.plans.vector_index import IndexRegistry

                t = optm.group(1)
                lm = TABLES.get(t, {}).pop("last_merge", None)
                if lm:
                    st = TABLES.get(t, {}).get("settings", {})
                    decouple = st.get(
                        "enable_decouple_vector_index", "true") != "false"
                    rebuild = st.get(
                        "enable_rebuild_for_decouple", "true") != "false"
                    reg = IndexRegistry(artifact_dir)
                    for r in reg.list():
                        if (r.get("table") != t or r.get("status") != "Built"
                                or not _is_vec_index_record(r)):
                            continue
                        segs = [[lm["merged"], lm["merged"], 0, "PENDING"]]
                        if decouple:
                            segs += [
                                [lm["merged"], c, i, "LOADED"]
                                for i, c in enumerate(lm["children"])
                            ]
                        reg.annotate(r["name"], segments=segs)
                        # a decoupled merge over MUTATED children (LWD'd
                        # parts) re-indexes SLOWLY even with
                        # enable_rebuild_for_decouple=false — status reads
                        # InProgress for the rest of the script
                        # (00017_replicated pins InProgress after the
                        # decoupled merge AND after later queries; 00022's
                        # clean-children merge stays Built)
                        mutated = any(
                            len(c.split("_")) > 4 for c in lm["children"]
                        )
                        queue_klass = None
                        if (rebuild or not decouple):
                            queue_klass = "rebuild"
                        elif decouple and mutated:
                            queue_klass = "rebuild_never"
                        if (queue_klass and r.get("expr")
                                and not any(
                                    p[2] == r["name"] for p in _pending())):
                            reg.set_status(r["name"], "InProgress")
                            _pending().append((
                                f"ALTER TABLE {t} ADD VECTOR INDEX {r['expr']}",
                                t, r["name"], queue_klass,
                            ))
            insm = _INSERT_RE.match(s)
            if insm and TABLES.get(insm.group("table"), {}).get("pending_vector_indices"):
                # inline VECTOR INDEX declarations build once data exists
                from myscaledb_spark.plans.ddl import alter_index_ddl
                from myscaledb_spark.plans.vector_index import IndexRegistry

                t = insm.group("table")
                if artifact_dir is None:
                    artifact_dir = tempfile.mkdtemp(prefix="ch_script_idx_")
                meta = TABLE_ENGINES.get(t) or {}
                idc = (meta.get("keys") or ["id"])[0]
                for ddl_stmt in TABLES[t].pop("pending_vector_indices"):
                    rec = alter_index_ddl(spark, ddl_stmt, spark.table(t), idc, artifact_dir)
                    if isinstance(rec, dict) and rec.get("name"):
                        IndexRegistry(artifact_dir).annotate(rec["name"], table=t)
                        _sync_index_segments(t, rec["name"], artifact_dir)
            if insm and artifact_dir is not None:
                # a new part lands on a table with BUILT vector indexes:
                # the reference builds the index on the inserted part
                # asynchronously (VIBuilderUpdater; 00030's post-INSERT
                # BuildStart..BuildSucceed trace) — status drops back to
                # InProgress until the queued rebuild completes, same
                # protocol as the lightweight-DELETE hook
                from myscaledb_spark.plans.vector_index import IndexRegistry

                t = insm.group("table")
                reg = IndexRegistry(artifact_dir)
                for r in reg.list():
                    if (r.get("table") == t and r.get("status") == "Built"
                            and r.get("expr")
                            and "fts" not in str(r.get("index_type", "")).lower()
                            and "type fts" not in str(r.get("expr", "")).lower()
                            and not any(p[2] == r["name"] for p in _pending())):
                        reg.set_status(r["name"], "InProgress")
                        _pending().append((
                            f"ALTER TABLE {t} ADD VECTOR INDEX {r['expr']}",
                            t, r["name"], "rebuild",
                        ))
        else:
            if re.search(r"\bsystem\.\w+", s, re.IGNORECASE):
                s = _bind_system_tables(spark, s, artifact_dir)
            if artifact_dir is not None and re.search(
                r"\b(distance|batch_distance|TextSearch|HybridSearch)\s*\(",
                s, re.IGNORECASE,
            ):
                # a search against a table whose Built index was evicted
                # (DETACH/ATTACH) re-loads it into the cache — VIEventLog
                # logs the LoadStart/LoadSucceed pair on first use
                # (00030's post-ATTACH query)
                from myscaledb_spark.plans.vector_index import IndexRegistry

                reg = IndexRegistry(artifact_dir)
                for r in reg.list():
                    if (r.get("status") == "Built"
                            and r.get("cache_resident") is False
                            and r.get("table")
                            and re.search(rf"\b{re.escape(r['table'])}\b", s)):
                        reg.add_event(r["name"], "LoadStart")
                        reg.add_event(
                            r["name"], "LoadSucceed", cache_resident=True
                        )
            result = ch_sql(spark, s)
    # A multi-statement script flushes at its end (builds nothing observed
    # are still materialized for API callers reusing artifact_dir).  A
    # single-statement call — the statement-at-a-time harness — keeps the
    # queue pending so the async timeline spans calls.
    if n_content > 1:
        _flush_pending(("build", "build_slow", "rebuild", "rebuild_slow"))
    return result


#: system.<table> names servable as temp views inside ch_script SELECTs
_SYSTEM_TABLES = ("vector_indices", "data_skipping_indices", "functions",
                  "vector_index_event_log", "query_log", "tables",
                  "merge_tree_settings", "zookeeper", "vector_index_segments",
                  "parts", "data_type_families", "connections", "one",
                  "numbers", "numbers_mt")


def _bind_system_tables(spark: SparkSession, s: str, artifact_dir: str | None) -> str:
    """Rewrite `system.<name>` references to temp views materialized from the
    live registries (attachSystemTables.cpp analog), so reference test
    SELECTs over system tables run verbatim."""
    from myscaledb_spark import introspection as intro

    used = {m.group(1).lower() for m in re.finditer(r"\bsystem\.(\w+)", s, re.IGNORECASE)}
    for name in used:
        if name not in _SYSTEM_TABLES:
            raise ChSqlError(f"system.{name} is not served by this engine")
        view = f"system_{name}"
        if name == "vector_indices":
            intro.system_vector_indices_ddl(spark, artifact_dir).createOrReplaceTempView(view)
        elif name == "data_skipping_indices":
            intro.system_data_skipping_indices(spark).createOrReplaceTempView(view)
        elif name == "functions":
            intro.system_functions(spark).createOrReplaceTempView(view)
        elif name == "vector_index_event_log":
            intro.system_vector_index_event_log(
                spark, artifact_dir
            ).createOrReplaceTempView(view)
        elif name == "query_log":
            intro.system_query_log(spark).createOrReplaceTempView(view)
        elif name == "tables":
            intro.system_tables(spark).createOrReplaceTempView(view)
        elif name == "merge_tree_settings":
            intro.system_merge_tree_settings(spark).createOrReplaceTempView(view)
        elif name == "zookeeper":
            intro.system_zookeeper(spark, artifact_dir).createOrReplaceTempView(view)
        elif name == "vector_index_segments":
            intro.system_vector_index_segments(spark, artifact_dir).createOrReplaceTempView(view)
        elif name == "parts":
            intro.system_parts(spark).createOrReplaceTempView(view)
        elif name == "data_type_families":
            intro.system_data_type_families(spark).createOrReplaceTempView(view)
        elif name == "connections":
            intro.system_connections(spark).createOrReplaceTempView(view)
        elif name == "one":
            intro.system_one(spark).createOrReplaceTempView(view)
        elif name in ("numbers", "numbers_mt"):
            if SESSION_SETTINGS.get("max_block_size", "").strip() == "0":
                # the reference refuses to FORM blocks of size 0
                # (PARAMETER_OUT_OF_BOUND, error 12 — 00694). Raising here
                # matters beyond parity: the expected-error protocol
                # otherwise force-collects the UNBOUNDED numbers stream to
                # find an error, which blows the driver heap and was the
                # r8 suite's JVM killer (death at the file AFTER 00694).
                raise ChSqlError(
                    "max_block_size = 0: block size must be positive "
                    "(reference PARAMETER_OUT_OF_BOUND)"
                )
            num = intro.system_numbers(spark)
            cap = SESSION_SETTINGS.get("max_rows_to_read")
            if (cap and str(cap).isdigit()
                    and SESSION_SETTINGS.get(
                        "read_overflow_mode", "").strip("'\"") == "break"):
                # read_overflow_mode='break' STOPS the unbounded numbers
                # stream at the guard instead of erroring
                # (00135_duplicate_group_by_keys_segfault)
                num = num.limit(int(cap))
            num.createOrReplaceTempView(view)
    return re.sub(r"\bsystem\.(\w+)", r"system_\1", s, flags=re.IGNORECASE)


_ENGINE_NAMES = {
    "none": "MergeTree",
    "replacing": "ReplacingMergeTree",
    "collapsing": "CollapsingMergeTree",
    "versioned_collapsing": "VersionedCollapsingMergeTree",
    "summing": "SummingMergeTree",
    "aggregating": "AggregatingMergeTree",
}

_SPARK_TO_CH = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32", "bigint": "Int64",
    "float": "Float32", "double": "Float64", "string": "String",
    "date": "Date", "timestamp": "DateTime", "boolean": "Bool",
}


def _spark_type_to_ch(t: str) -> str:
    if t in _SPARK_TO_CH:
        return _SPARK_TO_CH[t]
    m = re.fullmatch(r"array<(.*)>", t)
    if m:
        return f"Array({_spark_type_to_ch(m.group(1))})"
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", t)
    if m:
        return f"Decimal({m.group(1)}, {m.group(2)})"
    return t


def show_create_table(table: str) -> str:
    """≈ SHOW CREATE TABLE — reconstructed ClickHouse DDL from the metadata
    ch_ddl recorded (InterpreterShowCreateQuery.cpp renders the stored AST
    the same way). Round-trippable: the output parses back through ch_ddl."""
    if table not in TABLES:
        raise ChSqlError(f"table {table!r} was not created via ch_ddl")
    meta = TABLE_ENGINES[table]
    ch_types = TABLES[table].get("ch_types", {})
    eng = _ENGINE_NAMES[meta["kind"]]
    args = []
    if meta["kind"] == "collapsing":
        args = [meta["sign"]]
    elif meta["kind"] == "versioned_collapsing":
        args = [meta["sign"], meta["version"]]
    elif meta["kind"] == "replacing" and meta["version"] != ISEQ:
        args = [meta["version"]]
    elif meta["kind"] == "summing" and meta["sum_cols"]:
        args = ["(" + ", ".join(meta["sum_cols"]) + ")"]
    engine = eng + (f"({', '.join(args)})" if args else "")
    body = [
        f"`{c}` {ch_types.get(c) or _spark_type_to_ch(t)}"
        for c, t in TABLES[table]["schema"]
    ]
    # skip-index declarations render in the stored AST
    # (InterpreterShowCreateQuery — 00015 echoes INDEX + CONSTRAINT lines)
    body += [
        f"INDEX {r['name']} {r['expr']} TYPE {r['type']} "
        f"GRANULARITY {r['granularity']}"
        for r in SKIP_INDICES.get(table, [])
    ]
    body += TABLES[table].get("constraints_decl", [])
    out = (
        f"CREATE TABLE default.{table}\n(\n    "
        + ",\n    ".join(body)
        + f"\n)\nENGINE = {engine}"
    )
    pk = TABLES[table].get("pk_decl")
    ob = TABLES[table].get("ob_decl")
    if pk:
        out += f"\nPRIMARY KEY {pk}"
    order = ob or pk
    if order:
        out += f"\nORDER BY {order}"
    elif meta["keys"]:
        keys = meta["keys"]
        out += (
            f"\nORDER BY {keys[0]}" if len(keys) == 1
            else f"\nORDER BY ({', '.join(keys)})"
        )
    if meta.get("sample_by"):
        out += f"\nSAMPLE BY {meta['sample_by']}"
    ig = (TABLES[table].get("settings") or {}).get("index_granularity", "8192")
    out += f"\nSETTINGS index_granularity = {ig}"
    return out
