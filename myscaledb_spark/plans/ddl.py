"""Vector / FTS index DDL — the reference's `ALTER TABLE … ADD VECTOR INDEX`
surface (src/Parsers/ParserAlterQuery.cpp:113-114, ParserCreateIndexQuery.cpp:37)
so a MyScaleDB user can run their index DDL statements verbatim against this
engine:

    ALTER TABLE t ADD VECTOR INDEX [IF NOT EXISTS] v vec_col
        TYPE MSTG('metric_type=Cosine', 'alpha=4')
    ALTER TABLE t ADD INDEX ft text_col TYPE fts('{"type":"stem"}') GRANULARITY 1
    ALTER TABLE t DROP VECTOR INDEX [IF EXISTS] v

`alter_index_ddl` parses the statement, dispatches to the matching artifact
builder (plans/), and records it in the IndexRegistry (≈system.vector_indices).
`search_index` then answers top-k against any registered index by name,
dispatching on its recorded type — the analog of the reference routing a
search to whatever index the table declares.  It is the one type → searcher
dispatch: `operators.hybrid.hybrid_search_indexed` takes its vector leg from
it too.

Type mapping (tests/vector_search/benchmark.py:23 sweep):
  FLAT           -> registry-only record; searches run the exact brute-force path
  IVFFLAT        -> IVF inverted lists           (ncentroids)
  IVFPQ          -> product quantization + rerank (pq_m -> m, ks)
  IVFSQ          -> int8 scalar quantization + rerank (bits)
  HNSWFLAT       -> HNSW graph                   (m, ef_c)
  HNSWPQ/HNSWSQ  -> closest analog: PQ / SQ artifact (the graph-over-compressed
                    composition is a documented simplification)
  MSTG / SCANN   -> multi-scale tree + graph     (alpha -> num_leaves scale,
                    metric_type)
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from myscaledb_spark.errors import InvalidSearchQuery

_ADD_VEC = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+ADD\s+VECTOR\s+INDEX\s+"
    r"(?P<if_not_exists>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s+(?P<col>\w+)"
    r"(?:\s+TYPE\s+(?P<type>\w+)\s*(?:\((?P<params>.*)\))?)?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VEC = re.compile(
    r"^\s*(?:ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+)?DROP\s+VECTOR\s+INDEX\s+"
    r"(?P<if_exists>IF\s+EXISTS\s+)?(?P<name>\w+)"
    r"(?:\s+ON\s+(?P<table2>[\w.]+))?\s*$",
    re.IGNORECASE,
)
# the indexed column takes both forms: `ON t(col)` and `ON t col`
# (ParserCreateIndexQuery accepts a bare expression)
_CREATE_VEC = re.compile(
    r"^\s*CREATE\s+VECTOR\s+INDEX\s+(?P<if_not_exists>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s+"
    r"ON\s+(?P<table>[\w.]+)\s*(?:\(\s*(?P<col>\w+)\s*\)|\s(?P<col2>\w+))"
    r"(?:\s+TYPE\s+(?P<type>\w+)\s*(?:\((?P<params>.*)\))?)?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_FTS = re.compile(
    # the column takes both forms: `name col TYPE fts` and `name(col) TYPE
    # fts` (ParserCreateIndexQuery accepts a bare expression)
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+ADD\s+INDEX\s+"
    r"(?P<if_not_exists>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"(?:\(\s*(?P<colp>\w+)\s*\)|\s(?P<col>\w+))\s+"
    r"TYPE\s+fts\s*(?:\((?P<params>.*)\))?\s*(?:GRANULARITY\s+\d+)?\s*$",
    re.IGNORECASE | re.DOTALL,
)


#: index-build parameter names the reference's parseVSParameters accepts —
#: anything else is rejected at DDL time (vector_index_parameter_check=1,
#: the default; 00033_mqvs_incorrect_index_status.sql relies on the error)
_KNOWN_PARAMS = {
    "metric_type", "ncentroids", "nprobe", "m", "ef_c", "ef_s",
    "ef_construction", "ef_search", "alpha", "bits", "pq_m", "ks", "dim",
    "max_degree", "l_size", "build_quant", "search_quant", "disk_mode",
}


def _parse_params(raw: str | None) -> tuple[dict[str, str], list[str]]:
    """Reference param syntax: a comma list of 'key=value' string literals
    (00034_mqvs_vector_index_parameter_check.sh). Returns (params, unknown
    raw pieces) — the caller decides whether unknown keys fail the DDL or
    the build (vector_index_parameter_check)."""
    out: dict[str, str] = {}
    unknown: list[str] = []
    if not raw:
        return out, unknown
    for piece in re.findall(r"'([^']*)'", raw):
        if "=" in piece:
            k, v = piece.split("=", 1)
            key = k.strip().lower()
            if key not in _KNOWN_PARAMS:
                unknown.append(piece)
                continue
            out[key] = v.strip()
    return out, unknown


def compact_part_name(table: str) -> str:
    """The reference's single-compact-part name as the system views print
    it: replicated merges number blocks from 0 ('all_0_0_0'), plain
    MergeTree from 1 ('all_1_1_0') — 00019*.reference twin files differ in
    exactly this field."""
    try:
        from myscaledb_spark.plans.table_ddl import TABLES

        if (TABLES.get(table) or {}).get("replicated"):
            return "all_0_0_0"
    except ImportError:  # pragma: no cover
        pass
    return "all_1_1_0"


def alter_index_ddl(
    spark: SparkSession,
    sql: str,
    df: DataFrame | None,
    id_col: str,
    artifact_dir: str,
    defer_build: bool = False,
) -> dict:
    """Execute one index DDL statement against `df` (the 'table'), building
    the artifact under `artifact_dir`. Returns the registry record.

    ``defer_build=True`` emulates the reference's ASYNCHRONOUS build
    timeline (vector index builds run in a background pool;
    VectorIndicesMgr): every DDL-time check still runs (unknown-parameter
    raise, duplicate-name raise), but the record is left ``InProgress`` and
    the build itself — including build-time failures like a bad
    metric_type value — happens when the caller re-invokes without defer.
    ch_script uses this so reference scripts observe the same
    InProgress→Built/Error sequence at their own sync points."""
    from myscaledb_spark.plans.vector_index import IndexRegistry

    # compound ALTER: `ALTER TABLE t DROP VECTOR INDEX a, ADD VECTOR INDEX
    # a col TYPE ...` (00037_mqvs_multiple_drop_vector_index) — the
    # reference applies the comma-separated actions in order; split and
    # recurse, returning the LAST action's record
    cm = re.match(
        r"^(?P<head>\s*ALTER\s+TABLE\s+\w+\s+)(?P<body>.*)$",
        sql.strip().rstrip(";"), re.IGNORECASE | re.DOTALL,
    )
    if cm:
        parts = [p.strip() for p in cm.group("body").split(",")]
        # re-glue pieces that are NOT new actions (commas inside index
        # params like TYPE IVFFLAT('ncentroids=8','x=1') stay attached)
        actions: list[str] = []
        leading: list[str] = []
        for p in parts:
            if re.match(r"^(ADD|DROP)\s+(VECTOR\s+)?INDEX\b", p, re.IGNORECASE):
                actions.append(p)
            elif actions:
                actions[-1] += ", " + p
            else:
                leading.append(p)
        if actions and leading:
            # a piece BEFORE the first index action (e.g. MODIFY SETTING)
            # has no continuation to glue onto — executing only the index
            # actions would silently drop it (r7 ADVICE)
            raise InvalidSearchQuery(
                f"compound ALTER mixes index actions with {leading[0]!r}; "
                "run non-index actions as their own ALTER statement"
            )
        if len(actions) > 1:
            rec: dict = {}
            for a in actions:
                rec = alter_index_ddl(
                    spark, cm.group("head") + a, df, id_col, artifact_dir,
                    defer_build=defer_build,
                )
            return rec

    m = _DROP_VEC.match(sql)
    if m:
        reg = IndexRegistry(artifact_dir)
        name = m.group("name")
        if reg.get(name) is None:
            if not m.group("if_exists"):
                raise InvalidSearchQuery(f"vector index {name!r} does not exist")
            # IF EXISTS on a missing index is a pure no-op — writing a
            # "Dropped" record would fabricate a phantom system.vector_indices row
            return {"name": name, "status": "Dropped"}
        was_built = reg.is_built(reg.get(name))
        reg.set_status(name, "Dropped")
        if was_built:
            # 00030's VIEventLog trace for DROP VECTOR INDEX: the command
            # expires the cache entry, then the part-GC pass expires its
            # slot again and clears the index files on disk —
            # DefinitionDroped, CacheExpire, CacheExpire, Cleared
            from myscaledb_spark.plans import frame_cache

            frame_cache.evict_prefix(os.path.join(artifact_dir, name))
            reg.add_event(name, "CacheExpire", cache_resident=False)
            reg.add_event(name, "CacheExpire")
            reg.add_event(name, "Cleared")
        return {"name": name, "status": "Dropped"}

    m = _ADD_FTS.match(sql)
    if m:
        from myscaledb_spark.functions.tokenizer_spec import (
            parse_fts_config,
            parse_tokenizer,
        )
        from myscaledb_spark.plans.fts_index import build_fts_index

        if df is None:
            raise InvalidSearchQuery("ADD INDEX needs the table DataFrame")
        name, col = m.group("name"), m.group("col") or m.group("colp")
        existing = IndexRegistry(artifact_dir).get(name)
        if IndexRegistry.is_built(existing):
            if m.group("if_not_exists"):
                return existing
            raise InvalidSearchQuery(f"index {name!r} already exists")
        raw = (m.group("params") or "").strip()
        spec = None
        tokenizer = "simple"
        if raw:
            cfg = raw.strip("'\" ")
            try:
                obj = json.loads(cfg)
            except json.JSONDecodeError as e:
                raise InvalidSearchQuery(f"bad fts tokenizer config: {e}") from e
            # the reference DDL's config is PER-COLUMN:
            # '{"col": {"tokenizer": {...}}}' (MergeTreeIndexTantivy config);
            # a flat '{"type": ...}' tokenizer object is also accepted
            if obj and all(
                isinstance(v, dict) and "tokenizer" in v for v in obj.values()
            ):
                specs = parse_fts_config(obj)
                if col not in specs:
                    raise InvalidSearchQuery(
                        f"fts config has no entry for indexed column {col!r}"
                    )
                spec = specs[col]
                tokenizer = spec.type
            else:
                spec = parse_tokenizer(obj)
                tokenizer = obj.get("type", "simple")
        build_fts_index(
            df, col, id_col, artifact_dir, name=name, tokenizer=tokenizer, spec=spec
        )
        return IndexRegistry(artifact_dir).get(name)

    m = _ADD_VEC.match(sql) or _CREATE_VEC.match(sql)
    if not m:
        raise InvalidSearchQuery(f"unrecognized index DDL: {sql!r}")
    if df is None:
        raise InvalidSearchQuery("ADD VECTOR INDEX needs the table DataFrame")
    name = m.group("name")
    col = m.groupdict().get("col") or m.groupdict().get("col2")
    table = (m.groupdict().get("table") or "").split(".")[-1]
    raw_type = m.group("type")
    params, unknown = _parse_params(m.group("params"))
    if unknown:
        from myscaledb_spark.sql_dialect import PARAM_CHECK_DISABLED

        table = (m.groupdict().get("table") or "").split(".")[-1]
        if table not in PARAM_CHECK_DISABLED:
            raise InvalidSearchQuery(
                f"unknown vector index parameter(s) {unknown!r} "
                "(reference BAD_ARGUMENTS, parseVSParameters.cpp)"
            )
        # vector_index_parameter_check=0: the DDL passes and the BUILD
        # fails — status Error with the reference's fail fields
        # (00033_mqvs_incorrect_index_status.sql)
        reg = IndexRegistry(artifact_dir)
        prior = reg.get(name)
        if prior is not None and (
            prior.get("table") not in (None, "", table)
            or prior.get("status") == "Dropped"
        ):
            # same name on another table OR re-added after DROP: fresh
            # lifecycle — new seq (lists after surviving indexes) and no
            # stale fail fields (00037_replicated_multiple_build_status)
            reg.reset(name)
        expr_txt = f"{name} {col} TYPE {m.group('type')}({m.group('params')})"
        if defer_build:
            # param_check=0 defers the FAILURE to the background build.
            # For the MSTG family the reference validates params deep in
            # the (slow) build pipeline — a replicated table's poll can
            # still observe InProgress after a sleep (00033's replicated
            # block); IVF/HNSW reject params at build start, so their
            # Error lands by the first sync point (00019).  lazy_error
            # marks the slow-path case for ch_script's tick scheduling.
            itype0 = (m.group("type") or "MSTG").upper()
            reg.set_status(
                name, "InProgress", column=col,
                index_type=itype0,
                declared_type=m.group("type"), expr=expr_txt,
                lazy_error=itype0 in ("MSTG", "SCANN"),
            )
            return reg.get(name)
        reg.set_status(
            name, "Error", column=col,
            index_type=(m.group("type") or "MSTG").upper(),
            declared_type=m.group("type"), expr=expr_txt,
            latest_failed_part=compact_part_name(table),
            latest_fail_reason=(
                "VectorIndex: Error in Build Index, "
                f"Error(UNSUPPORTED_PARAMETER): Unknown parameter: {unknown[0]}"
            ),
        )
        return reg.get(name)
    itype = (raw_type or "DEFAULT").upper()
    expr_type = raw_type or "DEFAULT"  # verbatim, for system.vector_indices
    if m.group("params") is not None:
        expr_type = f"{raw_type}({m.group('params')})"
    is_binary = False
    if col in df.columns:
        dt = dict(zip(df.columns, [f.dataType.typeName() for f in df.schema.fields]))[col]
        is_binary = dt in ("string", "binary")
    if itype == "DEFAULT":
        # TYPE omitted / TYPE default resolves to the reference's default
        # index kind: MSTG for float vectors, BinaryMSTG for FixedString
        # binary vectors (VIUtils getDefaultIndexType)
        itype = "BINARYMSTG" if is_binary else "MSTG"
    metric = params.get("metric_type", "Hamming" if is_binary else "L2")

    allowed_metrics = {"HAMMING", "JACCARD"} if is_binary else {"L2", "IP", "COSINE"}
    if metric.upper() not in allowed_metrics and not defer_build:
        # the DDL passes; the BUILD fails with BAD_ARGUMENTS — the exact
        # fail fields of 00019_mqvs_add_fail_status (including the
        # reference's 'metirc' typo, VectorIndexCommon.h getMetricType)
        kindname = "Binary" if is_binary else "Float32"
        reg = IndexRegistry(artifact_dir)
        reg.set_status(
            name, "Error", column=col, index_type=itype,
            declared_type=raw_type, expr=f"{name} {col} TYPE {expr_type}",
            latest_failed_part=compact_part_name(table),
            latest_fail_reason=(
                "VectorIndex: Error in Build Index, Error(BAD_ARGUMENTS): "
                f"Unknown metirc type for {kindname} Vector: {metric.upper()}"
            ),
        )
        return reg.get(name)

    existing = IndexRegistry(artifact_dir).get(name)
    # duplicate names are per-TABLE (the reference keys indexes in each
    # table's metadata): a same-named index on ANOTHER table overwrites the
    # shared artifact slot instead of raising
    if (IndexRegistry.is_built(existing)
            and existing.get("table") in (None, "", table)):
        if m.group("if_not_exists"):
            return existing  # idempotent: no rebuild
        raise InvalidSearchQuery(f"vector index {name!r} already exists")
    if existing is not None and (
        existing.get("table") not in (None, "", table)
        or existing.get("status") == "Dropped"
    ):
        # fresh lifecycle (other-table redeclare or re-add after DROP):
        # new declaration order, no stale fail fields
        IndexRegistry(artifact_dir).reset(name)
        existing = None

    if defer_build:
        reg = IndexRegistry(artifact_dir)
        reg.set_status(
            name, "InProgress", column=col, index_type=itype,
            declared_type=raw_type, expr=f"{name} {col} TYPE {expr_type}",
        )
        return reg.get(name)

    try:
        from myscaledb_spark.plans.table_ddl import TABLES as _TABLES

        unmat = _TABLES.get(table, {}).get("unmaterialized_cols") or set()
    except ImportError:  # pragma: no cover
        unmat = set()
    if col in unmat:
        # the column was ADDed after parts existed and is not materialized:
        # the build cannot read it from old parts — status Error until
        # MATERIALIZE COLUMN backfills (00037_mqvs_multiple_fix_non_exist)
        reg = IndexRegistry(artifact_dir)
        reg.set_status(
            name, "Error", column=col, index_type=itype,
            declared_type=raw_type, expr=f"{name} {col} TYPE {expr_type}",
            latest_failed_part=compact_part_name(table),
            latest_fail_reason=(
                "VectorIndex: Error in Build Index, Error(LOGICAL_ERROR): "
                f"column {col} is missing in part"
            ),
        )
        return reg.get(name)

    # only FLAT (searched via vector_topk) and IVFFLAT take a metric; the
    # PQ/SQ/HNSW/MSTG analogs are L2-only — a non-L2 declaration falls back
    # to the exact FLAT path carrying the declared metric (never silently
    # rank a Cosine/IP-declared index by L2; the reference builds the graph
    # with the metric, we serve the same results from the exact scan)
    if itype not in ("FLAT", "IVFFLAT", "BINARYMSTG", "BINARYFLAT") and metric.upper() not in ("L2",):
        reg = IndexRegistry(artifact_dir)
        reg.set_status(
            name, "Built", column=col, index_type="FLAT", metric=metric,
            declared_type=itype, expr=f"{name} {col} TYPE {expr_type}",
        )
        return reg.get(name)

    def _annotate_and_get():
        reg = IndexRegistry(artifact_dir)
        # system.vector_indices shows the type as WRITTEN in the DDL
        # ('IVFFlat' stays IVFFlat, 00018), except TYPE default which
        # resolves to the default kind (00041)
        display = {"BINARYMSTG": "BinaryMSTG", "BINARYFLAT": "BinaryFLAT"}.get(itype, itype)
        if raw_type and raw_type.upper() not in ("DEFAULT",):
            display = raw_type
        reg.annotate(
            name,
            declared_type=display,
            expr=f"{name} {col} TYPE {expr_type}",
        )
        return reg.get(name)

    if itype in ("FLAT", "BINARYMSTG", "BINARYFLAT"):
        # FLAT is definitionally exact; the Binary* analogs serve binary
        # vectors (FixedString) from the exact Hamming/Jaccard scan
        reg = IndexRegistry(artifact_dir)
        reg.set_status(
            name, "Built", column=col, index_type="FLAT", metric=metric
        )
        return _annotate_and_get()
    if itype == "IVFFLAT":
        from myscaledb_spark.plans.vector_index import build_ivf_index

        build_ivf_index(
            df, col, id_col, artifact_dir, name=name,
            num_centroids=int(params.get("ncentroids", 16)), metric=metric,
        )
    elif itype in ("IVFPQ", "HNSWPQ"):
        from myscaledb_spark.plans.pq_index import build_pq_index

        build_pq_index(
            df, col, id_col, artifact_dir, name=name,
            m=int(params.get("pq_m", params.get("m", 8))),
            ks=int(params.get("ks", 16)),
        )
    elif itype in ("IVFSQ", "HNSWSQ"):
        from myscaledb_spark.plans.sq_index import build_sq_index

        build_sq_index(
            df, col, id_col, artifact_dir, name=name,
            bits=int(params.get("bits", 8)),
        )
    elif itype == "HNSWFLAT":
        from myscaledb_spark.plans.hnsw_index import build_hnsw_index

        build_hnsw_index(
            df, col, id_col, artifact_dir, name=name,
            m=int(params.get("m", 8)),
            ef_construction=int(params.get("ef_c", 32)),
        )
    elif itype in ("MSTG", "SCANN"):
        from myscaledb_spark.plans.mstg_index import build_mstg_index

        build_mstg_index(
            df, col, id_col, artifact_dir, name=name,
            num_leaves=int(params.get("alpha", 4)) * 4,
            m=int(params.get("m", 8)),
            ef_construction=int(params.get("ef_c", 32)),
        )
    else:
        raise InvalidSearchQuery(
            f"unknown vector index type {itype!r} (supported: FLAT, IVFFLAT, "
            "IVFPQ, IVFSQ, HNSWFLAT, HNSWPQ, HNSWSQ, MSTG, SCANN)"
        )
    return _annotate_and_get()


def search_index(
    spark: SparkSession,
    artifact_dir: str,
    name: str,
    qvec,
    k: int,
    df: DataFrame | None = None,
    vec_col: str | None = None,
    id_col: str = "id",
    metric: str | None = None,
    **search_params,
) -> DataFrame:
    """Top-k against a registered index, the one place a record's
    ``index_type`` picks the searcher.  FLAT needs the table back (`df`,
    `vec_col`) since it has no artifact; every other type searches its
    artifact files, returning (``id_col``, dist).  ``id_col`` and `metric`
    reach every searcher that takes them, and `vec_col` reaches IVF, whose
    lists keep the table's columns.  `metric` and `vec_col` default to the
    metric and column the DDL declared (registry record) — pass them only
    to override.
    ``search_params`` go to the searcher (nprobe=, ef_search=, ...)."""
    from myscaledb_spark.plans import hnsw_index, mstg_index, pq_index, sq_index
    from myscaledb_spark.plans import vector_index

    rec = vector_index.IndexRegistry(artifact_dir).built(name, InvalidSearchQuery)
    itype = (rec.get("index_type") or "").upper()
    if metric is None:
        # FLAT records metric at top level; IVF keeps it in build params
        metric = (
            rec.get("metric") or (rec.get("params") or {}).get("metric") or "L2"
        )
    if itype == "FLAT":
        from myscaledb_spark.operators.topk import vector_topk

        if df is None or vec_col is None:
            raise InvalidSearchQuery("FLAT search needs (df, vec_col)")
        return vector_topk(df, vec_col, qvec, k, metric, None, id_col)
    # recorded type (and its DDL aliases) → (searcher, the shared arguments
    # it takes besides id_col)
    ivf = (
        vector_index.ivf_search,
        {"metric": metric, "vec_col": vec_col or rec.get("column")},
    )
    pq = (pq_index.pq_search, {"metric": metric})
    sq = (sq_index.sq_search, {"metric": metric})
    hnsw = (hnsw_index.hnsw_search, {})
    mstg = (mstg_index.mstg_search, {})
    searchers = {
        "IVF": ivf, "IVFFLAT": ivf,
        "PQ": pq, "PQFLAT": pq, "IVFPQ": pq, "HNSWPQ": pq,
        "SQ": sq, "IVFSQ": sq, "HNSWSQ": sq,
        "HNSW": hnsw, "HNSWFLAT": hnsw,
        "MSTG": mstg, "SCANN": mstg,
    }
    if itype not in searchers:
        raise InvalidSearchQuery(f"index {name!r} has unknown type {itype!r}")
    searcher, shared = searchers[itype]
    shared = {a: v for a, v in shared.items() if v is not None}
    return searcher(
        spark, artifact_dir, qvec, k, name=name, id_col=id_col, **shared,
        **search_params,
    )
