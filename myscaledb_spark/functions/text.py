"""Full-text (BM25) search — the reference's `textsearch()` /
`full_text_search()` surface, Spark-first.

Reference parity:
  - `textsearch(text_col, 'query')` → BM25-scored top-k, ORDER BY score DESC
    LIMIT k required (`src/Interpreters/TreeRewriter.cpp:1738-1741`), params
    operator OR/AND (`src/VectorIndex/Storages/VSDescription.h:72-95`).
  - Scoring engine is tantivy (`src/Storages/MergeTree/TantivyIndexStore.h`);
    tantivy's BM25 is the Lucene formula with k1=1.2, b=0.75 and
    idf = ln(1 + (N - df + 0.5) / (df + 0.5)).
  - BM25 stats are *table-global* so per-part scores are comparable —
    `collectStatisticForBM25Calculation` (`src/VectorIndex/Utils/
    CommonUtils.h:107`, `BM25InfoInDataParts.h:36-60`). Here that is a one-row
    corpus-stats aggregate broadcast into the scoring expression — the
    two-pass global-stats design falls out of Spark naturally.
  - Tokenizers: per-column config {raw | simple | stem | chinese}
    (`MergeTreeIndexTantivy.cpp:710-751`). v1 ships raw + simple (+ stem as
    simple+suffix-strip); the registry keeps the config shape.

Scale design: scoring needs only (a) one tiny global aggregate row
(N, avgdl, df per query term — computed in a single corpus pass, no explode,
no shuffle of tokens) cross-joined broadcast-style into (b) a per-row
expression computing tf from the token array. Everything is JVM higher-order
functions inside codegen; the only wide op is the final top-k
(TakeOrderedAndProject). A corpus under 8 GB stays resident per session in
tokenized form (`_resident_toked`; the memo layer is `memo.py`), with N,
avgdl and the df of every token computed once (`_corpus_stats`), so a
repeated query is one scoring job.  Every path — streaming, resident,
NLQ and the postings index (plans/fts_index.py, the scale path for
repeated querying) — computes its per-clause tf and dl its own way and
scores in ``bm25_scores_from_tf``, the one place the formula is written.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myscaledb_spark import memo
from myscaledb_spark.errors import InvalidSearchQuery, MAX_SEARCH_RESULT_WINDOW
from myscaledb_spark.session import collect_small, estimated_bytes

BM25_K1 = 1.2
BM25_B = 0.75

_TOKEN_SPLIT = "[^a-z0-9]+"


def tokenize(
    col: Column | str,
    tokenizer: str = "simple",
    stop_words: list[str] | None = None,
    length_limit: int | None = None,
    stem_languages: list[str] | None = None,
    spec=None,
) -> Column:
    """Token array for a string column.

    Tokenizer types mirror the reference's per-column tantivy config
    (`MergeTreeIndexTantivy.cpp:710-751`: type, stop_word_filters,
    stem_languages, length_limit; full JSON shape parsed by
    `functions.tokenizer_spec.parse_fts_config`):
      simple:  lowercase, split on non-alphanumerics, drop empties
      raw:     the whole value as a single token
      stem:    simple + per-language suffix strip (porter-lite;
               stem_languages picks the rule sets, default english)
      chinese: dictionary FMM segmentation for CJK runs (zh_tokenize.py),
               latin runs stay words; Arrow-batched pandas_udf
      chinese_char: deterministic char-unigram fallback (pure column expr)

    Filter chain follows tantivy's analyzer order:
    split → length_limit → stop-word removal → stemming.
    ``spec`` (a TokenizerSpec) overrides the individual arguments.
    """
    from myscaledb_spark.functions.tokenizer_spec import STEM_SUFFIX_RULES

    if spec is not None:
        tokenizer = spec.type
        stop_words = spec.stop_words() or None
        length_limit = spec.length_limit
        stem_languages = list(spec.stem_languages) or None
    col = F.col(col) if isinstance(col, str) else col
    stem_patterns: list[str] = []
    if tokenizer == "stem" or stem_languages:
        for lang in stem_languages or ["english"]:
            if lang not in STEM_SUFFIX_RULES:
                raise InvalidSearchQuery(f"unknown stem_language {lang!r}")
            stem_patterns.append(STEM_SUFFIX_RULES[lang])
    if tokenizer == "raw":
        toks = F.array(col)
    elif tokenizer in ("simple", "stem"):
        toks = F.filter(F.split(F.lower(col), _TOKEN_SPLIT), lambda x: x != "")
    elif tokenizer == "chinese":
        from myscaledb_spark.functions.zh_tokenize import fmm_tokenize_col

        toks = fmm_tokenize_col(col)
    elif tokenizer == "chinese_char":
        # isolate each CJK char with spaces, then split like 'simple'
        spaced = F.regexp_replace(F.lower(col), r"([\x{4e00}-\x{9fff}])", " $1 ")
        toks = F.filter(F.split(spaced, r"[^a-z0-9\x{4e00}-\x{9fff}]+"), lambda x: x != "")
    else:
        raise InvalidSearchQuery(f"unknown tokenizer {tokenizer!r}")
    if length_limit:
        toks = F.filter(toks, lambda t: F.length(t) <= length_limit)
    if stop_words:
        sw = F.array(*[F.lit(w) for w in stop_words])
        toks = F.filter(toks, lambda t: ~F.array_contains(sw, t))
    # NB closure factory, not a default-arg lambda: F.transform treats a
    # two-parameter lambda as (element, index).
    def _stripper(p: str):
        return lambda t: F.regexp_replace(t, p, "")

    for pat in stem_patterns:
        toks = F.transform(toks, _stripper(pat))
    return toks


def tokenize_any(
    col: Column | str, dtype: str, tokenizer: str = "simple"
) -> Column:
    """Tokenize String, Array(String), or Map columns (the reference indexes
    all three — `TreeRewriter.cpp:1712-1734`, mapKeys/mapValues)."""
    col = F.col(col) if isinstance(col, str) else col
    if dtype.startswith("array"):
        return F.flatten(F.transform(col, lambda e: tokenize(e, tokenizer)))
    if dtype.startswith("map"):
        return F.flatten(
            F.transform(F.map_values(col), lambda e: tokenize(e, tokenizer))
        )
    return tokenize(col, tokenizer)


def tokenize_query(
    query: str,
    tokenizer: str = "simple",
    stop_words: list[str] | None = None,
    length_limit: int | None = None,
    stem_languages: list[str] | None = None,
    spec=None,
) -> list[str]:
    """Query-side analyzer — must mirror ``tokenize``'s chain exactly so
    query terms land in the same normalized space as the indexed tokens.
    Unique, order-preserving: tantivy dedups identical query terms."""
    return list(dict.fromkeys(_analyze(
        query, tokenizer, stop_words, length_limit, stem_languages, spec
    )))


def _analyze(
    query: str,
    tokenizer: str = "simple",
    stop_words: list[str] | None = None,
    length_limit: int | None = None,
    stem_languages: list[str] | None = None,
    spec=None,
) -> list[str]:
    """``tokenize``'s chain on one driver-side string, repeats kept; an
    unknown tokenizer name raises, as ``tokenize`` does."""
    from myscaledb_spark.functions.tokenizer_spec import STEM_SUFFIX_RULES

    if spec is not None:
        tokenizer = spec.type
        stop_words = spec.stop_words() or None
        length_limit = spec.length_limit
        stem_languages = list(spec.stem_languages) or None
    if tokenizer == "raw":
        # the whole value is one token, but the filter chain below still
        # applies — tokenize() filters raw tokens too, and the two analyzers
        # must share one normalized space
        toks = [query]
    elif tokenizer == "chinese":
        from myscaledb_spark.functions.zh_tokenize import fmm_tokenize

        toks = fmm_tokenize(query) or []
    elif tokenizer == "chinese_char":
        spaced = re.sub("([一-鿿])", r" \1 ", query.lower())
        toks = [t for t in re.split("[^a-z0-9一-鿿]+", spaced) if t]
    elif tokenizer in ("simple", "stem"):
        toks = [t for t in re.split(_TOKEN_SPLIT, query.lower()) if t]
    else:
        raise InvalidSearchQuery(f"unknown tokenizer {tokenizer!r}")
    if length_limit:
        toks = [t for t in toks if len(t) <= length_limit]
    if stop_words:
        sw = set(stop_words)
        toks = [t for t in toks if t not in sw]
    if tokenizer == "stem" or stem_languages:
        for lang in stem_languages or ["english"]:
            if lang not in STEM_SUFFIX_RULES:
                raise InvalidSearchQuery(f"unknown stem_language {lang!r}")
            toks = [re.sub(STEM_SUFFIX_RULES[lang], "", t) for t in toks]
    return toks


def _toked(df: DataFrame, text_col: str, tokenizer: str, spec) -> DataFrame:
    """``df`` plus its token array ``_toks`` and doc length ``_dl``."""
    return df.withColumn(
        "_toks", tokenize(text_col, tokenizer, spec=spec)
    ).withColumn("_dl", F.size("_toks").cast("double"))


#: only corpora under this estimated input size get a resident cache —
#: the same cost-gate shape as the grouped-t-digest auto switch.  Above
#: it, direct search stays a streaming scan (the FTS postings artifact is
#: the intended scale path for repeated queries — build the index).
_RESIDENT_MAX_BYTES = 8 << 30


def _resident_toked(
    df: DataFrame, text_col: str, tokenizer: str, spec, create: bool = True
):
    """(df.* + _toks + _dl persisted, its BM25 stats record) from the
    session's memo (``memo.py``), or None when the corpus is too big or
    unfingerprintable and the caller should stream.  With ``create=False``
    a corpus without an entry streams too.

    The reference's tantivy index keeps the analyzed corpus resident; the
    direct (index-less) scan re-tokenized per query — and the per-query
    regexp/HOF tokenization was the whole cost of the direct BM25 gates
    (r9 VERDICT finding #4).  Keyed by the analyzed input plan + the full
    analyzer config, under the input files' fingerprint, so a different
    corpus, column, or tokenizer chain builds its own entry, and a rewritten
    input replaces its entry, also when the query then streams."""

    def build():
        from pyspark import StorageLevel

        toked = _toked(df, text_col, tokenizer, spec)
        return toked.persist(StorageLevel.MEMORY_AND_DISK), {}

    est = estimated_bytes(df)
    fp = memo.fingerprint(df) if 0 < est <= _RESIDENT_MAX_BYTES else None
    key = (memo.plan_key(df), text_col, tokenizer, repr(spec))
    # 8 slots: several corpora/tokenizers legitimately coexist in a session
    # (simple + stopword-spec + CJK gates)
    return memo.get(
        df.sparkSession, "text", key, fp, build if create else None, slots=8
    )


#: default ``resident`` argument of the scorers: look the corpus up
_LOOKUP = object()

#: bound on the complete-stats map of one resident corpus: the map costs
#: about 100 bytes of driver memory a token (488 KB for a 4,829-token
#: corpus), so at most ~6.5 MB per memo slot; a larger vocabulary keeps
#: the per-clause path
_CORPUS_STATS_MAX_TERMS = 1 << 16


def _corpus_stats(resident: DataFrame) -> tuple | None:
    """(N, avgdl, {token: df}) of ``resident`` in one job — one group-by over
    each doc's distinct tokens — or None above the small-input gate or with
    more than ``_CORPUS_STATS_MAX_TERMS`` tokens (the collect stops one row
    past the bound, on one shuffle partition so it stays one job).  Each
    doc also counts once, with its length, on its first exploded row
    (``posexplode_outer`` keeps a token-less doc as one NULL-token row), so
    the groups' partial counts and length sums add up to N and avgdl.  The
    lengths are integers, so the sum is exact and avgdl is bit-identical to
    ``avg(_dl)``."""
    ex = resident.select(
        F.posexplode_outer(F.array_distinct("_toks")).alias("_p", "_t"), "_dl"
    )
    first = F.col("_p").isNull() | (F.col("_p") == 0)
    dl = F.when(first, F.col("_dl"))
    rows = collect_small(
        ex.groupBy("_t").agg(
            F.count(F.lit(1)).cast("double").alias("_df"),
            F.count(F.when(first, 1)).alias("_n"),
            F.count(dl).alias("_ndl"),
            F.sum(dl).alias("_sdl"),
        ).limit(_CORPUS_STATS_MAX_TERMS + 1),
        sized=resident,
        **{"spark.sql.shuffle.partitions": "1"},
    )
    if rows is None or len(rows) > _CORPUS_STATS_MAX_TERMS:
        return None
    n = float(sum(r["_n"] for r in rows))
    ndl = sum(r["_ndl"] for r in rows)
    sdl = sum(r["_sdl"] for r in rows if r["_sdl"] is not None)
    terms = {r["_t"]: r["_df"] for r in rows if r["_t"] is not None}
    return n, (sdl / ndl if ndl else None), terms


def _resident_stats(resident: DataFrame, record: dict, keys, tf_of) -> tuple:
    """(n_docs, avgdl, [df per clause]) for a resident corpus, memoized in
    its stats record — the reference's index serves precomputed stats the
    same way (BM25InfoInDataParts.h).

    ``keys`` name the clauses: a str is a single token, a tuple a phrase;
    ``tf_of(key)`` builds a clause's tf column, only for a clause whose df
    is computed here.

    The first request on a corpus within the small-input gate and the
    vocabulary bound computes N, avgdl and the df of EVERY token in one job
    (``_corpus_stats``), so no later single-token lookup runs a job; a
    token absent from the map has df 0.0, exactly what ``sum(tf > 0)``
    gives.  df values are integer
    counts and the group-by's avgdl sums the same integer doc lengths as
    ``avg(_dl)``, so scores are bit-identical to a per-query stats pass.
    Phrase clauses (tuple keys), and every clause of a corpus without that
    map, take the per-clause path: their missing df in one agg over the
    resident corpus, kept in a per-term memo (``memo.terms``)."""
    if "n" not in record:
        full = _corpus_stats(resident)
        if full is not None:  # one update: a reader never sees "n" alone
            record.update(zip(("n", "avgdl", "terms"), full))
    terms = record.get("terms")

    def fetch(need):
        aggs = [
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.avg("_dl").alias("_avg"),
        ] + [
            F.sum(F.when(tf_of(ck) > 0, 1).otherwise(0)).cast("double")
            .alias(f"_d{i}")
            for i, ck in enumerate(need)
        ]
        row = resident.agg(*aggs).collect()[0]
        record.setdefault("n", row["_n"])
        record.setdefault("avgdl", row["_avg"])
        return {ck: row[f"_d{i}"] for i, ck in enumerate(need)}

    clauses = memo.terms(
        record.setdefault("clauses", {}),
        [ck for ck in keys if terms is None or not isinstance(ck, str)],
        fetch,
    )
    if "n" not in record:
        fetch([])

    def df_of(ck):
        return clauses[ck] if ck in clauses else terms.get(ck, 0.0)

    return record["n"], record["avgdl"], [df_of(ck) for ck in keys]


def bm25_scores(
    df: DataFrame,
    text_col: str,
    query: str,
    tokenizer: str = "simple",
    operator: str = "OR",
    score_name: str = "bm25_score",
    spec=None,
    resident=_LOOKUP,
) -> DataFrame:
    """Score every matching row with table-global BM25; no top-k applied.

    Plan shape: df → tokens/dl columns → one global agg row (N, avgdl, df_t
    for each query term, computed with conditional counts in ONE pass) →
    broadcast cross-join → scalar score expression → filter matches.

    ``spec`` (TokenizerSpec) carries the reference's per-column config —
    stop_word_filters / stem_languages / length_limit — through both the
    document and the query analyzer.

    ``resident`` is the caller's ``_resident_toked`` result for ``df``
    (None streams); by default it is looked up here.
    """
    terms = tokenize_query(query, tokenizer, spec=spec)
    if not terms:
        raise InvalidSearchQuery("empty text-search query after tokenization")

    res = resident
    if res is _LOOKUP:
        res = _resident_toked(df, text_col, tokenizer, spec)
    if res is None and tokenizer == "simple" and spec is None and all(
        re.fullmatch("[a-z0-9]+", t) for t in terms
    ):
        # the [a-z0-9]+ validation is structural for the simple analyzer
        # (terms come from splitting on non-alphanumerics) but guards the
        # regex interpolation below against any term carrying regex
        # metacharacters — such a term falls through to the tokenize()
        # path whose per-term equality filters need no escaping (r10 ADVICE)
        # fast path (r8 VERDICT finding #5 — the direct BM25 gates crept
        # toward the 2× bar): the 'simple' analyzer needs no token ARRAY —
        # dl is the count of [a-z0-9]+ runs and tf_t the count of t as a
        # whole token, each ONE regexp_count scan per row instead of
        # split + per-term array filters (the plan tokenizes the corpus
        # twice: once under the stats agg, once under scoring — this
        # halves the per-pass cost).  Counts are integers, so scores stay
        # bit-identical to the tokenize()-based path.
        # lower(text) ONCE via a two-level select (a single select inlines
        # the lower() into _dl and every per-term regexp_count); the match
        # filter is a single alternation regex with early exit instead of
        # the tf-derived OR, which would re-run every per-term regexp_count
        # under the pushed-down filter.
        lowered = df.select("*", F.lower(F.col(text_col)).alias("_low"))
        tfed = lowered.select(
            "*",
            F.regexp_count(F.col("_low"), F.lit("[a-z0-9]+")).cast("double").alias("_dl"),
            *[
                F.regexp_count(
                    F.col("_low"), F.lit(f"(?<![a-z0-9]){t}(?![a-z0-9])")
                ).cast("double").alias(f"_tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
        if operator.upper() == "AND":
            match = F.lit(True)
            for t in terms:
                match = match & F.col("_low").rlike(f"(?<![a-z0-9]){t}(?![a-z0-9])")
        else:
            alt = "|".join(terms)
            match = F.col("_low").rlike(f"(?<![a-z0-9])({alt})(?![a-z0-9])")
        return bm25_scores_from_tf(
            tfed, len(terms), operator, score_name, match_col=match
        ).drop("_low")

    stats = None
    if res is not None:
        # tf from the cached token arrays (integer counts) + literal stats
        # from the resident memo: a repeated query is ONE job — scoring +
        # top-k — with no stats pass and no broadcast build
        toked, record = res
        stats = _resident_stats(toked, record, terms, lambda t: term_tf("_toks", t))
    else:
        toked = _toked(df, text_col, tokenizer, spec)
    tfed = toked.select(
        "*", *[term_tf("_toks", t).alias(f"_tf_{i}") for i, t in enumerate(terms)]
    )
    return bm25_scores_from_tf(
        tfed, len(terms), operator, score_name, stats=stats,
        match_col=match_predicate("_toks", terms, operator),
    ).drop("_toks")


def term_tf(toks: Column | str, term: str) -> Column:
    """Per-row term frequency over a token-array column — THE tf definition
    every token-array BM25 path shares (streaming, resident-corpus scoring
    and its stats), so the scorers can never diverge.

    NB: F.filter's two-arg lambda form means (element, index) — bind the
    term via closure, single-arg lambda only."""
    c = F.col(toks) if isinstance(toks, str) else toks
    return F.size(F.filter(c, lambda x: x == F.lit(term))).cast("double")


def match_predicate(
    toks: Column | str, terms: list[str], operator: str = "OR"
) -> Column:
    """Cheap row-match predicate equivalent to the tf-based one.

    ``any tf_t > 0`` ⟺ ``arrays_overlap(toks, terms)`` (one short-circuit
    array pass) and ``all tf_t > 0`` ⟺ a conjunction of ``array_contains``
    — vs the OR/AND over per-term ``size(filter(toks, ...))`` counts, which
    Catalyst pushes below the tf projection and so evaluates every term's
    full filter-count HOF a second time per row (guide §7.2 duplicated
    subtrees).  Same rows pass by construction."""
    c = F.col(toks) if isinstance(toks, str) else toks
    if operator.upper() == "AND":
        cond = F.lit(True)
        for t in terms:
            cond = cond & F.array_contains(c, t)
        return cond
    return F.arrays_overlap(c, F.array(*[F.lit(t) for t in terms]))


def bm25_scores_from_tf(
    tfed: DataFrame,
    n_terms: int,
    operator: str = "OR",
    score_name: str = "bm25_score",
    stats: tuple[float, float, list[float]] | None = None,
    match_col: Column | None = None,
) -> DataFrame:
    """BM25 from precomputed per-clause frequencies: expects `_dl` (double)
    and `_tf_0.._tf_{n-1}` (double) columns.  The ONE scorer: plain BM25
    (``bm25_scores``), NLQ (``nlq_scores``, where a clause may be a phrase)
    and the postings index (``fts_index.fts_search``) all build their
    idf·norm sum here, so the float expression — and with it the
    association order (((0+s0)+s1)+s2) that keeps every path's scores
    bit-identical — exists once.  Without ``stats``, df_t = Σ [tf_t > 0]
    over ``tfed`` in one broadcast agg row.

    ``stats`` = (n_docs, avgdl, [df_0..df_{n-1}]) injects precomputed
    corpus statistics as LITERALS — no stats pass, no broadcast join; the
    reference's tantivy index serves stats the same way
    (BM25InfoInDataParts).  The literal doubles feed the identical float
    expression (Catalyst folds the idf with the JVM's Math.log), so scores
    stay bit-identical to the two-pass plan.

    ``match_col`` (see ``match_predicate``) replaces the tf-derived match
    filter with an equivalent cheap predicate so the pushed-down filter does
    not re-evaluate every per-term tf expression."""
    if stats is None:
        aggs = [
            F.count(F.lit(1)).cast("double").alias("_n_docs"),
            F.avg("_dl").alias("_avgdl"),
        ]
        for i in range(n_terms):
            aggs.append(
                F.sum(F.when(F.col(f"_tf_{i}") > 0, 1).otherwise(0))
                .cast("double")
                .alias(f"_df_{i}")
            )
        scored = tfed.crossJoin(F.broadcast(tfed.agg(*aggs)))
        nd, avgdl = F.col("_n_docs"), F.col("_avgdl")
        dfs = [F.col(f"_df_{i}") for i in range(n_terms)]
    else:
        scored = tfed
        nd, avgdl = F.lit(stats[0]), F.lit(stats[1])
        dfs = [F.lit(d) for d in stats[2]]

    score = F.lit(0.0)
    for i in range(n_terms):
        tf = F.col(f"_tf_{i}")
        idf = F.log(F.lit(1.0) + (nd - dfs[i] + F.lit(0.5)) / (dfs[i] + F.lit(0.5)))
        norm = tf * (BM25_K1 + 1.0) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("_dl") / avgdl)
        )
        score = score + F.when(tf > 0, idf * norm).otherwise(F.lit(0.0))
    if match_col is None:
        every = operator.upper() == "AND"
        match_col = functools.reduce(
            lambda a, b: (a & b) if every else (a | b),
            [F.col(f"_tf_{i}") > 0 for i in range(n_terms)],
        )
    out = scored.withColumn(score_name, score).filter(match_col)
    drop = ["_dl"] + [f"_tf_{i}" for i in range(n_terms)]
    if stats is None:
        drop += ["_n_docs", "_avgdl"] + [f"_df_{i}" for i in range(n_terms)]
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# natural-language query (enable_nlq) — quoted phrases, +must / -must_not
# (`src/VectorIndex/Storages/VSDescription.h:72-95`: textsearch params
# enable_nlq/operator; tantivy query-parser syntax)
# ---------------------------------------------------------------------------

_NLQ_RE = re.compile(r'([+-]?)"([^"]*)"|([+-]?)(\S+)')


def parse_nlq(query: str, tokenizer: str = "simple") -> list[dict]:
    """Parse tantivy-style NLQ syntax into clauses.

    `word` → optional term; `"a b c"` → phrase (consecutive tokens);
    `+x` → required; `-x` → prohibited. A bare term that tokenizes to
    several tokens (``foo-bar``) becomes a phrase, as tantivy does.  Each
    clause goes through ``tokenize_query``'s analyzer chain, repeats kept
    (a phrase matches its tokens in sequence).
    Returns [{"tokens": [...], "phrase": bool, "must": bool,
    "must_not": bool}, ...].
    """
    clauses = []
    for m in _NLQ_RE.finditer(query):
        if m.group(2) is not None:
            prefix, text = m.group(1), m.group(2)
        else:
            prefix, text = m.group(3), m.group(4)
        toks = _analyze(text, tokenizer)
        if not toks:
            continue
        clauses.append(
            {
                "tokens": toks,
                "phrase": len(toks) > 1,
                "must": prefix == "+",
                "must_not": prefix == "-",
            }
        )
    if not clauses:
        raise InvalidSearchQuery("empty NLQ query after tokenization")
    return clauses


def _clause_tf(toks_col: str, tokens: list[str]) -> Column:
    """Occurrences of a clause in the token array: plain term count, or for
    phrases the number of positions where the consecutive token run matches
    (overlaps counted, like positional-index phrase queries). Guarded for
    docs shorter than the phrase (sequence(1,0) is NOT empty in Spark — it's
    the descending [1,0]). Per-position match is an AND of element_at
    lookups — no slice(), so nothing allocates per position."""
    if len(tokens) == 1:
        return F.size(
            F.filter(toks_col, lambda x: x == F.lit(tokens[0]))
        ).cast("double")
    L = len(tokens)

    self_overlapping = any(tokens[s:] == tokens[: L - s] for s in range(1, L))
    if not self_overlapping:
        # Fast path, whole-stage-codegen string ops (no interpreted HOFs):
        # join tokens with a DOUBLED \x01 separator and count occurrences of
        # the phrase pattern that uses one separator char per boundary —
        # adjacent occurrences then don't contend for the shared separator,
        # so non-overlapping replace-count == positional count whenever the
        # phrase has no self-overlap (tokens can't contain \x01: every
        # tokenizer emits [a-z0-9]+ or CJK).
        sep = "\x01"
        s = F.concat(
            F.lit(sep * 2), F.array_join(toks_col, sep * 2), F.lit(sep * 2)
        )
        p = sep + (sep * 2).join(tokens) + sep
        return (
            (F.length(s) - F.length(F.replace(s, F.lit(p), F.lit(""))))
            / F.lit(len(p))
        ).cast("double")

    # self-overlapping phrase (e.g. "a a"): positional scan, overlaps counted
    n = F.size(toks_col)

    def _match(i: Column) -> Column:
        cond = F.element_at(toks_col, i) == F.lit(tokens[0])
        for j in range(1, L):
            cond = cond & (F.element_at(toks_col, i + j) == F.lit(tokens[j]))
        return cond

    return (
        F.when(n < L, F.lit(0))
        .otherwise(F.size(F.filter(F.sequence(F.lit(1), n - F.lit(L - 1)), _match)))
        .cast("double")
    )


def _clause_present(toks_col: str, tokens: list[str]) -> Column:
    """Cheap predicate ⟺ ``_clause_tf(toks_col, tokens) > 0``.

    Used for NLQ must/must_not/plain filtering so the pushed-down filter
    does not re-evaluate the full occurrence-counting expression per row
    (guide §7.2): single terms short-circuit with array_contains; phrases
    check substring containment of the same separator-joined form the
    counter uses (contains ⟺ count > 0 — identical occurrence definition);
    self-overlapping phrases fall back to the counter."""
    if len(tokens) == 1:
        return F.array_contains(F.col(toks_col), tokens[0])
    L = len(tokens)
    if any(tokens[s:] == tokens[: L - s] for s in range(1, L)):
        return _clause_tf(toks_col, tokens) > 0
    sep = "\x01"
    s = F.concat(F.lit(sep * 2), F.array_join(F.col(toks_col), sep * 2), F.lit(sep * 2))
    p = sep + (sep * 2).join(tokens) + sep
    return s.contains(p)


def nlq_scores(
    df: DataFrame,
    text_col: str,
    query: str,
    tokenizer: str = "simple",
    score_name: str = "bm25_score",
) -> DataFrame:
    """BM25 scoring with NLQ semantics: positive clauses (terms AND phrases)
    score with table-global stats — a phrase's df is the count of docs
    containing the consecutive run; `+` clauses are required, `-` clauses
    prohibited, plain clauses are OR'd. Same one-pass global-stats plan shape
    as ``bm25_scores``.
    """
    clauses = parse_nlq(query, tokenizer)
    pos = [c for c in clauses if not c["must_not"]]
    neg = [c for c in clauses if c["must_not"]]
    if not pos:
        raise InvalidSearchQuery("NLQ query needs at least one positive clause")

    res = _resident_toked(df, text_col, tokenizer, None)
    stats = None
    if res is not None:
        toked, record = res
        # a single-token clause is keyed by its token (the complete-stats
        # map answers it); a phrase by its token tuple, so repeated NLQ
        # queries reuse stats exactly like plain-term BM25
        stats = _resident_stats(
            toked, record,
            [c["tokens"][0] if len(c["tokens"]) == 1 else tuple(c["tokens"])
             for c in pos],
            lambda ck: _clause_tf("_toks", [ck] if isinstance(ck, str) else list(ck)),
        )
    else:
        toked = _toked(df, text_col, tokenizer, None)
    # prohibited clauses need no counted tf — the keep filter below uses the
    # cheap presence predicate directly
    for i, c in enumerate(pos):
        toked = toked.withColumn(f"_tf_{i}", _clause_tf("_toks", c["tokens"]))

    # keep/prohibit conditions use the cheap _clause_present predicates
    # (⟺ tf > 0 / tf == 0) so the pushed-down filter does not re-evaluate
    # every clause's full occurrence counter below the tf projection
    keep = F.lit(True)
    match_plain = F.lit(False)
    for c in pos:
        if c["must"]:
            keep = keep & _clause_present("_toks", c["tokens"])
        else:
            match_plain = match_plain | _clause_present("_toks", c["tokens"])
    if any(not c["must"] for c in pos):
        keep = keep & match_plain
    for c in neg:
        keep = keep & ~_clause_present("_toks", c["tokens"])
    return bm25_scores_from_tf(
        toked, len(pos), score_name=score_name, stats=stats, match_col=keep
    ).drop("_toks")


def _check_k(k) -> None:
    """A text search's top-k must be positive and within the result window."""
    if k is None or k <= 0:
        raise InvalidSearchQuery("text search requires a positive LIMIT (top-k)")
    if k > MAX_SEARCH_RESULT_WINDOW:
        raise InvalidSearchQuery(f"LIMIT {k} exceeds max_search_result_window")


def nlq_search(
    df: DataFrame,
    text_col: str,
    query: str,
    k: int,
    id_col: str | None = None,
    tokenizer: str = "simple",
    score_name: str = "bm25_score",
) -> DataFrame:
    """`textsearch(..., enable_nlq=1)` top-k with phrase / +must / -must_not."""
    _check_k(k)
    scored = nlq_scores(df, text_col, query, tokenizer, score_name)
    order = [F.col(score_name).desc()]
    if id_col:
        order.append(F.col(id_col).asc())
    return scored.orderBy(*order).limit(k)


def text_search(
    df: DataFrame,
    text_col: str,
    query: str,
    k: int,
    id_col: str | None = None,
    tokenizer: str = "simple",
    operator: str = "OR",
    score_name: str = "bm25_score",
    spec=None,
    artifact_dir: str | None = None,
    index_name: str = "fts",
    where=None,
    resident=_LOOKUP,
) -> DataFrame:
    """`textsearch` top-k: BM25 scores, ORDER BY score DESC LIMIT k
    (direction fixed-DESC as the reference enforces, TreeRewriter.cpp:1738).

    When ``artifact_dir`` names a directory whose registry holds a BUILT fts
    postings index (plans/fts_index.py), the query is routed through the
    index automatically — term-pruned postings scan instead of tokenizing
    the corpus, then a broadcast semi-join recovers the full rows — the
    reference's behavior of using the tantivy index transparently once it
    exists (MergeTreeIndexTantivy; the direct scan is the index-less
    fallback). Indexed and direct scores are bit-identical by construction
    (both score through ``bm25_scores_from_tf``). A missing or unbuilt
    index, and any ``where``, take the direct path, which takes
    ``resident`` as ``bm25_scores`` does: the index serves only a global
    top-k, which a filter applied afterwards would thin below k rows."""
    _check_k(k)
    if artifact_dir is not None and where is None:
        from myscaledb_spark.plans.vector_index import IndexRegistry

        if IndexRegistry.is_built(IndexRegistry(artifact_dir).get(index_name)):
            if id_col is None:
                raise InvalidSearchQuery(
                    "index-routed text_search needs id_col to join rows back"
                )
            from myscaledb_spark.plans.fts_index import fts_search

            cands = fts_search(
                df.sparkSession, artifact_dir, query, k,
                name=index_name, operator=operator, score_name=score_name,
            ).withColumnRenamed("doc_id", id_col)
            out = df.join(F.broadcast(cands), id_col).select(
                *df.columns, score_name
            )
            return out.orderBy(
                F.col(score_name).desc(), F.col(id_col).asc()
            ).limit(k)
    # NOTE (r5 experiment, reverted): a single-tokenization variant (persist
    # the narrow (id, dl, tf) sliver, then broadcast-
    # join the top-k ids back for full rows) was measured at sf0.1 and did
    # NOT pay: cheap analyzers are a wash (0.81 vs 0.80 s) and derived
    # corpora (the CJK gate derives its text column per scan) REGRESS ~20%
    # because the row-recovery scan re-runs the derivation while the cache/
    # checkpoint/join overhead stays. The two-scan plan below is the better
    # default; the artifact path (fts_index / artifact_dir routing above) is
    # the real answer when tokenization dominates.
    scored = bm25_scores(
        df, text_col, query, tokenizer, operator, score_name, spec=spec,
        resident=resident,
    )
    if where is not None:
        # ``where`` is the reference's filtered-search shape: BM25 stats
        # (df/N/avgdl) stay CORPUS-GLOBAL — the tantivy index computed them
        # at build time — and the predicate prunes candidates afterwards
        # (00040 'text search with WHERE clause' prints the same score for
        # the surviving doc as the unfiltered query does)
        scored = scored.filter(where)
    order = [F.col(score_name).desc()]
    if id_col:
        order.append(F.col(id_col).asc())
    return scored.orderBy(*order).limit(k)
