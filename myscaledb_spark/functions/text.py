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
(TakeOrderedAndProject). A corpus at or below
``session.DRIVER_RESIDENT_BYTES`` is collected once into a driver snapshot
(``resident.py``, kept in ``memo.py``'s ``text`` namespace and looked up by
``_snapshot``) whose postings answer a plain top-k query with no Spark job
and give every other query its N, avgdl and single-token df.  A larger or
unfingerprintable corpus streams: each query tokenizes it and computes its
stats in the same plan; a built FTS index (``text_search(artifact_dir=)``)
is the path for repeated queries over it.
Every path — streaming, resident, driver, NLQ and the postings index
(plans/fts_index.py, the scale path for repeated querying) — computes its
per-clause tf and dl its own way and scores through ``bm25_sum``, the one
place the formula is written.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myscaledb_spark import memo
from myscaledb_spark.errors import InvalidSearchQuery, MAX_SEARCH_RESULT_WINDOW
from myscaledb_spark.session import estimated_bytes

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


def _toked(
    df: DataFrame, text_col: str, tokenizer: str, spec,
    toks: str = "_toks", dl: str = "_dl",
) -> DataFrame:
    """``df`` plus its token array ``toks`` and doc length ``dl``."""
    return df.withColumn(
        toks, tokenize(text_col, tokenizer, spec=spec)
    ).withColumn(dl, F.size(toks).cast("double"))


def _snapshot(df: DataFrame, create: bool = True):
    """``df``'s driver snapshot (``resident.Snapshot``) from the session's
    memo (``memo.py``), built by one Spark job when missing (``create``);
    None when ``df`` is estimated above ``session.DRIVER_RESIDENT_BYTES`` or
    cannot be fingerprinted, and the caller streams (a built FTS index is
    the scale path for repeated queries over such a corpus).  Every search
    over the input plan shares it: one entry per plan, not per column or
    analyzer (a snapshot derives each analyzer's postings itself).

    The reference's tantivy index keeps the analyzed corpus resident; the
    direct (index-less) scan re-tokenized per query — and the per-query
    regexp/HOF tokenization was the whole cost of the direct BM25 gates
    (r9 VERDICT finding #4).

    An entry keeps the estimate its input passed the gate with, so a hit
    is only fingerprinted, never sized again (the estimate is an optimizer
    run).  A plan without an entry is sized before it is fingerprinted, so
    a large or many-file input is never stat'ed, and an input rewritten
    since its entry was built is sized again before it is rebuilt; the
    stale entry is released either way, also when the query then
    streams."""
    from myscaledb_spark import resident, session

    spark, key = df.sparkSession, memo.plan_key(df)
    fp = memo.fingerprint(df) if memo.has(spark, "text", key) else None
    hit = memo.get(spark, "text", key, fp)  # a lookup: releases a stale entry
    if hit is not None and hit[0] <= session.DRIVER_RESIDENT_BYTES:
        return hit[1]
    est = estimated_bytes(df) if create else 0
    if not 0 < est <= session.DRIVER_RESIDENT_BYTES:
        return None
    if fp is None:
        fp = memo.fingerprint(df)
    got = memo.get(spark, "text", key, fp, lambda: (est, resident.build(df)))
    return None if got is None else got[1]


#: default ``resident`` argument of the scorers: look the corpus up
_LOOKUP = object()


def _resident_stats(snap, text_col, tokenizer, spec, keys, tf_of, streamed):
    """(n_docs, avgdl, [df per clause]) from ``snap``'s postings — the
    reference's index serves precomputed stats the same way
    (BM25InfoInDataParts.h).  ``keys`` name the clauses: a str is a single
    token, a tuple a phrase; ``tf_of(key)`` builds a clause's tf column.

    N, avgdl and every single token's df come from the postings: an absent
    token has df 0.0, exactly what ``sum(tf > 0)`` gives, and avgdl sums the
    same integer doc lengths as ``avg(_dl)``, so scores are bit-identical to
    a per-query stats pass.  A phrase's df is one agg over ``streamed``,
    the tokenized input, kept in the postings' per-term memo
    (``memo.terms``)."""
    post = snap.postings(text_col, tokenizer, spec)

    def fetch(need):
        row = streamed.agg(*[
            F.sum(F.when(tf_of(ck) > 0, 1).otherwise(0)).cast("double")
            .alias(f"_d{i}")
            for i, ck in enumerate(need)
        ]).collect()[0]
        return {ck: row[f"_d{i}"] for i, ck in enumerate(need)}

    phrases = memo.terms(
        post.phrase_df, [ck for ck in keys if not isinstance(ck, str)], fetch
    )
    dfs = [phrases[ck] if ck in phrases else post.df(ck) for ck in keys]
    return post.n_docs, post.avgdl, dfs


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

    ``resident`` is the caller's ``_snapshot`` of ``df`` (None streams); by
    default it is looked up here.
    """
    terms = tokenize_query(query, tokenizer, spec=spec)
    if not terms:
        raise InvalidSearchQuery("empty text-search query after tokenization")

    res = resident
    if res is _LOOKUP:
        res = _snapshot(df)
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
    toked = _toked(df, text_col, tokenizer, spec)
    if res is not None:
        # literal stats from the snapshot: a repeated query is ONE job —
        # scoring + top-k — with no stats pass and no broadcast build
        stats = _resident_stats(
            res, text_col, tokenizer, spec, terms,
            lambda t: term_tf("_toks", t), toked,
        )
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


def bm25_sum(tfs, dl, n_docs, avgdl, dfs, zero, log, when):
    """THE BM25 expression: Σ_i [tf_i > 0] idf_i · norm_i over the clauses,
    associated (((zero + s0) + s1) + s2).  It is built from ``+ - * /`` on
    its operands, so the same code makes a Spark Column (``bm25_scores_from_
    tf``: Columns, ``F.log``, ``F.when``) and a numpy array (the driver
    snapshot: arrays, ``StrictMath.log`` through the JVM, ``np.where``) with
    the same IEEE operations in the same order — bit-identical scores.
    ``when(cond, value)`` is ``value`` where ``cond`` holds, else 0.0."""
    score = zero
    for tf, df in zip(tfs, dfs):
        idf = log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        norm = tf * (BM25_K1 + 1.0) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
        )
        score = score + when(tf > 0, idf * norm)
    return score


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
    expression (Catalyst folds the idf with the JVM's StrictMath.log, the
    function behind Spark's ``log``), so scores stay bit-identical to the
    two-pass plan.

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

    score = bm25_sum(
        [F.col(f"_tf_{i}") for i in range(n_terms)], F.col("_dl"), nd, avgdl,
        dfs, F.lit(0.0), F.log, lambda c, v: F.when(c, v).otherwise(F.lit(0.0)),
    )
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

    res = _snapshot(df)
    stats = None
    toked = _toked(df, text_col, tokenizer, None)
    if res is not None:
        # a single-token clause is keyed by its token (a snapshot's
        # postings answer it); a phrase by its token tuple, so repeated NLQ
        # queries reuse stats exactly like plain-term BM25
        stats = _resident_stats(
            res, text_col, tokenizer, None,
            [c["tokens"][0] if len(c["tokens"]) == 1 else tuple(c["tokens"])
             for c in pos],
            lambda ck: _clause_tf("_toks", [ck] if isinstance(ck, str) else list(ck)),
            toked,
        )
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
    top-k, which a filter applied afterwards would thin below k rows.
    Without ``where``, a corpus with a driver snapshot (``resident.py``)
    answers from its postings and returns a VALUES relation: no Spark job,
    the same rows and score bits (a column type without a literal takes
    the direct path)."""
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
    res = resident
    if res is _LOOKUP:
        res = _snapshot(df)
    if where is None and res is not None:
        # a driver snapshot: the top-k in numpy, no Spark job
        terms = tokenize_query(query, tokenizer, spec=spec)
        if not terms:
            raise InvalidSearchQuery("empty text-search query after tokenization")
        from myscaledb_spark.resident import emit

        pos, scores = res.bm25_top(text_col, terms, k, id_col, tokenizer, spec, operator)
        out = emit(res, pos, df.columns, score_name, scores)
        if out is not None:
            return out
    scored = bm25_scores(
        df, text_col, query, tokenizer, operator, score_name, spec=spec,
        resident=res,
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
