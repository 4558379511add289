"""ClickHouse-name function compatibility layer (SURVEY.md §2.8).

Each public name mirrors a reference scalar/aggregate function
(`src/Functions/`, `src/AggregateFunctions/registerAggregateFunctions.cpp`)
and returns a Spark Column built ONLY from `pyspark.sql.functions` built-ins
— everything stays JVM-side in whole-stage codegen; no UDFs.

Users of the reference can port queries mechanically:
    from myscaledb_spark.functions import ch_compat as ch
    df.select(ch.toStartOfMonth("o_orderdate"), ch.uniq("user_id"))

Naming follows the reference exactly (camelCase). Functions whose exact
algorithm is engine-internal (uniq sketches, quantileTiming grids) map to
Spark's nearest estimator and say so in their docstring — the VALUES may
differ from ClickHouse while the CONTRACT (approx distinct count, quantile
estimate) holds; exact variants (uniqExact, quantileExact) match exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# arithmetic / math (src/Functions/ math files)
# ---------------------------------------------------------------------------
def plus(a, b):
    return _c(a) + _c(b)


def minus(a, b):
    return _c(a) - _c(b)


def multiply(a, b):
    return _c(a) * _c(b)


def divide(a, b):
    return _c(a) / _c(b)


def intDiv(a, b):
    return F.floor(_c(a) / _c(b)).cast("long")


def modulo(a, b):
    return _c(a) % _c(b)


def negate(a):
    return -_c(a)


def abs(a):  # noqa: A001 — mirrors CH name
    return F.abs(_c(a))


def gcd(a, b):
    raise NotImplementedError("gcd: no Spark builtin; out of v1 scope (rare)")


def exp(a):
    return F.exp(_c(a))


def log(a):
    return F.log(_c(a))


def exp2(a):
    return F.pow(F.lit(2.0), _c(a))


def log2(a):
    return F.log2(_c(a))


def exp10(a):
    return F.pow(F.lit(10.0), _c(a))


def log10(a):
    return F.log10(_c(a))


def sqrt(a):
    return F.sqrt(_c(a))


def cbrt(a):
    return F.cbrt(_c(a))


def sin(a):
    return F.sin(_c(a))


def cos(a):
    return F.cos(_c(a))


def tan(a):
    return F.tan(_c(a))


def asin(a):
    return F.asin(_c(a))


def acos(a):
    return F.acos(_c(a))


def atan(a):
    return F.atan(_c(a))


def atan2(a, b):
    return F.atan2(_c(a), _c(b))


def pow(a, b):  # noqa: A001
    return F.pow(_c(a), _c(b))


def sign(a):
    return F.signum(_c(a)).cast("int")


def floor(a, n: int = 0):
    if n == 0:
        return F.floor(_c(a))
    m = 10**n
    return F.floor(_c(a) * m) / m


def ceil(a, n: int = 0):
    if n == 0:
        return F.ceil(_c(a))
    m = 10**n
    return F.ceil(_c(a) * m) / m


def round(a, n: int = 0):  # noqa: A001
    return F.round(_c(a), n)


def roundBankers(a, n: int = 0):
    return F.bround(_c(a), n)


def widthBucket(x, lo, hi, n):
    return F.width_bucket(_c(x), _c(lo), _c(hi), _c(n))


# bit functions
def bitAnd(a, b):
    return _c(a).bitwiseAND(_c(b))


def bitOr(a, b):
    return _c(a).bitwiseOR(_c(b))


def bitXor(a, b):
    return _c(a).bitwiseXOR(_c(b))


def bitNot(a):
    return ~_c(a)


def bitShiftLeft(a, n: int):
    return F.shiftleft(_c(a), n)


def bitShiftRight(a, n: int):
    return F.shiftright(_c(a), n)


def bitCount(a):
    return F.bit_count(_c(a))


# ---------------------------------------------------------------------------
# comparison / conditional (if.cpp, multiIf.cpp, FunctionsConditional)
# ---------------------------------------------------------------------------
def if_(cond, then, else_):
    return F.when(_c(cond), then).otherwise(else_)


def multiIf(*args):
    """multiIf(c1, v1, c2, v2, ..., default)"""
    if len(args) < 3 or len(args) % 2 == 0:
        raise ValueError("multiIf needs cond/value pairs + default")
    *pairs, default = args
    expr = F.when(_c(pairs[0]), pairs[1])
    for i in range(2, len(pairs), 2):
        expr = expr.when(_c(pairs[i]), pairs[i + 1])
    return expr.otherwise(default)


def coalesce(*cols):
    return F.coalesce(*[_c(c) for c in cols])


def ifNull(a, b):
    return F.coalesce(_c(a), _c(b))


def nullIf(a, b):
    return F.nullif(_c(a), _c(b))


def assumeNotNull(a):
    return _c(a)


def isNull(a):
    return _c(a).isNull()


def isNotNull(a):
    return _c(a).isNotNull()


def greatest(*cols):
    return F.greatest(*[_c(c) for c in cols])


def least(*cols):
    return F.least(*[_c(c) for c in cols])


# ---------------------------------------------------------------------------
# strings (src/Functions/ string files)
# ---------------------------------------------------------------------------
def length(a):
    return F.length(_c(a))


def lengthUTF8(a):
    return F.length(_c(a))


def empty(a):
    return F.length(_c(a)) == 0


def notEmpty(a):
    return F.length(_c(a)) > 0


def lower(a):
    return F.lower(_c(a))


def upper(a):
    return F.upper(_c(a))


def lowerUTF8(a):
    return F.lower(_c(a))


def upperUTF8(a):
    return F.upper(_c(a))


def reverse(a):
    return F.reverse(_c(a))


def concat(*cols):
    return F.concat(*[_c(c) for c in cols])


def concatWithSeparator(sep: str, *cols):
    return F.concat_ws(sep, *[_c(c) for c in cols])


def substring(a, pos, ln=None):
    if ln is None:
        return F.expr(f"substring({_name(a)}, {pos})")
    return F.substring(_c(a), pos, ln)


def _name(a):
    return a if isinstance(a, str) else str(a._jc)


def substringUTF8(a, pos, ln=None):
    return substring(a, pos, ln)


def leftPad(a, ln: int, pad: str = " "):
    return F.lpad(_c(a), ln, pad)


def rightPad(a, ln: int, pad: str = " "):
    return F.rpad(_c(a), ln, pad)


def trimBoth(a):
    return F.trim(_c(a))


def trimLeft(a):
    return F.ltrim(_c(a))


def trimRight(a):
    return F.rtrim(_c(a))


def repeat(a, n):
    return F.repeat(_c(a), n)


def startsWith(a, prefix):
    return _c(a).startswith(prefix)


def endsWith(a, suffix):
    return _c(a).endswith(suffix)


def splitByChar(sep: str, a):
    import re as _re

    return F.split(_c(a), _re.escape(sep), -1)


def splitByString(sep: str, a):
    import re as _re

    return F.split(_c(a), _re.escape(sep), -1)


def format(fmt: str, *cols):
    return F.format_string(fmt.replace("{}", "%s"), *[_c(c) for c in cols])


# search
def position(haystack, needle: str):
    return F.instr(_c(haystack), needle)


def positionCaseInsensitive(haystack, needle: str):
    return F.instr(F.lower(_c(haystack)), needle.lower())


def like(a, pattern: str):
    return _c(a).like(pattern)


def notLike(a, pattern: str):
    return ~_c(a).like(pattern)


def ilike(a, pattern: str):
    return F.lower(_c(a)).like(pattern.lower())


def match(a, pattern: str):
    return _c(a).rlike(pattern)


def extract(a, pattern: str, group: int = 1):
    return F.regexp_extract(_c(a), pattern, group)


def countSubstrings(a, needle: str):
    import re as _re

    esc = _re.escape(needle)
    return (
        (F.length(_c(a)) - F.length(F.regexp_replace(_c(a), esc, "")))
        / len(needle)
    ).cast("int")


def hasToken(a, token: str):
    return F.array_contains(F.split(F.lower(_c(a)), "[^a-z0-9]+"), token.lower())


def multiSearchAny(a, needles: Sequence[str]):
    cond = F.lit(False)
    for n in needles:
        cond = cond | _c(a).contains(n)
    return cond


# --- fuzzy n-gram similarity (FunctionsStringSimilarity.cpp:282-298) ----------
# Literal-needle forms of ngramDistance / ngramSearch with N=4. Deviation
# (documented): grams are the literal 4-char substrings — the reference
# hashes grams into a 16-bit space (CRC32 & 0xFFFF) and pads code points, so
# its counts can collide/differ slightly; the formulas are identical.


def _ngram_list(s: str, n: int = 4) -> list[str]:
    if not s:
        return []
    if len(s) < n:
        return [s]
    return [s[i : i + n] for i in range(len(s) - n + 1)]


def _gram_col(a, n: int = 4):
    s = _c(a)
    ln = F.length(s)
    return (
        F.when(ln <= 0, F.slice(F.array(F.lit("")), 1, 0))
        .when(ln < n, F.array(s))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), ln - (n - 1)),
                lambda i: F.substring(s, i, n),
            )
        )
    )


def _multiset_intersection(grams_col, needle: str, n: int = 4):
    """Σ over distinct needle grams of min(count_in_haystack, count_in_needle)
    — generated per-gram terms, so Spark and a SQL oracle can build the
    identical expression tree."""
    from collections import Counter

    def _count(g: str):
        # single-arg lambda only: F.filter's two-arg form means (elem, index)
        lit_g = F.lit(g)
        return F.size(F.filter(grams_col, lambda x: x == lit_g))

    counts = Counter(_ngram_list(needle, n))
    inter = F.lit(0)
    for g, cb in sorted(counts.items()):
        inter = inter + F.least(_count(g), F.lit(cb))
    return inter


def ngramSearch(a, needle: str, n: int = 4):
    """ngramSearch(haystack, 'needle'): fraction of the needle's 4-gram
    multiset found in the haystack — 1 - misses/max(|needle|, 1), in [0, 1],
    higher = more similar (the asymmetric metric, res branch at
    FunctionsStringSimilarity.cpp:290). NULL haystack -> NULL (guarded:
    size(NULL array) is -1 under Spark's legacy sizeOfNull, which would
    otherwise leak out-of-range scores)."""
    s = _c(a)
    nb = len(_ngram_list(needle, n))
    inter = _multiset_intersection(_gram_col(a, n), needle, n)
    score = F.lit(1.0) - (F.lit(nb) - inter).cast("double") / F.lit(
        float(max(nb, 1))
    )
    return F.when(s.isNotNull(), score)


def ngramDistance(a, needle: str, n: int = 4):
    """ngramDistance(haystack, 'needle'): |multiset symmetric difference| /
    max(|haystack| + |needle|, 1), in [0, 1], lower = more similar (the
    symmetric metric at FunctionsStringSimilarity.cpp:288). NULL haystack
    -> NULL."""
    s = _c(a)
    grams = _gram_col(a, n)
    nb = len(_ngram_list(needle, n))
    inter = _multiset_intersection(grams, needle, n)
    total = (F.size(grams) + F.lit(nb)).cast("double")
    sym_diff = total - F.lit(2.0) * inter.cast("double")
    return F.when(s.isNotNull(), sym_diff / F.greatest(total, F.lit(1.0)))


# replace
def replaceOne(a, pat: str, rep: str):
    """Replace FIRST occurrence only (CH semantics) via instr+concat."""
    col = _c(a)
    pos = F.instr(col, pat)
    return F.when(pos == 0, col).otherwise(
        F.concat(
            col.substr(F.lit(1), pos - 1),
            F.lit(rep),
            col.substr(pos + len(pat), F.length(col)),
        )
    )


def replaceAll(a, pat: str, rep: str):
    import re as _re

    return F.regexp_replace(_c(a), _re.escape(pat), rep)


def replaceRegexpAll(a, pat: str, rep: str):
    return F.regexp_replace(_c(a), pat, rep)


def translate(a, from_: str, to: str):
    return F.translate(_c(a), from_, to)


# ---------------------------------------------------------------------------
# date/time (toStartOfInterval.cpp, dateDiff.cpp, ...)
# ---------------------------------------------------------------------------
def toYear(a):
    return F.year(_c(a))


def toMonth(a):
    return F.month(_c(a))


def toDayOfMonth(a):
    return F.dayofmonth(_c(a))


def toDayOfWeek(a):
    # CH: Monday=1..Sunday=7; Spark dayofweek: Sunday=1..Saturday=7
    return ((F.dayofweek(_c(a)) + 5) % 7) + 1


def toHour(a):
    return F.hour(_c(a))


def toMinute(a):
    return F.minute(_c(a))


def toSecond(a):
    return F.second(_c(a))


def toDate(a):
    return F.to_date(_c(a))


def toStartOfYear(a):
    return F.date_trunc("year", _c(a))


def toStartOfQuarter(a):
    return F.date_trunc("quarter", _c(a))


def toStartOfMonth(a):
    return F.date_trunc("month", _c(a))


def toStartOfWeek(a):
    return F.date_trunc("week", _c(a))


def toStartOfDay(a):
    return F.date_trunc("day", _c(a))


def toStartOfHour(a):
    return F.date_trunc("hour", _c(a))


def toStartOfMinute(a):
    return F.date_trunc("minute", _c(a))


def toStartOfInterval(a, interval: str):
    """toStartOfInterval(t, INTERVAL 5 MINUTE) → window-aligned floor."""
    return F.window(_c(a), interval).getField("start")


def toYYYYMM(a):
    return (F.year(_c(a)) * 100 + F.month(_c(a))).cast("int")


def toYYYYMMDD(a):
    return (
        F.year(_c(a)) * 10000 + F.month(_c(a)) * 100 + F.dayofmonth(_c(a))
    ).cast("int")


def toUnixTimestamp(a):
    return F.unix_timestamp(_c(a))


def fromUnixTimestamp(a):
    return F.timestamp_seconds(_c(a))


def now():
    return F.current_timestamp()


def today():
    return F.current_date()


def addSeconds(a, n):
    return F.timestamp_seconds(F.unix_timestamp(_c(a)) + n)


def addDays(a, n):
    return _c(a) + F.expr(f"INTERVAL {int(n)} DAYS")


def addMonths(a, n):
    return F.add_months(_c(a), n)


def addYears(a, n):
    return F.add_months(_c(a), 12 * n)


def subtractDays(a, n):
    return addDays(a, -n)


def dateDiff(unit: str, a, b):
    """dateDiff('day'|'hour'|..., start, end) — CH counts unit boundaries
    crossed; implemented as truncation diff like the reference."""
    unit = unit.lower()
    if unit == "day":
        return F.datediff(F.to_date(_c(b)), F.to_date(_c(a))).cast("long")
    if unit in ("month", "quarter", "year", "week"):
        months = F.months_between(F.date_trunc("month", _c(b)), F.date_trunc("month", _c(a)))
        if unit == "month":
            return months.cast("long")
        if unit == "quarter":
            return F.floor(
                (F.year(_c(b)) * 4 + F.quarter(_c(b))) - (F.year(_c(a)) * 4 + F.quarter(_c(a)))
            ).cast("long")
        if unit == "year":
            return (F.year(_c(b)) - F.year(_c(a))).cast("long")
        return F.floor(
            F.datediff(F.date_trunc("week", _c(b)), F.date_trunc("week", _c(a))) / 7
        ).cast("long")
    secs = {"second": 1, "minute": 60, "hour": 3600}[unit]
    return F.floor(
        (F.unix_timestamp(F.date_trunc(unit, _c(b))) - F.unix_timestamp(F.date_trunc(unit, _c(a))))
        / secs
    ).cast("long")


def formatDateTime(a, fmt: str):
    """CH %Y-%m-%d style → Spark pattern."""
    mapping = {
        "%Y": "yyyy",
        "%m": "MM",
        "%d": "dd",
        "%H": "HH",
        "%M": "mm",
        "%S": "ss",
        "%j": "DDD",
    }
    out = fmt
    for k, v in mapping.items():
        out = out.replace(k, v)
    return F.date_format(_c(a), out)


def parseDateTimeBestEffort(a):
    return F.to_timestamp(_c(a))


# ---------------------------------------------------------------------------
# conversion (FunctionsConversion.cpp)
# ---------------------------------------------------------------------------
def toUInt8(a):
    return _c(a).cast("int")


def toUInt32(a):
    return _c(a).cast("long")


def toInt32(a):
    return _c(a).cast("int")


def toInt64(a):
    return _c(a).cast("long")


def toFloat32(a):
    return _c(a).cast("float")


def toFloat64(a):
    return _c(a).cast("double")


def toString(a):
    return _c(a).cast("string")


def toDecimal64(a, scale: int):
    return _c(a).cast(f"decimal(18,{scale})")


def accurateCastOrNull(a, t: str):
    return _c(a).try_cast(_spark_type(t))


def _spark_type(t: str) -> str:
    m = {
        "UInt8": "int",
        "UInt16": "int",
        "UInt32": "long",
        "UInt64": "long",
        "Int8": "tinyint",
        "Int16": "smallint",
        "Int32": "int",
        "Int64": "long",
        "Float32": "float",
        "Float64": "double",
        "String": "string",
        "Date": "date",
        "DateTime": "timestamp",
    }
    return m.get(t, t.lower())


# ---------------------------------------------------------------------------
# arrays (src/Functions/array/*)
# ---------------------------------------------------------------------------
def array(*cols):
    return F.array(*[_c(c) for c in cols])


def arrayMap(fn, a):
    return F.transform(_c(a), fn)


def arrayFilter(fn, a):
    return F.filter(_c(a), fn)


def arrayExists(fn, a):
    return F.exists(_c(a), fn)


def arrayAll(fn, a):
    return F.forall(_c(a), fn)


def arrayCount(fn, a):
    return F.size(F.filter(_c(a), fn))


def arraySum(a):
    return F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x)


def arrayAvg(a):
    return arraySum(a) / F.size(_c(a))


def arrayMin(a):
    return F.array_min(_c(a))


def arrayMax(a):
    return F.array_max(_c(a))


def arrayCumSum(a):
    # running prefix sums via transform over indices; sequence(1, 0) is the
    # DESCENDING [1, 0] in Spark, so empty input must short-circuit to []
    arr = _c(a)
    return F.when(F.size(arr) == 0, F.array().cast("array<double>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(arr)),
            lambda i: F.aggregate(
                F.slice(arr, 1, i.cast("int")), F.lit(0.0), lambda s, x: s + x
            ),
        )
    )


def arrayJoin(a):
    return F.explode(_c(a))


def arrayDistinct(a):
    return F.array_distinct(_c(a))


def arrayCompact(a):
    return F.array_compact(_c(a))


def arrayIntersect(a, b):
    return F.array_intersect(_c(a), _c(b))


def arrayConcat(a, b):
    return F.concat(_c(a), _c(b))


def arraySort(a):
    return F.array_sort(_c(a))


def arrayReverse(a):
    return F.reverse(_c(a))


def arraySlice(a, offset: int, ln: int):
    return F.slice(_c(a), offset, ln)


def arrayElement(a, i):
    return F.element_at(_c(a), i)


def has(a, v):
    return F.array_contains(_c(a), v)


def hasAll(a, b):
    return F.size(F.array_except(_c(b), _c(a))) == 0


def hasAny(a, b):
    return F.size(F.array_intersect(_c(a), _c(b))) > 0


def indexOf(a, v):
    return F.array_position(_c(a), v)


def arrayEnumerate(a):
    arr = _c(a)
    return F.when(F.size(arr) == 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), F.size(arr))
    )


def arrayEnumerateUniq(a):
    """occurrence index of each element among its equals so far:
    [10,20,10,10] → [1,1,2,3] (src/Functions/array/arrayEnumerateUniq.cpp)."""
    arr = _c(a)
    return F.when(F.size(arr) == 0, F.array().cast("array<int>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(arr)),
            lambda i: F.size(
                F.filter(
                    F.slice(arr, 1, i.cast("int")),
                    lambda x: x == F.element_at(arr, i.cast("int")),
                )
            ),
        )
    )


def arrayZip(a, b):
    return F.arrays_zip(_c(a), _c(b))


def arrayFlatten(a):
    return F.flatten(_c(a))


def arrayStringConcat(a, sep: str = ""):
    return F.array_join(_c(a), sep)


def range_(n):
    nn = _c(n)
    return F.when(nn <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), nn - 1)
    )


def arrayDifference(a):
    arr = _c(a)
    return F.when(F.size(arr) == 0, F.array().cast("array<double>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(arr)),
            lambda i: F.when(i == 1, F.lit(0.0)).otherwise(
                F.element_at(arr, i.cast("int")) - F.element_at(arr, (i - 1).cast("int"))
            ),
        )
    )


# vector math on arrays (arrayDistance.cpp) — re-exported from functions.vector
from myscaledb_spark.functions.vector import (  # noqa: E402
    cosine_distance as _cosdist,
    distance as _distance,
    l2_distance as _l2dist,
    vector_norm as _norm,
)


def L2Distance(a: str, qvec):
    return _l2dist(a, qvec)


def cosineDistance(a: str, qvec):
    return _cosdist(a, qvec)


def arrayDotProduct(a: str, b: str):
    return _distance(a, b, "IP")


def L2Norm(a: str):
    return _norm(a, 2)


# ---------------------------------------------------------------------------
# maps / tuples
# ---------------------------------------------------------------------------
def map_(*kv):
    return F.create_map(*[_c(x) for x in kv])


def mapKeys(m):
    return F.map_keys(_c(m))


def mapValues(m):
    return F.map_values(_c(m))


def mapContains(m, k):
    return F.map_contains_key(_c(m), k)


def mapFilter(fn, m):
    return F.map_filter(_c(m), fn)


def mapApply(fn, m):
    return F.transform_values(_c(m), lambda k, v: fn(v))


def mapAdd(a, b):
    """Merge two maps summing values on key collision (mapAdd semantics):
    disjoint union of (a-only keys, b-only keys, summed intersection)."""
    a, b = _c(a), _c(b)
    inter = F.map_from_entries(
        F.transform(
            F.map_entries(F.map_filter(a, lambda k, _: F.map_contains_key(b, k))),
            lambda e: F.struct(
                e["key"].alias("key"),
                (e["value"] + F.element_at(b, e["key"])).alias("value"),
            ),
        )
    )
    return F.map_concat(
        F.map_filter(a, lambda k, _: ~F.map_contains_key(b, k)),
        F.map_filter(b, lambda k, _: ~F.map_contains_key(a, k)),
        inter,
    )


def ngrams(a, n: int = 3):
    """Word n-grams of a string (src/Functions/ngrams); shares the shingle
    machinery used by MinHash."""
    from myscaledb_spark.operators.dedup import shingles
    from myscaledb_spark.functions.text import tokenize

    return shingles(tokenize(_c(a)), n)


def splitByRegexp(pattern: str, a):
    return F.split(_c(a), pattern, -1)


def tuple_(*cols):
    """CH tuple(a, b, ...) is an UNNAMED tuple accessed positionally
    (t.1, t.2) — so fields are aliased col1..colN to make
    tupleElement(t, i) work regardless of the source expressions."""
    return F.struct(*[_c(c).alias(f"col{i + 1}") for i, c in enumerate(cols)])


def tupleElement(t, i: int):
    return _c(t).getField(f"col{i}") if isinstance(i, int) else _c(t).getField(i)


# ---------------------------------------------------------------------------
# JSON (FunctionsJSON.cpp)
# ---------------------------------------------------------------------------
def JSONExtractString(j, key: str):
    return F.get_json_object(_c(j), f"$.{key}")


def JSONExtractInt(j, key: str):
    return F.get_json_object(_c(j), f"$.{key}").cast("long")


def JSONExtractFloat(j, key: str):
    return F.get_json_object(_c(j), f"$.{key}").cast("double")


def JSONHas(j, key: str):
    return F.get_json_object(_c(j), f"$.{key}").isNotNull()


def JSONLength(j):
    return F.size(F.from_json(_c(j), "map<string,string>"))


# ---------------------------------------------------------------------------
# hashing / encoding (FunctionsHashing.h, FunctionsBinaryRepresentation.cpp)
# ---------------------------------------------------------------------------
def MD5(a):
    return F.md5(_c(a).cast("binary"))


def SHA256(a):
    return F.sha2(_c(a).cast("binary"), 256)


def xxHash64(a):
    return F.xxhash64(_c(a))


def cityHash64(a):
    """CH cityHash64 is not portable; maps to xxhash64 (documented delta —
    stable within this engine, different values than ClickHouse)."""
    return F.xxhash64(_c(a))


def hex_(a):
    return F.hex(_c(a))


def unhex(a):
    return F.unhex(_c(a))


def base64Encode(a):
    return F.base64(_c(a).cast("binary"))


def base64Decode(a):
    return F.unbase64(_c(a)).cast("string")


def bin_(a):
    return F.bin(_c(a))


# ---------------------------------------------------------------------------
# URL functions (src/Functions/URL/) — parse_url + regexp, JVM-side
# ---------------------------------------------------------------------------
def protocol(u):
    return F.parse_url(_c(u), F.lit("PROTOCOL"))


def domain(u):
    return F.parse_url(_c(u), F.lit("HOST"))


def topLevelDomain(u):
    return F.regexp_extract(F.parse_url(_c(u), F.lit("HOST")), r"\.([^.]+)$", 1)


def domainWithoutWWW(u):
    return F.regexp_replace(F.parse_url(_c(u), F.lit("HOST")), r"^www\.", "")


def path(u):
    return F.parse_url(_c(u), F.lit("PATH"))


def queryString(u):
    return F.parse_url(_c(u), F.lit("QUERY"))


def fragment(u):
    return F.parse_url(_c(u), F.lit("REF"))


def extractURLParameter(u, name: str):
    return F.parse_url(_c(u), F.lit("QUERY"), F.lit(name))


def cutQueryString(u):
    return F.regexp_replace(_c(u), r"\?.*$", "")


def pathFull(u):
    return F.concat(
        F.parse_url(_c(u), F.lit("PATH")),
        F.coalesce(F.concat(F.lit("?"), F.parse_url(_c(u), F.lit("QUERY"))), F.lit("")),
    )


def firstSignificantSubdomain(u):
    host = F.parse_url(_c(u), F.lit("HOST"))
    return F.regexp_extract(host, r"([^.]+)\.[^.]+$", 1)


# ---------------------------------------------------------------------------
# IP functions (FunctionsCodingIP.cpp) — pure bit arithmetic, JVM-side
# ---------------------------------------------------------------------------
def IPv4NumToString(a):
    """uint32 → dotted quad."""
    col = _c(a).cast("long")
    return F.concat_ws(
        ".",
        (F.shiftright(col, 24).bitwiseAND(F.lit(255))).cast("string"),
        (F.shiftright(col, 16).bitwiseAND(F.lit(255))).cast("string"),
        (F.shiftright(col, 8).bitwiseAND(F.lit(255))).cast("string"),
        (col.bitwiseAND(F.lit(255))).cast("string"),
    )


def IPv4StringToNum(a):
    """dotted quad → uint32 (as long)."""
    parts = F.split(_c(a), r"\.")
    return (
        F.element_at(parts, 1).cast("long") * 16777216
        + F.element_at(parts, 2).cast("long") * 65536
        + F.element_at(parts, 3).cast("long") * 256
        + F.element_at(parts, 4).cast("long")
    )


def isIPv4AddressInRange(addr, cidr: str):
    """isIPAddressInRange(addr, 'a.b.c.d/p') for IPv4 (string addr)."""
    import ipaddress

    net = ipaddress.ip_network(cidr, strict=False)
    lo = int(net.network_address)
    hi = int(net.broadcast_address)
    num = IPv4StringToNum(addr)
    return (num >= F.lit(lo)) & (num <= F.lit(hi))


def IPv4CIDRToRange(a, prefix: int):
    mask = (0xFFFFFFFF << (32 - prefix)) & 0xFFFFFFFF
    num = _c(a).cast("long")
    lo = num.bitwiseAND(F.lit(mask))
    hi = lo + F.lit((1 << (32 - prefix)) - 1)
    return F.struct(lo.alias("lo"), hi.alias("hi"))


# ---------------------------------------------------------------------------
# aggregates (registerAggregateFunctions.cpp) — return aggregate Columns
# ---------------------------------------------------------------------------
def count():
    return F.count(F.lit(1))


def countIf(cond):
    return F.sum(F.when(_c(cond), 1).otherwise(0))


def sum_(a):  # noqa: A001
    return F.sum(_c(a))


def sumIf(a, cond):
    return F.sum(F.when(_c(cond), _c(a)))


def avg(a):
    return F.avg(_c(a))


def avgIf(a, cond):
    return F.avg(F.when(_c(cond), _c(a)))


def avgWeighted(a, w):
    return F.sum(_c(a) * _c(w)) / F.sum(_c(w))


def min_(a):  # noqa: A001
    return F.min(_c(a))


def max_(a):  # noqa: A001
    return F.max(_c(a))


def any_(a):
    return F.first(_c(a), ignorenulls=True)


def anyLast(a):
    return F.last(_c(a), ignorenulls=True)


def argMin(a, by):
    return F.min_by(_c(a), _c(by))


def argMax(a, by):
    return F.max_by(_c(a), _c(by))


def uniq(a):
    """Approx distinct (CH uses its own sketch; we use Spark HLL++ —
    approximate values differ from ClickHouse, contract matches)."""
    return F.approx_count_distinct(_c(a))


def uniqExact(a):
    return F.countDistinct(_c(a))


def uniqCombined(a):
    return F.approx_count_distinct(_c(a), 0.01)


def quantile(a, q: float = 0.5):
    return F.expr(f"percentile({_name(a)}, {q})")


def quantileExact(a, q: float = 0.5):
    return F.expr(f"percentile({_name(a)}, {q})")


def quantileTDigest(a, q: float = 0.5):
    """Aggregate-expression form keeps Spark's percentile_approx (also a
    compressed-quantile sketch, usable inside any groupBy); the faithful
    Dunning/QuantileTDigest.h estimator is
    operators.stats.tdigest_quantiles (whole-frame) /
    tdigest_quantiles_by (grouped — the canonical `quantileTDigest(p)(x)
    ... GROUP BY k` SQL shape routes there since r7), both
    accuracy-pinned by the quantile_tdigest gates."""
    return F.percentile_approx(_c(a), q)


def median(a):
    return quantile(a, 0.5)


def quantiles(a, *qs: float):
    arr = "array(" + ", ".join(str(q) for q in qs) + ")"
    return F.expr(f"percentile({_name(a)}, {arr})")


def varPop(a):
    return F.var_pop(_c(a))


def varSamp(a):
    return F.var_samp(_c(a))


def stddevPop(a):
    return F.stddev_pop(_c(a))


def stddevSamp(a):
    return F.stddev_samp(_c(a))


def covarPop(a, b):
    return F.covar_pop(_c(a), _c(b))


def covarSamp(a, b):
    return F.covar_samp(_c(a), _c(b))


def corr(a, b):
    return F.corr(_c(a), _c(b))


def skewPop(a):
    return F.skewness(_c(a))


def kurtPop(a):
    return F.kurtosis(_c(a))


def groupArray(a):
    return F.collect_list(_c(a))


def groupUniqArray(a):
    return F.collect_set(_c(a))


def groupBitAnd(a):
    return F.bit_and(_c(a))


def groupBitOr(a):
    return F.bit_or(_c(a))


def groupBitXor(a):
    return F.bit_xor(_c(a))


def sumCount(a):
    return F.struct(F.sum(_c(a)).alias("sum"), F.count(_c(a)).alias("count"))


def deltaSum(a):
    """Sum of positive deltas of an ordered sequence — window form."""
    raise NotImplementedError(
        "deltaSum is order-dependent: use lag() over an explicit window — "
        "see operators/relational.py window examples"
    )


def topK(a, k: int = 10):
    """Heavy hitters; exact via count+sort (CH uses SpaceSaving sketch)."""
    raise NotImplementedError(
        "use df.groupBy(col).count().orderBy(desc).limit(k) — see "
        "suite/relational.py heavy_hitter_users"
    )


# ---------------------------------------------------------------------------
# window-context helpers (runningDifference / neighbor — these need an
# explicit window in Spark, which is strictly better than the reference's
# block-local semantics: CH computes them per block, order-nondeterministic)
# ---------------------------------------------------------------------------
def runningDifference(a, window):
    """runningDifference(x) over an explicit window (CH's is block-local and
    therefore partitioning-dependent; ours is well-defined)."""
    return _c(a) - F.lag(_c(a), 1).over(window)


def neighbor(a, offset: int, window):
    """neighbor(x, offset) over an explicit window."""
    if offset >= 0:
        return F.lead(_c(a), offset).over(window)
    return F.lag(_c(a), -offset).over(window)


def formatReadableSize(a):
    """Bytes → human string (e.g. '1.50 MiB'), pure expression."""
    col = _c(a).cast("double")
    return (
        F.when(col < 1024, F.concat(F.format_number(col, 2), F.lit(" B")))
        .when(col < 1024**2, F.concat(F.format_number(col / 1024, 2), F.lit(" KiB")))
        .when(col < 1024**3, F.concat(F.format_number(col / 1024**2, 2), F.lit(" MiB")))
        .otherwise(F.concat(F.format_number(col / 1024**3, 2), F.lit(" GiB")))
    )


def transform_(a, from_vals: list, to_vals: list, default=None):
    """transform(x, [a,b], [1,2], d) — CASE-map lookup (src/Functions/
    transform.cpp)."""
    expr = None
    for f_, t_ in zip(from_vals, to_vals):
        expr = (F.when(_c(a) == f_, t_) if expr is None else expr.when(_c(a) == f_, t_))
    return expr.otherwise(default if default is not None else _c(a))


# ---------------------------------------------------------------------------
# geo (src/Functions/greatCircleDistance.cpp, pointInEllipses.cpp) — the
# minimal haversine family; the ~90-fn H3 suite remains a documented non-goal
# ---------------------------------------------------------------------------
_EARTH_RADIUS_M = 6371000.0  # mean Earth radius, as the reference's sphere


def _haversine_half_angle(lon1, lat1, lon2, lat2) -> Column:
    """sqrt(sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2)) with everything in radians."""
    rlat1, rlat2 = F.radians(_c(lat1)), F.radians(_c(lat2))
    dlat = (rlat2 - rlat1) / 2.0
    dlon = (F.radians(_c(lon2)) - F.radians(_c(lon1))) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.sqrt(a)


def greatCircleDistance(lon1, lat1, lon2, lat2):
    """Haversine distance in meters on the mean-radius sphere
    (greatCircleDistance.cpp; argument order lon, lat like the reference)."""
    return 2.0 * _EARTH_RADIUS_M * F.asin(_haversine_half_angle(lon1, lat1, lon2, lat2))


def geoDistance(lon1, lat1, lon2, lat2):
    """Reference geoDistance refines with an ellipsoidal correction; this
    maps to the spherical haversine (documented approximation)."""
    return greatCircleDistance(lon1, lat1, lon2, lat2)


def greatCircleAngle(lon1, lat1, lon2, lat2):
    """Central angle in degrees."""
    return F.degrees(2.0 * F.asin(_haversine_half_angle(lon1, lat1, lon2, lat2)))


def pointInEllipses(x, y, *ellipses: tuple[float, float, float, float]):
    """pointInEllipses(x, y, (cx, cy, a, b), ...): true if (x, y) falls in
    any axis-aligned ellipse."""
    x, y = _c(x), _c(y)
    cond = F.lit(False)
    for cx, cy, a, b in ellipses:
        dx = (x - F.lit(float(cx))) / F.lit(float(a))
        dy = (y - F.lit(float(cy))) / F.lit(float(b))
        cond = cond | (dx * dx + dy * dy <= 1.0)
    return cond
