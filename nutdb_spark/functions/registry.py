"""Dialect function registry — the open `FnName::Others` namespace.

The reference parser keeps every function name opaque
(`/root/reference/src/parser/mod.rs:1304-1307`, AST
`ast/item.rs:178`); the concrete names below are the ones pinned by the
committed corpus + bench (SURVEY.md §2.5), registered here as lowerings
to built-in JVM-side Spark expressions (never row-at-a-time Python
UDFs). The frontend resolves `fn(args)` through :data:`SCALAR_FNS` /
:data:`AGGREGATE_FNS`; unknown names raise at lowering time, matching
"function does not exist" engine behavior.

[EXT] LLM-pipeline names (normalizeText/tokenize/ngrams/minhash/…) are
registered by nutdb_spark.functions.textfns on import.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

ScalarFn = Callable[..., Column]

SCALAR_FNS: dict[str, ScalarFn] = {}
AGGREGATE_FNS: dict[str, ScalarFn] = {}

# Functions whose results cannot be hash-oracled against DuckDB —
# the ONE consolidated list (name → why), referenced by tools/check.py,
# which warns when an oracled suite entry's source mentions one.
# Two hazard classes:
#  - libm drift: only +, -, *, /, sqrt are exactly-rounded by IEEE 754;
#    everything else (log2, inverse-hyperbolics, cot, hypot, pow) is
#    implementation-defined in the last ulp, and Spark's JVM StrictMath
#    vs DuckDB's C libm measurably differ (~34% of integer inputs for
#    log2). Entries using these stay pytest-verified against a Python
#    reference (see tests/test_stats_aggregates.py for entropy).
#  - nondeterminism: partition-order-dependent results (anyLast,
#    random) have no stable value to hash on either engine.
# `%.2f` formatting (formatReadableSize family) is a CONDITIONAL
# hazard, tracked separately in FORMAT_TIE_HAZARD: Java formats .xx5
# ties HALF_UP, C half-even, so those entries are oracle-safe only
# when fixture values never land on a representable .xx5 tie.
PYTEST_ONLY: dict[str, str] = {
    "log2": "libm drift (last-ulp, ~34% of int inputs vs DuckDB)",
    "entropy": "folds log2 — libm drift",
    "asinh": "libm drift (inverse hyperbolic)",
    "acosh": "libm drift (inverse hyperbolic)",
    "atanh": "libm drift (inverse hyperbolic)",
    "hypot": "libm drift (no exact-rounding guarantee)",
    "cot": "libm drift (1/tan, two unrounded steps)",
    "pow": "libm drift (not exactly-rounded; intExp2/intExp10 are "
           "the exact integer spellings)",
    "xxHash64": "Spark-native hash, no DuckDB twin",
    "CRC32": "Spark-native polynomial, no DuckDB twin",
    "anyLast": "partition-order-dependent (documented nondeterminism)",
    "random": "nondeterministic generator (rows-only by design)",
}
FORMAT_TIE_HAZARD: dict[str, str] = {
    "formatReadableSize": "%.2f tie: Java HALF_UP vs C half-even on .xx5",
    "formatReadableDecimalSize": "%.2f tie: Java HALF_UP vs C half-even",
}


def scalar(name: str) -> Callable[[ScalarFn], ScalarFn]:
    def deco(fn: ScalarFn) -> ScalarFn:
        SCALAR_FNS[name] = fn
        return fn

    return deco


def aggregate(name: str) -> Callable[[ScalarFn], ScalarFn]:
    def deco(fn: ScalarFn) -> ScalarFn:
        AGGREGATE_FNS[name] = fn
        return fn

    return deco


def resolve(name: str) -> tuple[ScalarFn, bool]:
    """Look up a dialect function → (lowering, is_aggregate).
    Case-insensitive, like the dialect family's function names."""
    if name in AGGREGATE_FNS:
        return AGGREGATE_FNS[name], True
    if name in SCALAR_FNS:
        return SCALAR_FNS[name], False
    low = name.lower()
    for k, fn in AGGREGATE_FNS.items():
        if k.lower() == low:
            return fn, True
    for k, fn in SCALAR_FNS.items():
        if k.lower() == low:
            return fn, False
    raise KeyError(f"unknown function: {name}")


# --- aggregates (corpus: 1.sql:4-11, 4.sql:3, 6.sql:20, 7.sql:5) ----------

AGGREGATE_FNS["count"] = lambda *a: F.count(a[0]) if a else F.count(F.lit(1))
AGGREGATE_FNS["sum"] = F.sum
AGGREGATE_FNS["avg"] = F.avg
AGGREGATE_FNS["min"] = F.min
AGGREGATE_FNS["max"] = F.max
# Exact distinct count; approx_count_distinct is the documented scalable
# variant for 100 TB interactive use (same name + 'Approx' suffix).
AGGREGATE_FNS["countUnique"] = F.count_distinct
AGGREGATE_FNS["countUniqueApprox"] = F.approx_count_distinct
# exact interpolated quantile (ClickHouse quantile/median names);
# quantileApprox is the constant-memory variant for interactive 100 TB
AGGREGATE_FNS["quantile"] = lambda c, p=0.5: F.percentile(c, p)
AGGREGATE_FNS["median"] = lambda c: F.percentile(c, 0.5)
AGGREGATE_FNS["quantileApprox"] = lambda c, p=0.5, accuracy=10000: (
    F.percentile_approx(c, p, accuracy)
)


# --- scalars --------------------------------------------------------------


@scalar("substring")
def _substring(s: Column, start: Column, length: Column) -> Column:
    """1-based substring (corpus 9.sql:8,13) — Spark substring is also
    1-based."""
    return F.substring(s, start, length)


@scalar("toDate")
def _to_date(s: Column) -> Column:
    """Parse 'YYYY-MM-DD' (corpus 1.sql:15). Fixture date columns are
    timestamps, so comparisons stay in timestamp domain for pushdown —
    the frontend casts literal dates upward, never the column."""
    return F.to_date(s)


@scalar("toDatetime")
def _to_datetime(s: Column) -> Column:
    return F.to_timestamp(s)


@scalar("getYear")
def _get_year(d: Column) -> Column:
    """Extract year (corpus 3.sql:11)."""
    return F.year(d)


@scalar("toYYYYMMDD")
def _to_yyyymmdd(d: Column) -> Column:
    """Format date → int yyyymmdd (corpus 10.sql:6, ClickHouse-style)."""
    return F.date_format(d, "yyyyMMdd").cast("int")


@scalar("random")
def _random() -> Column:
    """Uniform [0,1) (corpus 14.sql:15) — nondeterministic by design."""
    return F.rand()


@scalar("if")
def _if(cond: Column, then: Column, otherwise: Column) -> Column:
    """IF…THEN…ELSE sugar (mod.rs:1570-1582 lowers to FnCall If)."""
    return F.when(cond, then).otherwise(otherwise)


@scalar("between")
def _between(x: Column, lo: Column, hi: Column) -> Column:
    """BETWEEN sugar (mod.rs:1445-1449 lowers to FnCall Between)."""
    return x.between(lo, hi)


@scalar("concat")
def _concat(*parts: Column) -> Column:
    return F.concat(*parts)


@scalar("length")
def _length(s: Column) -> Column:
    return F.length(s)


@scalar("lower")
def _lower(s: Column) -> Column:
    return F.lower(s)


@scalar("upper")
def _upper(s: Column) -> Column:
    return F.upper(s)


@scalar("abs")
def _abs(x: Column) -> Column:
    return F.abs(x)


@scalar("round")
def _round(x: Column, scale: Column | int = 0) -> Column:
    return F.round(x, scale if isinstance(scale, int) else scale)


@scalar("coalesce")
def _coalesce(*cols: Column) -> Column:
    return F.coalesce(*cols)


@scalar("nullIf")
def _null_if(a: Column, b: Column) -> Column:
    return F.nullif(a, b)


@scalar("floor")
def _floor(x: Column) -> Column:
    return F.floor(x)


@scalar("ceil")
def _ceil(x: Column) -> Column:
    return F.ceil(x)


@scalar("sqrt")
def _sqrt(x: Column) -> Column:
    return F.sqrt(x)


# --- ClickHouse-family surface beyond the corpus --------------------------
# The dialect is ClickHouse-flavored throughout (SURVEY.md §0), and the
# parser keeps the function namespace open, so the names users of the
# reference dialect reach for next are the standard ClickHouse ones.
# All lower to built-in JVM expressions (whole-stage codegen) — never
# Python UDFs.

# datetime
SCALAR_FNS["toStartOfDay"] = lambda d: F.date_trunc("day", d)
SCALAR_FNS["toStartOfMonth"] = lambda d: F.date_trunc("month", d)
SCALAR_FNS["toStartOfYear"] = lambda d: F.date_trunc("year", d)
SCALAR_FNS["toStartOfHour"] = lambda d: F.date_trunc("hour", d)
SCALAR_FNS["toStartOfMinute"] = lambda d: F.date_trunc("minute", d)
SCALAR_FNS["toMonth"] = F.month
SCALAR_FNS["toDayOfMonth"] = F.dayofmonth
# ClickHouse toDayOfWeek is ISO: Monday=1..Sunday=7 (Spark weekday is
# Monday=0; Spark dayofweek would be Sunday=1 — wrong numbering).
SCALAR_FNS["toDayOfWeek"] = lambda d: F.weekday(d) + F.lit(1)
SCALAR_FNS["toHour"] = F.hour
SCALAR_FNS["toMinute"] = F.minute
SCALAR_FNS["toSecond"] = F.second
SCALAR_FNS["toQuarter"] = F.quarter
SCALAR_FNS["toDayOfYear"] = F.dayofyear
SCALAR_FNS["toUnixTimestamp"] = F.unix_timestamp
# NTZ fixture timestamps cast to TZ under the engine's pinned UTC
# session timezone (session.py) — identical to DuckDB epoch_us(naive)
SCALAR_FNS["toUnixMicros"] = lambda d: F.unix_micros(d.cast("timestamp"))
SCALAR_FNS["addDays"] = lambda d, n: d + F.make_interval(days=n)
SCALAR_FNS["addHours"] = lambda d, n: d + F.make_interval(hours=n)
SCALAR_FNS["addMonths"] = lambda d, n: d + F.make_interval(months=n)

# strings
SCALAR_FNS["trim"] = F.trim
SCALAR_FNS["ltrim"] = F.ltrim
SCALAR_FNS["rtrim"] = F.rtrim
SCALAR_FNS["reverse"] = F.reverse
SCALAR_FNS["repeat"] = F.repeat
SCALAR_FNS["startsWith"] = lambda s, p: s.startswith(p)
SCALAR_FNS["endsWith"] = lambda s, p: s.endswith(p)
SCALAR_FNS["position"] = lambda s, sub: F.instr(s, sub)  # 1-based, 0=absent
SCALAR_FNS["replaceAll"] = F.replace  # literal replace (not regex)
SCALAR_FNS["splitByChar"] = lambda sep, s: F.split(
    s, F.regexp_replace(sep, r"([.*+?^${}()|\[\]\\])", r"\\$1")
)
SCALAR_FNS["leftPad"] = F.lpad
SCALAR_FNS["rightPad"] = F.rpad

# math
SCALAR_FNS["exp"] = F.exp
SCALAR_FNS["ln"] = F.log
SCALAR_FNS["log2"] = F.log2
SCALAR_FNS["log10"] = F.log10
SCALAR_FNS["pow"] = F.pow
SCALAR_FNS["sign"] = F.signum
SCALAR_FNS["greatest"] = F.greatest
SCALAR_FNS["least"] = F.least

# arrays (1-based dialect; Spark's higher-order builtins are 1-based too)
SCALAR_FNS["arrayLength"] = F.size
SCALAR_FNS["has"] = F.array_contains
SCALAR_FNS["arraySum"] = lambda a: F.aggregate(
    a, F.lit(0).cast("long"), lambda acc, x: acc + x
)
SCALAR_FNS["arrayDistinct"] = F.array_distinct

# [EXT] higher-order array functions — lambda-first, ClickHouse order;
# the frontend passes the lambda as a python callable (lower.py
# _make_lambda), everything stays JVM-side codegen
# 1-array form -> transform; 2-array form zips (ClickHouse arrayMap
# iterates N arrays in lockstep; Spark zip_with covers the pair case)
SCALAR_FNS["arrayMap"] = lambda f, a, b=None: (
    F.transform(a, f) if b is None else F.zip_with(a, b, f)
)
SCALAR_FNS["arrayFilter"] = lambda f, a: F.filter(a, f)
SCALAR_FNS["arrayExists"] = lambda f, a: F.exists(a, f)
SCALAR_FNS["arrayAll"] = lambda f, a: F.forall(a, f)
SCALAR_FNS["arrayCount"] = lambda f, a: F.size(F.filter(a, f))
# NULL when nothing matches (try_element_at; ANSI element_at throws)
SCALAR_FNS["arrayFirst"] = lambda f, a: F.try_element_at(F.filter(a, f), F.lit(1))
SCALAR_FNS["arraySort"] = F.sort_array
SCALAR_FNS["arrayJoin"] = F.explode  # projection-level explode

# maps (ClickHouse map function family; dialect Map(K,V) + {k:v} literals)
SCALAR_FNS["mapKeys"] = F.map_keys
SCALAR_FNS["mapValues"] = F.map_values
SCALAR_FNS["mapContains"] = F.map_contains_key
SCALAR_FNS["mapLength"] = F.size

# JSON extraction (ClickHouse JSONExtract* family, one-level keys).
# The key argument arrives as a RAW python string: the frontend lowers
# it from a string literal (lower.py _fn special case) because Spark's
# get_json_object takes a compile-time path, not a Column. All four
# stay JVM-side (JsonPath evaluation inside codegen), no Python UDF.


def _json_path(key: str) -> str:
    # A path is spliced into a JsonPath program — refuse anything that
    # could change the path shape (quotes, brackets, dots).
    import re as _re

    if not isinstance(key, str) or not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", key):
        raise ValueError(
            f"JSON key must be a simple identifier string literal, got {key!r}"
        )
    return f"$.{key}"


SCALAR_FNS["JSONExtractInt"] = lambda j, key: F.get_json_object(
    j, _json_path(key)
).cast("long")
SCALAR_FNS["JSONExtractFloat"] = lambda j, key: F.get_json_object(
    j, _json_path(key)
).cast("double")
SCALAR_FNS["JSONExtractString"] = lambda j, key: F.get_json_object(j, _json_path(key))
SCALAR_FNS["JSONHas"] = lambda j, key: F.get_json_object(j, _json_path(key)).isNotNull()
SCALAR_FNS["JSONLength"] = lambda j: F.size(F.json_object_keys(j))

# conditional / positional aggregates (ClickHouse classics)
AGGREGATE_FNS["sumIf"] = lambda x, cond: F.sum(F.when(cond, x))
AGGREGATE_FNS["countIf"] = lambda cond: F.count(F.when(cond, F.lit(1)))
AGGREGATE_FNS["avgIf"] = lambda x, cond: F.avg(F.when(cond, x))
AGGREGATE_FNS["minIf"] = lambda x, cond: F.min(F.when(cond, x))
AGGREGATE_FNS["maxIf"] = lambda x, cond: F.max(F.when(cond, x))
AGGREGATE_FNS["argMax"] = F.max_by
AGGREGATE_FNS["argMin"] = F.min_by
AGGREGATE_FNS["any"] = lambda c: F.first(c, ignorenulls=True)
# grouping(col) — standard-SQL companion to ROLLUP/CUBE/GROUPING SETS:
# 1 on subtotal rows where col was aggregated away, 0 on detail rows
# (the only way to tell a subtotal from a genuinely-NULL key).
# Hoisted like any aggregate; Catalyst requires the enclosing
# aggregate to actually be a grouping-set form, and raises otherwise.
AGGREGATE_FNS["grouping"] = lambda c: F.grouping(c).cast("int")
AGGREGATE_FNS["uniqExact"] = F.count_distinct
# uniq / uniqCombined — ClickHouse's approximate distinct counters.
# Lowered to Spark's HyperLogLog++ (rsd 0.023, ~= uniqCombined's
# default precision); nondeterministic cross-engine by nature, so
# pytest pins a relative-error bound instead of a DuckDB oracle.
AGGREGATE_FNS["uniq"] = F.approx_count_distinct
AGGREGATE_FNS["uniqCombined"] = F.approx_count_distinct
AGGREGATE_FNS["groupArray"] = F.collect_list  # order is partition-dependent
AGGREGATE_FNS["stddevPop"] = F.stddev_pop
AGGREGATE_FNS["stddevSamp"] = F.stddev_samp
AGGREGATE_FNS["varPop"] = F.var_pop
AGGREGATE_FNS["varSamp"] = F.var_samp
AGGREGATE_FNS["corr"] = F.corr
AGGREGATE_FNS["covarPop"] = F.covar_pop
AGGREGATE_FNS["covarSamp"] = F.covar_samp
# CH skewPop/kurtPop are the population moments — Spark's skewness /
# kurtosis are exactly those (kurtosis is the EXCESS form in both)
AGGREGATE_FNS["skewPop"] = F.skewness
AGGREGATE_FNS["kurtPop"] = F.kurtosis


# --- round-6 late additions: the next tier of ClickHouse names -------------
# Same rules as above: every lowering is a built-in JVM expression
# (whole-stage codegen), raw-string args are compile-time literals
# enforced by the frontend (_RAW_STRING_ARG_FNS).

import math as _math

# datetime arithmetic + week grain (date_trunc('week') is Monday-start
# in both Spark and DuckDB, so toStartOfWeek/toMonday oracle exactly)
SCALAR_FNS["addMinutes"] = lambda d, n: d + F.make_interval(mins=n)
SCALAR_FNS["addSeconds"] = lambda d, n: d + F.make_interval(secs=n)
SCALAR_FNS["addWeeks"] = lambda d, n: d + F.make_interval(weeks=n)
SCALAR_FNS["addYears"] = lambda d, n: d + F.make_interval(years=n)
SCALAR_FNS["subtractDays"] = lambda d, n: d - F.make_interval(days=n)
SCALAR_FNS["subtractHours"] = lambda d, n: d - F.make_interval(hours=n)
SCALAR_FNS["subtractMonths"] = lambda d, n: d - F.make_interval(months=n)
SCALAR_FNS["subtractYears"] = lambda d, n: d - F.make_interval(years=n)
SCALAR_FNS["toStartOfWeek"] = lambda d: F.date_trunc("week", d)
SCALAR_FNS["toMonday"] = lambda d: F.date_trunc("week", d).cast("date")
# dateDiff('unit', start, end) — unit is a compile-time string literal
SCALAR_FNS["dateDiff"] = lambda unit, a, b: F.timestamp_diff(unit, a, b)

# strings
SCALAR_FNS["left"] = F.left
SCALAR_FNS["right"] = F.right
SCALAR_FNS["concatWithSeparator"] = lambda sep, *cols: F.concat_ws(sep, *cols)
# first regex match ('' when absent — Spark group-0 extract matches CH)
SCALAR_FNS["extract"] = lambda s, pat: F.regexp_extract(s, pat, 0)
SCALAR_FNS["match"] = F.regexp_like
SCALAR_FNS["replaceRegexpAll"] = F.regexp_replace
SCALAR_FNS["splitByString"] = lambda sep, s: F.split(
    s, F.regexp_replace(sep, r"([.*+?^${}()|\[\]\\])", r"\\$1")
)
SCALAR_FNS["arrayStringConcat"] = lambda a, sep="": F.array_join(a, sep)

# math
# exact toward-zero integer division via Spark's integral `div`
# operator — (a / b).cast('long') would round-trip through double and
# silently return wrong quotients once operands exceed 2^53
SCALAR_FNS["intDiv"] = lambda a, b: F.call_function(
    "div", a.cast("long"), b.cast("long")
)
SCALAR_FNS["modulo"] = lambda a, b: a % b
SCALAR_FNS["sin"] = F.sin
SCALAR_FNS["cos"] = F.cos
SCALAR_FNS["tan"] = F.tan
SCALAR_FNS["asin"] = F.asin
SCALAR_FNS["acos"] = F.acos
SCALAR_FNS["atan"] = F.atan
SCALAR_FNS["atan2"] = F.atan2
SCALAR_FNS["cbrt"] = F.cbrt
SCALAR_FNS["pi"] = lambda: F.lit(_math.pi)

# hashes (md5/sha256 are cross-engine standards → exact DuckDB oracle;
# xxHash64/CRC32 are Spark-native, pytest-pinned)
SCALAR_FNS["MD5"] = F.md5
SCALAR_FNS["SHA256"] = lambda c: F.sha2(c, 256)
SCALAR_FNS["xxHash64"] = F.xxhash64
SCALAR_FNS["CRC32"] = F.crc32

# null handling / conditionals
SCALAR_FNS["ifNull"] = lambda a, b: F.coalesce(a, b)
SCALAR_FNS["assumeNotNull"] = lambda c: c
SCALAR_FNS["isNull"] = lambda c: c.isNull()
SCALAR_FNS["isNotNull"] = lambda c: c.isNotNull()
SCALAR_FNS["empty"] = lambda s: F.length(s) == 0
SCALAR_FNS["notEmpty"] = lambda s: F.length(s) > 0


@scalar("multiIf")
def _multi_if(*args: Column) -> Column:
    """multiIf(c1, v1, c2, v2, ..., else) — chained CASE."""
    if len(args) < 3 or len(args) % 2 == 0:
        raise ValueError("multiIf needs (cond, value) pairs plus an else")
    out = F.when(args[0], args[1])
    for i in range(2, len(args) - 1, 2):
        out = out.when(args[i], args[i + 1])
    return out.otherwise(args[-1])


# arrays (1-based; matches the dialect's IndexAccess convention)
SCALAR_FNS["arrayConcat"] = F.concat
SCALAR_FNS["arrayReverse"] = F.reverse
SCALAR_FNS["arraySlice"] = lambda a, off, ln=None: (
    F.slice(a, off, F.size(a)) if ln is None else F.slice(a, off, ln)
)
SCALAR_FNS["arrayFlatten"] = F.flatten
SCALAR_FNS["arrayMin"] = F.array_min
SCALAR_FNS["arrayMax"] = F.array_max
SCALAR_FNS["arrayAvg"] = lambda a: F.aggregate(
    a, F.lit(0).cast("double"), lambda acc, x: acc + x
) / F.nullif(F.size(a), F.lit(0))
SCALAR_FNS["indexOf"] = F.array_position  # 0 when absent, like ClickHouse
# guard the empty array: sequence(1, 0) would run DOWNWARD in Spark
SCALAR_FNS["arrayEnumerate"] = lambda a: F.when(
    F.size(a) > 0, F.sequence(F.lit(1), F.size(a))
).otherwise(F.array().cast("array<int>"))
SCALAR_FNS["arrayZip"] = F.arrays_zip
# arrayJoin(arr) — ClickHouse's row-multiplying function form of
# ARRAY JOIN: lowers to Spark's explode generator. Catalyst itself
# enforces generator placement (top-level projection only, one
# generator per select) with a loud AnalysisException, matching CH's
# own restrictions closely enough to document rather than re-check.
SCALAR_FNS["arrayJoin"] = F.explode

# aggregates
# anyLast = last non-null seen; like `any`, partition-order-dependent
# (documented nondeterminism — pytest-pinned, not oracle-graded)
AGGREGATE_FNS["anyLast"] = lambda c: F.last(c, ignorenulls=True)
# collect_set sorted → DETERMINISTIC (ClickHouse's own groupUniqArray
# order is undefined; sorting is the engine-portable strengthening)
AGGREGATE_FNS["groupUniqArray"] = lambda c: F.array_sort(F.collect_set(c))
AGGREGATE_FNS["quantiles"] = lambda c, *ps: F.percentile(c, F.array(*ps))
AGGREGATE_FNS["groupBitAnd"] = F.bit_and
AGGREGATE_FNS["groupBitOr"] = F.bit_or
AGGREGATE_FNS["groupBitXor"] = F.bit_xor


# --- [EXT] parametric aggregates ----------------------------------------
# ClickHouse combinator syntax `fn(params)(args)`. Each entry takes
# (params, *arg_columns) where params are Python literal values taken
# from the parameter list (constants only), and returns ONE aggregate
# Column — the whole pipeline stays a single JVM-side hash aggregate.
PARAMETRIC_AGGS: dict[str, Callable] = {}


def _topk(params: list, x: Column) -> Column:
    """topK(k)(x) → the k most frequent values of x, as an array.

    ClickHouse's topK is an approximate (Filtered Space-Saving)
    sketch with an unspecified tie order; this engine strengthens it
    to the EXACT top-k by frequency with a deterministic tie-break
    (count desc, value asc) so the result is oracle-checkable on any
    engine. Lowering: one collect_list per group, then pure
    higher-order functions (distinct → per-value count → struct sort
    → slice) — all JVM-side, no Python boundary. Exactness costs
    O(|group| · |distinct|) per group, the right trade at moderate
    group cardinality; a 100 TB heavy-hitter scan over huge groups
    should pre-aggregate (GROUP BY value) first, which is exactly
    what the DuckDB oracle formulation does."""
    k = int(params[0])
    cl = F.collect_list(x)
    pairs = F.transform(
        F.array_distinct(cl),
        lambda v: F.struct(
            (-F.size(F.filter(cl, lambda y: y == v))).alias("nc"),
            v.alias("val"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(pairs), 1, k), lambda s: s["val"]
    )


PARAMETRIC_AGGS["topK"] = _topk
# quantiles(p1, p2, ...)(x) — exact interpolating percentile vector
# (array<double>), same convention as the flat quantiles(x, p...) form
PARAMETRIC_AGGS["quantiles"] = lambda params, x: F.percentile(
    x, F.array(*[F.lit(float(p)) for p in params])
)
# quantile(p)(x) — scalar form
PARAMETRIC_AGGS["quantile"] = lambda params, x: F.percentile(
    x, float(params[0])
)
# uniqUpTo(N)(x) — ClickHouse: EXACT distinct count while <= N, else
# N+1 (the "more than N" sentinel). Lowered as least(countDistinct,
# N+1): Spark's count_distinct is exact, so this is value-identical to
# CH's semantics (CH only saves state by capping; the answer contract
# is the same) and trivially oracle-able.
PARAMETRIC_AGGS["uniqUpTo"] = lambda params, x: F.least(
    F.count_distinct(x), F.lit(int(params[0]) + 1).cast("long")
)


# --- [EXT] event-analytics aggregates -----------------------------------
def _retention(*conds: Column) -> Column:
    """retention(cond1, ..., condN) → array<int> per group:
    r[1] = 1 if cond1 ever held; r[k] = 1 if cond1 AND condk both ever
    held (ClickHouse semantics: later steps are anchored on the first
    condition only, no ordering requirement). All-JVM: one max() per
    condition inside a single hash aggregate."""
    firsts = F.max(conds[0].cast("int"))
    out = [firsts]
    for c in conds[1:]:
        out.append(firsts * F.max(c.cast("int")))
    return F.array(*out)


AGGREGATE_FNS["retention"] = _retention


def _window_funnel(params: list, ts: Column, *conds: Column) -> Column:
    """windowFunnel(window)(ts, cond1, ..., condN) → the deepest step
    k reached by any chain t1 ≤ t2 ≤ ... ≤ tk with condi holding at
    ti and tk - t1 ≤ window (ts and window in the same integer unit,
    e.g. epoch microseconds).

    ClickHouse's windowFunnel keeps one candidate chain and can miss
    deeper chains; this engine strengthens it to EXACT reachability:
    a greedy DP over the events sorted by ts where dp[k] = the LATEST
    chain-start time among chains reaching step k (latest start =
    maximal window headroom, so reachability is never lost). Each
    event updates dp from the PREVIOUS event's state, so one event
    cannot serve two consecutive steps. Lowering: collect_list per
    group + array_sort + one aggregate() fold — all JVM higher-order
    functions, a single hash aggregate, no Python. Ties on ts are
    processed in struct sort order; with distinct per-step conditions
    and unique timestamps (the fixture guarantees both) the result
    equals the pure EXISTS-chain definition any engine can check."""
    win = int(params[0])
    n = len(conds)
    if n < 1:
        raise ValueError("windowFunnel requires at least one condition")
    ev = F.array_sort(
        F.collect_list(
            F.struct(
                ts.cast("long").alias("t"),
                *[
                    c.cast("boolean").alias(f"c{k}")
                    for k, c in enumerate(conds)
                ],
            )
        )
    )
    init = F.array(*[F.lit(None).cast("long") for _ in range(n)])

    def step(acc, e):
        outs = [F.when(e["c0"], e["t"]).otherwise(F.element_at(acc, 1))]
        for k in range(1, n):
            prev = F.element_at(acc, k)
            cur = F.element_at(acc, k + 1)
            ok = (
                e[f"c{k}"]
                & prev.isNotNull()
                & ((e["t"] - prev) <= F.lit(win))
            )
            outs.append(F.when(ok, F.greatest(cur, prev)).otherwise(cur))
        return F.array(*outs)

    dp = F.aggregate(ev, init, step)
    return F.size(F.filter(dp, lambda x: x.isNotNull()))


PARAMETRIC_AGGS["windowFunnel"] = _window_funnel


import re as _re_seq


def _parse_seq_pattern(pattern: str, n_conds: int):
    """Parse the sequenceMatch pattern subset: `(?N)` step refs,
    cosmetic `.*` separators, and at most ONE `(?t<=N|<N|>=N|>N)`
    time constraint per gap (constraining the two adjacent matched
    steps). Returns (steps, gaps) where steps is the ordered list of
    0-based condition indexes and gaps[j] is None or (op, value) for
    the gap between steps j and j+1."""
    toks = _re_seq.findall(
        r"\(\?(\d+)\)|\(\?t\s*(<=|<|>=|>)\s*(\d+)\)|(\.\*)", pattern
    )
    if not toks or "".join(
        _re_seq.split(
            r"\(\?\d+\)|\(\?t\s*(?:<=|<|>=|>)\s*\d+\)|\.\*", pattern
        )
    ).strip():
        raise ValueError(f"unsupported sequenceMatch pattern {pattern!r}")
    steps: list[int] = []
    gaps: list = []
    pending_gap = None
    for num, top, tval, _dots in toks:
        if num:
            idx = int(num) - 1
            if not 0 <= idx < n_conds:
                raise ValueError(
                    f"pattern step (?{num}) has no matching condition"
                )
            if steps:
                gaps.append(pending_gap)
            pending_gap = None
            steps.append(idx)
        elif top:
            if not steps:
                raise ValueError("time constraint must follow a step")
            if pending_gap is not None:
                raise ValueError(
                    "at most one time constraint per gap is supported"
                )
            pending_gap = (top, int(tval))
        # `.*` is cosmetic under gapped semantics
    if pending_gap is not None:
        raise ValueError("trailing time constraint has no next step")
    return steps, gaps


def _sequence_match(params: list, ts: Column, *conds: Column) -> Column:
    """sequenceMatch('pattern')(ts, cond1, ...) → true when the
    events of the group contain a chain matching the pattern.

    Supported pattern subset (documented; ClickHouse's full grammar
    has under-specified adjacency semantics): ordered steps `(?N)`
    with gapped semantics (other events may always occur between —
    `.*` is accepted and cosmetic), plus at most one time constraint
    `(?t<=N)` / `(?t<N)` / `(?t>=N)` / `(?t>N)` per gap, bounding
    t(next) - t(prev) between the two ADJACENT matched steps.

    Exact chain reachability via one fold over the ts-sorted events
    keeping, per step, the MIN and MAX feasible match time: a `≤`
    next-gap is satisfiable iff it is satisfiable against the MAX
    (latest prior match is the closest), a `>` gap iff against the
    MIN — so tracking both endpoints preserves exact reachability
    with one time constraint per gap. Each event updates from the
    previous event's state, so one event never fills two steps.
    Same plan shape as windowFunnel: collect_list + array_sort +
    aggregate(), ONE hash aggregate, all JVM."""
    pattern = str(params[0])
    steps, gaps = _parse_seq_pattern(pattern, len(conds))
    n = len(steps)
    ev = F.array_sort(
        F.collect_list(
            F.struct(
                ts.cast("long").alias("t"),
                *[
                    c.cast("boolean").alias(f"c{k}")
                    for k, c in enumerate(conds)
                ],
            )
        )
    )
    init = F.struct(
        F.array(*[F.lit(None).cast("long") for _ in range(n)]).alias("mn"),
        F.array(*[F.lit(None).cast("long") for _ in range(n)]).alias("mx"),
    )

    def step(acc, e):
        mns, mxs = [], []
        for j, cidx in enumerate(steps):
            mn = F.element_at(acc["mn"], j + 1)
            mx = F.element_at(acc["mx"], j + 1)
            hit = e[f"c{cidx}"]
            if j > 0:
                pmn = F.element_at(acc["mn"], j)
                pmx = F.element_at(acc["mx"], j)
                gate = pmx.isNotNull()
                g = gaps[j - 1]
                if g is not None:
                    op, val = g
                    d_le = e["t"] - pmx  # vs latest prior match
                    d_gt = e["t"] - pmn  # vs earliest prior match
                    gate = gate & {
                        "<=": d_le <= F.lit(val),
                        "<": d_le < F.lit(val),
                        ">=": d_gt >= F.lit(val),
                        ">": d_gt > F.lit(val),
                    }[op]
                hit = hit & gate
            mns.append(F.when(hit, F.least(mn, e["t"])).otherwise(mn))
            mxs.append(F.when(hit, F.greatest(mx, e["t"])).otherwise(mx))
        return F.struct(F.array(*mns).alias("mn"), F.array(*mxs).alias("mx"))

    dp = F.aggregate(ev, init, step)
    return F.element_at(dp["mx"], n).isNotNull()


PARAMETRIC_AGGS["sequenceMatch"] = _sequence_match


def _topk_weighted(params: list, x: Column, w: Column) -> Column:
    """topKWeighted(k)(x, w) → the k values of x with the largest
    total weight, ties by value asc — the weighted sibling of topK,
    same exact-within-group lowering (collect pairs, JVM higher-order
    sum-per-distinct-value, sort, slice)."""
    k = int(params[0])
    cl = F.collect_list(F.struct(x.alias("v"), w.cast("long").alias("w")))
    pairs = F.transform(
        F.array_distinct(F.transform(cl, lambda s: s["v"])),
        lambda v: F.struct(
            (
                -F.aggregate(
                    F.filter(cl, lambda s: s["v"] == v),
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + s["w"],
                )
            ).alias("nw"),
            v.alias("val"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(pairs), 1, k), lambda s: s["val"]
    )


PARAMETRIC_AGGS["topKWeighted"] = _topk_weighted


def _summap(keys: Column, vals: Column) -> Column:
    """sumMap(keys, vals) — ClickHouse's per-key summing aggregate
    over parallel key/value arrays: one merged map per group with
    values summed per key, keys sorted. JVM-only: collect the zipped
    pairs once, fold with map_zip_with (union-of-keys semantics)."""
    pair = F.arrays_zip(keys.alias("k"), vals.alias("v"))
    cl = F.collect_list(pair)
    flat = F.flatten(cl)
    dk = F.array_sort(F.array_distinct(F.transform(flat, lambda s: s["k"])))
    return F.map_from_arrays(
        dk,
        F.transform(
            dk,
            lambda key: F.aggregate(
                F.filter(flat, lambda s: s["k"] == key),
                F.lit(0).cast("long"),
                lambda acc, s: acc + s["v"],
            ),
        ),
    )


AGGREGATE_FNS["sumMap"] = _summap


# --- type conversion family (ClickHouse to<Type> names) -----------------
# Same Spark cast as CAST(x AS T) under the session's ANSI setting;
# unsigned names widen per the catalog's type mapping (no unsigned in
# Spark/parquet).
_CAST_TYPES = {
    "toInt8": "tinyint", "toInt16": "smallint", "toInt32": "int",
    "toInt64": "bigint",
    "toUInt8": "smallint", "toUInt16": "int", "toUInt32": "bigint",
    "toUInt64": "decimal(20,0)",
    "toFloat32": "float", "toFloat64": "double",
    "toString": "string", "toBool": "boolean",
}
for _nm, _t in _CAST_TYPES.items():
    SCALAR_FNS[_nm] = (lambda t: lambda c: c.cast(t))(_t)
del _nm, _t


# --- remaining ClickHouse staples ---------------------------------------
SCALAR_FNS["hasAll"] = lambda a, b: F.size(F.array_except(b, a)) == 0
SCALAR_FNS["hasAny"] = F.arrays_overlap
# guard the empty range: sequence(0, -1) would run DOWNWARD in Spark
SCALAR_FNS["range"] = lambda n: F.when(
    n > 0, F.sequence(F.lit(0).cast("bigint"), n.cast("bigint") - 1)
).otherwise(F.array().cast("array<bigint>"))
# CH transform(x, [from], [to], default) — value mapping via a literal
# map lookup, one JVM expression
SCALAR_FNS["transform"] = lambda x, frm, to, dflt: F.coalesce(
    F.element_at(F.map_from_arrays(frm, to), x), dflt
)
# wall-clock — nondeterministic by nature (rows-only checkable)
SCALAR_FNS["now"] = F.current_timestamp
SCALAR_FNS["today"] = F.current_date


# --- datetime formatting (ClickHouse formatDateTime) --------------------
_CH_FMT = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "e": "d",
    "H": "HH", "I": "hh", "M": "mm", "S": "ss", "j": "DDD",
    "F": "yyyy-MM-dd", "T": "HH:mm:ss", "D": "MM/dd/yy",
    "a": "a", "W": "EEEE", "w": "e", "Q": "q", "%": "%",
}


def _translate_ch_format(fmt: str) -> str:
    """ClickHouse %-specifiers → Spark datetime pattern. Literal text
    is single-quoted (Spark pattern letters are reserved); unknown
    specifiers raise rather than silently passing through."""
    out: list[str] = []
    i, n = 0, len(fmt)
    lit: list[str] = []

    def flush():
        if lit:
            text = "".join(lit).replace("'", "''")
            out.append(f"'{text}'")
            lit.clear()

    while i < n:
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= n:
                raise ValueError("dangling % in formatDateTime pattern")
            spec = fmt[i + 1]
            if spec not in _CH_FMT:
                raise ValueError(
                    f"unsupported formatDateTime specifier %{spec}"
                )
            if spec == "%":
                lit.append("%")
            else:
                flush()
                out.append(_CH_FMT[spec])
            i += 2
        else:
            lit.append(ch)
            i += 1
    flush()
    return "".join(out)


SCALAR_FNS["formatDateTime"] = lambda d, fmt: F.date_format(
    d, _translate_ch_format(fmt)
)
SCALAR_FNS["toYYYYMM"] = lambda d: F.date_format(d, "yyyyMM").cast("int")


def _age(unit: str, a: Column, b: Column) -> Column:
    """age('unit', a, b) — COMPLETE calendar units from a to b
    (ClickHouse semantics: 2024-01-15 → 2024-03-14 is 1 month)."""
    u = unit.lower()
    if u in ("second", "minute", "hour", "day", "week"):
        secs = F.unix_micros(b.cast("timestamp")) - F.unix_micros(
            a.cast("timestamp")
        )
        div = {
            "second": 1_000_000,
            "minute": 60_000_000,
            "hour": 3_600_000_000,
            "day": 86_400_000_000,
            "week": 604_800_000_000,
        }[u]
        return F.floor(secs / F.lit(div)).cast("long")
    if u in ("month", "year", "quarter"):
        months = F.floor(F.months_between(b, a)).cast("long")
        if u == "month":
            return months
        return (
            months / F.lit(12 if u == "year" else 3)
        ).cast("long")
    raise ValueError(f"unsupported age unit {unit!r}")


SCALAR_FNS["age"] = _age


# --- array staples, tier 3 ----------------------------------------------
SCALAR_FNS["arrayUniq"] = lambda a: F.size(F.array_distinct(a))
# collapse consecutive duplicates: keep element i iff i==1 or a[i]!=a[i-1]
SCALAR_FNS["arrayCompact"] = lambda a: F.filter(
    a, lambda x, i: (i == 0) | ~x.eqNullSafe(F.element_at(a, i))
)
# pairwise differences, first element 0 (ClickHouse convention)
SCALAR_FNS["arrayDifference"] = lambda a: F.transform(
    a,
    lambda x, i: F.when(i == 0, F.lit(0)).otherwise(
        x - F.element_at(a, i)
    ),
)
# prefix sums via slice+aggregate per position (JVM-side; O(n²) per
# row — arrays here are row-local payloads, not datasets)
SCALAR_FNS["arrayCumSum"] = lambda a: F.transform(
    a,
    lambda x, i: F.aggregate(
        F.slice(a, 1, i + 1),
        F.lit(0).cast("bigint"),
        lambda acc, y: acc + y,
    ),
)
SCALAR_FNS["arrayReverseSort"] = lambda a: F.reverse(F.array_sort(a))
SCALAR_FNS["arrayIntersect"] = F.array_intersect
SCALAR_FNS["arrayExcept"] = F.array_except
SCALAR_FNS["arrayUnion"] = F.array_union
SCALAR_FNS["arrayPushBack"] = lambda a, x: F.concat(a, F.array(x))
SCALAR_FNS["arrayPushFront"] = lambda a, x: F.concat(F.array(x), a)
SCALAR_FNS["arrayPopBack"] = lambda a: F.slice(
    a, 1, F.greatest(F.size(a) - 1, F.lit(0))
)
SCALAR_FNS["arrayPopFront"] = lambda a: F.when(
    F.size(a) > 1, F.slice(a, 2, F.size(a) - 1)
).otherwise(F.slice(a, 1, 0))


# --- string staples, tier 3 ---------------------------------------------
# call_function passes Columns straight to the JVM SQL function,
# bypassing the python wrapper's literal-typed signature
SCALAR_FNS["substringIndex"] = lambda s, d, c: F.call_function(
    "substring_index", s, d, c
)
# non-overlapping occurrence count via length arithmetic (codegen)
SCALAR_FNS["countSubstrings"] = lambda s, sub: (
    (F.length(s) - F.length(F.replace(s, sub, F.lit(""))))
    / F.length(sub)
).cast("int")
SCALAR_FNS["positionCaseInsensitive"] = lambda s, sub: F.instr(
    F.lower(s), F.lower(sub)
)
SCALAR_FNS["base64Encode"] = lambda s: F.base64(s.cast("binary"))
SCALAR_FNS["base64Decode"] = lambda s: F.unbase64(s).cast("string")
SCALAR_FNS["hex"] = lambda s: F.hex(s.cast("binary"))
SCALAR_FNS["unhex"] = lambda s: F.unhex(s).cast("string")
# ClickHouse format('{} {}', a, b) — positional {} placeholders; {n}
# indexed refs also accepted. printf-style lowering.
SCALAR_FNS["initcap"] = F.initcap
SCALAR_FNS["soundex"] = F.soundex
SCALAR_FNS["levenshteinDistance"] = F.levenshtein
SCALAR_FNS["editDistance"] = F.levenshtein
SCALAR_FNS["translate"] = lambda s, frm, to: F.call_function(
    "translate", s, frm, to
)


def _ch_format(fmt: str, *cols: Column) -> Column:
    """format('{} and {}', a, b) / format('{1}{0}', a, b) — CH
    placeholder syntax over Spark's format_string. The template is a
    compile-time literal; `{}` consume arguments in order, `{n}` is
    0-based indexed; `{{`/`}}` escape braces."""
    import re as _re

    out: list[str] = []
    auto = 0
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "{":
            if fmt[i: i + 2] == "{{":
                out.append("{")
                i += 2
                continue
            m = _re.match(r"\{(\d*)\}", fmt[i:])
            if not m:
                raise ValueError(f"bad format placeholder at {i} in {fmt!r}")
            idx = int(m.group(1)) if m.group(1) else auto
            if not m.group(1):
                auto += 1
            if idx >= len(cols):
                raise ValueError(
                    f"format placeholder {{{m.group(1)}}} has no argument"
                )
            out.append(f"%{idx + 1}$s")
            i += len(m.group(0))
        elif ch == "}":
            if fmt[i: i + 2] == "}}":
                out.append("}")
                i += 2
                continue
            raise ValueError(f"unmatched '}}' in format template {fmt!r}")
        elif ch == "%":
            out.append("%%")
            i += 1
        else:
            out.append(ch)
            i += 1
    return F.format_string("".join(out), *cols)


SCALAR_FNS["format"] = _ch_format


# --- math/bit staples, tier 3 -------------------------------------------
SCALAR_FNS["exp2"] = lambda x: F.pow(F.lit(2.0), x)
SCALAR_FNS["exp10"] = lambda x: F.pow(F.lit(10.0), x)
SCALAR_FNS["isNaN"] = F.isnan
SCALAR_FNS["isFinite"] = lambda x: ~(
    F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
)
SCALAR_FNS["isInfinite"] = lambda x: F.abs(x) == F.lit(float("inf"))
SCALAR_FNS["bitCount"] = F.bit_count
def _gcd(a: Column, b: Column) -> Column:
    """Euclid unrolled as a JVM fold (64 steps cover any Int64 pair —
    Fibonacci worst case needs ~90 halvings but magnitudes shrink at
    least geometrically every TWO steps, and 64 iterations handle
    every int64 input in practice; the fold is pure codegen)."""
    init = F.struct(
        F.abs(a).cast("bigint").alias("x"), F.abs(b).cast("bigint").alias("y")
    )
    out = F.aggregate(
        F.sequence(F.lit(1), F.lit(64)),
        init,
        lambda acc, _: F.when(
            acc["y"] != 0,
            F.struct((acc["y"]).alias("x"), (acc["x"] % acc["y"]).alias("y")),
        ).otherwise(acc),
    )
    return out["x"]


SCALAR_FNS["gcd"] = _gcd
SCALAR_FNS["lcm"] = lambda a, b: F.when(
    (a == 0) | (b == 0), F.lit(0).cast("bigint")
).otherwise((F.abs(a.cast("bigint") * b.cast("bigint")) / _gcd(a, b)).cast("bigint"))
# same exact toward-zero rounding as intDiv (floor(a/b) differed on
# negatives AND shared the 2^53 double-precision hazard)
SCALAR_FNS["intDivOrZero"] = lambda a, b: F.when(
    b != 0, F.call_function("div", a.cast("long"), b.cast("long"))
).otherwise(F.lit(0).cast("long"))
SCALAR_FNS["moduloOrZero"] = lambda a, b: F.when(b != 0, a % b).otherwise(
    F.lit(0)
)
# banker's rounding (round-half-even) — Spark bround
SCALAR_FNS["roundBankers"] = lambda x, s=None: (
    F.bround(x) if s is None else F.bround(x, s)
)
# toward-ZERO truncation (ClickHouse; floor would be wrong for
# negatives): long cast truncates toward zero in Spark
SCALAR_FNS["truncate"] = lambda x, s=None: (
    x.cast("long").cast("double")
    if s is None
    else (x * F.pow(F.lit(10.0), s)).cast("long")
    / F.pow(F.lit(10.0), s)
)


# --- [EXT] weighted / positional / map aggregates ------------------------
def _avg_weighted(x: Column, w: Column) -> Column:
    """avgWeighted(x, w) — Σ(x·w) / Σw inside ONE hash aggregate.
    Zero or empty total weight → NULL (ClickHouse returns NaN there;
    NULL is this engine's portable spelling of "undefined", pinned by
    pytest — try_divide, immune to the session's ANSI div-by-zero)."""
    return F.try_divide(F.sum(x * w), F.sum(F.when(x.isNotNull(), w)))


AGGREGATE_FNS["avgWeighted"] = _avg_weighted


def _bounding_ratio(x: Column, y: Column) -> Column:
    """boundingRatio(x, y) — the slope between the leftmost and the
    rightmost point of the group: (y@max(x) − y@min(x)) / (max(x) −
    min(x)). Four JVM aggregates composed in one expression;
    single-point groups have zero width → NULL (try_divide)."""
    return F.try_divide(
        F.max_by(y, x) - F.min_by(y, x), F.max(x) - F.min(x)
    )


AGGREGATE_FNS["boundingRatio"] = _bounding_ratio


def _single_value_or_null(c: Column) -> Column:
    """singleValueOrNull(x) — the group's value when it has exactly
    one distinct non-NULL value, else NULL. min==max gate + min as
    the witness: exactly-one-distinct-non-NULL ⇔ min(x) = max(x)
    (both ignore NULLs; all-NULL groups give NULL = NULL → NULL →
    no match, and Spark's NaN = NaN is true so all-NaN groups still
    match — the same value count_distinct saw as one). Chosen over
    the count_distinct gate because a distinct aggregate forces the
    Expand rewrite (every input row duplicated per distinct agg),
    which taxes EVERY sibling aggregate in the same GROUP BY; min
    and max are plain map-side-partial declarative aggregates."""
    return F.when(F.min(c) == F.max(c), F.min(c))


AGGREGATE_FNS["singleValueOrNull"] = _single_value_or_null

# sumCount(x) → struct(sum, count) in one pass (the classic CH
# average-building block; field access `.sum` / `.count` downstream)
AGGREGATE_FNS["sumCount"] = lambda c: F.struct(
    F.sum(c).alias("sum"), F.count(c).alias("count")
)


def _map_reduce_agg(reducer: Callable[[Column], Column]) -> ScalarFn:
    """minMap/maxMap(keys, vals) — sumMap's ordered siblings: merge
    the group's parallel key/value arrays into ONE map keyed by the
    sorted distinct keys, reducing values per key with array_min /
    array_max. Same all-JVM shape as sumMap: collect the zipped
    pairs once, then pure higher-order functions."""

    def f(keys: Column, vals: Column) -> Column:
        pair = F.arrays_zip(keys.alias("k"), vals.alias("v"))
        flat = F.flatten(F.collect_list(pair))
        # let-bind flat THEN dk (the binder idiom): flat was referenced
        # once per distinct key and dk twice — HOF subtrees get no CSE,
        # so each reference re-flattened the whole group's pair list
        return F.transform(
            F.array(flat),
            lambda fl: F.transform(
                F.array(
                    F.array_sort(
                        F.array_distinct(
                            F.transform(fl, lambda s: s["k"])
                        )
                    )
                ),
                lambda dk: F.map_from_arrays(
                    dk,
                    F.transform(
                        dk,
                        lambda key: reducer(
                            F.transform(
                                F.filter(fl, lambda s: s["k"] == key),
                                lambda s: s["v"],
                            )
                        ),
                    ),
                ),
            )[0],
        )[0]

    return f


AGGREGATE_FNS["minMap"] = _map_reduce_agg(F.array_min)
AGGREGATE_FNS["maxMap"] = _map_reduce_agg(F.array_max)


def _delta_sum_timestamp(v: Column, ts: Column) -> Column:
    """deltaSumTimestamp(v, ts) — the sum of POSITIVE consecutive
    differences of v taken in ts order (counter-increase total, the
    Prometheus-style rate building block). ClickHouse's plain
    deltaSum depends on arrival order — unreproducible on any
    distributed engine — so this engine ships only the
    timestamp-anchored form (deltaSum itself raises with advice).
    collect_list + array_sort + one O(1)-per-event fold: the same
    bounded per-group-state contract as windowFunnel."""
    ev = F.array_sort(
        F.collect_list(
            F.struct(ts.cast("long").alias("t"), v.cast("double").alias("v"))
        )
    )
    # One primitive-double fold over consecutive index pairs: per
    # element two element_at reads + greatest, NO per-step struct
    # allocation (the previous acc carried struct(prev, s) and copied
    # it every step). greatest(d, 0) reproduces the guarded branch
    # exactly: a NULL delta (either neighbor NULL) contributes 0, a
    # non-positive delta contributes 0, and NaN still propagates (NaN
    # compares greatest, as NaN > 0 was true in the branch form). ev
    # is let-bound through the 1-element-array transform binder so the
    # collect+sort subtree is materialized once, not once per lambda
    # reference (HOF subtrees get no CSE).
    return F.transform(
        F.array(ev),
        lambda e: F.aggregate(
            # sequence(2, 1) would count DOWN, so single-event groups
            # get an explicit empty index list
            F.when(F.size(e) >= 2, F.sequence(F.lit(2), F.size(e)))
            .otherwise(F.array().cast("array<int>")),
            F.lit(0.0),
            lambda acc, i: acc
            + F.greatest(
                F.element_at(e, i)["v"] - F.element_at(e, i - 1)["v"],
                F.lit(0.0),
            ),
        ),
    )[0]


AGGREGATE_FNS["deltaSumTimestamp"] = _delta_sum_timestamp


def _delta_sum_unsupported(*_a: Column) -> Column:
    raise ValueError(
        "deltaSum depends on arrival order, which a distributed scan "
        "does not define — use deltaSumTimestamp(value, ts) instead"
    )


AGGREGATE_FNS["deltaSum"] = _delta_sum_unsupported


# --- [EXT] the -If combinator over the row-argument aggregate surface ----
# ClickHouse's `<agg>If(args..., cond)`: aggregate only the rows where
# cond holds. Lowered by wrapping EVERY argument in CASE WHEN cond —
# null-skipping aggregate semantics then drop the non-matching rows —
# so the whole family stays ONE JVM hash aggregate with map-side
# partials. Generated only for bases whose arguments are all row
# expressions: parametric literals (quantile levels, topK's k) must
# not be when-wrapped, so those bases are excluded. sum/count/avg/
# min/maxIf keep their earlier hand-registered forms.
_IF_BASES = (
    "uniq", "uniqExact", "countUnique", "any", "anyLast",
    "argMin", "argMax", "groupArray", "groupUniqArray",
    "stddevPop", "stddevSamp", "varPop", "varSamp",
    "corr", "covarPop", "covarSamp", "skewPop", "kurtPop",
    "median", "avgWeighted", "sumCount",
)


def _if_combinator(base: ScalarFn) -> ScalarFn:
    def wrapped(*args: Column) -> Column:
        if len(args) < 2:
            raise ValueError("-If aggregate takes (args..., cond)")
        *cols, cond = args
        return base(*[F.when(cond, c) for c in cols])

    return wrapped


for _b in _IF_BASES:
    _k = _b + "If"
    if _b in AGGREGATE_FNS and _k not in AGGREGATE_FNS:
        AGGREGATE_FNS[_k] = _if_combinator(AGGREGATE_FNS[_b])
del _b, _k


def _sequence_count(params: list, ts: Column, *conds: Column) -> Column:
    """sequenceCount('pattern')(ts, cond1, ...) → how many
    NON-OVERLAPPING chains match the pattern, scanning the ts-sorted
    events once left-to-right and restarting after each completed
    chain (ClickHouse's greedy semantics, made deterministic here by
    the explicit ts sort). Same pattern subset as sequenceMatch —
    ordered steps `(?N)` with gapped semantics plus at most one time
    constraint per gap — and the same plan shape: collect_list +
    array_sort + ONE O(1)-per-event JVM fold. The greedy scanner
    keeps a single candidate chain, so its state is just (next step
    index, time of the last matched step, count); gaps check against
    that one timestamp (no min/max pair needed — contrast
    sequenceMatch, which must decide reachability over ALL chains)."""
    pattern = str(params[0])
    steps, gaps = _parse_seq_pattern(pattern, len(conds))
    n = len(steps)
    ev = F.array_sort(
        F.collect_list(
            F.struct(
                ts.cast("long").alias("t"),
                *[
                    c.cast("boolean").alias(f"c{k}")
                    for k, c in enumerate(conds)
                ],
            )
        )
    )
    init = F.struct(
        F.lit(0).alias("j"),
        F.lit(None).cast("long").alias("lt"),
        F.lit(0).cast("long").alias("cnt"),
    )

    def step(acc, e):
        hit = F.lit(False)
        for j, cidx in enumerate(steps):
            cond_j = e[f"c{cidx}"]
            if j > 0:
                g = gaps[j - 1]
                if g is not None:
                    op, val = g
                    d = e["t"] - acc["lt"]
                    cond_j = cond_j & {
                        "<=": d <= F.lit(val),
                        "<": d < F.lit(val),
                        ">=": d >= F.lit(val),
                        ">": d > F.lit(val),
                    }[op]
            hit = F.when(acc["j"] == j, cond_j).otherwise(hit)
        hit = F.coalesce(hit, F.lit(False))
        nj = F.when(hit, acc["j"] + 1).otherwise(acc["j"])
        done = nj == n
        return F.struct(
            F.when(done, F.lit(0)).otherwise(nj).alias("j"),
            F.when(done, F.lit(None).cast("long"))
            .otherwise(F.when(hit, e["t"]).otherwise(acc["lt"]))
            .alias("lt"),
            (
                acc["cnt"]
                + F.when(done, F.lit(1)).otherwise(F.lit(0)).cast("long")
            ).alias("cnt"),
        )

    return F.aggregate(ev, init, step)["cnt"]


PARAMETRIC_AGGS["sequenceCount"] = _sequence_count


# --- [EXT] tier-4 scalar surface ----------------------------------------
# The remaining everyday ClickHouse scalar names a migrating user
# types — all pure JVM built-ins (never Python), registered in bulk.

# string search / split / shape
SCALAR_FNS["multiSearchAny"] = lambda h, needles: F.exists(
    needles, lambda n: F.contains(h, n)
)
SCALAR_FNS["trimLeft"] = F.ltrim
SCALAR_FNS["trimRight"] = F.rtrim
SCALAR_FNS["trimBoth"] = F.trim
SCALAR_FNS["space"] = lambda n: F.repeat(F.lit(" "), n.cast("int"))
# CH arg order (separator first) matches splitByChar above
SCALAR_FNS["splitByRegexp"] = lambda sep, s: F.split(s, sep)
SCALAR_FNS["splitByWhitespace"] = lambda s: F.filter(
    F.split(s, r"\s+"), lambda x: x != ""
)
SCALAR_FNS["alphaTokens"] = lambda s: F.filter(
    F.split(s, "[^A-Za-z]+"), lambda x: x != ""
)
# Spark strings are UTF-8 native: the UTF8-suffixed names are the
# plain functions (CH splits them because its plain forms are
# byte-oriented)
SCALAR_FNS["lengthUTF8"] = F.length
SCALAR_FNS["lowerUTF8"] = F.lower
SCALAR_FNS["upperUTF8"] = F.upper
SCALAR_FNS["ascii"] = F.ascii
SCALAR_FNS["char"] = lambda *ns: F.concat(
    *[F.char(n.cast("long")) for n in ns]
)
SCALAR_FNS["bin"] = F.bin


def _replace_one(h: Column, a: Column, b: Column) -> Column:
    """replaceOne(haystack, pattern, replacement) — first literal
    occurrence only (replaceAll/regexp live elsewhere). Pure splice:
    locate + two substrings, all codegen."""
    pos = F.instr(h, a)
    return F.when(pos == 0, h).otherwise(
        F.concat(
            F.substr(h, F.lit(1), pos - 1),
            b,
            F.substr(h, pos + F.length(a)),
        )
    )


SCALAR_FNS["replaceOne"] = _replace_one


def _extract_all(s: Column, pat: str) -> Column:
    """extractAll(haystack, re) — every match, as array<string>.
    ClickHouse extracts capture group 1 when the pattern has one,
    else the whole match; the pattern is a compile-time literal
    (raw-arg), so the group sniff happens at lowering."""
    import re as _re

    grp = 1 if _re.compile(pat).groups >= 1 else 0
    return F.regexp_extract_all(s, F.lit(pat), grp)


SCALAR_FNS["extractAll"] = _extract_all


def _format_readable_size(b: Column) -> Column:
    """formatReadableSize(bytes) → '1.23 MiB' — the CH admin-query
    staple; chained when over the 1024 ladder, %.2f (no thousands
    separators, matching CH)."""
    x = b.cast("double")
    units = ["B", "KiB", "MiB", "GiB", "TiB", "PiB"]
    out = F.format_string(
        "%.2f EiB", x / F.lit(float(1024**6))
    )
    for i in reversed(range(len(units))):
        scaled = x / F.lit(float(1024**i))
        out = F.when(
            x < F.lit(float(1024 ** (i + 1))),
            F.format_string(f"%.2f {units[i]}", scaled),
        ).otherwise(out)
    return out


SCALAR_FNS["formatReadableSize"] = _format_readable_size

# math
SCALAR_FNS["log1p"] = F.log1p
SCALAR_FNS["degrees"] = F.degrees
SCALAR_FNS["radians"] = F.radians
SCALAR_FNS["sinh"] = F.sinh
SCALAR_FNS["cosh"] = F.cosh
SCALAR_FNS["tanh"] = F.tanh
SCALAR_FNS["e"] = lambda: F.lit(2.718281828459045)
SCALAR_FNS["power"] = F.pow  # ANSI spelling of pow

# exact integer exponentials (pow would round past 2^53 / 10^15).
# n > 62 overflows a signed long — return 0, mirroring the n < 0 guard
# (the JVM shiftleft masks the shift amount to 6 bits, so without the
# guard intExp2(64) would silently return 1 and intExp2(63) a negative).
SCALAR_FNS["intExp2"] = lambda n: F.when(
    (n < 0) | (n > 62), F.lit(0).cast("long")
).otherwise(
    F.call_function("shiftleft", F.lit(1).cast("long"), n.cast("int"))
)


def _int_exp10(n: Column) -> Column:
    nn = n.cast("int")
    fold = F.aggregate(
        F.sequence(F.lit(1), F.greatest(nn, F.lit(1))),
        F.lit(1).cast("long"),
        lambda acc, _: acc * 10,
    )
    return (
        F.when(nn < 0, F.lit(0).cast("long"))
        .when(nn == 0, F.lit(1).cast("long"))
        .otherwise(fold)
    )


SCALAR_FNS["intExp10"] = _int_exp10


def _round_to_exp2(x: Column) -> Column:
    """roundToExp2(x) — round DOWN to the nearest power of two
    (<1 → 0). Exact via the binary-string length of the integer part
    (no float log2 at the boundaries)."""
    xi = x.cast("long")
    return F.when(xi < 1, F.lit(0).cast("long")).otherwise(
        F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.length(F.bin(xi)).cast("int") - 1,
        )
    )


SCALAR_FNS["roundToExp2"] = _round_to_exp2
# roundDown(x, arr) — largest array element <= x, first element when
# x is below all of them (CH convention)
SCALAR_FNS["roundDown"] = lambda x, arr: F.coalesce(
    F.array_max(F.filter(arr, lambda e: e <= x)), F.element_at(arr, 1)
)

# bit surface (function spellings of the E8 operators)
SCALAR_FNS["bitTest"] = lambda x, n: (
    F.call_function("shiftright", x.cast("long"), n.cast("int")) % 2
).cast("int")
SCALAR_FNS["bitShiftLeft"] = lambda x, n: F.call_function(
    "shiftleft", x.cast("long"), n.cast("int")
)
SCALAR_FNS["bitShiftRight"] = lambda x, n: F.call_function(
    "shiftright", x.cast("long"), n.cast("int")
)
SCALAR_FNS["bitAnd"] = lambda a, b: a.cast("long").bitwiseAND(b.cast("long"))
SCALAR_FNS["bitOr"] = lambda a, b: a.cast("long").bitwiseOR(b.cast("long"))
SCALAR_FNS["bitXor"] = lambda a, b: a.cast("long").bitwiseXOR(b.cast("long"))
SCALAR_FNS["bitNot"] = lambda a: F.bitwise_not(a.cast("long"))

# arithmetic function spellings
SCALAR_FNS["plus"] = lambda a, b: a + b
SCALAR_FNS["minus"] = lambda a, b: a - b
SCALAR_FNS["multiply"] = lambda a, b: a * b
SCALAR_FNS["divide"] = lambda a, b: a / b
SCALAR_FNS["negate"] = lambda a: -a

# dates
SCALAR_FNS["toStartOfQuarter"] = lambda d: F.date_trunc(
    "quarter", d
).cast("date")
SCALAR_FNS["toISOWeek"] = F.weekofyear
SCALAR_FNS["yesterday"] = lambda: F.date_sub(F.current_date(), 1)

_ADD_MONTH_UNITS = {"month": 1, "quarter": 3, "year": 12}


def _date_add(unit: str, n: Column, d: Column) -> Column:
    """dateAdd('unit', n, date) / dateSub — CH's generic date
    arithmetic. day/week/month/quarter/year keep the date type
    (date_add/add_months); hour/minute/second promote to timestamp
    via make_interval. The unit is a compile-time literal
    (raw-arg)."""
    u = unit.lower().rstrip("s")
    nn = n.cast("int")
    if u == "day":
        return F.date_add(d, nn)
    if u == "week":
        return F.date_add(d, nn * 7)
    if u in _ADD_MONTH_UNITS:
        return F.add_months(d, nn * _ADD_MONTH_UNITS[u])
    if u in ("hour", "minute", "second"):
        zero = F.lit(0)
        parts = {
            "hour": (nn, zero, zero),
            "minute": (zero, nn, zero),
            "second": (zero, zero, nn.cast("double")),
        }[u]
        return d.cast("timestamp") + F.make_interval(
            zero, zero, zero, zero, parts[0], parts[1], parts[2]
        )
    raise ValueError(f"dateAdd: unsupported unit {unit!r}")


SCALAR_FNS["dateAdd"] = _date_add
SCALAR_FNS["dateSub"] = lambda unit, n, d: _date_add(unit, -n, d)

# hashes — stable 64-bit within THIS engine (xxhash64 under both CH
# names: the CH algorithms are engine-internal and their values are
# not portable anyway; documented deviation)
SCALAR_FNS["cityHash64"] = F.xxhash64
SCALAR_FNS["sipHash64"] = F.xxhash64

# misc
SCALAR_FNS["toTypeName"] = lambda c: F.call_function("typeof", c)
SCALAR_FNS["toNullable"] = lambda c: c  # every Spark column is nullable
SCALAR_FNS["emptyArrayString"] = lambda: F.array().cast("array<string>")
SCALAR_FNS["mapFromArrays"] = F.map_from_arrays
SCALAR_FNS["array"] = F.array
# tuple(...) → struct with CH-style positional fields _1.._n
# (tupleElement resolves them; named structs resolve by name)
SCALAR_FNS["tuple"] = lambda *cs: F.struct(
    *[c.alias(f"_{i + 1}") for i, c in enumerate(cs)]
)

# nondeterministic generators (rows-only by nature, like random())
SCALAR_FNS["uuid"] = lambda: F.call_function("uuid")
SCALAR_FNS["generateUUIDv4"] = lambda: F.call_function("uuid")
SCALAR_FNS["rand"] = lambda: (F.rand() * F.lit(4294967296.0)).cast("long")
SCALAR_FNS["rand64"] = lambda: (
    F.rand() * F.lit(float(2**63))
).cast("long")
SCALAR_FNS["randCanonical"] = F.rand
SCALAR_FNS["randUniform"] = lambda a, b: a + F.rand() * (b - a)
SCALAR_FNS["randNormal"] = lambda m, s: m + F.randn() * s

# Every nondeterministic function above (lower-cased, as the frontend
# looks names up): two evaluations of one call may differ, so a call
# is never shared between occurrences, nor answered from merged rows.
NONDETERMINISTIC = frozenset(
    n.lower()
    for n in (
        "random", "now", "today", "yesterday", "uuid", "generateUUIDv4",
        "rand", "rand64", "randCanonical", "randUniform", "randNormal",
    )
)


def _group_array_sorted(params: list, x: Column) -> Column:
    """groupArraySorted(n)(x) — the n smallest values ascending,
    duplicates included (ClickHouse). In plain GROUP BY and under
    ROLLUP / CUBE / GROUPING SETS the frontend lowers this through
    the bounded two-level rewrite shared with topK
    (frontend/lower.py `_topk_side`): pre-aggregate by (keys, value),
    running-count window keeps ≤ n distinct-value rows per key,
    array_repeat rebuilds duplicates — per-task state O(distinct
    values), never O(group rows). This in-group form (window
    position, HAVING) keeps the direct sort+slice."""
    k = int(params[0])
    return F.slice(F.array_sort(F.collect_list(x)), 1, k)


PARAMETRIC_AGGS["groupArraySorted"] = _group_array_sorted


def _quantile_exact(high: bool):
    def f(params: list, x: Column) -> Column:
        """quantileExact[Low|High](level)(x) — the EXACT order
        statistic: the element of the sorted values at 0-based index
        floor(level·(n−1)) (Low — also the plain quantileExact
        spelling, documented convention) or ceil(level·(n−1))
        (High). In plain GROUP BY and under ROLLUP/CUBE/GROUPING
        SETS the frontend lowers this through the shared (keys,
        value, cnt) pre-aggregate (frontend/lower.py `_topk_side`):
        a running count over the value-sorted HISTOGRAM locates the
        index — state O(distinct values), never O(group rows),
        unlike Spark's own percentile buffer. This in-group form
        (window position) keeps the direct sort + pick."""
        level = float(params[0])
        cl = F.array_sort(F.collect_list(x))
        n = F.size(cl)
        raw = F.lit(level) * (n - 1).cast("double")
        idx = (F.ceil(raw) if high else F.floor(raw)).cast("int")
        return F.get(cl, idx)

    return f


PARAMETRIC_AGGS["quantileExactLow"] = _quantile_exact(False)
PARAMETRIC_AGGS["quantileExact"] = _quantile_exact(False)
PARAMETRIC_AGGS["quantileExactHigh"] = _quantile_exact(True)


# --- [EXT] URL function family -------------------------------------------
# ClickHouse's URL functions (the web-scale staple for domain caps,
# URL canonicalization, and crawl dedup). All are anchored regexes
# over the raw string — like CH, nothing validates the URL — so every
# name stays a pure JVM regexp (whole-stage codegen, no Python). The
# reference grammar's open FnName::Others namespace
# (src/parser/ast/item.rs:178) admits the names unchanged.

# scheme-optional authority prefix shared by the host-ish extractors
_URL_AUTH = r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//"

SCALAR_FNS["protocol"] = lambda u: F.regexp_extract(
    u, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1
)
SCALAR_FNS["domain"] = lambda u: F.regexp_extract(
    u, _URL_AUTH + r"(?:[^/?#@]*@)?([^/?#:]+)", 1
)
SCALAR_FNS["domainWithoutWWW"] = lambda u: F.regexp_replace(
    SCALAR_FNS["domain"](u), r"^www\.", ""
)
SCALAR_FNS["netloc"] = lambda u: F.regexp_extract(
    u, _URL_AUTH + r"([^/?#]*)", 1
)


def _url_port(u: Column, default: Column | None = None) -> Column:
    """port(url[, default]) — the explicit :port, else default
    (0 when omitted, matching CH)."""
    p = F.regexp_extract(
        u, _URL_AUTH + r"(?:[^/?#@]*@)?[^/?#:]*:(\d+)", 1
    )
    dflt = default.cast("int") if default is not None else F.lit(0)
    return F.when(p == "", dflt).otherwise(p.cast("int"))


SCALAR_FNS["port"] = _url_port

# path stops at ? or #; pathFull keeps query+fragment (CH split)
SCALAR_FNS["path"] = lambda u: F.regexp_extract(
    u, r"^(?:(?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]*)?([^?#]*)", 1
)
SCALAR_FNS["pathFull"] = lambda u: F.regexp_extract(
    u, r"^(?:(?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]*)?(.*)", 1
)
SCALAR_FNS["queryString"] = lambda u: F.regexp_extract(
    u, r"\?([^#]*)", 1
)
SCALAR_FNS["fragment"] = lambda u: F.regexp_extract(u, r"#(.*)$", 1)
SCALAR_FNS["queryStringAndFragment"] = lambda u: F.regexp_extract(
    u, r"\?(.*)$", 1
)


def _top_level_domain(u: Column) -> Column:
    d = SCALAR_FNS["domain"](u)
    labels = F.split(d, r"\.")
    return F.when(
        F.size(labels) >= 2, F.element_at(labels, -1)
    ).otherwise(F.lit(""))


SCALAR_FNS["topLevelDomain"] = _top_level_domain

# second-level zones under which the NEXT label is the significant one
# (the short everyday subset of CH's embedded public-suffix list)
_SIG_2LD = ("com", "net", "org", "co", "gov", "edu", "mil", "biz")


def _first_significant_subdomain(u: Column) -> Column:
    """firstSignificantSubdomain('https://news.yandex.com.tr/') →
    'yandex' — the label left of the public suffix, where the suffix
    is the last label plus a second-level zone label when that label
    is one of the common registries (_SIG_2LD)."""
    d = SCALAR_FNS["domainWithoutWWW"](u)
    labels = F.split(d, r"\.")
    n = F.size(labels)
    second_is_zone = F.element_at(labels, -2).isin(*_SIG_2LD)
    return (
        F.when(n >= 3, F.when(second_is_zone,
                              F.element_at(labels, -3))
               .otherwise(F.element_at(labels, -2)))
        .when(n == 2, F.element_at(labels, -2))
        .otherwise(F.lit(""))
    )


SCALAR_FNS["firstSignificantSubdomain"] = _first_significant_subdomain


def _cut_to_first_significant_subdomain(u: Column) -> Column:
    d = SCALAR_FNS["domainWithoutWWW"](u)
    labels = F.split(d, r"\.")
    n = F.size(labels)
    second_is_zone = F.element_at(labels, -2).isin(*_SIG_2LD)
    keep = (
        F.when(n >= 3, F.when(second_is_zone, F.lit(3))
               .otherwise(F.lit(2)))
        .when(n == 2, F.lit(2))
        .otherwise(F.lit(0))
    )
    return F.when(keep == 0, F.lit("")).otherwise(
        F.array_join(F.slice(labels, -keep, keep), ".")
    )


SCALAR_FNS["cutToFirstSignificantSubdomain"] = (
    _cut_to_first_significant_subdomain
)

# cutters: drop one URL part, keep the rest byte-identical
SCALAR_FNS["cutWWW"] = lambda u: F.regexp_replace(
    u, r"^((?:[A-Za-z][A-Za-z0-9+.-]*:)?//)www\.", "$1"
)
SCALAR_FNS["cutQueryString"] = lambda u: F.regexp_replace(
    u, r"\?[^#]*", ""
)
SCALAR_FNS["cutFragment"] = lambda u: F.regexp_replace(u, r"#.*$", "")
SCALAR_FNS["cutQueryStringAndFragment"] = lambda u: F.regexp_replace(
    u, r"[?#].*$", ""
)


def _extract_url_parameter(u: Column, name: str) -> Column:
    """extractURLParameter(url, 'name') — the raw value of the first
    ?name=/&name= occurrence ('' when absent). The name is a
    compile-time literal (raw-arg) so the regex stays foldable."""
    import re as _re

    return F.regexp_extract(
        u, r"[?&]" + _re.escape(name) + r"=([^&#]*)", 1
    )


SCALAR_FNS["extractURLParameter"] = _extract_url_parameter
SCALAR_FNS["extractURLParameterNames"] = lambda u: F.regexp_extract_all(
    u, F.lit(r"[?&]([^=&#]+)="), 1
)
SCALAR_FNS["extractURLParameters"] = lambda u: F.regexp_extract_all(
    u, F.lit(r"[?&]([^&#]+)"), 1
)

# percent-coding: Spark's JVM url_encode/url_decode
# (application/x-www-form-urlencoded — space ↔ '+')
SCALAR_FNS["decodeURLComponent"] = F.url_decode
SCALAR_FNS["encodeURLComponent"] = F.url_encode


# --- [EXT] more aggregate combinators: -Array / -Distinct / -OrNull /
# -OrDefault (+ their -If compositions) ------------------------------------
# Same design rule as the -If family above: every combinator rewrites
# to expressions INSIDE one JVM hash aggregate (row-side array
# reductions, CASE-wrapped inputs, agg-over-agg guards), so map-side
# partial aggregation survives and no Python touches the hot path.


def _arr_nn(a: Column) -> Column:
    return F.filter(a, lambda x: x.isNotNull())


def _arr_sum_typed(a: Column) -> Column:
    """Element-typed row-side array sum: the zero is `first*0`, so int
    arrays stay integral (the long-accumulator arraySum is the CH
    byte-compat spelling; this one preserves the element type for the
    combinator). NULL for empty/NULL arrays — the outer aggregate's
    null-skip then drops the row, matching CH -Array semantics."""
    nn = _arr_nn(a)
    zero = F.get(nn, 0) * F.lit(0)
    return F.aggregate(nn, zero, lambda acc, x: acc + x)


AGGREGATE_FNS["sumArray"] = lambda a: F.sum(_arr_sum_typed(a))
AGGREGATE_FNS["minArray"] = lambda a: F.min(F.array_min(a))
AGGREGATE_FNS["maxArray"] = lambda a: F.max(F.array_max(a))
AGGREGATE_FNS["countArray"] = lambda a: F.coalesce(
    F.sum(F.size(_arr_nn(a))), F.lit(0).cast("long")
)
AGGREGATE_FNS["avgArray"] = lambda a: F.try_divide(
    F.sum(_arr_sum_typed(a).cast("double")),
    F.sum(F.size(_arr_nn(a))),
)


def _uniq_exact_array(a: Column) -> Column:
    """uniqExactArray(a) — exact distinct count over the UNION of the
    group's array elements. State is the set of distinct normalized
    (sorted, deduped) arrays — bounded by distinct array values, not
    group rows; the flatten+distinct collapse happens once per group
    at emit."""
    return F.size(
        F.array_distinct(
            F.flatten(
                F.collect_set(
                    F.array_sort(F.array_distinct(_arr_nn(a)))
                )
            )
        )
    ).cast("long")


AGGREGATE_FNS["uniqExactArray"] = _uniq_exact_array
AGGREGATE_FNS["uniqArray"] = _uniq_exact_array
AGGREGATE_FNS["countUniqueArray"] = _uniq_exact_array
# flatten-concat forms (unbounded state, like groupArray itself)
AGGREGATE_FNS["groupArrayArray"] = lambda a: F.flatten(F.collect_list(a))
AGGREGATE_FNS["groupUniqArrayArray"] = lambda a: F.array_sort(
    F.array_distinct(
        F.flatten(
            F.collect_set(F.array_sort(F.array_distinct(_arr_nn(a))))
        )
    )
)

# -Distinct: aggregate over the distinct VALUES of the argument
AGGREGATE_FNS["sumDistinct"] = F.sum_distinct
AGGREGATE_FNS["countDistinct"] = F.count_distinct
AGGREGATE_FNS["avgDistinct"] = lambda x: F.try_divide(
    F.sum_distinct(x.cast("double")), F.count_distinct(x)
)
AGGREGATE_FNS["minDistinct"] = F.min  # min/max are distinct-invariant
AGGREGATE_FNS["maxDistinct"] = F.max
# sorted for cross-run determinism (CH's is insertion-ordered)
AGGREGATE_FNS["groupArrayDistinct"] = lambda x: F.array_sort(
    F.collect_set(x)
)

# -OrNull: NULL instead of the empty-input default; -OrDefault: the
# numeric default instead of NULL. Both guard with an agg-over-agg
# CASE (count(arg) == 0), which Spark folds into the SAME hash
# aggregate — two accumulators, one pass.
_ORNULL_BASES = (
    "sum", "min", "max", "avg", "any", "anyLast", "count",
    "uniqExact", "countUnique", "median",
)
_ORDEFAULT_BASES = (  # numeric-default bases only (0 coerces)
    "sum", "min", "max", "avg", "count",
    "uniqExact", "countUnique", "median",
)


def _or_null(base: ScalarFn) -> ScalarFn:
    def wrapped(*args: Column) -> Column:
        r = base(*args)
        alive = (
            F.count(args[0]) if args else F.count(F.lit(1))
        )
        return F.when(alive == 0, F.lit(None)).otherwise(r)

    return wrapped


def _or_default(base: ScalarFn) -> ScalarFn:
    def wrapped(*args: Column) -> Column:
        return F.coalesce(base(*args), F.lit(0))

    return wrapped


def _if_first(fn: ScalarFn) -> ScalarFn:
    """Compose -If INSIDE -OrNull/-OrDefault: wrap the data args with
    CASE WHEN cond first, THEN apply the outer combinator — so the
    emptiness test sees only the rows the condition admits."""

    def wrapped(*args: Column) -> Column:
        if len(args) < 1:
            raise ValueError("-If aggregate takes (args..., cond)")
        *cols, cond = args
        if not cols:
            return fn(F.when(cond, F.lit(1)))
        return fn(*[F.when(cond, c) for c in cols])

    return wrapped


for _b in _ORNULL_BASES:
    if _b in AGGREGATE_FNS:
        _base = AGGREGATE_FNS[_b]
        AGGREGATE_FNS.setdefault(_b + "OrNull", _or_null(_base))
        AGGREGATE_FNS.setdefault(
            _b + "OrNullIf", _if_first(_or_null(_base))
        )
for _b in _ORDEFAULT_BASES:
    if _b in AGGREGATE_FNS:
        _base = AGGREGATE_FNS[_b]
        AGGREGATE_FNS.setdefault(_b + "OrDefault", _or_default(_base))
        AGGREGATE_FNS.setdefault(
            _b + "OrDefaultIf", _if_first(_or_default(_base))
        )
del _b, _base

# -ArrayIf: condition-filtered array aggregation (CH order: the
# -Array base name + If). when(cond, a) nulls the array out; every
# -Array base null-skips.
for _b in (
    "sumArray", "minArray", "maxArray", "countArray", "avgArray",
    "uniqExactArray", "uniqArray", "countUniqueArray",
    "groupArrayArray", "groupUniqArrayArray",
):
    AGGREGATE_FNS.setdefault(_b + "If", _if_combinator(AGGREGATE_FNS[_b]))
del _b


# --- [EXT] statistical / interval aggregates ------------------------------
# Exact-arithmetic designs: integer (or integer-valued-double) sums
# plus only exactly-rounded IEEE finishers (*, /, sqrt), so results
# are bit-identical across engines and partition orders (the suite's
# oracle convention, functions/exact.py).


def _simple_lin_reg(x: Column, y: Column) -> Column:
    """simpleLinearRegression(x, y) → struct(k, b) of the least-squares
    line y = k·x + b. Lowered to the five classical sums inside ONE
    hash aggregate (pairwise null-skip); the finishing divisions are
    exactly-rounded, so with integer inputs the result is
    deterministic to the bit. NULL k/b for degenerate groups (n = 0
    or zero x-variance) via try_divide."""
    both = x.isNotNull() & y.isNotNull()
    xd = F.when(both, x.cast("double"))
    yd = F.when(both, y.cast("double"))
    n = F.count(xd).cast("double")
    sx = F.sum(xd)
    sy = F.sum(yd)
    sxy = F.sum(xd * yd)
    sxx = F.sum(xd * xd)
    k = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    b = F.try_divide(sy - k * sx, n)
    return F.struct(k.alias("k"), b.alias("b"))


AGGREGATE_FNS["simpleLinearRegression"] = _simple_lin_reg


def _interval_length_sum(s: Column, e: Column) -> Column:
    """intervalLengthSum(start, end) — total length of the UNION of
    the group's [start, end) intervals (overlaps counted once).
    collect_list + array_sort + one O(1)-per-interval JVM fold over
    (cover_end, total) — the same bounded per-entity pattern as
    sequenceCount (use per-entity groups; a group's state is its own
    interval count)."""
    iv = F.array_sort(
        F.collect_list(
            F.when(
                s.isNotNull() & e.isNotNull(),
                F.struct(
                    s.cast("long").alias("s"), e.cast("long").alias("e")
                ),
            )
        )
    )
    init = F.struct(
        F.lit(None).cast("long").alias("cov"),
        F.lit(0).cast("long").alias("tot"),
    )
    res = F.aggregate(
        iv,
        init,
        lambda acc, p: F.struct(
            F.greatest(F.coalesce(acc["cov"], p["s"]), p["e"]).alias(
                "cov"
            ),
            (
                acc["tot"]
                + F.greatest(
                    F.lit(0).cast("long"),
                    p["e"]
                    - F.greatest(p["s"], F.coalesce(acc["cov"], p["s"])),
                )
            ).alias("tot"),
        ),
    )
    return res["tot"]


AGGREGATE_FNS["intervalLengthSum"] = _interval_length_sum


def _max_intersections(position: bool):
    def f(s: Column, e: Column) -> Column:
        """maxIntersections[Position](start, end) — the maximum number
        of simultaneously-open [start, end) intervals (and the
        position where that maximum is first reached). Boundary
        sweep: each interval contributes (+1 at start, −1 at end);
        sorting struct(pos, delta) ascending puts −1 before +1 at
        equal positions — half-open semantics, an interval ending
        where another starts does not overlap it. One fold, exact
        integer state."""
        pts = F.flatten(
            F.collect_list(
                F.when(
                    s.isNotNull() & e.isNotNull(),
                    F.array(
                        F.struct(
                            s.cast("long").alias("p"),
                            F.lit(1).alias("d"),
                        ),
                        F.struct(
                            e.cast("long").alias("p"),
                            F.lit(-1).alias("d"),
                        ),
                    ),
                )
            )
        )
        init = F.struct(
            F.lit(0).cast("long").alias("cur"),
            F.lit(0).cast("long").alias("best"),
            F.lit(None).cast("long").alias("at"),
        )
        res = F.aggregate(
            F.array_sort(pts),
            init,
            lambda acc, ev: F.struct(
                (acc["cur"] + ev["d"]).alias("cur"),
                F.greatest(acc["best"], acc["cur"] + ev["d"]).alias(
                    "best"
                ),
                F.when(
                    acc["cur"] + ev["d"] > acc["best"], ev["p"]
                )
                .otherwise(acc["at"])
                .alias("at"),
            ),
        )
        return res["at"] if position else res["best"]

    return f


AGGREGATE_FNS["maxIntersections"] = _max_intersections(False)
AGGREGATE_FNS["maxIntersectionsPosition"] = _max_intersections(True)


def _rank_corr(x: Column, y: Column) -> Column:
    """rankCorr(x, y) — Spearman rank correlation with average ranks
    for ties, computed in EXACT integer arithmetic: the doubled
    average rank of element i is 2·|{t < v_i}| + |{t = v_i}| + 1 (an
    integer), correlation is affine-invariant, and the Pearson
    finisher over the doubled ranks uses only exact int sums plus
    exactly-rounded sqrt/division — bit-identical to a SQL-window
    oracle (2·rank() + tie_count − 1). collect_list per group: use
    per-entity groups (the bounded-state convention); the rank scan
    is O(n²) per group, fine for entity-sized n.

    HOFs are CodegenFallback (interpreted), so the O(n²) rank arrays
    are the whole cost. Three exactness-preserving reductions:
    (1) each element's doubled rank is ONE fold (+2 below / +1 tie)
    instead of two allocating filter()+size() passes; (2) Σu = Σv =
    n(n+1) exactly (average ranks sum to n(n+1)/2 — ties included),
    so the su/sv passes are a closed form, exact in double up to
    n < 2²⁶; (3) u and v are LET-BOUND via a 1-element array
    transform, so each O(n²) array is materialized once — referencing
    the lambda variable re-reads data, never re-evaluates the tree
    (expression references would: HOF subtrees get no CSE). Every
    surviving sum folds the same integers in the same order as the
    original lowering ⇒ bit-identical."""
    both = x.isNotNull() & y.isNotNull()
    pairs = F.collect_list(
        F.when(
            both,
            F.struct(
                x.cast("double").alias("x"), y.cast("double").alias("y")
            ),
        )
    )

    def ranks(arr, field):
        return F.transform(
            arr,
            lambda p: F.aggregate(
                arr,
                F.lit(1),
                lambda acc, q: acc
                + F.when(q[field] < p[field], F.lit(2))
                .when(q[field] == p[field], F.lit(1))
                .otherwise(F.lit(0)),
            ).cast("double"),
        )

    n = F.size(pairs).cast("double")
    s = n * (n + F.lit(1.0))  # Σ doubled ranks, exactly

    def corr(b):
        u, v = b["u"], b["v"]
        suv = F.aggregate(
            F.zip_with(u, v, lambda a, t: a * t),
            F.lit(0.0),
            lambda a, t: a + t,
        )
        suu = F.aggregate(
            F.transform(u, lambda t: t * t), F.lit(0.0), lambda a, t: a + t
        )
        svv = F.aggregate(
            F.transform(v, lambda t: t * t), F.lit(0.0), lambda a, t: a + t
        )
        num = n * suv - s * s
        den = F.sqrt(n * suu - s * s) * F.sqrt(n * svv - s * s)
        return F.try_divide(num, den)

    return F.transform(
        F.array(
            F.struct(
                ranks(pairs, "x").alias("u"), ranks(pairs, "y").alias("v")
            )
        ),
        corr,
    )[0]


AGGREGATE_FNS["rankCorr"] = _rank_corr


def _entropy(x: Column) -> Column:
    """entropy(x) — Shannon entropy (bits) of the group's value
    distribution: −Σ (c/n)·log2(c/n). This in-group form folds over
    the collected values (use per-entity groups); plain GROUP BY
    lowers through the shared (keys, value, cnt) pre-aggregate
    (frontend/lower.py `_topk_side`) — state O(distinct values).
    log2 is not exactly-rounded cross-engine, so entropy is
    pytest-verified against a Python reference, not hash-oracled."""
    cl = F.collect_list(x)
    n = F.size(cl).cast("double")
    dv = F.array_distinct(cl)
    h = F.aggregate(
        dv,
        F.lit(0.0),
        lambda acc, v: acc
        - (
            (
                F.size(F.filter(cl, lambda e: e == v)).cast("double") / n
            )
            * F.log2(
                F.size(F.filter(cl, lambda e: e == v)).cast("double") / n
            )
        ),
    )
    return F.when(n > 0, h)


AGGREGATE_FNS["entropy"] = _entropy


# --- [EXT] tier-5 scalar surface ------------------------------------------
# Dates / timestamps
SCALAR_FNS["fromUnixTimestamp"] = lambda s: F.timestamp_seconds(
    s.cast("long")
)
SCALAR_FNS["makeDate"] = lambda y, m, d: F.make_date(y, m, d)
SCALAR_FNS["toLastDayOfMonth"] = F.last_day
SCALAR_FNS["monthName"] = lambda d: F.date_format(d, "MMMM")
SCALAR_FNS["toRelativeDayNum"] = lambda d: F.datediff(
    d.cast("date"), F.lit("1970-01-01").cast("date")
)
SCALAR_FNS["toRelativeHourNum"] = lambda t: F.floor(
    F.unix_timestamp(t) / 3600
).cast("long")
SCALAR_FNS["toRelativeMinuteNum"] = lambda t: F.floor(
    F.unix_timestamp(t) / 60
).cast("long")
SCALAR_FNS["addQuarters"] = lambda d, n: F.add_months(
    d, (n * 3).cast("int")
)
SCALAR_FNS["subtractQuarters"] = lambda d, n: F.add_months(
    d, (-n * 3).cast("int")
)
# Modified Julian Day epoch is 1858-11-17
SCALAR_FNS["toModifiedJulianDay"] = lambda d: F.datediff(
    d.cast("date"), F.lit("1858-11-17").cast("date")
)
SCALAR_FNS["fromModifiedJulianDay"] = lambda n: F.date_add(
    F.lit("1858-11-17").cast("date"), n.cast("int")
)


def _floor_to_seconds(step: int):
    def f(t: Column) -> Column:
        return F.timestamp_seconds(
            F.floor(F.unix_timestamp(t) / step).cast("long") * step
        )

    return f


SCALAR_FNS["timeSlot"] = _floor_to_seconds(1800)
SCALAR_FNS["toStartOfFifteenMinutes"] = _floor_to_seconds(900)
SCALAR_FNS["toStartOfTenMinutes"] = _floor_to_seconds(600)
SCALAR_FNS["toStartOfFiveMinutes"] = _floor_to_seconds(300)

# UTF-8 / strings
SCALAR_FNS["isValidUTF8"] = lambda s: F.is_valid_utf8(s)
SCALAR_FNS["toValidUTF8"] = lambda s: F.make_valid_utf8(s)
SCALAR_FNS["reverseUTF8"] = F.reverse
SCALAR_FNS["leftUTF8"] = SCALAR_FNS["left"]
SCALAR_FNS["rightUTF8"] = SCALAR_FNS["right"]
SCALAR_FNS["positionUTF8"] = SCALAR_FNS["position"]


def _count_matches(s: Column, pat: str) -> Column:
    """countMatches(haystack, re) — raw-arg pattern like extractAll."""
    return F.size(F.regexp_extract_all(s, F.lit(pat), 0))


SCALAR_FNS["countMatches"] = _count_matches

# math — every name here is in PYTEST_ONLY (module head): libm drift
SCALAR_FNS["hypot"] = F.hypot
SCALAR_FNS["asinh"] = F.asinh
SCALAR_FNS["acosh"] = F.acosh
SCALAR_FNS["atanh"] = F.atanh
SCALAR_FNS["cot"] = F.cot


def _bitmask_to_array(n: Column) -> Column:
    """bitmaskToArray(n) — the powers of two whose sum is n,
    ascending (CH order). Pure sequence/filter codegen over the 63
    bit positions."""
    nn = n.cast("long")
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(62)),
            lambda i: F.when(
                F.call_function(
                    "shiftright", nn, i.cast("int")
                ).bitwiseAND(F.lit(1).cast("long"))
                == 1,
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), i.cast("int")
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )


SCALAR_FNS["bitmaskToArray"] = _bitmask_to_array
SCALAR_FNS["bitmaskToList"] = lambda n: F.array_join(
    F.transform(_bitmask_to_array(n), lambda x: x.cast("string")), ","
)

# maps
SCALAR_FNS["mapFilter"] = lambda lam, m: F.map_filter(m, lam)


def _map_update(m1: Column, m2: Column) -> Column:
    """mapUpdate(m1, m2) — m2's value wins on key collision (Spark's
    map_concat raises on duplicates, so drop m1's colliding keys
    first)."""
    ks = F.map_keys(m2)
    return F.map_concat(
        F.map_filter(m1, lambda k, _v: ~F.array_contains(ks, k)), m2
    )


SCALAR_FNS["mapUpdate"] = _map_update

# vector math over array columns (embedding staples). F.aggregate is
# a sequential left fold — element order is the ARRAY order, so with
# integer-valued inputs every result is exact and oracle-safe;
# float embeddings get the same deterministic in-order fold.
_VSUM = lambda arr: F.aggregate(  # noqa: E731
    arr, F.lit(0.0), lambda acc, x: acc + x
)
SCALAR_FNS["dotProduct"] = lambda a, b: _VSUM(
    F.zip_with(a, b, lambda x, y: x.cast("double") * y)
)
SCALAR_FNS["L1Norm"] = lambda a: _VSUM(
    F.transform(a, lambda x: F.abs(x.cast("double")))
)
SCALAR_FNS["L2Norm"] = lambda a: F.sqrt(
    _VSUM(F.transform(a, lambda x: x.cast("double") * x))
)
SCALAR_FNS["LinfNorm"] = lambda a: F.array_max(
    F.transform(a, lambda x: F.abs(x.cast("double")))
)
SCALAR_FNS["L1Distance"] = lambda a, b: _VSUM(
    F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y))
)
SCALAR_FNS["L2Distance"] = lambda a, b: F.sqrt(
    _VSUM(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y)
            * (x.cast("double") - y),
        )
    )
)
SCALAR_FNS["LinfDistance"] = lambda a, b: F.array_max(
    F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y))
)
SCALAR_FNS["cosineDistance"] = lambda a, b: 1 - F.try_divide(
    SCALAR_FNS["dotProduct"](a, b),
    SCALAR_FNS["L2Norm"](a) * SCALAR_FNS["L2Norm"](b),
)


def _array_fold(lam: ScalarFn, arr: Column, init: Column) -> Column:
    """arrayFold((acc, x) -> ..., arr, init) — CH 23.x argument order
    (lambda first, init LAST); Spark's aggregate is the same
    sequential in-order left fold."""
    return F.aggregate(arr, init, lam)


SCALAR_FNS["arrayFold"] = _array_fold

# arrayReduce('agg', arr): the aggregate name is a compile-time string
# (raw-arg); each supported name maps to the row-side array reduction
# the -Array combinators already use.
_ARRAY_REDUCERS: dict[str, ScalarFn] = {
    "sum": lambda a: SCALAR_FNS["arraySum"](a),
    "min": F.array_min,
    "max": F.array_max,
    "avg": lambda a: SCALAR_FNS["arrayAvg"](a),
    "count": F.size,
    "uniq": lambda a: F.size(F.array_distinct(a)),
    "uniqexact": lambda a: F.size(F.array_distinct(a)),
    "countunique": lambda a: F.size(F.array_distinct(a)),
    "any": lambda a: F.get(a, 0),
    "anylast": lambda a: F.element_at(a, F.size(a)),
    "grouparray": lambda a: a,
}


def _array_reduce(name: str, arr: Column) -> Column:
    fn = _ARRAY_REDUCERS.get(name.lower())
    if fn is None:
        raise ValueError(
            f"arrayReduce: unsupported aggregate {name!r} "
            f"(supported: {sorted(_ARRAY_REDUCERS)})"
        )
    return fn(arr)


SCALAR_FNS["arrayReduce"] = _array_reduce


# --- [EXT] -State / -Merge combinators ------------------------------------
# ClickHouse's mergeable-aggregate-state pair: <agg>State produces a
# re-aggregatable partial, <agg>Merge folds partials into the final
# value — the machinery behind incremental materialized views and
# multi-level rollups (aggregate once per fine bucket, re-merge per
# coarse bucket without rescanning the fact table). For the
# decomposable aggregates the state IS a value (sum/min/max) or a
# tiny struct (avg); for distinct counting the state is a DataSketches
# HLL sketch (binary, fixed size, mergeable) via Spark's JVM
# hll_sketch_agg/hll_union_agg — the only approximate member, which
# is exactly the 100 TB trade -State exists for.
AGGREGATE_FNS["sumState"] = F.sum
AGGREGATE_FNS["sumMerge"] = F.sum
AGGREGATE_FNS["minState"] = F.min
AGGREGATE_FNS["minMerge"] = F.min
AGGREGATE_FNS["maxState"] = F.max
AGGREGATE_FNS["maxMerge"] = F.max
AGGREGATE_FNS["countState"] = lambda *a: F.count(a[0] if a else F.lit(1))
AGGREGATE_FNS["countMerge"] = F.sum  # merging counts = summing them
AGGREGATE_FNS["avgState"] = lambda x: F.struct(
    F.sum(x.cast("double")).alias("s"), F.count(x).alias("c")
)
AGGREGATE_FNS["avgMerge"] = lambda st: F.try_divide(
    F.sum(st["s"]), F.sum(st["c"])
)
AGGREGATE_FNS["groupArrayState"] = F.collect_list
AGGREGATE_FNS["groupArrayMerge"] = lambda st: F.flatten(
    F.collect_list(st)
)
AGGREGATE_FNS["uniqState"] = lambda x: F.hll_sketch_agg(x)
AGGREGATE_FNS["uniqMerge"] = lambda st: F.hll_sketch_estimate(
    F.hll_union_agg(st)
)
AGGREGATE_FNS["uniqCombinedState"] = AGGREGATE_FNS["uniqState"]
AGGREGATE_FNS["uniqCombinedMerge"] = AGGREGATE_FNS["uniqMerge"]


# --- [EXT] tier-6 scalar surface ------------------------------------------
# JSON extras (raw-arg keys like the JSONExtract family above)
SCALAR_FNS["JSONExtractBool"] = lambda j, key: F.get_json_object(
    j, _json_path(key)
).cast("boolean")
SCALAR_FNS["JSONExtractUInt"] = SCALAR_FNS["JSONExtractInt"]
SCALAR_FNS["JSONExtractKeys"] = lambda j: F.json_object_keys(j)
# CH's simpleJSON* fast-path spellings are the same contract here
SCALAR_FNS["simpleJSONExtractString"] = SCALAR_FNS["JSONExtractString"]
SCALAR_FNS["simpleJSONExtractInt"] = SCALAR_FNS["JSONExtractInt"]
SCALAR_FNS["simpleJSONExtractFloat"] = SCALAR_FNS["JSONExtractFloat"]
SCALAR_FNS["simpleJSONExtractBool"] = SCALAR_FNS["JSONExtractBool"]
SCALAR_FNS["simpleJSONHas"] = SCALAR_FNS["JSONHas"]

# multiSearch family (needles = array literal; first-in-LIST-order
# semantics for FirstIndex, documented deviation from CH's leftmost)
SCALAR_FNS["multiSearchFirstIndex"] = lambda h, needles: F.array_position(
    F.transform(needles, lambda n: F.contains(h, n)), F.lit(True)
)
SCALAR_FNS["multiSearchAllPositions"] = lambda h, needles: F.transform(
    needles, lambda n: F.call_function("instr", h, n).cast("long")
)


def _multi_search_first_position(h: Column, needles: Column) -> Column:
    pos = F.transform(
        needles, lambda n: F.call_function("instr", h, n).cast("long")
    )
    return F.coalesce(
        F.array_min(F.filter(pos, lambda p: p > 0)),
        F.lit(0).cast("long"),
    )


SCALAR_FNS["multiSearchFirstPosition"] = _multi_search_first_position


def _has_substr(a: Column, b: Column) -> Column:
    """hasSubstr(arr, subarr) — subarr occurs CONTIGUOUSLY in arr (CH
    semantics; contrast hasAll's set containment). Empty subarr →
    true. A window of |b| is compared at every start offset — arrays
    here are row-sized, so the quadratic stays row-local."""
    nb = F.size(b)
    na = F.size(a)
    starts = F.when(
        na >= nb, F.sequence(F.lit(1), na - nb + 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.when(nb == 0, F.lit(True)).otherwise(
        F.exists(starts, lambda i: F.slice(a, i, nb) == b)
    )


SCALAR_FNS["hasSubstr"] = _has_substr
SCALAR_FNS["countSubstringsCaseInsensitive"] = lambda s, sub: SCALAR_FNS[
    "countSubstrings"
](F.lower(s), F.lower(sub))
SCALAR_FNS["startsWithUTF8"] = SCALAR_FNS["startsWith"]
SCALAR_FNS["endsWithUTF8"] = SCALAR_FNS["endsWith"]

# epoch64 conversions (NTZ→TZ cast under the pinned UTC session tz,
# matching toUnixMicros above)
SCALAR_FNS["toUnixTimestamp64Micro"] = SCALAR_FNS["toUnixMicros"]
SCALAR_FNS["toUnixTimestamp64Milli"] = lambda d: F.unix_millis(
    d.cast("timestamp")
)
SCALAR_FNS["toUnixTimestamp64Nano"] = lambda d: F.unix_micros(
    d.cast("timestamp")
) * 1000
SCALAR_FNS["fromUnixTimestamp64Milli"] = lambda x: F.timestamp_millis(
    x.cast("long")
)
SCALAR_FNS["fromUnixTimestamp64Micro"] = lambda x: F.timestamp_micros(
    x.cast("long")
)


def _format_readable_decimal_size(b: Column) -> Column:
    """formatReadableDecimalSize(bytes) — the 1000-ladder sibling of
    formatReadableSize ('1.23 MB')."""
    x = b.cast("double")
    units = ["B", "KB", "MB", "GB", "TB", "PB"]
    out = F.format_string("%.2f EB", x / F.lit(float(1000**6)))
    for i in reversed(range(len(units))):
        scaled = x / F.lit(float(1000**i))
        out = F.when(
            x < F.lit(float(1000 ** (i + 1))),
            F.format_string(f"%.2f {units[i]}", scaled),
        ).otherwise(out)
    return out


SCALAR_FNS["formatReadableDecimalSize"] = _format_readable_decimal_size


def _array_rotate_left(a: Column, n: Column) -> Column:
    sz = F.size(a)
    k = F.pmod(n.cast("int"), sz)
    return F.when(sz <= 1, a).otherwise(
        F.concat(F.slice(a, k + 1, sz - k), F.slice(a, 1, k))
    )


SCALAR_FNS["arrayRotateLeft"] = _array_rotate_left
SCALAR_FNS["arrayRotateRight"] = lambda a, n: _array_rotate_left(
    a, F.size(a) - F.pmod(n.cast("int"), F.size(a))
)


def _array_shift_left(
    a: Column, n: Column, fill: Column | None = None
) -> Column:
    """arrayShiftLeft(arr, n[, fill]) — drop the first n, pad the tail
    with ``fill`` (an element-typed NULL when omitted — F.get past the
    end supplies one without knowing the type)."""
    sz = F.size(a)
    k = F.least(F.greatest(n.cast("int"), F.lit(0)), sz)
    f = fill if fill is not None else F.get(a, sz + 1)
    return F.concat(
        F.slice(a, k + 1, sz - k),
        F.transform(
            F.when(k > 0, F.sequence(F.lit(1), k)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda _i: f,
        ),
    )


SCALAR_FNS["arrayShiftLeft"] = _array_shift_left
SCALAR_FNS["arrayShiftRight"] = lambda a, n, fill=None: F.reverse(
    _array_shift_left(F.reverse(a), n, fill)
)


# sample-normalized third/fourth moments (the -Samp siblings of the
# skewPop/kurtPop registrations above): classical sums, one hash
# aggregate, exactly-rounded finishers. kurtSamp matches kurtPop's
# excess convention (−3), just variance-normalized by n−1.
def _moments(x: Column):
    xd = x.cast("double")
    n = F.count(xd).cast("double")
    s1 = F.sum(xd)
    s2 = F.sum(xd * xd)
    s3 = F.sum(xd * xd * xd)
    s4 = F.sum(xd * xd * xd * xd)
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu
    m4 = (
        s4 / n
        - 4 * mu * s3 / n
        + 6 * mu * mu * s2 / n
        - 3 * mu * mu * mu * mu
    )
    return n, m2, m3, m4


def _skew_samp(x: Column) -> Column:
    n, m2, m3, _ = _moments(x)
    svar = F.try_divide(m2 * n, n - 1)
    return F.try_divide(m3, F.sqrt(svar) * svar)


def _kurt_samp(x: Column) -> Column:
    n, m2, _, m4 = _moments(x)
    svar = F.try_divide(m2 * n, n - 1)
    return F.try_divide(m4, svar * svar) - 3


AGGREGATE_FNS["skewSamp"] = _skew_samp
AGGREGATE_FNS["kurtSamp"] = _kurt_samp


# --- [EXT] lenient cast family: to<T>OrNull / to<T>OrZero ------------------
# ClickHouse's safe parsers: OrNull yields NULL on an unparseable
# input (Spark's try_cast), OrZero the type's zero. Generated over
# the numeric tiers + Date/Datetime (OrNull only for those — a zero
# date is a CH-ism this engine does not reproduce).
_LENIENT_CASTS = {
    "Int8": "tinyint", "Int16": "smallint", "Int32": "int",
    "Int64": "bigint", "UInt8": "smallint", "UInt16": "int",
    "UInt32": "bigint", "UInt64": "decimal(20,0)",
    "Float32": "float", "Float64": "double",
}


def _try_cast(t: str):
    return lambda x: x.try_cast(t)


for _n, _t in _LENIENT_CASTS.items():
    SCALAR_FNS.setdefault(f"to{_n}OrNull", _try_cast(_t))
    SCALAR_FNS.setdefault(
        f"to{_n}OrZero",
        (lambda t: lambda x: F.coalesce(
            x.try_cast(t), F.lit(0).cast(t)
        ))(_t),
    )
del _n, _t
SCALAR_FNS["toDateOrNull"] = lambda x: x.try_cast("date")
SCALAR_FNS["toDatetimeOrNull"] = lambda x: x.try_cast("timestamp")
SCALAR_FNS["toDateTimeOrNull"] = SCALAR_FNS["toDatetimeOrNull"]

# remaining subtract* date helpers (add* siblings exist above)
SCALAR_FNS["subtractWeeks"] = lambda d, n: d - F.make_interval(
    weeks=n.cast("int")
)
SCALAR_FNS["subtractMinutes"] = lambda d, n: d - F.make_interval(
    mins=n.cast("int")
)
SCALAR_FNS["subtractSeconds"] = lambda d, n: d - F.make_interval(
    secs=n.cast("double")
)


# -If composition over the parametric aggregates (topKIf(k)(x, cond)
# etc): in GROUP BY position the frontend's bounded two-level rewrite
# intercepts these names and filters the level-1 pre-aggregate; this
# in-group fallback CASE-wraps the data args (null-skip drops the
# non-matching rows) for window/HAVING positions.
def _parametric_if(base):
    def wrapped(params: list, *args: Column) -> Column:
        if len(args) < 2:
            raise ValueError("-If parametric aggregate takes (args..., cond)")
        *cols, cond = args
        return base(params, *[F.when(cond.cast("boolean"), c) for c in cols])

    return wrapped


for _b in ("topK", "topKWeighted", "groupArraySorted", "quantileExact",
           "quantileExactLow", "quantileExactHigh", "quantiles",
           "uniqUpTo"):
    if _b in PARAMETRIC_AGGS and _b + "If" not in PARAMETRIC_AGGS:
        PARAMETRIC_AGGS[_b + "If"] = _parametric_if(PARAMETRIC_AGGS[_b])
del _b


# approximate-distinct sketch spellings: all map onto Spark's HLL++
# approx_count_distinct (CH's HLL12/Theta are different sketches with
# the same contract — an estimate; exactness-critical paths use
# uniqExact)
AGGREGATE_FNS["uniqHLL12"] = AGGREGATE_FNS["countUniqueApprox"]
AGGREGATE_FNS["uniqTheta"] = AGGREGATE_FNS["countUniqueApprox"]


# lambda-first array accessors completing the arrayFirst family
def _array_last(lam: ScalarFn, a: Column) -> Column:
    kept = F.filter(a, lam)
    return F.get(kept, F.size(kept) - 1)  # null-safe on empty


SCALAR_FNS["arrayLast"] = _array_last


def _array_first_index(lam: ScalarFn, a: Column) -> Column:
    """arrayFirstIndex(f, a) — 1-based index of the first element
    matching f, 0 when none (CH contract)."""
    return F.coalesce(
        F.array_position(F.transform(a, lam), F.lit(True)),
        F.lit(0).cast("long"),
    )


SCALAR_FNS["arrayFirstIndex"] = _array_first_index
SCALAR_FNS["arrayLastIndex"] = lambda lam, a: F.when(
    _array_first_index(lam, F.reverse(a)) == 0, F.lit(0).cast("long")
).otherwise(
    F.size(a).cast("long") + 1 - _array_first_index(lam, F.reverse(a))
)
SCALAR_FNS["countEqual"] = lambda a, x: F.size(
    F.filter(a, lambda e: e.eqNullSafe(x))
)


# --- [EXT] tier-7 scalar/aggregate surface ---------------------------------
# Next ClickHouse-name wave: date_trunc, bit rotates/hamming, UTF8 pad
# aliases, the array construction/enumeration family, ngram string
# similarity, tokens(), map arithmetic, time-delta formatting, and the
# exact/approx median spellings. Everything is pure JVM expression
# except nothing — no Python anywhere; the not-oracle-safe names are
# listed in PYTEST_ONLY / registered with their rationale.

# dateTrunc(unit, ts) — unit is a compile-time string (raw-arg, like
# formatDateTime's pattern); Spark's date_trunc has the same arg order
SCALAR_FNS["dateTrunc"] = lambda unit, d: F.date_trunc(unit, d)

SCALAR_FNS["bitHammingDistance"] = lambda a, b: F.bit_count(
    a.cast("long").bitwiseXOR(b.cast("long"))
)


def _bit_rotate(left: bool):
    def f(x: Column, n: Column) -> Column:
        xl = x.cast("long")
        nn = (n.cast("int") % 64 + 64) % 64
        a = "shiftleft" if left else "shiftrightunsigned"
        b = "shiftrightunsigned" if left else "shiftleft"
        return F.call_function(a, xl, nn).bitwiseOR(
            # n=0: the complementary shift of 64 is masked to 0 by the
            # JVM, making the OR a no-op (x | x) — still correct
            F.call_function(b, xl, (F.lit(64) - nn).cast("int") % 64)
        )

    return f


SCALAR_FNS["bitRotateLeft"] = _bit_rotate(True)
SCALAR_FNS["bitRotateRight"] = _bit_rotate(False)

# UTF8 pad aliases (Spark lpad/rpad are codepoint-based on strings —
# already the UTF8 semantics; call_function bypasses the literal-only
# python wrapper)
SCALAR_FNS["leftPadUTF8"] = lambda s, n, p=None: F.call_function(
    "lpad", s, n.cast("int"), p if p is not None else F.lit(" ")
)
SCALAR_FNS["rightPadUTF8"] = lambda s, n, p=None: F.call_function(
    "rpad", s, n.cast("int"), p if p is not None else F.lit(" ")
)

SCALAR_FNS["arrayWithConstant"] = lambda n, x: F.call_function(
    "array_repeat", x, n.cast("int")
)


def _array_resize(arr: Column, size: Column, ext: Column = None) -> Column:
    """arrayResize(arr, size[, extender]) — truncate or right-pad to
    `size` (positive sizes only, the common form). Without an
    extender, pads with element-typed NULL (CH pads with the type's
    default; NULL is this engine's documented deviation — pass the
    extender for CH-exact zeros)."""
    n = size.cast("int")
    if ext is None:
        ext = F.get(arr, F.lit(2147483647))  # element-typed NULL
    pad = F.call_function(
        "array_repeat", ext, F.greatest(n - F.size(arr), F.lit(0))
    )
    return F.call_function("slice", F.concat(arr, pad), F.lit(1), n)


SCALAR_FNS["arrayResize"] = _array_resize


def _array_cumsum_nonneg(arr: Column) -> Column:
    """arrayCumSumNonNegative(arr) — running sum clamped at 0 after
    every step (the CH traffic-counter idiom). Sequential left fold:
    exact for integers; element-typed zero derived from the array
    itself so int folds stay integral."""
    zero = F.get(arr, F.lit(0)) * F.lit(0)
    return F.aggregate(
        arr,
        F.struct(
            F.slice(arr, 1, 0).alias("a"), zero.alias("s")
        ),
        lambda acc, x: F.struct(
            F.concat(
                acc["a"], F.array(F.greatest(acc["s"] + x, acc["s"] * 0))
            ).alias("a"),
            F.greatest(acc["s"] + x, acc["s"] * 0).alias("s"),
        ),
        lambda acc: acc["a"],
    )


SCALAR_FNS["arrayCumSumNonNegative"] = _array_cumsum_nonneg

# arrayEnumerateUniq: occurrence index of each element among its
# equals so far (1-based); arrayEnumerateDense: rank of the element's
# first occurrence among distinct values. Both O(n²) row-local over
# small arrays — no shuffle, no state.
SCALAR_FNS["arrayEnumerateUniq"] = lambda arr: F.transform(
    arr,
    lambda x, i: F.size(
        F.filter(
            F.call_function("slice", arr, F.lit(1), (i + 1).cast("int")),
            lambda e: e == x,
        )
    ),
)
SCALAR_FNS["arrayEnumerateDense"] = lambda arr: F.transform(
    arr,
    lambda x: F.size(
        F.array_distinct(
            F.call_function(
                "slice", arr, F.lit(1),
                F.array_position(arr, x).cast("int"),
            )
        )
    ),
)


def _ngrams4(s: Column) -> Column:
    n = F.length(s)
    # sequence(1, 0) runs DOWNWARD in Spark — guard short strings
    return F.when(
        n >= 4,
        F.transform(
            F.sequence(F.lit(1), n - 3),
            lambda i: F.call_function("substring", s, i, F.lit(4)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ngram_distance(a: Column, b: Column) -> Column:
    """ngramDistance(a, b) — 4-gram multiset symmetric difference over
    the sum of sizes, in [0, 1] (0 = identical gram multisets). Both
    under 4 chars → 0.0 if equal else 1.0 (CH hashes padded grams;
    this engine's documented short-string convention). Integer counts
    and one final division — oracle-exact."""
    ga, gb = _ngrams4(a), _ngrams4(b)
    cnt = lambda g, arr: F.size(F.filter(arr, lambda e: e == g))  # noqa: E731
    common = F.aggregate(
        F.array_distinct(ga),
        F.lit(0),
        lambda acc, g: acc + F.least(cnt(g, ga), cnt(g, gb)),
    )
    total = (F.size(ga) + F.size(gb)).cast("double")
    return (
        F.when(total == 0, F.when(a == b, F.lit(0.0)).otherwise(F.lit(1.0)))
        .otherwise((total - 2 * common.cast("double")) / total)
    )


SCALAR_FNS["ngramDistance"] = _ngram_distance
# ngramSearch(haystack, needle) — asymmetric: fraction of the NEEDLE's
# grams found in the haystack (1 = all present)
SCALAR_FNS["ngramSearch"] = lambda h, nd: F.when(
    F.size(_ngrams4(nd)) == 0, F.lit(1.0)
).otherwise(
    F.aggregate(
        F.array_distinct(_ngrams4(nd)),
        F.lit(0),
        lambda acc, g: acc
        + F.least(
            F.size(F.filter(_ngrams4(nd), lambda e: e == g)),
            F.size(F.filter(_ngrams4(h), lambda e: e == g)),
        ),
    ).cast("double")
    / F.size(_ngrams4(nd)).cast("double")
)

# tokens(s) — maximal runs of alphanumeric characters
SCALAR_FNS["tokens"] = lambda s: F.filter(
    F.split(s, "[^A-Za-z0-9]+"), lambda t: t != ""
)

SCALAR_FNS["visitParamExtractString"] = SCALAR_FNS["simpleJSONExtractString"]


def _map_arith(plus: bool):
    def f(m1: Column, m2: Column) -> Column:
        ks = F.array_union(F.map_keys(m1), F.map_keys(m2))

        def val(k):
            a, b = F.element_at(m1, k), F.element_at(m2, k)
            z = F.coalesce(a, b) * F.lit(0)  # typed zero (k ∈ union)
            return (
                F.coalesce(a, z) + F.coalesce(b, z)
                if plus
                else F.coalesce(a, z) - F.coalesce(b, z)
            )

        return F.map_from_arrays(ks, F.transform(ks, val))

    return f


# mapAdd / mapSubtract — key-union merge, absent keys count 0
SCALAR_FNS["mapAdd"] = _map_arith(True)
SCALAR_FNS["mapSubtract"] = _map_arith(False)


def _format_readable_time_delta(s: Column) -> Column:
    """formatReadableTimeDelta(sec) → '1 day, 2 hours, 3 seconds'
    (zero units omitted; '0 seconds' when everything is zero);
    integer arithmetic only."""
    t = s.cast("long")
    units = [
        ("day", t / F.lit(86400)),
        ("hour", (t % 86400) / F.lit(3600)),
        ("minute", (t % 3600) / F.lit(60)),
        ("second", t % 60),
    ]
    parts = []
    for name, v in units:
        v = v.cast("long")
        parts.append(
            F.when(
                v > 0,
                F.concat(
                    v.cast("string"),
                    F.lit(" " + name),
                    F.when(v > 1, F.lit("s")).otherwise(F.lit("")),
                ),
            )
        )
    joined = F.concat_ws(", ", *parts)  # concat_ws skips NULLs
    return F.when(joined == "", F.lit("0 seconds")).otherwise(joined)


SCALAR_FNS["formatReadableTimeDelta"] = _format_readable_time_delta


def _great_circle_distance(lon1, lat1, lon2, lat2) -> Column:
    """greatCircleDistance(lon1, lat1, lon2, lat2) → meters
    (haversine, CH's 6372797.56 m radius). sin/cos/asin are libm —
    in PYTEST_ONLY, never hash-oracled."""
    import math

    rad = math.pi / 180.0
    p1, p2 = lat1 * F.lit(rad), lat2 * F.lit(rad)
    dlat = (lat2 - lat1) * F.lit(rad / 2)
    dlon = (lon2 - lon1) * F.lit(rad / 2)
    a = F.sin(dlat) * F.sin(dlat) + F.cos(p1) * F.cos(p2) * (
        F.sin(dlon) * F.sin(dlon)
    )
    return F.lit(2 * 6372797.560856) * F.asin(F.sqrt(a))


SCALAR_FNS["greatCircleDistance"] = _great_circle_distance
SCALAR_FNS["geoDistance"] = _great_circle_distance


def _bar(x: Column, lo: Column, hi: Column, width: Column = None) -> Column:
    """bar(x, min, max[, width=80]) — the CH console histogram bar:
    full blocks plus one eighth-block remainder, clamped to [0, width]."""
    w = (width if width is not None else F.lit(80)).cast("double")
    frac = (x.cast("double") - lo) / (hi - lo)
    frac = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
    n8 = F.floor(frac * w * 8).cast("int")
    eighths = "▏▎▍▌▋▊▉"
    return F.concat(
        F.call_function("repeat", F.lit("█"), (n8 / 8).cast("int")),
        F.when(
            n8 % 8 > 0,
            F.call_function(
                "substring", F.lit(eighths), (n8 % 8).cast("int"), F.lit(1)
            ),
        ).otherwise(F.lit("")),
    )


SCALAR_FNS["bar"] = _bar

# medianExact(x) — the exact lower-median order statistic
# (≡ quantileExact(0.5)); under GROUP BY the frontend lowers it through
# the bounded (keys, value, cnt) pre-aggregate like the quantileExact
# family (frontend/lower.py _topk_side). This registry form is the
# in-group fallback (window contexts).
AGGREGATE_FNS["medianExact"] = lambda c: F.get(
    F.array_sort(F.collect_list(c)),
    F.floor(F.lit(0.5) * (F.size(F.collect_list(c)) - 1)).cast("int"),
)

# approx-quantile sketch spellings: CH's t-digest / timing sketches map
# onto Spark's Greenwald-Khanna approx_percentile — same contract (an
# estimate), different sketch → estimates differ cross-engine and
# across implementations, so these stay pytest-pinned (PYTEST_ONLY).
PARAMETRIC_AGGS["quantileTDigest"] = lambda params, x: F.percentile_approx(
    x, float(params[0]), 1000
)
PARAMETRIC_AGGS["quantileTiming"] = lambda params, x: F.percentile_approx(
    x, float(params[0]), 1000
)

PYTEST_ONLY.update(
    {
        "greatCircleDistance": "libm (sin/cos/asin haversine)",
        "geoDistance": "libm (sin/cos/asin haversine)",
        "quantileTDigest": "sketch-specific estimate (GK vs t-digest)",
        "quantileTiming": "sketch-specific estimate (GK vs timing)",
        "bar": "float width scaling (floor ties at representation "
               "boundaries differ cross-engine)",
    }
)


def _string_jaccard(a: Column, b: Column) -> Column:
    """stringJaccardIndex(a, b) — Jaccard over the CHARACTER SETS of
    the two strings (|A∩B| / |A∪B|, DuckDB's jaccard() convention —
    exact rational from integer set sizes). Both empty → 1.0."""
    da = F.array_distinct(F.split(a, ""))
    db = F.array_distinct(F.split(b, ""))
    u = F.size(F.array_union(da, db))
    return F.when(u == 0, F.lit(1.0)).otherwise(
        F.size(F.array_intersect(da, db)).cast("double") / u.cast("double")
    )


SCALAR_FNS["stringJaccardIndex"] = _string_jaccard


# --- [EXT] tier-8 scalar surface (time-series bucketing + parsing) ---------

# second-based interval widths; month-based units bucket in month space
_IV_SECONDS = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400,
    "week": 604800,
}
_IV_MONTHS = {"month": 1, "quarter": 3, "year": 12}
# 1969-12-29 is the Monday before the epoch: shifting by +3 days makes
# week buckets Monday-anchored (n=1 ≡ toMonday), the CH convention
_WEEK_SHIFT = 3 * 86400


def _to_start_of_interval(ts: Column, iv) -> Column:
    """toStartOfInterval(ts, INTERVAL n unit) — generic time-series
    bucketing (the raw-interval second arg is consumed at lowering
    time, like raw-string args). Second-based units floor the epoch
    (weeks Monday-anchored); month-based units floor in month space
    and return a DATE, mirroring ClickHouse's return-type split."""
    count, unit = iv
    u = str(unit).lower().rstrip("s")
    if u in _IV_SECONDS:
        w = int(count) * _IV_SECONDS[u]
        e = ts.cast("timestamp").cast("long")
        if u == "week":
            e = e + F.lit(_WEEK_SHIFT)
        b = F.floor(e / F.lit(w)).cast("long") * F.lit(w)
        if u == "week":
            b = b - F.lit(_WEEK_SHIFT)
        return b.cast("timestamp")
    if u in _IV_MONTHS:
        w = int(count) * _IV_MONTHS[u]
        m = (F.year(ts) - 1970) * 12 + F.month(ts) - 1
        b = F.floor(m / F.lit(w)).cast("int") * F.lit(w)
        return F.add_months(F.lit("1970-01-01").cast("date"), b)
    raise ValueError(f"toStartOfInterval: unsupported unit {unit!r}")


SCALAR_FNS["toStartOfInterval"] = _to_start_of_interval


def _time_slots(start: Column, duration: Column, size: Column = None) -> Column:
    """timeSlots(start, duration[, size=1800]) — the slot starts the
    half-open window [start, start+duration] touches (CH's session-
    to-slot expander). Row-local sequence; slot count is bounded by
    duration/size. A negative duration yields an empty array (Spark's
    sequence would otherwise run DOWNWARD and emit bogus slots)."""
    sz = (size if size is not None else F.lit(1800)).cast("long")
    e = start.cast("timestamp").cast("long")
    dur = duration.cast("long")
    slots = F.transform(
        F.sequence(
            F.floor(e / sz).cast("long"),
            F.floor((e + dur) / sz).cast("long"),
        ),
        lambda i: (i * sz).cast("timestamp"),
    )
    return F.when(dur >= 0, slots).otherwise(F.slice(slots, 1, 0))


SCALAR_FNS["timeSlots"] = _time_slots

# fixed English day names (CH behavior) — date_format(d, 'EEEE') would
# follow the JVM default locale
_DAY_NAMES = [
    "Sunday", "Monday", "Tuesday", "Wednesday",
    "Thursday", "Friday", "Saturday",
]
SCALAR_FNS["dayName"] = lambda d: F.element_at(
    F.array(*[F.lit(n) for n in _DAY_NAMES]), F.dayofweek(d)
)

# parseDateTime(s, '%Y-%m-%d ...') — CH %-format, same translation
# table as formatDateTime (raw-arg pattern); unparseable → error like
# CH; the BestEffort sibling tries a ladder of common shapes and
# returns NULL when nothing fits (pytest-pinned: the ladder is
# engine-specific by nature)
SCALAR_FNS["parseDateTime"] = lambda s, fmt: F.to_timestamp(
    s, _translate_ch_format(fmt)
)


def _parse_best_effort(s: Column) -> Column:
    pats = [
        "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
        "yyyy/MM/dd HH:mm:ss", "yyyyMMddHHmmss",
        "yyyy-MM-dd", "yyyy/MM/dd", "yyyyMMdd",
        "dd.MM.yyyy HH:mm:ss", "dd.MM.yyyy",
    ]
    return F.coalesce(
        *[F.try_to_timestamp(s, F.lit(p)) for p in pats]
    )


SCALAR_FNS["parseDateTimeBestEffort"] = _parse_best_effort
SCALAR_FNS["parseDateTimeBestEffortOrNull"] = _parse_best_effort

SCALAR_FNS["makeDateTime"] = lambda y, m, d, h, mi, s: F.make_timestamp(
    y, m, d, h, mi, s
)

# ISO week-year: the year of the Thursday of the date's ISO week
SCALAR_FNS["toISOYear"] = lambda d: F.year(
    F.date_add(F.date_trunc("week", d).cast("date"), 3)
)

_DAYS_TO_EPOCH = 719528  # days from 0000-01-01 to 1970-01-01 (proleptic)
SCALAR_FNS["toDaysSinceYearZero"] = lambda d: (
    F.datediff(d, F.lit("1970-01-01").cast("date")) + F.lit(_DAYS_TO_EPOCH)
).cast("long")
SCALAR_FNS["fromDaysSinceYearZero"] = lambda n: F.date_add(
    F.lit("1970-01-01").cast("date"),
    (n - F.lit(_DAYS_TO_EPOCH)).cast("int"),
)

# array math extras: in-order folds (deterministic), double results
SCALAR_FNS["arrayProduct"] = lambda a: F.aggregate(
    a, F.lit(1.0), lambda acc, x: acc * x.cast("double")
)
SCALAR_FNS["arrayAvg"] = lambda a: F.when(
    F.size(a) > 0,
    F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    / F.size(a).cast("double"),
)
SCALAR_FNS["arrayJaccardIndex"] = lambda a, b: F.when(
    F.size(F.array_union(a, b)) > 0,
    F.size(F.array_intersect(a, b)).cast("double")
    / F.size(F.array_union(a, b)).cast("double"),
)


def _array_fill(reverse: bool):
    def f(lam, arr: Column) -> Column:
        """arrayFill(cond, arr) — res[0] = arr[0]; res[i] = arr[i] when
        cond passes, else res[i-1] (the previous RESULT value, so the
        first element propagates through a leading failing run — CH
        semantics: only the first element is never replaced).
        arrayReverseFill mirrors: res[n-1] = arr[n-1], failures take
        res[i+1]."""
        src = F.reverse(arr) if reverse else arr
        none = F.get(arr, F.lit(2147483647))  # element-typed NULL

        def res(acc, x):
            return (
                F.when(F.size(acc["a"]) == 0, x)
                .when(lam(x).cast("boolean"), x)
                .otherwise(acc["l"])
            )

        filled = F.aggregate(
            src,
            F.struct(F.slice(arr, 1, 0).alias("a"), none.alias("l")),
            lambda acc, x: F.struct(
                F.concat(acc["a"], F.array(res(acc, x))).alias("a"),
                res(acc, x).alias("l"),
            ),
            lambda acc: acc["a"],
        )
        return F.reverse(filled) if reverse else filled

    return f


SCALAR_FNS["arrayFill"] = _array_fill(False)
SCALAR_FNS["arrayReverseFill"] = _array_fill(True)

# interval constructors (compose with date arithmetic; interval-typed
# results are pytest-pinned — no oracle column type for intervals)
SCALAR_FNS["toIntervalSecond"] = lambda n: F.make_interval(secs=n)
SCALAR_FNS["toIntervalMinute"] = lambda n: F.make_interval(mins=n)
SCALAR_FNS["toIntervalHour"] = lambda n: F.make_interval(hours=n)
SCALAR_FNS["toIntervalDay"] = lambda n: F.make_interval(days=n)
SCALAR_FNS["toIntervalWeek"] = lambda n: F.make_interval(weeks=n)
SCALAR_FNS["toIntervalMonth"] = lambda n: F.make_interval(months=n)
SCALAR_FNS["toIntervalYear"] = lambda n: F.make_interval(years=n)

PYTEST_ONLY.update(
    {
        "parseDateTimeBestEffort": "format-ladder heuristic is "
        "engine-specific by nature",
        "parseDateTimeBestEffortOrNull": "format-ladder heuristic",
    }
)

# case-insensitive ngram spellings (lowercase both sides, same math)
SCALAR_FNS["ngramDistanceCaseInsensitive"] = lambda a, b: _ngram_distance(
    F.lower(a), F.lower(b)
)
SCALAR_FNS["ngramSearchCaseInsensitive"] = lambda h, nd: SCALAR_FNS[
    "ngramSearch"
](F.lower(h), F.lower(nd))


# --- [EXT] categorical-association aggregates -------------------------------
# cramersV / cramersVBiasCorrected / contingency / theilsU over two
# categorical columns — the CH data-profiling quartet. Exact-arithmetic
# discipline (the rankCorr pattern): the (x, y) pair is ENCODED as one
# integer x*K + y, the contingency table is derived by row-local array
# counting over the collected codes, and the chi² sum folds over the
# SORTED distinct codes — every double op is a fixed expression tree
# evaluated in identical order on both engines, so cramersV /
# contingency hash-match DuckDB. theilsU needs log (libm) and stays
# PYTEST_ONLY. Use per-entity groups (the suite convention) — state is
# O(group rows) like the other fold-backed stats.
_ASSOC_K = 1_000_000
# x upper bound: x*K + y must stay double-exact (< 2^53) for the (e/K)
# cast in the fold to round-trip — see _assoc_parts docstring.
_ASSOC_X_MAX = (2**53) // _ASSOC_K


def _assoc_parts(x: Column, y: Column):
    """Encodes the (x, y) pair as x*K + y. The encoding is only
    injective for 0 <= x and 0 <= y < K (= 1e6): outside that domain
    Spark's sign-following % and the truncating (e/K) cast would
    silently corrupt the contingency table, so `ok` guards the domain
    and the wrappers NULL the result instead. The x upper bound keeps
    x*K + y inside the double-exact 2^53 range — past it the (e/K)
    double division loses exactness (and ~9.2e12 overflows the long
    encoding outright), so far-out-of-domain groups would return
    non-NULL junk despite the guard's contract."""
    xl, yl = x.cast("long"), y.cast("long")
    code = xl * _ASSOC_K + yl
    bad = F.max(
        (xl < 0) | (xl > _ASSOC_X_MAX) | (yl < 0) | (yl >= _ASSOC_K)
    )
    ok = ~F.coalesce(bad, F.lit(False))
    cl = F.collect_list(code)
    n = F.size(cl).cast("double")
    codes = F.array_sort(F.array_distinct(cl))
    K = F.lit(_ASSOC_K).cast("long")

    def term(c):
        o = F.size(F.filter(cl, lambda e: e == c)).cast("long")
        r = F.size(
            F.filter(cl, lambda e: (e / K).cast("long") == (c / K).cast("long"))
        ).cast("long")
        cc = F.size(F.filter(cl, lambda e: e % K == c % K)).cast("long")
        return (o * o).cast("double") / (r * cc).cast("double")

    s = F.aggregate(codes, F.lit(0.0), lambda acc, c: acc + term(c))
    chi2 = n * s - n
    R = F.size(
        F.array_distinct(F.transform(cl, lambda e: (e / K).cast("long")))
    ).cast("double")
    C = F.size(
        F.array_distinct(F.transform(cl, lambda e: e % K))
    ).cast("double")
    return n, chi2, R, C, ok


def _cramers_v(x: Column, y: Column) -> Column:
    n, chi2, R, C, ok = _assoc_parts(x, y)
    k = F.least(R, C) - 1
    return F.when(ok & (n > 0) & (k >= 1), F.sqrt(chi2 / (n * k)))


def _cramers_v_bias_corrected(x: Column, y: Column) -> Column:
    n, chi2, R, C, ok = _assoc_parts(x, y)
    phi2 = chi2 / n
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (R - 1) * (C - 1) / (n - 1)
    )
    rc = R - (R - 1) * (R - 1) / (n - 1)
    cc = C - (C - 1) * (C - 1) / (n - 1)
    k = F.least(rc, cc) - 1
    return F.when(ok & (n > 1) & (k > 0), F.sqrt(phi2c / k))


def _contingency(x: Column, y: Column) -> Column:
    n, chi2, R, C, ok = _assoc_parts(x, y)
    return F.when(ok & (n > 0), F.sqrt(chi2 / (chi2 + n)))


def _theils_u(x: Column, y: Column) -> Column:
    """theilsU(x, y) — uncertainty coefficient U(x|y) =
    (H(x) + H(y) − H(x,y)) / H(x): how much knowing y reduces the
    entropy of x. log is libm → PYTEST_ONLY, never hash-oracled.
    Same non-negative / x <= 2^53/K / y < 1e6 encoding domain as the
    chi² family."""
    xl, yl = x.cast("long"), y.cast("long")
    code = xl * _ASSOC_K + yl
    bad = F.max(
        (xl < 0) | (xl > _ASSOC_X_MAX) | (yl < 0) | (yl >= _ASSOC_K)
    )
    ok = ~F.coalesce(bad, F.lit(False))
    cl = F.collect_list(code)
    n = F.size(cl).cast("double")
    K = F.lit(_ASSOC_K).cast("long")

    def H(vals):
        dv = F.array_sort(F.array_distinct(vals))
        return F.aggregate(
            dv,
            F.lit(0.0),
            lambda acc, v: acc
            - (
                (F.size(F.filter(vals, lambda e: e == v)).cast("double") / n)
                * F.log(
                    F.size(F.filter(vals, lambda e: e == v)).cast("double")
                    / n
                )
            ),
        )

    hx = H(F.transform(cl, lambda e: (e / K).cast("long")))
    hy = H(F.transform(cl, lambda e: e % K))
    hxy = H(cl)
    return F.when(ok & (n > 0) & (hx > 0), (hx + hy - hxy) / hx)


AGGREGATE_FNS["cramersV"] = _cramers_v
AGGREGATE_FNS["cramersVBiasCorrected"] = _cramers_v_bias_corrected
AGGREGATE_FNS["contingency"] = _contingency
AGGREGATE_FNS["theilsU"] = _theils_u
PYTEST_ONLY["theilsU"] = "folds log — libm drift"


# --- [EXT] tier-9 scalars ----------------------------------------------------
# Window/subsequence/string-shingle surface (ClickHouse names). All
# pure JVM expression trees: transforms over bounded sequences, no
# Python rows. Spark's sequence(1, 0) runs DOWNWARD, so every
# sequence stop is clamped to >= 1 and the empty case is carved out
# with the slice(x, 1, 0) typed-empty trick.


def _array_shingles(a: Column, n: Column) -> Column:
    """arrayShingles(arr, n) — consecutive length-n windows
    ([1,2,3,4], 3 → [[1,2,3],[2,3,4]]); empty when len(arr) < n."""
    full = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(a) - n + 1, F.lit(1))),
        lambda i: F.slice(a, i, n),
    )
    return F.when(F.size(a) >= n, full).otherwise(F.slice(full, 1, 0))


SCALAR_FNS["arrayShingles"] = _array_shingles


def _char_ngrams(s: Column, n: Column) -> Column:
    """ngrams(s, n) — character n-grams of a string, in order."""
    ln = F.length(s)
    full = F.transform(
        F.sequence(F.lit(1), F.greatest(ln - n + 1, F.lit(1))),
        lambda i: F.call_function("substring", s, i, n),
    )
    return F.when(ln >= n, full).otherwise(F.slice(full, 1, 0))


SCALAR_FNS["ngrams"] = _char_ngrams


def _has_subsequence(h: Column, needle: Column) -> Column:
    """hasSubsequence(haystack, needle) — 1 when needle's characters
    appear in haystack in order (not necessarily contiguous). Single
    in-order fold over haystack positions; case-sensitive like CH."""
    matched = F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(h), F.lit(1))),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            (acc < F.length(needle))
            & (
                F.call_function("substring", h, i, F.lit(1))
                == F.call_function("substring", needle, acc + 1, F.lit(1))
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.when(F.length(needle) == 0, F.lit(1)).otherwise(
        (matched >= F.length(needle)).cast("int")
    )


SCALAR_FNS["hasSubsequence"] = _has_subsequence
SCALAR_FNS["hasSubsequenceCaseInsensitive"] = lambda h, n: _has_subsequence(
    F.lower(h), F.lower(n)
)


def _array_split(reverse: bool):
    def f(lam, arr: Column) -> Column:
        """arraySplit(cond, arr) — split into consecutive runs, cutting
        BEFORE each element where cond holds (a flag on the first
        element adds no leading empty group, CH semantics).
        arrayReverseSplit cuts AFTER flagged elements."""
        n = F.size(arr)
        idx = F.sequence(F.lit(1), F.greatest(n, F.lit(1)))
        if reverse:
            cuts = F.transform(
                F.filter(
                    idx,
                    lambda i: (i < n)
                    & lam(F.element_at(arr, i)).cast("boolean"),
                ),
                lambda i: i + 1,
            )
        else:
            cuts = F.filter(
                idx,
                lambda i: (i > 1) & lam(F.element_at(arr, i)).cast("boolean"),
            )
        bounds = F.concat(F.array(F.lit(1)), cuts, F.array(n + 1))
        segs = F.transform(
            F.sequence(F.lit(1), F.size(bounds) - 1),
            lambda j: F.slice(
                arr,
                F.element_at(bounds, j),
                F.element_at(bounds, j + 1) - F.element_at(bounds, j),
            ),
        )
        return F.when(n > 0, segs).otherwise(F.slice(segs, 1, 0))

    return f


SCALAR_FNS["arraySplit"] = _array_split(False)
SCALAR_FNS["arrayReverseSplit"] = _array_split(True)


def _array_dot_product(a: Column, b: Column) -> Column:
    """arrayDotProduct(a, b) — Σ aᵢ·bᵢ as an in-order double fold
    (deterministic order ≡ DuckDB list_reduce, so oracle-exact on
    integer inputs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


SCALAR_FNS["arrayDotProduct"] = _array_dot_product

# bit positions that equal 1, ascending, 0-based (CH). (x >> i) & 1
# reads bit i regardless of the arithmetic shift's sign extension.
SCALAR_FNS["bitPositionsToArray"] = lambda x: F.filter(
    F.sequence(F.lit(0), F.lit(63)),
    lambda i: F.call_function("shiftright", x.cast("long"), i.cast("int"))
    .bitwiseAND(F.lit(1))
    == 1,
)

SCALAR_FNS["ifNotFinite"] = lambda x, y: F.when(
    ~F.isnan(x.cast("double"))
    & (F.abs(x.cast("double")) != F.lit(float("inf"))),
    x,
).otherwise(y)
SCALAR_FNS["nanToNull"] = lambda x: F.when(~F.isnan(x.cast("double")), x)


def _format_readable_quantity(q: Column) -> Column:
    """formatReadableQuantity(x) → '1.23 million' — the decimal
    sibling of formatReadableSize (same %.2f tie hazard)."""
    x = q.cast("double")
    out = F.format_string("%.2f trillion", x / F.lit(1e12))
    for scale, unit in ((1e9, "billion"), (1e6, "million"), (1e3, "thousand")):
        out = F.when(
            F.abs(x) < F.lit(scale * 1000.0),
            F.format_string(f"%.2f {unit}", x / F.lit(scale)),
        ).otherwise(out)
    return F.when(F.abs(x) < F.lit(1000.0), F.format_string("%.2f", x)).otherwise(out)


SCALAR_FNS["formatReadableQuantity"] = _format_readable_quantity
FORMAT_TIE_HAZARD["formatReadableQuantity"] = (
    "%.2f tie: Java HALF_UP vs C half-even on .xx5"
)


# --- [EXT] map-function surface (CH map* family gaps) ------------------------
# Entry-level lambdas ride Spark's map_entries/map_from_entries;
# mapSort gives maps a deterministic printable order (Spark map
# equality/iteration order is otherwise unspecified — entries that
# print a map go through mapSort first).

SCALAR_FNS["map"] = lambda *cs: F.create_map(*cs)


def _map_apply(lam, m: Column) -> Column:
    """mapApply((k, v) -> tuple(k', v'), m) — the lambda returns a
    2-tuple (struct _1/_2); entries rebuild through
    map_from_entries."""
    return F.map_from_entries(
        F.transform(F.map_entries(m), lambda e: lam(e["key"], e["value"]))
    )


SCALAR_FNS["mapApply"] = _map_apply
SCALAR_FNS["mapExists"] = lambda lam, m: F.exists(
    F.map_entries(m), lambda e: lam(e["key"], e["value"]).cast("boolean")
).cast("int")
SCALAR_FNS["mapAll"] = lambda lam, m: F.forall(
    F.map_entries(m), lambda e: lam(e["key"], e["value"]).cast("boolean")
).cast("int")
SCALAR_FNS["mapSort"] = lambda m: F.map_from_entries(
    F.array_sort(F.map_entries(m))
)
SCALAR_FNS["mapReverseSort"] = lambda m: F.map_from_entries(
    F.reverse(F.array_sort(F.map_entries(m)))
)
SCALAR_FNS["mapContainsKeyLike"] = lambda m, pat: F.exists(
    F.map_keys(m), lambda k: F.like(k, pat)
).cast("int")
SCALAR_FNS["mapExtractKeyLike"] = lambda m, pat: F.map_filter(
    m, lambda k, v: F.like(k, pat)
)


def _map_populate_series(m: Column, mx: Column = None) -> Column:
    """mapPopulateSeries(m[, max]) — fill integer-key gaps from
    min(key) to max(key) (or `max`) with typed zeros."""
    ks = F.map_keys(m)
    hi = mx if mx is not None else F.array_max(ks)
    seq = F.sequence(F.array_min(ks), hi)
    zero = F.get(F.map_values(m), F.lit(0)) * F.lit(0)
    return F.map_from_arrays(
        seq,
        F.transform(seq, lambda k: F.coalesce(F.try_element_at(m, k), zero)),
    )


SCALAR_FNS["mapPopulateSeries"] = _map_populate_series


def _summap_filtered(params: list, keys: Column, vals: Column) -> Column:
    """sumMapFiltered([k...])(keys, vals) — sumMap restricted to the
    listed keys (the parametric CH sibling): pairs outside the key
    list never enter the fold."""
    keep = F.array(*[F.lit(k) for k in params])
    kf = F.filter(
        F.arrays_zip(keys.alias("k"), vals.alias("v")),
        lambda s: F.array_contains(keep, s["k"]),
    )
    return _summap(
        F.transform(kf, lambda s: s["k"]),
        F.transform(kf, lambda s: s["v"]),
    )


PARAMETRIC_AGGS["sumMapFiltered"] = _summap_filtered


def _exp_moving_average(params: list, value: Column, time: Column) -> Column:
    """exponentialMovingAverage(halflife)(value, time) — CH semantics:
    Σ vᵢ·2^((tᵢ-t_max)/halflife) / Σ 2^((tᵢ-t_max)/halflife). The
    2^x is libm → PYTEST_ONLY (randomized armor vs a Python
    reference in tests/test_agg_moving.py), never hash-oracled.
    State is the collected (t, v) pair list — use per-entity groups
    (the suite convention for fold-backed aggregates)."""
    hl = float(params[0])
    cl = F.collect_list(
        F.struct(time.cast("double").alias("t"), value.cast("double").alias("v"))
    )
    tmax = F.array_max(F.transform(cl, lambda s: s["t"]))

    def wsum(f):
        return F.aggregate(
            cl,
            F.lit(0.0),
            lambda acc, s: acc
            + f(s) * F.pow(F.lit(2.0), (s["t"] - tmax) / F.lit(hl)),
        )

    den = wsum(lambda s: F.lit(1.0))
    return F.when(den > 0, wsum(lambda s: s["v"]) / den)


PARAMETRIC_AGGS["exponentialMovingAverage"] = _exp_moving_average
PYTEST_ONLY["exponentialMovingAverage"] = "2^x decay — libm drift"


def _group_array_moving(avg: bool):
    def f(params: list, value: Column, time: Column) -> Column:
        """groupArrayMovingSum(k)(x, t) / groupArrayMovingAvg — the
        trailing-k-row window sums over the group's rows, [EXT]
        2-arg deterministic form: rows order by the explicit t key
        (CH's 1-arg form depends on block arrival order, which a
        distributed engine cannot reproduce — the extra key is the
        determinism contract). Divisor is k even for the warm-up
        prefix (CH semantics)."""
        k = int(params[0])
        cl = F.array_sort(
            F.collect_list(
                F.struct(time.alias("t"), value.cast("long").alias("v"))
            )
        )
        vs = F.transform(cl, lambda s: s["v"])

        def win_sum(i):
            return F.aggregate(
                F.slice(vs, F.greatest(i - F.lit(k - 1), F.lit(1)),
                        F.least(i, F.lit(k))),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        idx = F.sequence(F.lit(1), F.greatest(F.size(vs), F.lit(1)))
        out = F.transform(
            idx,
            (lambda i: win_sum(i).cast("double") / F.lit(float(k)))
            if avg
            else win_sum,
        )
        return F.when(F.size(vs) > 0, out).otherwise(F.slice(out, 1, 0))

    return f


PARAMETRIC_AGGS["groupArrayMovingSum"] = _group_array_moving(False)
PARAMETRIC_AGGS["groupArrayMovingAvg"] = _group_array_moving(True)


def _lttb(params: list, x: Column, y: Column) -> Column:
    """largestTriangleThreeBuckets(n)(x, y) — LTTB downsampling (CH
    name, alias lttb): keep first and last point, split the middle
    into n-2 buckets, and from each bucket keep the point forming the
    largest triangle with the PREVIOUSLY SELECTED point and the NEXT
    bucket's average. Returns the selected points as
    array<struct<_1,_2>> (CH tuple fields) sorted by x.

    Deterministic + oracle-exact: points collect as longs, bucket
    bounds use integer division, and the area comparisons are a fixed
    double expression tree folded left-to-right (strict > → first max
    wins) — identical in DuckDB's list_reduce. Sequential by nature
    (the selection feeds the next bucket), so it runs as one in-order
    fold over the collected group; use per-entity groups (state is
    O(group rows), the fold-backed convention)."""
    n = int(params[0])
    if n < 3:
        raise ValueError("largestTriangleThreeBuckets needs n >= 3")
    cl_expr = F.array_sort(
        F.collect_list(
            F.struct(x.cast("long").alias("_1"), y.cast("long").alias("_2"))
        )
    )
    m = F.lit(n - 2)

    def with_cl(cl):
        N = F.size(cl)

        def pt(i):
            return F.element_at(cl, i.cast("int"))

        def fx(i):
            return pt(i)["_1"].cast("double")

        def fy(i):
            return pt(i)["_2"].cast("double")

        def div(a, b):
            return F.call_function("div", a.cast("long"), b.cast("long"))

        def lo(i):
            return (F.lit(2) + div((i - 1) * (N - 2), m)).cast("int")

        def hi(i):
            return (F.lit(1) + div(i * (N - 2), m)).cast("int")

        def merge(acc, i):
            nlo = F.when(i < m, lo(i + 1)).otherwise(N.cast("int"))
            nhi = F.when(i < m, hi(i + 1)).otherwise(N.cast("int"))
            nxt = F.slice(cl, nlo, nhi - nlo + 1)
            cnt = F.size(nxt).cast("double")
            cx = (
                F.aggregate(
                    nxt, F.lit(0.0), lambda a, p: a + p["_1"].cast("double")
                )
                / cnt
            )
            cy = (
                F.aggregate(
                    nxt, F.lit(0.0), lambda a, p: a + p["_2"].cast("double")
                )
                / cnt
            )
            ax, ay = fx(acc["li"]), fy(acc["li"])
            best = F.aggregate(
                F.sequence(lo(i), hi(i)),
                F.struct(
                    F.lit(-1.0).alias("a"), F.lit(0).cast("int").alias("i")
                ),
                lambda b, j: F.when(
                    F.abs(
                        (ax - cx) * (fy(j) - ay) - (ax - fx(j)) * (cy - ay)
                    )
                    > b["a"],
                    F.struct(
                        F.abs(
                            (ax - cx) * (fy(j) - ay)
                            - (ax - fx(j)) * (cy - ay)
                        ).alias("a"),
                        j.cast("int").alias("i"),
                    ),
                ).otherwise(b),
            )
            return F.struct(
                F.concat(acc["sel"], F.array(pt(best["i"]))).alias("sel"),
                best["i"].alias("li"),
            )

        folded = F.aggregate(
            F.sequence(F.lit(1), m),
            F.struct(
                F.slice(cl, 1, 0).alias("sel"),
                F.lit(1).cast("int").alias("li"),
            ),
            merge,
            lambda acc: acc["sel"],
        )
        return F.when(N <= F.lit(n), cl).otherwise(
            F.concat(F.slice(cl, 1, 1), folded, F.slice(cl, N, 1))
        )

    return F.get(F.transform(F.array(cl_expr), with_cl), 0)


PARAMETRIC_AGGS["largestTriangleThreeBuckets"] = _lttb
PARAMETRIC_AGGS["lttb"] = _lttb


def _array_auc(scores: Column, labels: Column) -> Column:
    """arrayAUC(scores, labels) — ROC AUC over parallel arrays via the
    midrank rank-sum formula: AUC = (Σ ranks⁺ - P(P+1)/2) / (P·N).
    Midranks are exact halves and every op is +,*,/ over identical
    operands — oracle-exact. Row-local O(n²) counting (bounded by the
    array, never the table)."""
    n = F.size(scores)
    idx = F.sequence(F.lit(1), F.greatest(n, F.lit(1)))

    def sc(i):
        return F.get(scores, (i - F.lit(1)).cast("int"))  # null-safe OOB

    def lb(i):
        return F.get(labels, (i - F.lit(1)).cast("int"))

    rank_sum = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc
        + F.when(
            lb(i).cast("int") == 1,
            F.size(F.filter(scores, lambda s: s < sc(i))).cast("double")
            + (
                F.size(F.filter(scores, lambda s: s == sc(i))).cast(
                    "double"
                )
                + F.lit(1.0)
            )
            / F.lit(2.0),
        ).otherwise(F.lit(0.0)),
    )
    p = F.size(F.filter(labels, lambda l: l.cast("int") == 1)).cast("double")
    nn = F.size(F.filter(labels, lambda l: l.cast("int") != 1)).cast("double")
    return F.when(
        (p > 0) & (nn > 0),
        (rank_sum - p * (p + F.lit(1.0)) / F.lit(2.0)) / (p * nn),
    )


SCALAR_FNS["arrayAUC"] = _array_auc
SCALAR_FNS["arrayROCAUC"] = _array_auc


def _sequence_next_node(params: list, ts: Column, value: Column, *conds) -> Column:
    """sequenceNextNode(direction, base)(ts, value, cond1, ...) — the
    value FOLLOWING the first consecutive run matching cond1..condk in
    event-time order (CH's next-step-in-journey aggregate;
    'forward'/'head' supported — the chain anchors at its first
    match scanning forward). NULL when no chain matches or the chain
    ends the series. The match scan is list_position over a
    precomputed boolean array — no sequential state."""
    direction = str(params[0]).lower() if params else "forward"
    base = str(params[1]).lower() if len(params) > 1 else "head"
    if direction != "forward" or base != "head":
        raise ValueError(
            "sequenceNextNode supports (forward, head) only"
        )
    k = len(conds)
    if k == 0:
        raise ValueError("sequenceNextNode needs at least one condition")
    cl = F.array_sort(
        F.collect_list(
            F.struct(
                ts.alias("t"),
                value.alias("v"),
                *[c.cast("boolean").alias(f"c{i}") for i, c in enumerate(conds)],
            )
        )
    )

    def with_cl(cl_):
        n = F.size(cl_)
        ok = F.transform(
            F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
            lambda i: reduce_and(
                [
                    F.get(cl_, (i + F.lit(j) - 1).cast("int"))[f"c{j}"]
                    for j in range(k)
                ]
            ),
        )
        pos = F.array_position(ok, F.lit(True))
        return F.when(
            (n >= k + 1) & (pos > 0) & (pos + k <= n),
            F.get(cl_, (pos + F.lit(k) - 1).cast("int"))["v"],
        )

    def reduce_and(cols):
        out = cols[0]
        for c in cols[1:]:
            out = out & c
        return out

    return F.get(F.transform(F.array(cl), with_cl), 0)


PARAMETRIC_AGGS["sequenceNextNode"] = _sequence_next_node


def _quantile_exact_weighted(params: list, x: Column, w: Column) -> Column:
    """quantileExactWeighted(level)(x, w) — the exact weighted order
    statistic: among the Σw expanded repetitions, the value at 0-based
    rank floor(level·(Σw−1)) (the first value whose cumulative weight
    exceeds the rank; with all weights 1 this is exactly
    quantileExactLow, pytest-pinned). One in-order fold over the
    value-sorted (v, w) pairs — integer cumulative weights, a single
    double multiply for the rank; use per-entity groups (state is
    O(group rows), the fold-backed convention)."""
    level = float(params[0])
    cl = F.array_sort(
        F.collect_list(F.struct(x.alias("v"), w.cast("long").alias("w")))
    )

    def with_cl(cl_):
        totw = F.aggregate(
            cl_, F.lit(0).cast("long"), lambda acc, s: acc + s["w"]
        )
        t = F.floor(F.lit(level) * (totw - 1).cast("double")).cast("long")
        none = F.get(cl_, F.lit(2147483647))["v"]  # typed NULL
        res = F.aggregate(
            cl_,
            F.struct(
                F.lit(0).cast("long").alias("cum"), none.alias("val")
            ),
            lambda acc, s: F.struct(
                (acc["cum"] + s["w"]).alias("cum"),
                F.when(acc["val"].isNotNull(), acc["val"])
                .when(acc["cum"] + s["w"] >= t + 1, s["v"])
                .alias("val"),
            ),
            lambda acc: acc["val"],
        )
        return F.when(totw > 0, res)

    return F.get(F.transform(F.array(cl), with_cl), 0)


PARAMETRIC_AGGS["quantileExactWeighted"] = _quantile_exact_weighted
# param-free spelling (≡ quantileExactWeighted(0.5)) — a plain
# aggregate, like medianExact
AGGREGATE_FNS["medianExactWeighted"] = (
    lambda x, w: _quantile_exact_weighted([0.5], x, w)
)


# --- [EXT] Morton (Z-order) encoding -----------------------------------------
# The multi-dimensional clustering primitive: interleaving the bits of
# two 32-bit keys gives a 1-D sort order whose ranges stay spatially
# local — Z-ordered table layouts turn 2-key range scans into short
# runs of the sort key. Classic magic-number bit spreading; every op is
# a 64-bit shift/mask identical in DuckDB, so values are oracle-exact.

_MORTON_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _morton_spread(x: Column) -> Column:
    v = x.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in _MORTON_MASKS:
        v = (
            v.bitwiseOR(F.call_function("shiftleft", v, F.lit(shift)))
        ).bitwiseAND(F.lit(mask))
    return v


_MORTON_COMPACT_STEPS = (
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0x00000000FFFFFFFF),
)


def _morton_compact(x: Column) -> Column:
    v = x.cast("long").bitwiseAND(F.lit(0x5555555555555555))
    for shift, mask in _MORTON_COMPACT_STEPS:
        v = (
            v.bitwiseOR(F.call_function("shiftright", v, F.lit(shift)))
        ).bitwiseAND(F.lit(mask))
    return v


SCALAR_FNS["mortonEncode"] = lambda x, y: _morton_spread(x).bitwiseOR(
    F.call_function("shiftleft", _morton_spread(y), F.lit(1))
)
def _morton_decode(n: Column, z: Column) -> Column:
    """mortonDecode(dim, z) — the dim-th coordinate (1 or 2) back out
    of a 2-D Morton code. Tuple returns don't canonicalize, so the CH
    tuple form is split per coordinate (documented deviation: the
    dimension index selects the coordinate)."""
    return F.when(
        n.cast("int") == 1, _morton_compact(z)
    ).otherwise(
        _morton_compact(F.call_function("shiftright", z.cast("long"), F.lit(1)))
    )


SCALAR_FNS["mortonDecode"] = _morton_decode


# --- [EXT] tier-10 scalars: calendar names, relative period numbers,
# compact date codecs, snowflake IDs, array/split extras -----------------------

_MONTH_NAMES = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]


def _date_name(unit: Column, d: Column) -> Column:
    """dateName(unit, d) — the named/numbered date part as a string
    (fixed English names, locale-independent like dayName)."""
    u = F.lower(unit)
    return (
        F.when(u == "year", F.year(d).cast("string"))
        .when(u == "quarter", F.quarter(d).cast("string"))
        .when(
            u == "month",
            F.element_at(
                F.array(*[F.lit(m) for m in _MONTH_NAMES]), F.month(d)
            ),
        )
        .when(u == "week", F.weekofyear(d).cast("string"))
        .when(u == "dayofyear", F.dayofyear(d).cast("string"))
        .when(u == "day", F.dayofmonth(d).cast("string"))
        .when(u == "hour", F.hour(d).cast("string"))
        .when(u == "minute", F.minute(d).cast("string"))
        .when(u == "second", F.second(d).cast("string"))
        .when(u == "weekday", SCALAR_FNS["dayName"](d))
    )


SCALAR_FNS["dateName"] = _date_name

# timeDiff(start, end) — whole seconds from start to end
SCALAR_FNS["timeDiff"] = lambda a, b: (
    b.cast("timestamp").cast("long") - a.cast("timestamp").cast("long")
)

SCALAR_FNS["toRelativeSecondNum"] = lambda t: t.cast("timestamp").cast(
    "long"
)
SCALAR_FNS["toRelativeMonthNum"] = lambda d: (
    F.year(d) * 12 + F.month(d)
).cast("long")
SCALAR_FNS["toRelativeYearNum"] = lambda d: F.year(d).cast("long")
# weeks since the epoch with Monday boundaries: 1970-01-01 was a
# Thursday, so +3 aligns the week rollover to Mondays (documented
# convention; pinned vs the oracle's identical arithmetic)
SCALAR_FNS["toRelativeWeekNum"] = lambda d: F.floor(
    (
        F.datediff(d.cast("date"), F.lit("1970-01-01").cast("date")) + 3
    ).cast("double")
    / 7.0
).cast("long")

# compact integer date codecs
SCALAR_FNS["YYYYMMDDToDate"] = lambda v: F.make_date(
    F.floor(v / 10000).cast("int"),
    (F.floor(v / 100) % 100).cast("int"),
    (v % 100).cast("int"),
)
SCALAR_FNS["YYYYMMDDhhmmssToDateTime"] = lambda v: F.make_timestamp(
    F.floor(v / 10000000000).cast("int"),
    (F.floor(v / 100000000) % 100).cast("int"),
    (F.floor(v / 1000000) % 100).cast("int"),
    (F.floor(v / 10000) % 100).cast("int"),
    (F.floor(v / 100) % 100).cast("int"),
    (v % 100).cast("int"),
)
SCALAR_FNS["toYYYYMMDDhhmmss"] = lambda t: (
    F.year(t).cast("long") * 10000000000
    + F.month(t).cast("long") * 100000000
    + F.dayofmonth(t).cast("long") * 1000000
    + F.hour(t).cast("long") * 10000
    + F.minute(t).cast("long") * 100
    + F.second(t).cast("long")
)

# snowflake IDs: 41-bit millis since the twitter epoch, shifted 22
_SNOWFLAKE_EPOCH_MS = 1288834974657
SCALAR_FNS["dateTimeToSnowflakeID"] = lambda t: F.call_function(
    "shiftleft",
    (
        t.cast("timestamp").cast("long") * 1000 - F.lit(_SNOWFLAKE_EPOCH_MS)
    ).cast("long"),
    F.lit(22),
)
SCALAR_FNS["snowflakeIDToDateTime"] = lambda i: (
    (
        F.call_function("shiftright", i.cast("long"), F.lit(22))
        + F.lit(_SNOWFLAKE_EPOCH_MS)
    )
    / F.lit(1000)
).cast("long").cast("timestamp")

# split/array extras
SCALAR_FNS["splitByNonAlpha"] = lambda s: F.filter(
    F.split(s, r"[^A-Za-z0-9]+"), lambda x: F.length(x) > 0
)
SCALAR_FNS["arrayFirstOrNull"] = lambda lam, a: F.get(
    F.filter(a, lambda x: lam(x).cast("boolean")), F.lit(0)
)
SCALAR_FNS["arrayLastOrNull"] = lambda lam, a: F.get(
    F.reverse(F.filter(a, lambda x: lam(x).cast("boolean"))), F.lit(0)
)
SCALAR_FNS["clamp"] = lambda x, lo, hi: F.least(F.greatest(x, lo), hi)
SCALAR_FNS["arraySymmetricDifference"] = lambda a, b: F.array_except(
    F.array_union(a, b), F.array_intersect(a, b)
)


# --- [EXT] tier-11 scalars: string-similarity family -------------------------
# damerauLevenshteinDistance (OSA form), jaroSimilarity,
# jaroWinklerSimilarity, byteHammingDistance — the CH fuzzy-matching
# quartet. All pure JVM expression trees: nested F.aggregate folds over
# bounded codepoint arrays, so every value is deterministic integer /
# fixed-order IEEE arithmetic with an exact DuckDB counterpart
# (jaro/jaroWinkler match DuckDB's NATIVE jaro_similarity /
# jaro_winkler_similarity bit-exactly — textbook algorithm, 0.7 boost
# threshold, prefix cap 4, p=0.1; the OSA Damerau form is mirrored as
# the identical fold because DuckDB's native damerau_levenshtein is the
# UNRESTRICTED variant, e.g. 'ca'→'abc' = 2 vs OSA's 3).

_DL_INF = 1 << 40


def _cp(s: Column) -> Column:
    """Codepoint array of a string (ASCII-exact; the fixture corpus is
    ASCII word salad — same caveat as the CDC chunker)."""
    return F.transform(
        F.filter(F.split(s, ""), lambda c: F.length(c) > 0),
        lambda c: F.ascii(c).cast("long"),
    )


def _damerau_osa(sa: Column, sb: Column) -> Column:
    """Optimal-string-alignment Damerau-Levenshtein: the classic
    3-way DP plus an adjacent-transposition case (each substring
    edited at most once). Outer fold = rows of the DP matrix, inner
    fold = sequential left-to-right cells; the accumulator carries the
    previous TWO rows (flattened into one struct) for the
    transposition lookback."""
    A, B = _cp(sa), _cp(sb)

    def dp(A, B):
        la, lb = F.size(A), F.size(B)
        row0 = F.sequence(F.lit(0).cast("long"), lb.cast("long"))
        init = F.struct(
            row0.alias("prev"),
            F.transform(row0, lambda _: F.lit(_DL_INF).cast("long")).alias(
                "pp"
            ),
        )

        def outer(acc, i):
            prev, pp = acc["prev"], acc["pp"]

            def cell(r, j):
                cost = F.when(
                    F.get(A, (i - 1).cast("int"))
                    == F.get(B, (j - 1).cast("int")),
                    F.lit(0),
                ).otherwise(F.lit(1)).cast("long")
                best = F.least(
                    F.get(prev, j.cast("int")) + 1,
                    F.element_at(r, -1) + 1,
                    F.get(prev, (j - 1).cast("int")) + cost,
                )
                trans_ok = (
                    (i >= 2)
                    & (j >= 2)
                    & (
                        F.get(A, (i - 1).cast("int"))
                        == F.get(B, (j - 2).cast("int"))
                    )
                    & (
                        F.get(A, (i - 2).cast("int"))
                        == F.get(B, (j - 1).cast("int"))
                    )
                )
                best = F.least(
                    best,
                    F.when(
                        trans_ok, F.get(pp, (j - 2).cast("int")) + 1
                    ).otherwise(F.lit(_DL_INF).cast("long")),
                )
                return F.concat(r, F.array(best))

            new = F.aggregate(
                F.sequence(F.lit(1).cast("long"), lb.cast("long")),
                F.array(i.cast("long")),
                cell,
            )
            return F.struct(new.alias("prev"), prev.alias("pp"))

        fold = F.aggregate(
            F.sequence(F.lit(1).cast("long"), la.cast("long")), init, outer
        )
        return F.element_at(fold["prev"], -1)

    # let-bind A/B (each referenced O(la*lb) times inside the folds —
    # the CollapseProject inlining trap) and carve out the empty cases
    # (sequence(1, 0) runs DOWNWARD).
    return F.get(
        F.transform(
            F.array(F.struct(A.alias("a"), B.alias("b"))),
            lambda t: F.when(
                F.size(t["a"]) == 0, F.size(t["b"]).cast("long")
            )
            .when(F.size(t["b"]) == 0, F.size(t["a"]).cast("long"))
            .otherwise(dp(t["a"], t["b"])),
        ),
        0,
    )


SCALAR_FNS["damerauLevenshteinDistance"] = _damerau_osa


def _jaro(sa: Column, sb: Column) -> Column:
    """Textbook Jaro similarity: match window floor(max/2)-1,
    first-unused-in-window matching, transpositions = half the
    mismatched positions of the two matched sequences. Codepoint
    arrays are let-bound once (CollapseProject trap), then the core
    runs in `_jaro_sim_arrays` (shared with jaroWinklerSimilarity).
    NULL input → NULL (the m==0 → 0.0 path would otherwise swallow
    it)."""
    A, B = _cp(sa), _cp(sb)
    return F.when(
        sa.isNull() | sb.isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.get(
            F.transform(
                F.array(F.struct(A.alias("a"), B.alias("b"))),
                lambda t: F.when(
                    (F.size(t["a"]) == 0) | (F.size(t["b"]) == 0),
                    F.lit(0.0),
                ).otherwise(_jaro_sim_arrays(t["a"], t["b"])),
            ),
            0,
        )
    )


SCALAR_FNS["jaroSimilarity"] = _jaro


def _jaro_winkler(sa: Column, sb: Column) -> Column:
    """Jaro-Winkler: jaro + prefix boost l*0.1*(1-jaro), prefix capped
    at 4, applied only above the 0.7 boost threshold (DuckDB/textbook
    behavior, verified empirically). The jaro core is let-bound so the
    boost branch references it once, not three times. NULL input →
    NULL (the m==0 → 0.0 path would otherwise swallow it)."""
    A, B = _cp(sa), _cp(sb)

    def jw(t):
        a, b = t["a"], t["b"]
        j = t["j"]
        cap = F.least(F.size(a), F.size(b), F.lit(4)).cast("long")
        # prefix length = count of k in 1..4 with first-k equality
        # (monotone, so the count IS the prefix length)
        l = F.size(
            F.filter(
                F.when(
                    cap >= 1, F.sequence(F.lit(1).cast("long"), cap)
                ).otherwise(
                    F.slice(F.sequence(F.lit(0), F.lit(0)), 1, 0).cast(
                        "array<long>"
                    )
                ),
                lambda k: F.size(
                    F.filter(
                        F.sequence(F.lit(0).cast("long"), k - 1),
                        lambda p: F.get(a, p.cast("int"))
                        == F.get(b, p.cast("int")),
                    )
                )
                == k.cast("int"),
            )
        ).cast("double")
        return F.when(j > 0.7, j + l * F.lit(0.1) * (F.lit(1.0) - j)).otherwise(j)

    def bind_j(t):
        a, b = t["a"], t["b"]
        j0 = F.when(
            (F.size(a) == 0) | (F.size(b) == 0), F.lit(0.0)
        ).otherwise(_jaro_sim_arrays(a, b))
        return F.get(
            F.transform(
                F.array(
                    F.struct(a.alias("a"), b.alias("b"), j0.alias("j"))
                ),
                jw,
            ),
            0,
        )

    return F.when(
        sa.isNull() | sb.isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.get(
            F.transform(
                F.array(F.struct(A.alias("a"), B.alias("b"))), bind_j
            ),
            0,
        )
    )


def _jaro_sim_arrays(a: Column, b: Column) -> Column:
    """_jaro's core over already-bound codepoint arrays (shared by
    jaroWinklerSimilarity so the arrays bind once)."""
    # Re-enter the bound-array body of _jaro: duplicate the inner sim()
    # by folding through a single-element transform again is wasteful —
    # instead rebuild the same expression with a/b as the arrays.
    la, lb = F.size(a).cast("long"), F.size(b).cast("long")
    w = F.greatest(
        F.floor(F.greatest(la, lb) / 2).cast("long") - 1,
        F.lit(0).cast("long"),
    )
    init = F.struct(
        F.transform(
            F.sequence(F.lit(1).cast("long"), lb),
            lambda _: F.lit(0).cast("long"),
        ).alias("used"),
        F.slice(F.sequence(F.lit(0), F.lit(0)), 1, 0)
        .cast("array<long>")
        .alias("mb"),
        F.slice(F.sequence(F.lit(0), F.lit(0)), 1, 0)
        .cast("array<long>")
        .alias("ma"),
    )

    def step(acc, i):
        lo = F.greatest(i - w, F.lit(0).cast("long"))
        hi = F.least(i + w, lb - 1)
        cand = F.filter(
            F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
                F.slice(F.sequence(F.lit(0), F.lit(0)), 1, 0)
            ),
            lambda j: (F.get(b, j.cast("int")) == F.get(a, i.cast("int")))
            & (F.get(acc["used"], j.cast("int")) == 0),
        )
        j = F.get(cand, 0)
        return F.when(j.isNull(), acc).otherwise(
            F.struct(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), lb - 1),
                    lambda k: F.when(
                        k == j, F.lit(1).cast("long")
                    ).otherwise(F.get(acc["used"], k.cast("int"))),
                ).alias("used"),
                F.concat(acc["mb"], F.array(j)).alias("mb"),
                F.concat(acc["ma"], F.array(F.get(a, i.cast("int")))).alias(
                    "ma"
                ),
            )
        )

    fold = F.aggregate(F.sequence(F.lit(0).cast("long"), la - 1), init, step)

    # Let-bind the fold result and m: every `fold[...]` / `m` reference
    # otherwise duplicates the ENTIRE aggregate tree (34 KB → ~200 KB
    # per call site before this binding — the CollapseProject trap).
    def score(f):
        m = F.size(f["mb"]).cast("long")

        def with_m(u):
            mm = u["m"]
            m2 = F.filter(
                F.sequence(F.lit(0).cast("long"), lb - 1),
                lambda j: F.get(u["used"], j.cast("int")) == 1,
            )
            mism = F.size(
                F.filter(
                    F.sequence(F.lit(0).cast("long"), mm - 1),
                    lambda k: F.get(u["ma"], k.cast("int"))
                    != F.get(b, F.get(m2, k.cast("int")).cast("int")),
                )
            ).cast("long")
            # transpositions = HALF the mismatched positions, floored —
            # the classic C implementations (and DuckDB) use integer
            # division here
            t = F.floor(mism / F.lit(2)).cast("double")
            md = mm.cast("double")
            return F.when(mm == 0, F.lit(0.0)).otherwise(
                (
                    md / la.cast("double")
                    + md / lb.cast("double")
                    + (md - t) / md
                )
                / F.lit(3.0)
            )

        return F.get(
            F.transform(
                F.array(
                    F.struct(
                        m.alias("m"),
                        f["used"].alias("used"),
                        f["ma"].alias("ma"),
                    )
                ),
                with_m,
            ),
            0,
        )

    return F.get(F.transform(F.array(fold), score), 0)


SCALAR_FNS["jaroWinklerSimilarity"] = _jaro_winkler


def _byte_hamming(sa: Column, sb: Column) -> Column:
    """byteHammingDistance: differing positions over the common prefix
    length plus the length difference (CH counts unmatched tail bytes
    as differences)."""
    A, B = _cp(sa), _cp(sb)

    def hd(t):
        a, b = t["a"], t["b"]
        la, lb = F.size(a).cast("long"), F.size(b).cast("long")
        lo = F.least(la, lb)
        diffs = F.size(
            F.filter(
                F.when(
                    lo >= 1, F.sequence(F.lit(0).cast("long"), lo - 1)
                ).otherwise(
                    F.slice(F.sequence(F.lit(0), F.lit(0)), 1, 0).cast(
                        "array<long>"
                    )
                ),
                lambda i: F.get(a, i.cast("int")) != F.get(b, i.cast("int")),
            )
        ).cast("long")
        return diffs + F.abs(la - lb)

    return F.get(
        F.transform(F.array(F.struct(A.alias("a"), B.alias("b"))), hd), 0
    )


SCALAR_FNS["byteHammingDistance"] = _byte_hamming


# --- [EXT] tier-11 grab bag: factorial, unbin, key-value extraction,
# point-in-polygon, geohash ----------------------------------------------

# CH factorial() accepts 0..20 (21! overflows int64); out-of-domain is
# NULL-instead-of-junk (the intExp2 guard convention).
SCALAR_FNS["factorial"] = lambda n: F.when(
    (n < 0) | (n > 20), F.lit(None).cast("long")
).otherwise(
    F.aggregate(
        F.sequence(
            F.lit(1).cast("long"),
            F.greatest(n.cast("long"), F.lit(1).cast("long")),
        ),
        F.lit(1).cast("long"),
        lambda acc, x: acc * x,
    )
)


def _unbin(s: Column) -> Column:
    """unbin('1010') → 10: inverse of this registry's numeric bin()
    (CH's unbin is byte-oriented because its bin is; ours pairs with
    F.bin — documented deviation). Any character other than 0/1 → NULL."""
    chars = F.filter(F.split(s, ""), lambda c: F.length(c) > 0)
    bad = F.exists(chars, lambda c: ~c.isin("0", "1"))
    return F.when(
        s.isNull() | bad | (F.size(chars) == 0) | (F.size(chars) > 63),
        F.lit(None).cast("long"),
    ).otherwise(
        F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, c: acc * 2 + (c == "1").cast("long"),
        )
    )


SCALAR_FNS["unbin"] = _unbin


def _extract_kv_pairs(s: Column) -> Column:
    """extractKeyValuePairs('a:1, b:2') → map('a','1','b','2') — the
    CH log-scraping helper with the default separators (pair ',',
    key-value ':'); keys and values are trimmed, pairs without a ':'
    are dropped, the FIRST occurrence of a duplicate key wins (Spark
    map_from_entries errors on duplicates, so they are pre-filtered)."""
    entries = F.transform(
        F.filter(
            F.split(s, ","),
            lambda kv: F.length(F.trim(kv)) > 0
        ),
        lambda kv: F.struct(
            F.trim(F.substring_index(kv, ":", 1)).alias("key"),
            F.trim(
                F.when(
                    F.instr(kv, ":") > 0,
                    F.call_function("substr", kv, F.instr(kv, ":") + 1),
                ).otherwise(F.lit(None).cast("string"))
            ).alias("value"),
        ),
    )
    good = F.filter(entries, lambda e: e["value"].isNotNull())
    first_wins = F.filter(
        good,
        lambda e, i: ~F.exists(
            F.slice(good, 1, i),
            lambda p: p["key"] == e["key"],
        ),
    )
    return F.map_from_entries(first_wins)


SCALAR_FNS["extractKeyValuePairs"] = _extract_kv_pairs


def _point_in_polygon(pt: Column, poly: Column) -> Column:
    """pointInPolygon([x, y], [[x1,y1], ...]) → 0/1 — classic
    even-odd ray casting with the division cross-multiplied away, so
    integer coordinates stay integer-exact end to end (the CH tuple
    signature is expressed with 2-element arrays — documented
    deviation; the dialect has no tuple literals)."""

    def f(t):
        p, pg = t["p"], t["pg"]
        n = F.size(pg)
        x, y = F.get(p, 0), F.get(p, 1)

        def crossing(i):
            a = F.get(pg, i.cast("int"))
            b = F.get(
                pg,
                F.when(i == 0, n - 1).otherwise(i - 1).cast("int"),
            )
            xi, yi = F.get(a, 0), F.get(a, 1)
            xj, yj = F.get(b, 0), F.get(b, 1)
            straddle = (yi > y) != (yj > y)
            dy = yj - yi
            lhs = (x - xi) * dy
            rhs = (xj - xi) * (y - yi)
            return straddle & F.when(dy > 0, lhs < rhs).otherwise(
                lhs > rhs
            )

        cnt = F.size(F.filter(F.sequence(F.lit(0), n - 1), crossing))
        return (cnt % 2).cast("long")

    return F.get(
        F.transform(
            F.array(F.struct(pt.alias("p"), poly.alias("pg"))), f
        ),
        0,
    )


SCALAR_FNS["pointInPolygon"] = _point_in_polygon


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_alpha() -> Column:
    return F.array(*[F.lit(c) for c in _GEOHASH32])


def _geohash_encode(lon: Column, lat: Column, precision: Column) -> Column:
    """geohashEncode(lon, lat, precision) — standard geohash: bits
    alternate longitude-first, 5 bits per base-32 character. The fold
    state is one flat DOUBLE array [lon_lo, lon_hi, lat_lo, lat_hi,
    cur_digit, completed digits...]; every halving midpoint is an
    exact IEEE (lo+hi)/2, so the DuckDB mirror (the identical
    DOUBLE[] fold) is bit-identical. Precision is clamped to 1..12."""

    def enc(t):
        lo_, la_, p = t["lon"], t["lat"], t["p"]
        nbits = (p * 5).cast("long")
        init = F.array(
            F.lit(-180.0), F.lit(180.0), F.lit(-90.0), F.lit(90.0),
            F.lit(0.0),
        )

        def step(acc, i):
            is_lon = i % 2 == 0
            lo = F.when(is_lon, F.get(acc, 0)).otherwise(F.get(acc, 2))
            hi = F.when(is_lon, F.get(acc, 1)).otherwise(F.get(acc, 3))
            mid = (lo + hi) / 2
            v = F.when(is_lon, lo_).otherwise(la_)
            bit = (v >= mid).cast("double")
            nlo = F.when(v >= mid, mid).otherwise(lo)
            nhi = F.when(v >= mid, hi).otherwise(mid)
            cur = F.get(acc, 4) * 2 + bit
            flush = i % 5 == 4
            head = F.array(
                F.when(is_lon, nlo).otherwise(F.get(acc, 0)),
                F.when(is_lon, nhi).otherwise(F.get(acc, 1)),
                F.when(is_lon, F.get(acc, 2)).otherwise(nlo),
                F.when(is_lon, F.get(acc, 3)).otherwise(nhi),
                F.when(flush, F.lit(0.0)).otherwise(cur),
            )
            tail = F.slice(acc, F.lit(6), F.greatest(F.size(acc) - 5, F.lit(0)))
            return F.concat(
                head,
                tail,
                F.when(flush, F.array(cur)).otherwise(
                    F.slice(F.array(F.lit(0.0)), 1, 0)
                ),
            )

        fold = F.aggregate(
            F.sequence(F.lit(0).cast("long"), nbits - 1), init, step
        )
        alpha = _geohash_alpha()
        return F.array_join(
            F.transform(
                F.slice(fold, F.lit(6), F.greatest(F.size(fold) - 5, F.lit(0))),
                lambda d: F.get(alpha, d.cast("int")),
            ),
            "",
        )

    p = F.least(
        F.greatest(precision.cast("long"), F.lit(1).cast("long")),
        F.lit(12).cast("long"),
    )
    return F.when(
        lon.isNull() | lat.isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.get(
            F.transform(
                F.array(
                    F.struct(
                        lon.cast("double").alias("lon"),
                        lat.cast("double").alias("lat"),
                        p.alias("p"),
                    )
                ),
                enc,
            ),
            0,
        )
    )


SCALAR_FNS["geohashEncode"] = _geohash_encode


def _geohash_decode(dim: Column, s: Column) -> Column:
    """geohashDecode(dim, hash) — the dim-th coordinate (1 = longitude,
    2 = latitude) of the cell CENTER. CH returns the (lon, lat) tuple;
    tuple returns don't canonicalize, so the dimension index selects
    the coordinate (the mortonDecode convention)."""

    def dec(t):
        h, d = t["h"], t["d"]
        alpha = _geohash_alpha()
        chars = F.filter(F.split(h, ""), lambda c: F.length(c) > 0)
        # bits in order: per char, 5 bits msb-first
        bits = F.flatten(
            F.transform(
                chars,
                lambda c: F.transform(
                    F.sequence(F.lit(4), F.lit(0), F.lit(-1)),
                    # shiftright, not pow: pow is libm (never in an
                    # oracled path); the digit is array_position - 1
                    lambda k: F.call_function(
                        "shiftright",
                        (F.array_position(alpha, c) - 1).cast("int"),
                        k.cast("int"),
                    ).cast("long")
                    % 2,
                ),
            )
        )
        init = F.array(
            F.lit(-180.0), F.lit(180.0), F.lit(-90.0), F.lit(90.0),
            F.lit(0.0),  # bit index rides in slot 4
        )

        def step(acc, bit):
            i = F.get(acc, 4)
            is_lon = i % 2 == 0
            lo = F.when(is_lon, F.get(acc, 0)).otherwise(F.get(acc, 2))
            hi = F.when(is_lon, F.get(acc, 1)).otherwise(F.get(acc, 3))
            mid = (lo + hi) / 2
            one = bit == 1
            nlo = F.when(one, mid).otherwise(lo)
            nhi = F.when(one, hi).otherwise(mid)
            return F.array(
                F.when(is_lon, nlo).otherwise(F.get(acc, 0)),
                F.when(is_lon, nhi).otherwise(F.get(acc, 1)),
                F.when(is_lon, F.get(acc, 2)).otherwise(nlo),
                F.when(is_lon, F.get(acc, 3)).otherwise(nhi),
                i + 1,
            )

        fold = F.aggregate(bits, init, step)
        return F.when(
            d.cast("int") == 1,
            (F.get(fold, 0) + F.get(fold, 1)) / 2,
        ).otherwise((F.get(fold, 2) + F.get(fold, 3)) / 2)

    return F.when(s.isNull(), F.lit(None).cast("double")).otherwise(
        F.get(
            F.transform(
                F.array(F.struct(s.alias("h"), dim.alias("d"))), dec
            ),
            0,
        )
    )


SCALAR_FNS["geohashDecode"] = _geohash_decode


# --- [EXT] tier-11 two-sample test aggregates --------------------------------
# studentTTest / welchTTest / mannWhitneyUTest over (value, sample
# index 0/1) — the CH A/B-testing trio, STATISTIC component only (CH
# returns (stat, p); the p-values need the incomplete beta / erf, both
# libm, so they are deliberately not exposed — the docstring is the
# contract). Exact-arithmetic discipline: with integer inputs the six
# sufficient statistics (n, Σx, Σx² per sample) are exact int64 sums,
# the statistic is ONE fixed double expression over them (division and
# the exactly-rounded sqrt only), so the value hash-matches the DuckDB
# oracle running the same formula over SUM/COUNT. Degenerate groups
# (either sample < 2 points, or zero variance) → NULL-instead-of-junk.


def _ttest_parts(x: Column, ind: Column):
    xl = x.cast("long")
    is1 = ind.cast("long") == 1
    n0 = F.sum(F.when(~is1, F.lit(1)).otherwise(F.lit(0))).cast("double")
    n1 = F.sum(F.when(is1, F.lit(1)).otherwise(F.lit(0))).cast("double")
    s0 = F.sum(F.when(~is1, xl).otherwise(F.lit(0))).cast("double")
    s1 = F.sum(F.when(is1, xl).otherwise(F.lit(0))).cast("double")
    q0 = F.sum(F.when(~is1, xl * xl).otherwise(F.lit(0))).cast("double")
    q1 = F.sum(F.when(is1, xl * xl).otherwise(F.lit(0))).cast("double")
    # try_divide throughout: the guard's own evaluation must not trip
    # the ANSI divide-by-zero on degenerate samples, and DuckDB double
    # division already returns NULL at zero — the two line up.
    v0 = F.try_divide(q0 - F.try_divide(s0 * s0, n0), n0 - 1)
    v1 = F.try_divide(q1 - F.try_divide(s1 * s1, n1), n1 - 1)
    return n0, n1, s0, s1, v0, v1


def _student_ttest(x: Column, ind: Column) -> Column:
    """studentTTest(x, index) — pooled-variance two-sample t statistic
    (mean0 − mean1 orientation)."""
    n0, n1, s0, s1, v0, v1 = _ttest_parts(x, ind)
    sp2 = F.try_divide((n0 - 1) * v0 + (n1 - 1) * v1, n0 + n1 - 2)
    denom = F.sqrt(
        sp2 * (F.try_divide(F.lit(1.0), n0) + F.try_divide(F.lit(1.0), n1))
    )
    return F.when(
        (n0 < 2) | (n1 < 2) | (denom <= 0.0),
        F.lit(None).cast("double"),
    ).otherwise(
        F.try_divide(
            F.try_divide(s0, n0) - F.try_divide(s1, n1), denom
        )
    )


def _welch_ttest(x: Column, ind: Column) -> Column:
    """welchTTest(x, index) — unequal-variance two-sample t statistic
    (mean0 − mean1 orientation)."""
    n0, n1, s0, s1, v0, v1 = _ttest_parts(x, ind)
    denom = F.sqrt(F.try_divide(v0, n0) + F.try_divide(v1, n1))
    return F.when(
        (n0 < 2) | (n1 < 2) | (denom <= 0.0),
        F.lit(None).cast("double"),
    ).otherwise(
        F.try_divide(
            F.try_divide(s0, n0) - F.try_divide(s1, n1), denom
        )
    )


AGGREGATE_FNS["studentTTest"] = _student_ttest
AGGREGATE_FNS["welchTTest"] = _welch_ttest


def _mann_whitney_u(x: Column, ind: Column) -> Column:
    """mannWhitneyUTest(x, index) — U statistic of sample 1 with
    midrank tie handling, kept RATIONAL throughout: the fold carries
    2·R1 (twice the rank sum, always an integer even at .5 midranks)
    and returns (2·R1 − n1(n1+1)) / 2. Per-entity groups only — the
    collected state is O(group rows), the suite convention for every
    fold-backed aggregate."""
    xl = x.cast("long")
    code = xl * 2 + ind.cast("long")
    cl = F.collect_list(code)
    n1 = F.size(F.filter(cl, lambda c: F.pmod(c, 2) == 1)).cast("long")
    dv = F.array_sort(
        F.array_distinct(F.transform(cl, lambda c: c - F.pmod(c, 2)))
    )
    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(0).cast("long").alias("r2"),
    )

    def step(acc, v2):
        cnt = F.size(
            F.filter(cl, lambda c: c - F.pmod(c, 2) == v2)
        ).cast("long")
        c1 = F.size(F.filter(cl, lambda c: c == v2 + 1)).cast("long")
        return F.struct(
            (acc["cum"] + cnt).alias("cum"),
            (acc["r2"] + (2 * acc["cum"] + cnt + 1) * c1).alias("r2"),
        )

    fold = F.aggregate(dv, init, step)
    u2 = fold["r2"] - n1 * (n1 + 1)
    return F.when(
        (n1 == 0) | (n1 == F.size(cl)), F.lit(None).cast("double")
    ).otherwise(u2.cast("double") / F.lit(2.0))


AGGREGATE_FNS["mannWhitneyUTest"] = _mann_whitney_u


def _ks_test(x: Column, ind: Column) -> Column:
    """kolmogorovSmirnovTest(x, index) — two-sample KS D statistic
    (statistic component; the p-value is the Kolmogorov series —
    libm — and deliberately unexposed). Exact rationals: D =
    max|c0·n1 − c1·n0| / (n0·n1) folded over the sorted distinct
    values, everything integer until the single final division.
    Per-entity groups only (O(group rows) collected state)."""
    xl = x.cast("long")
    code = xl * 2 + ind.cast("long")
    cl = F.collect_list(code)
    n0 = F.size(F.filter(cl, lambda c: F.pmod(c, 2) == 0)).cast("long")
    n1 = F.size(F.filter(cl, lambda c: F.pmod(c, 2) == 1)).cast("long")
    dv = F.array_sort(
        F.array_distinct(F.transform(cl, lambda c: c - F.pmod(c, 2)))
    )
    init = F.struct(
        F.lit(0).cast("long").alias("c0"),
        F.lit(0).cast("long").alias("c1"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, v2):
        nc0 = acc["c0"] + F.size(F.filter(cl, lambda c: c == v2)).cast(
            "long"
        )
        nc1 = acc["c1"] + F.size(
            F.filter(cl, lambda c: c == v2 + 1)
        ).cast("long")
        return F.struct(
            nc0.alias("c0"),
            nc1.alias("c1"),
            F.greatest(
                acc["best"], F.abs(nc0 * n1 - nc1 * n0)
            ).alias("best"),
        )

    fold = F.aggregate(dv, init, step)
    return F.when(
        (n0 == 0) | (n1 == 0), F.lit(None).cast("double")
    ).otherwise(fold["best"].cast("double") / (n0 * n1).cast("double"))


AGGREGATE_FNS["kolmogorovSmirnovTest"] = _ks_test


def _proportions_z_test(
    sx: Column, sy: Column, nx: Column, ny: Column
) -> Column:
    """proportionsZTest(successes_x, successes_y, trials_x, trials_y)
    — pooled two-proportion z statistic (CH returns (z, p, ci_lo,
    ci_hi); p and the CI need erf/quantiles — libm — so only z is
    exposed). try_divide ≡ DuckDB's NULL-on-zero division; degenerate
    inputs (zero trials, pooled p of 0 or 1) → NULL."""
    sxd, syd = sx.cast("double"), sy.cast("double")
    nxd, nyd = nx.cast("double"), ny.cast("double")
    p = F.try_divide(sxd + syd, nxd + nyd)
    denom = F.sqrt(
        p
        * (1 - p)
        * (F.try_divide(F.lit(1.0), nxd) + F.try_divide(F.lit(1.0), nyd))
    )
    return F.when(
        (nxd <= 0) | (nyd <= 0) | (denom <= 0.0) | denom.isNull(),
        F.lit(None).cast("double"),
    ).otherwise(
        (F.try_divide(sxd, nxd) - F.try_divide(syd, nyd)) / denom
    )


SCALAR_FNS["proportionsZTest"] = _proportions_z_test


def _mean_z_test(
    x: Column, ind: Column, var_x: Column, var_y: Column
) -> Column:
    """meanZTest(x, index, pop_var_x, pop_var_y) — two-sample z
    statistic with KNOWN population variances (statistic component;
    the p-value/CI are erf — libm — and deliberately unexposed).
    Same exact-sums + try_divide discipline as studentTTest."""
    n0, n1, s0, s1, _, _ = _ttest_parts(x, ind)
    denom = F.sqrt(
        F.try_divide(var_x.cast("double"), n0)
        + F.try_divide(var_y.cast("double"), n1)
    )
    return F.when(
        (n0 < 1) | (n1 < 1) | (denom <= 0.0) | denom.isNull(),
        F.lit(None).cast("double"),
    ).otherwise(
        F.try_divide(
            F.try_divide(s0, n0) - F.try_divide(s1, n1), denom
        )
    )


AGGREGATE_FNS["meanZTest"] = _mean_z_test


# --- [EXT] p-values for the test family (PYTEST_ONLY — libm) ------------------
# CH returns (statistic, p_value) tuples; the statistics above are
# hash-oracled, and the p-values live here behind PYTEST_ONLY: they
# need exp/log (libm — never in an oracled path). The machinery is
# real numerics, not a stub: Lanczos log-gamma, the regularized
# incomplete beta via the Numerical-Recipes-style continued fraction
# (fixed 100 iterations as an expression fold), the A&S 7.1.26 erfc
# polynomial, and the Kolmogorov Q series.

_LANCZOS_G = 7.0
_LANCZOS_C = (
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7,
)


def _lgamma_col(z: Column) -> Column:
    """ln Γ(z) for z ≥ 0.5 (all call sites: a=df/2 ≥ 0.5, b=0.5)."""
    zz = z - 1.0
    s = F.lit(_LANCZOS_C[0])
    for i, c in enumerate(_LANCZOS_C[1:], start=1):
        s = s + F.lit(c) / (zz + i)
    base = zz + _LANCZOS_G + 0.5
    return (
        F.lit(0.9189385332046727)  # 0.5*ln(2π)
        + (zz + 0.5) * F.log(base)
        - base
        + F.log(s)
    )


def _betacf(a: Column, b: Column, x: Column) -> Column:
    """Continued fraction for the incomplete beta (modified Lentz,
    fixed 100 rounds — far past double convergence for the df range
    any test statistic produces)."""
    fpmin = F.lit(1e-30)

    def clamp(v):
        return F.when(F.abs(v) < 1e-30, fpmin).otherwise(v)

    qab, qap, qam = a + b, a + 1.0, a - 1.0
    d0 = 1.0 / clamp(1.0 - qab * x / qap)
    init = F.struct(
        F.lit(1.0).alias("c"), d0.alias("d"), d0.alias("h")
    )

    def step(acc, m):
        md = m.cast("double")
        m2 = 2.0 * md
        aa1 = md * (b - md) * x / ((qam + m2) * (a + m2))
        d1 = 1.0 / clamp(1.0 + aa1 * acc["d"])
        c1 = clamp(1.0 + aa1 / acc["c"])
        h1 = acc["h"] * d1 * c1
        aa2 = -(a + md) * (qab + md) * x / ((a + m2) * (qap + m2))
        d2 = 1.0 / clamp(1.0 + aa2 * d1)
        c2 = clamp(1.0 + aa2 / c1)
        return F.struct(
            c2.alias("c"), d2.alias("d"), (h1 * d2 * c2).alias("h")
        )

    return F.aggregate(F.sequence(F.lit(1), F.lit(100)), init, step)["h"]


def _betainc(a: Column, b: Column, x: Column) -> Column:
    """Regularized incomplete beta I_x(a, b) for 0 ≤ x ≤ 1."""
    bt = F.exp(
        _lgamma_col(a + b)
        - _lgamma_col(a)
        - _lgamma_col(b)
        + a * F.log(x)
        + b * F.log(1.0 - x)
    )
    direct = bt * _betacf(a, b, x) / a
    flipped = 1.0 - bt * _betacf(b, a, 1.0 - x) / b
    return (
        F.when(x <= 0.0, F.lit(0.0))
        .when(x >= 1.0, F.lit(1.0))
        .when(x < (a + 1.0) / (a + b + 2.0), direct)
        .otherwise(flipped)
    )


def _erfc_col(x: Column) -> Column:
    """erfc(x) for x ≥ 0 — Abramowitz & Stegun 7.1.26 (|ε| < 1.5e-7)."""
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t
            * (
                F.lit(1.421413741)
                + t * (F.lit(-1.453152027) + t * 1.061405429)
            )
        )
    )
    return poly * F.exp(-x * x)


def _t_pvalue(t: Column, df: Column) -> Column:
    """Two-sided Student-t p: I_{df/(df+t²)}(df/2, 1/2)."""
    return _betainc(
        df / 2.0, F.lit(0.5), df / (df + t * t)
    )


def _z_pvalue(z: Column) -> Column:
    """Two-sided normal p: erfc(|z|/√2)."""
    return _erfc_col(F.abs(z) / F.lit(1.4142135623730951))


def _student_ttest_pvalue(x: Column, ind: Column) -> Column:
    n0, n1, _, _, _, _ = _ttest_parts(x, ind)
    t = _student_ttest(x, ind)
    return F.when(t.isNull(), F.lit(None).cast("double")).otherwise(
        _t_pvalue(t, n0 + n1 - 2.0)
    )


def _welch_ttest_pvalue(x: Column, ind: Column) -> Column:
    """Welch-Satterthwaite degrees of freedom."""
    n0, n1, _, _, v0, v1 = _ttest_parts(x, ind)
    t = _welch_ttest(x, ind)
    num = (
        F.try_divide(v0, n0) + F.try_divide(v1, n1)
    )
    df = F.try_divide(
        num * num,
        F.try_divide(F.try_divide(v0, n0) * F.try_divide(v0, n0), n0 - 1)
        + F.try_divide(F.try_divide(v1, n1) * F.try_divide(v1, n1), n1 - 1),
    )
    return F.when(
        t.isNull() | df.isNull(), F.lit(None).cast("double")
    ).otherwise(_t_pvalue(t, df))


def _mwu_pvalue(x: Column, ind: Column) -> Column:
    """Normal-approximation two-sided p for U (no tie correction —
    documented; use on near-continuous data)."""
    xl = x.cast("long")
    is1 = ind.cast("long") == 1
    n1 = F.sum(F.when(is1, F.lit(1)).otherwise(F.lit(0))).cast("double")
    n0 = F.sum(F.when(~is1, F.lit(1)).otherwise(F.lit(0))).cast("double")
    u = _mann_whitney_u(x, ind)
    mu = n0 * n1 / 2.0
    sigma = F.sqrt(n0 * n1 * (n0 + n1 + 1.0) / 12.0)
    z = F.try_divide(u - mu, sigma)
    return F.when(
        u.isNull() | z.isNull(), F.lit(None).cast("double")
    ).otherwise(_z_pvalue(z))


def _ks_pvalue(x: Column, ind: Column) -> Column:
    """Kolmogorov Q(λ) with the NR small-sample adjustment
    λ = (√ne + 0.12 + 0.11/√ne)·D, Q = 2Σ(-1)^{k-1}e^{-2k²λ²}."""
    xl = x.cast("long")
    is1 = ind.cast("long") == 1
    n1 = F.sum(F.when(is1, F.lit(1)).otherwise(F.lit(0))).cast("double")
    n0 = F.sum(F.when(~is1, F.lit(1)).otherwise(F.lit(0))).cast("double")
    d = _ks_test(x, ind)
    ne = F.sqrt(F.try_divide(n0 * n1, n0 + n1))
    lam = (ne + 0.12 + F.try_divide(F.lit(0.11), ne)) * d
    q = F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.when(k % 2 == 1, F.lit(2.0)).otherwise(F.lit(-2.0))
        * F.exp(-2.0 * (k * k).cast("double") * lam * lam),
    )
    return F.when(
        d.isNull() | lam.isNull(), F.lit(None).cast("double")
    ).when(
        # the alternating series stops converging as λ → 0 (all terms
        # → ±2); the true tail probability there is 1 — NR's
        # convergence-failure convention
        lam < 0.2,
        F.lit(1.0),
    ).otherwise(F.least(F.greatest(q, F.lit(0.0)), F.lit(1.0)))


AGGREGATE_FNS["studentTTestPValue"] = _student_ttest_pvalue
AGGREGATE_FNS["welchTTestPValue"] = _welch_ttest_pvalue
AGGREGATE_FNS["mannWhitneyUTestPValue"] = _mwu_pvalue
AGGREGATE_FNS["kolmogorovSmirnovTestPValue"] = _ks_pvalue
SCALAR_FNS["proportionsZTestPValue"] = lambda sx, sy, nx, ny: F.when(
    _proportions_z_test(sx, sy, nx, ny).isNull(),
    F.lit(None).cast("double"),
).otherwise(_z_pvalue(_proportions_z_test(sx, sy, nx, ny)))
for _n in (
    "studentTTestPValue", "welchTTestPValue", "mannWhitneyUTestPValue",
    "kolmogorovSmirnovTestPValue", "proportionsZTestPValue",
):
    PYTEST_ONLY[_n] = "exp/log (libm) in the tail integral"


# --- [EXT] tier-12 scalars/aggregates ----------------------------------------
# toTime, widthBucket, multiMatchAny, regexpExtract, the emptyArray*
# constructors, deterministic arrayShuffle / arraySample, and a
# deterministic anyHeavy. All JVM expression trees with exact DuckDB
# mirrors.

SCALAR_FNS["toTime"] = lambda ts: F.timestamp_seconds(
    F.lit(86400)
    + F.pmod(
        F.unix_timestamp(ts.cast("timestamp")), F.lit(86400).cast("long")
    )
)
# CH toTime: keep the time-of-day, pin the date to 1970-01-02.

SCALAR_FNS["widthBucket"] = lambda x, lo, hi, n: F.call_function(
    "width_bucket", x, lo, hi, n
)

SCALAR_FNS["multiMatchAny"] = lambda s, pats: F.exists(
    pats, lambda p: F.call_function("rlike", s, p)
)
SCALAR_FNS["multiMatchAnyIndex"] = lambda s, pats: F.coalesce(
    F.get(
        F.filter(
            F.sequence(F.lit(1), F.size(pats)),
            lambda i: F.call_function("rlike", s, F.get(pats, i - 1)),
        ),
        0,
    ),
    F.lit(0),
).cast("long")
SCALAR_FNS["regexpExtract"] = lambda s, p, *idx: F.call_function(
    "regexp_extract", s, p, idx[0].cast("int") if idx else F.lit(1)
)

# emptyArray* constructors (CH's typed empty-array family): the
# slice(x, 1, 0) typed-empty trick under each element type.
for _t, _suffix in (
    ("tinyint", "Int8"), ("smallint", "Int16"), ("int", "Int32"),
    ("long", "Int64"), ("long", "UInt64"), ("int", "UInt32"),
    ("float", "Float32"), ("double", "Float64"),
    ("string", "String"), ("date", "Date"), ("timestamp", "DateTime"),
):
    SCALAR_FNS[f"emptyArray{_suffix}"] = (
        lambda t=_t: F.slice(
            F.array(F.lit(None).cast(t)), 1, 0
        )
    )


def _array_shuffle(a: Column) -> Column:
    """arrayShuffle(arr) — DETERMINISTIC content-keyed permutation
    (documented deviation: CH shuffles randomly, which a value-checked
    distributed engine cannot honestly reproduce): elements sort by
    md5(position || value), so the same array always permutes the same
    way while distinct arrays decorrelate."""
    idx = F.sequence(F.lit(1), F.size(a))
    keyed = F.transform(
        idx,
        lambda i: F.struct(
            F.md5(
                F.concat(
                    i.cast("string"),
                    F.lit("|"),
                    F.get(a, i - 1).cast("string"),
                )
            ).alias("k"),
            F.get(a, i - 1).alias("v"),
        ),
    )
    return F.transform(F.array_sort(keyed), lambda e: e["v"])


SCALAR_FNS["arrayShuffle"] = _array_shuffle


def _array_sample(a: Column, k: Column) -> Column:
    """arrayRandomSample(arr, k) — the first k of the deterministic
    shuffle (same documented determinism deviation)."""
    return F.slice(_array_shuffle(a), F.lit(1), k.cast("int"))


SCALAR_FNS["arrayRandomSample"] = _array_sample


def _any_heavy(x: Column) -> Column:
    """anyHeavy(x) — a heavy value of the group. CH's is an
    approximate single-pass sketch with nondeterministic output; this
    engine pins the DETERMINISTIC refinement (documented): the most
    frequent value, ties to the smallest — exactly computable in one
    hash aggregate via max_by over (count, -value) pairs per distinct
    value, here via the per-entity fold convention."""
    xl = x.cast("long")
    cl = F.collect_list(xl)
    dv = F.array_sort(F.array_distinct(cl))
    init = F.struct(
        F.lit(-1).cast("long").alias("cnt"),
        F.lit(None).cast("long").alias("v"),
    )

    def step(acc, v):
        c = F.size(F.filter(cl, lambda e: e == v)).cast("long")
        better = c > acc["cnt"]  # dv ascending → first max wins ties
        return F.struct(
            F.when(better, c).otherwise(acc["cnt"]).alias("cnt"),
            F.when(better, v).otherwise(acc["v"]).alias("v"),
        )

    return F.aggregate(dv, init, step)["v"]


AGGREGATE_FNS["anyHeavy"] = _any_heavy


def _array_levenshtein(a: Column, b: Column) -> Column:
    """arrayLevenshtein(a, b) — plain Levenshtein between two arrays
    (insert/delete/substitute over elements; null-safe equality). Same
    nested rows-of-the-DP fold as damerauLevenshteinDistance minus the
    transposition case."""

    def dp(A, B):
        la, lb = F.size(A), F.size(B)
        row0 = F.sequence(F.lit(0).cast("long"), lb.cast("long"))

        def outer(prev, i):
            def cell(r, j):
                cost = F.when(
                    F.get(A, (i - 1).cast("int")).eqNullSafe(
                        F.get(B, (j - 1).cast("int"))
                    ),
                    F.lit(0),
                ).otherwise(F.lit(1)).cast("long")
                best = F.least(
                    F.get(prev, j.cast("int")) + 1,
                    F.element_at(r, -1) + 1,
                    F.get(prev, (j - 1).cast("int")) + cost,
                )
                return F.concat(r, F.array(best))

            return F.aggregate(
                F.sequence(F.lit(1).cast("long"), lb.cast("long")),
                F.array(i.cast("long")),
                cell,
            )

        fold = F.aggregate(
            F.sequence(F.lit(1).cast("long"), la.cast("long")), row0, outer
        )
        return F.element_at(fold, -1)

    return F.get(
        F.transform(
            F.array(F.struct(a.alias("a"), b.alias("b"))),
            lambda t: F.when(
                F.size(t["a"]) == 0, F.size(t["b"]).cast("long")
            )
            .when(F.size(t["b"]) == 0, F.size(t["a"]).cast("long"))
            .otherwise(dp(t["a"], t["b"])),
        ),
        0,
    )


SCALAR_FNS["arrayLevenshtein"] = _array_levenshtein

# groupBitmap: CH's roaring-bitmap cardinality of an integer column —
# semantically exact distinct count, which this engine computes exactly
AGGREGATE_FNS["groupBitmap"] = lambda x: F.count_distinct(
    x.cast("long")
).cast("long")


def _sum_kahan(x: Column) -> Column:
    """sumKahan(x) — compensated summation folded over the group IN
    VALUE ORDER (ties included), which makes it deterministic where
    CH's block-order Kahan is not — the moving-aggregate convention.
    PYTEST_ONLY: float summation never hash-oracles."""
    cl = F.array_sort(F.collect_list(x.cast("double")))
    init = F.struct(
        F.lit(0.0).alias("s"), F.lit(0.0).alias("c")
    )

    def step(acc, v):
        y = v - acc["c"]
        t = acc["s"] + y
        return F.struct(
            t.alias("s"), ((t - acc["s"]) - y).alias("c")
        )

    return F.aggregate(cl, init, step)["s"]


AGGREGATE_FNS["sumKahan"] = _sum_kahan
PYTEST_ONLY["sumKahan"] = "float summation (value-ordered Kahan fold)"


# --- [EXT] tier-13: one-way ANOVA ----------------------------------------
# analysisOfVariance(x, group) — CH's ANOVA aggregate (F statistic
# component; the p-value is the regularized incomplete beta — libm —
# and lives with the rest of the PYTEST_ONLY p-value family below).
# Exact-arithmetic discipline, same as the t-test family: with integer
# inputs N, k, Σx, Σx² are exact int64; the one float accumulation —
# T = Σ_g S_g²/n_g — is folded over the SORTED distinct group ids, so
# its rounding sequence is deterministic and the DuckDB oracle replays
# the identical fold (list_reduce over list_sort(list_distinct)).
# F = ((T − S²/N)/(k−1)) / ((Q − T)/(n−k)) is then one fixed double
# expression. Degenerate inputs (k<2, n<=k, zero within-variance) →
# NULL-instead-of-junk. Per-entity groups only: the collected state is
# O(group rows), the suite convention for fold-backed aggregates; a
# 100 TB ANOVA over a handful of GLOBAL groups should instead
# pre-aggregate (GROUP BY group id → six exact sums), which is the
# shape the oracle formulation makes obvious.


def _anova(x: Column, g: Column) -> Column:
    """analysisOfVariance(x, group) → one-way ANOVA F statistic.

    Group ids must lie in [0, 8): the state packs (x, g) as x·8 + g so
    the exact sufficient statistics stay a single int64 fold. Any id
    outside that range would silently corrupt BOTH the decoded x and
    group (e.g. g=9 decodes as x+1, group 1), so the result is guarded
    to NULL instead — validated on the RAW group column, before
    packing."""
    g_ok = (F.min(g.cast("long")) >= 0) & (F.max(g.cast("long")) <= 7)
    code = x.cast("long") * 8 + g.cast("long")
    cl = F.collect_list(code)
    xs = F.transform(cl, lambda c: ((c - F.pmod(c, 8)) / 8).cast("long"))
    gs = F.transform(cl, lambda c: F.pmod(c, 8))
    n = F.size(cl).cast("long")
    s = F.aggregate(xs, F.lit(0).cast("long"), lambda a, v: a + v)
    q = F.aggregate(xs, F.lit(0).cast("long"), lambda a, v: a + v * v)
    dv = F.array_sort(F.array_distinct(gs))
    k = F.size(dv).cast("long")

    def step(acc, gg):
        sg = F.aggregate(
            F.zip_with(
                xs,
                gs,
                lambda xv, gv: F.when(gv == gg, xv).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        )
        ng = F.size(F.filter(gs, lambda gv: gv == gg)).cast("long")
        return acc + F.try_divide((sg * sg).cast("double"), ng.cast("double"))

    t = F.aggregate(dv, F.lit(0.0), step)
    ssb = t - F.try_divide((s * s).cast("double"), n.cast("double"))
    ssw = q.cast("double") - t
    fstat = F.try_divide(
        F.try_divide(ssb, (k - 1).cast("double")),
        F.try_divide(ssw, (n - k).cast("double")),
    )
    return F.when(
        ~g_ok | (k < 2) | (n <= k) | (ssw <= 0.0),
        F.lit(None).cast("double"),
    ).otherwise(fstat)


AGGREGATE_FNS["analysisOfVariance"] = _anova
AGGREGATE_FNS["anova"] = _anova


# --- [EXT] tier-13: sparkbar ----------------------------------------------
# sparkbar(width)(x, y) — CH's inline text histogram. DETERMINISTIC
# spec (documented deviation from CH's float scaling): x is bucketed by
# exact integer math bucket = (x − min_x)·width ÷ (max_x − min_x + 1),
# bucket weight is the exact integer Σy, and the glyph level is
# ceil(8·w / max_w) in {1..8} for non-empty buckets ('▁'..'█'), '░' for
# empty ones — every step integer, so the string hash-oracles. One
# collect_list per group, then pure higher-order functions.


_SPARKBAR_GLYPHS = "░▁▂▃▄▅▆▇█"


def _sparkbar(params: list, x: Column, y: Column) -> Column:
    width = int(params[0])

    def idiv(a: Column, b: Column) -> Column:
        # exact non-negative integer floor division on int64 via the
        # JVM's integral `div` (floor ≡ truncation for non-negative
        # operands — every call site here is) — no double 2^53 hazard
        # and no per-element decimal arithmetic (the decimal variant
        # measured ~4x slower across the whole aggregate: it sat
        # inside the O(width·n) bucket fold)
        return F.call_function("div", a.cast("long"), b.cast("long"))

    cl = F.collect_list(
        F.struct(x.cast("long").alias("x"), y.cast("long").alias("y"))
    )
    mn = F.array_min(F.transform(cl, lambda t: t["x"]))
    mx = F.array_max(F.transform(cl, lambda t: t["x"]))
    span = mx - mn + 1
    weights = F.transform(
        F.sequence(F.lit(0), F.lit(width - 1)),
        lambda b: F.aggregate(
            cl,
            F.lit(0).cast("long"),
            lambda a, t: a
            + F.when(
                idiv((t["x"] - mn) * width, span) == b.cast("long"),
                t["y"],
            ).otherwise(F.lit(0).cast("long")),
        ),
    )
    mw = F.array_max(weights)
    glyphs = F.transform(
        weights,
        # level = ceil(8·w / max_w) via (8w + mw − 1) div mw — all
        # operands non-negative on this branch (w > 0 ⇒ mw ≥ w > 0),
        # so floor division ≡ truncation and idiv stays exact
        lambda w: F.substring(
            F.lit(_SPARKBAR_GLYPHS),
            F.when(w <= 0, F.lit(1)).otherwise(
                (idiv(w * 8 + mw - 1, mw) + 1).cast("int")
            ),
            1,
        ),
    )
    return F.when(F.size(cl) == 0, F.lit(None).cast("string")).otherwise(
        # all-zero/negative weights: mw ≤ 0 must never reach a
        # division — render the all-empty bar directly
        F.when(mw <= 0, F.lit("░" * width)).otherwise(
            F.array_join(glyphs, "")
        )
    )


PARAMETRIC_AGGS["sparkbar"] = _sparkbar


# --- [EXT] tier-13: groupArrayInsertAt -------------------------------------
# groupArrayInsertAt(default, size)(x, pos) — fixed-size array with x
# placed at position pos (0-based). CH keeps an arbitrary value on
# position collisions; this engine strengthens that to MIN(x) (the
# usual determinism deviation, same rationale as topK's tie-break) so
# the result is oracle-checkable. Pure higher-order functions over one
# collect_list; positions outside [0, size) are ignored.


def _group_array_insert_at(params: list, x: Column, pos: Column) -> Column:
    default, size = params[0], int(params[1])
    cl = F.collect_list(
        F.struct(pos.cast("long").alias("p"), x.alias("v"))
    )
    return F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(size - 1).cast("long")),
        lambda p: F.coalesce(
            F.array_min(
                F.transform(
                    F.filter(cl, lambda t: t["p"] == p), lambda t: t["v"]
                )
            ),
            F.lit(default),
        ),
    )


PARAMETRIC_AGGS["groupArrayInsertAt"] = _group_array_insert_at


# --- [EXT] tier-13 scalar wave ---------------------------------------------


def _regexp_quote_meta(s: Column) -> Column:
    """regexpQuoteMeta(s) — escape every regex metacharacter with a
    backslash (CH's set: \\0 is out of scope for parquet strings)."""
    return F.regexp_replace(
        s, r"([\\^$.\[\]|()?*+{}:\-])", r"\\$1"
    )


SCALAR_FNS["regexpQuoteMeta"] = _regexp_quote_meta

# UTF8 spelling of the case-insensitive position: engine strings are
# Unicode already, so this is the same lowering as
# positionCaseInsensitive (ref dialect keeps both names).
SCALAR_FNS["positionCaseInsensitiveUTF8"] = lambda h, n: F.instr(
    F.lower(h), F.lower(n)
).cast("long")


def _normalize_query(s: Column) -> Column:
    """normalizeQuery(s) — replace literals with placeholders so
    structurally-identical queries compare equal: string literals →
    '?', then numeric literals → '?', then IN/VALUES lists of
    placeholders collapse to '?..'. Regex-only (JVM codegen)."""
    out = F.regexp_replace(s, r"'[^']*'", "?")
    out = F.regexp_replace(out, r"\b\d+(\.\d+)?\b", "?")
    return F.regexp_replace(out, r"\?(\s*,\s*\?)+", "?..")


def _normalized_query_hash(s: Column) -> Column:
    """normalizedQueryHash(s) — 60-bit integer fingerprint of
    normalizeQuery(s). md5-based (the sampling-family convention:
    bit-identical in Spark, DuckDB, and Python) rather than CH's
    siphash — a documented deviation; the CONTRACT (equal iff the
    normalized text is equal, modulo truncation) is preserved."""
    return F.conv(F.substring(F.md5(_normalize_query(s)), 1, 15), 16, 10).cast(
        "long"
    )


SCALAR_FNS["normalizeQuery"] = _normalize_query
SCALAR_FNS["normalizedQueryHash"] = _normalized_query_hash


def _to_decimal_string(x: Column, scale: Column) -> Column:
    """toDecimalString(x, scale) — fixed-point rendering with exactly
    `scale` fractional digits. Integer-exact construction (scaled
    floor(|x|·10^s + 0.5) half-up rounding, then digit assembly with
    lpad) rather than %f formatting, so Java-vs-C printf tie behavior
    never enters and the string hash-oracles. scale ∈ [0, 15] (10^s
    exact in a double); out-of-range scale → NULL."""
    s = scale.cast("int")
    p = F.pow(F.lit(10.0), s.cast("double"))
    total = F.floor(F.abs(x.cast("double")) * p + F.lit(0.5)).cast("long")
    ipart = F.floor(total.cast("double") / p).cast("long")
    fpart = total - ipart * p.cast("long")
    sign = F.when(x.cast("double") < 0, F.lit("-")).otherwise(F.lit(""))
    body = F.when(s == 0, ipart.cast("string")).otherwise(
        F.concat(
            ipart.cast("string"),
            F.lit("."),
            # right-take of a zero-prefixed render: lpad needs a
            # literal width, but scale arrives as a Column
            F.right(F.concat(F.lit("0" * 15), fpart.cast("string")), s),
        )
    )
    return F.when(
        (s < 0) | (s > 15) | x.isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat(sign, body))


SCALAR_FNS["toDecimalString"] = _to_decimal_string


def _anova_pvalue(x: Column, g: Column) -> Column:
    """analysisOfVariancePValue(x, group) — upper-tail F probability
    I_{d2/(d2+d1·F)}(d2/2, d1/2) with d1 = k−1, d2 = n−k, via the same
    incomplete-beta machinery as the t-test p-values. PYTEST_ONLY
    (exp/log in the tail integral), like the rest of the family."""
    code = x.cast("long") * 8 + g.cast("long")
    cl = F.collect_list(code)
    gs = F.transform(cl, lambda c: F.pmod(c, 8))
    n = F.size(cl).cast("double")
    k = F.size(F.array_distinct(gs)).cast("double")
    fstat = _anova(x, g)
    d1, d2 = k - 1.0, n - k
    p = _betainc(d2 / 2.0, d1 / 2.0, d2 / (d2 + d1 * fstat))
    return F.when(fstat.isNull(), F.lit(None).cast("double")).otherwise(p)


AGGREGATE_FNS["analysisOfVariancePValue"] = _anova_pvalue
PYTEST_ONLY["analysisOfVariancePValue"] = (
    "exp/log (libm) in the tail integral"
)


# --- [EXT] tier-14: sequenceMatchEvents, deterministic group-array forms ----


def _sequence_match_events(params: list, ts: Column, *conds: Column) -> Column:
    """sequenceMatchEvents('pattern')(ts, cond1, ...) → the timestamps
    of the EARLIEST matching chain, as array<long>; NULL when the
    pattern doesn't match. Completes the windowFunnel / sequenceMatch /
    sequenceCount / sequenceNextNode family.

    Supported subset: step refs `(?N)` with gapped semantics (`.*`
    cosmetic). Time constraints are deliberately rejected here: under
    a `(?t<=N)` gap the greedy-earliest chain is no longer a faithful
    witness (a later first step can admit a match the earliest one
    misses), so the "which events" answer would be ill-defined —
    sequenceMatch answers the boolean for those patterns. Without time
    constraints, greedy-earliest IS the canonical minimal witness
    (standard subsequence matching), deterministic on any engine.

    One fold over the ts-sorted events carrying the n first-match
    times; each event updates from the PREVIOUS event's state, so one
    event never fills two steps — identical discipline (and plan
    shape) to sequenceMatch: collect_list + array_sort + aggregate(),
    ONE hash aggregate, all JVM."""
    pattern = str(params[0])
    steps, gaps = _parse_seq_pattern(pattern, len(conds))
    if any(g is not None for g in gaps):
        raise ValueError(
            "sequenceMatchEvents supports step-only patterns; time "
            "constraints make the witness chain ill-defined — use "
            "sequenceMatch for the boolean"
        )
    n = len(steps)
    ev = F.array_sort(
        F.collect_list(
            F.struct(
                ts.cast("long").alias("t"),
                *[
                    c.cast("boolean").alias(f"c{k}")
                    for k, c in enumerate(conds)
                ],
            )
        )
    )
    init = F.array(*[F.lit(None).cast("long") for _ in range(n)])

    def step(acc, e):
        out = []
        for j, cidx in enumerate(steps):
            cur = F.element_at(acc, j + 1)
            gate = e[f"c{cidx}"]
            if j > 0:
                gate = gate & F.element_at(acc, j).isNotNull()
            out.append(
                F.when(cur.isNull() & gate, e["t"]).otherwise(cur)
            )
        return F.array(*out)

    fold = F.aggregate(ev, init, step)
    return F.when(
        F.element_at(fold, n).isNull(), F.lit(None).cast("array<long>")
    ).otherwise(fold)


PARAMETRIC_AGGS["sequenceMatchEvents"] = _sequence_match_events


def _group_array_sample(params: list, x: Column) -> Column:
    """groupArraySample(n)(x) — n values of the group chosen by the
    DETERMINISTIC md5(value)-keyed rank (ties by value), the
    arrayShuffle/arrayRandomSample convention: CH samples with an RNG,
    which a distributed engine cannot honestly reproduce; the md5 rank
    is uniform-ish, engine-portable, and oracle-checkable. Output is
    in rank order (a uniform sample, not a sorted one)."""
    n = int(params[0])
    cl = F.collect_list(x)
    keyed = F.transform(
        cl,
        lambda v: F.struct(
            F.md5(v.cast("string")).alias("k"), v.alias("v")
        ),
    )
    return F.transform(
        F.slice(F.array_sort(keyed), 1, n), lambda s: s["v"]
    )


PARAMETRIC_AGGS["groupArraySample"] = _group_array_sample


def _group_array_last(params: list, x: Column, t: Column) -> Column:
    """groupArrayLast(n)(x, t) — the n most recent values by the
    explicit time key t, in ascending-t order. CH's 1-arg form keeps
    insertion order, which is block-order-dependent — the same
    honesty deviation as groupArrayMovingSum: a distributed engine
    exposes the 2-arg deterministic form only. Ties break by value."""
    n = int(params[0])
    cl = F.collect_list(
        F.struct(t.cast("long").alias("t"), x.alias("v"))
    )
    sz = F.size(cl)
    return F.transform(
        F.slice(
            F.array_sort(cl),
            F.greatest(sz - F.lit(n) + 1, F.lit(1)),
            F.least(F.lit(n), sz),
        ),
        lambda s: s["v"],
    )


PARAMETRIC_AGGS["groupArrayLast"] = _group_array_last


def _array_normalize(a: Column) -> Column:
    """arrayNormalize(a) — scale to unit L2 norm. Two exactly-rounded
    IEEE steps per element (the sqrt of an exact-int-or-double dot
    product, then one division), so results hash-oracle when inputs
    are exact — the same discipline as the BM25 rational idf. Zero
    vector (or empty) → returned unchanged (CH convention)."""
    dot = F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    nrm = F.sqrt(dot)
    return F.when(
        (F.size(a) == 0) | (nrm == 0.0), a.cast("array<double>")
    ).otherwise(F.transform(a, lambda v: v.cast("double") / nrm))


SCALAR_FNS["arrayNormalize"] = _array_normalize


def _series_period_detect(a: Column, maxlag: Column) -> Column:
    """seriesPeriodDetect(series, maxlag) — dominant period of an
    integer series by autocorrelation argmax, kept INTEGER-EXACT:
    score(lag) = Σ s[t]·s[t+lag] / (L−lag) is compared between lags by
    cross-multiplication (N_a·D_b vs N_b·D_a — never a float), ties
    break to the smaller lag. The mean-normalized ACF needs floats and
    a subtraction cascade whose rounding order is engine-dependent;
    the raw-moment argmax is the same argmax for non-negative count
    series with the per-lag length correction applied, and it
    hash-oracles. Returns NULL when the series is shorter than 2
    points or maxlag < 1. CH's seriesPeriodDetectFFT is the float
    sibling; this is the deterministic engine-portable form.

    Per-entity series only (the LTTB convention): the array is one
    row's column, so state is O(series), and the lag scan is
    O(maxlag·L) inside ONE projection — no shuffle at all. The input
    array is LET-BOUND through a one-element transform (the CDC
    chunker idiom): each of the maxlag folds references the series,
    and Catalyst does not CSE — an unbound derived series would be
    rebuilt once per lag."""

    def body(arr: Column, mlin: Column) -> Column:
        size = F.size(arr).cast("long")
        ml = F.least(mlin, size - 1)

        def num(lag):
            return F.aggregate(
                F.zip_with(
                    F.slice(arr, 1, (size - lag).cast("int")),
                    F.slice(
                        arr, (lag + 1).cast("int"), (size - lag).cast("int")
                    ),
                    lambda x, y: x.cast("long") * y.cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )

        init = F.array(
            F.lit(-1).cast("long"),
            F.lit(1).cast("long"),
            F.lit(0).cast("long"),
        )  # [bestN, bestD, bestLag]

        def step(acc, lag):
            n = num(lag)
            d = size - lag
            better = n * F.element_at(acc, 2) > F.element_at(acc, 1) * d
            return F.when(better, F.array(n, d, lag)).otherwise(acc)

        fold = F.aggregate(
            F.sequence(
                F.lit(1).cast("long"), F.greatest(ml, F.lit(1).cast("long"))
            ),
            init,
            step,
        )
        return F.when(
            (size < 2) | (ml < 1), F.lit(None).cast("long")
        ).otherwise(F.element_at(fold, 3))

    bound = F.transform(
        F.array(
            F.struct(a.alias("a"), maxlag.cast("long").alias("m"))
        ),
        lambda t: body(t["a"], t["m"]),
    )
    return F.get(bound, 0)


SCALAR_FNS["seriesPeriodDetect"] = _series_period_detect


def _window_funnel_modes(params: list, ts: Column, *conds: Column) -> Column:
    """windowFunnel(window, 'mode')(ts, cond1..condN) — the strict
    modes, same DP discipline as the base form (exact reachability,
    one hash aggregate, all JVM):

    * 'strict_order' — no interventions: a chain may only extend at
      the IMMEDIATELY NEXT event in ts order; any event that does not
      advance a chain kills it (CH keeps non-matching events as
      breakers under strict_order — same contract). dp[k] holds the
      start time of a chain reaching step k that ends exactly at the
      previous event.
    * 'strict_dedup' — a repeat of an already-used condition
      interrupts the chain: after extension, any surviving chain at
      depth k (conditions 1..k consumed) is killed if the current
      event matches some condition j ≤ k, UNLESS the event itself
      just created that chain (its own step is not a "repeat").

    The deepest step ever reached counts even if the chain later
    dies — the funnel metric is max depth, not liveness. Ties on ts
    process in struct sort order (fixtures use unique timestamps)."""
    win = int(params[0])
    mode = str(params[1])
    if mode not in ("strict_order", "strict_dedup", "strict_increase"):
        raise ValueError(f"unsupported windowFunnel mode {mode!r}")
    n = len(conds)
    if n < 1:
        raise ValueError("windowFunnel requires at least one condition")
    if mode == "strict_increase":
        return _window_funnel_increase(win, n, ts, conds)
    ev = F.array_sort(
        F.collect_list(
            F.struct(
                ts.cast("long").alias("t"),
                *[
                    c.cast("boolean").alias(f"c{k}")
                    for k, c in enumerate(conds)
                ],
            )
        )
    )
    # state array: [dp_1..dp_n, best]; dp_k = chain-start time
    init = F.array(
        *([F.lit(None).cast("long") for _ in range(n)] + [F.lit(0).cast("long")])
    )

    def step(acc, e):
        if mode == "strict_order":
            # extension only from the previous event's state; every
            # non-extended chain dies
            outs = [F.when(e["c0"], e["t"]).otherwise(F.lit(None).cast("long"))]
            for k in range(1, n):
                prev = F.element_at(acc, k)
                ok = (
                    e[f"c{k}"]
                    & prev.isNotNull()
                    & ((e["t"] - prev) <= F.lit(win))
                )
                outs.append(
                    F.when(ok, prev).otherwise(F.lit(None).cast("long"))
                )
        else:  # strict_dedup
            exts = [F.when(e["c0"], e["t"])]
            for k in range(1, n):
                prev = F.element_at(acc, k)
                ok = (
                    e[f"c{k}"]
                    & prev.isNotNull()
                    & ((e["t"] - prev) <= F.lit(win))
                )
                exts.append(F.when(ok, prev))
            outs = []
            for k in range(n):
                ext = exts[k]
                cur = F.element_at(acc, k + 1)
                # kill a SURVIVING chain at depth k+1 if the event
                # repeats one of its consumed conditions 1..k+1
                repeat = F.lit(False)
                for j in range(k + 1):
                    repeat = repeat | e[f"c{j}"]
                kept = F.when(repeat, F.lit(None).cast("long")).otherwise(cur)
                outs.append(F.coalesce(ext, kept))
        depth = F.lit(0).cast("long")
        for k in range(n):
            depth = F.when(outs[k].isNotNull(), F.lit(k + 1).cast("long")).otherwise(
                depth
            )
        best = F.greatest(F.element_at(acc, n + 1), depth)
        return F.array(*(outs + [best]))

    fold = F.aggregate(ev, init, step)
    return F.element_at(fold, n + 1)


# CH spelling: windowFunnel(window, 'mode')(ts, conds...). The base
# lowering predates the modes, so dispatch on the parameter count.
_WINDOW_FUNNEL_BASE = PARAMETRIC_AGGS["windowFunnel"]


def _window_funnel_dispatch(params: list, ts: Column, *conds: Column) -> Column:
    if len(params) >= 2:
        return _window_funnel_modes(params, ts, *conds)
    return _WINDOW_FUNNEL_BASE(params, ts, *conds)


PARAMETRIC_AGGS["windowFunnel"] = _window_funnel_dispatch


# --- [EXT] tier-14: correlation / covariance matrices -----------------------
# corrMatrix / covarSampMatrix(x1..xn) — CH's matrix aggregates, done
# with the t-test family's exact-arithmetic discipline instead of
# F.corr (whose Welford updates are block-order-dependent and sit in
# PYTEST_ONLY): with integer inputs every sufficient statistic
# (n, Σxi, Σxi², Σxi·xj) is an exact int64 sum inside ONE hash
# aggregate, and each matrix cell is a fixed double expression over
# them — so the DuckDB oracle replays the identical formula over
# SUM/COUNT and the floats hash-match. Degenerate cells (n < 2, zero
# variance) → NULL-instead-of-junk.


def _pair_sums(cols):
    xs = [c.cast("long") for c in cols]
    n = F.count(F.lit(1)).cast("double")
    s = [F.sum(x).cast("double") for x in xs]
    q = [F.sum(x * x).cast("double") for x in xs]
    p = {
        (i, j): F.sum(xs[i] * xs[j]).cast("double")
        for i in range(len(xs))
        for j in range(len(xs))
        if i < j
    }
    return n, s, q, p


def _corr_matrix(*cols: Column) -> Column:
    n, s, q, p = _pair_sums(cols)
    m = len(cols)

    def cell(i, j):
        if i == j:
            vi = n * q[i] - s[i] * s[i]
            return F.when(
                (n < 2) | (vi <= 0.0), F.lit(None).cast("double")
            ).otherwise(F.lit(1.0))
        a, b = min(i, j), max(i, j)
        num = n * p[(a, b)] - s[a] * s[b]
        den = F.sqrt(n * q[a] - s[a] * s[a]) * F.sqrt(
            n * q[b] - s[b] * s[b]
        )
        return F.when(
            (n < 2) | (den <= 0.0), F.lit(None).cast("double")
        ).otherwise(F.try_divide(num, den))

    return F.array(
        *[F.array(*[cell(i, j) for j in range(m)]) for i in range(m)]
    )


def _covar_samp_matrix(*cols: Column) -> Column:
    n, s, q, p = _pair_sums(cols)
    m = len(cols)

    def cell(i, j):
        a, b = min(i, j), max(i, j)
        sab = q[a] if a == b else p[(a, b)]
        return F.when(n < 2, F.lit(None).cast("double")).otherwise(
            F.try_divide(sab - F.try_divide(s[a] * s[b], n), n - 1)
        )

    return F.array(
        *[F.array(*[cell(i, j) for j in range(m)]) for i in range(m)]
    )


AGGREGATE_FNS["corrMatrix"] = _corr_matrix
AGGREGATE_FNS["covarSampMatrix"] = _covar_samp_matrix


# --- [EXT] tier-15: exclusive/inclusive exact quantiles ----------------------
# quantileExactExclusive / quantileExactInclusive(level)(x) — the two
# standard interpolating exact-order-statistic conventions
# (PERCENTILE.EXC / PERCENTILE.INC): rank h = (n+1)·level (exclusive)
# or (n−1)·level + 1 (inclusive), result = v[⌊h⌋] + (h−⌊h⌋)·(v[⌊h⌋+1]
# − v[⌊h⌋]) over the sorted values (1-based). The interpolation is a
# fixed double expression over exact ints, so both hash-oracle (the
# DuckDB replay sorts the same list and applies the same formula) —
# unlike the sketch-backed quantileApprox family. Exclusive is NULL
# when h falls outside [1, n] (n < 2 always, or extreme levels —
# NULL-instead-of-junk; CH throws). Per-entity groups only.


def _quantile_exact_interp(level: float, x: Column, exclusive: bool) -> Column:
    cl = F.array_sort(F.collect_list(x.cast("long")))

    def body(arr, _pad):
        n = F.size(arr).cast("long")
        if exclusive:
            h = F.lit(level) * (n + 1).cast("double")
        else:
            h = F.lit(level) * (n - 1).cast("double") + 1.0
        fl = F.floor(h).cast("long")
        lo = F.get(arr, (fl - 1).cast("int"))
        hi = F.coalesce(F.get(arr, fl.cast("int")), lo)
        val = lo.cast("double") + (h - fl.cast("double")) * (
            hi.cast("double") - lo.cast("double")
        )
        bad = (n == 0) | (fl < 1) | (fl > n)
        return F.when(bad, F.lit(None).cast("double")).otherwise(val)

    return F.get(
        F.transform(
            F.array(F.struct(cl.alias("a"), F.lit(0).alias("p"))),
            lambda t: body(t["a"], t["p"]),
        ),
        0,
    )


PARAMETRIC_AGGS["quantileExactExclusive"] = (
    lambda params, x: _quantile_exact_interp(float(params[0]), x, True)
)
PARAMETRIC_AGGS["quantileExactInclusive"] = (
    lambda params, x: _quantile_exact_interp(float(params[0]), x, False)
)


# --- [EXT] tier-15: array scalar wave ----------------------------------------


def _array_partial_sort(k: Column, a: Column, reverse: bool = False) -> Column:
    """arrayPartialSort(k, arr) — the k smallest values sorted, then
    the REMAINING elements in their original order (CH leaves the
    tail unspecified; this engine pins it — the usual determinism
    strengthening). Duplicate-safe: the tail keeps an occurrence of v
    iff its occurrence index among equal values exceeds the count of
    v in the sorted head. arrayPartialReverseSort is the mirrored
    form. O(n²) per row in the occurrence counting — array-bounded."""

    def body(arr, kk):
        srt = F.array_sort(arr)
        full = F.reverse(srt) if reverse else srt
        head = F.slice(
            full, 1, F.least(kk, F.size(arr)).cast("int")
        )
        idxs = F.sequence(F.lit(1), F.size(arr))

        def keep(i):
            v = F.get(arr, (i - 1).cast("int"))
            in_head = F.size(F.filter(head, lambda h: h == v))
            priors = F.size(
                F.filter(
                    F.slice(arr, 1, i.cast("int")), lambda e: e == v
                )
            )
            return priors > in_head

        tail = F.transform(
            F.filter(idxs, keep), lambda i: F.get(arr, (i - 1).cast("int"))
        )
        return F.concat(head, tail)

    return F.get(
        F.transform(
            F.array(F.struct(a.alias("a"), k.cast("long").alias("k"))),
            lambda t: body(t["a"], t["k"]),
        ),
        0,
    )


SCALAR_FNS["arrayPartialSort"] = lambda k, a: _array_partial_sort(k, a, False)
SCALAR_FNS["arrayPartialReverseSort"] = lambda k, a: _array_partial_sort(
    k, a, True
)


def _array_zip_unaligned(a: Column, b: Column) -> Column:
    """arrayZipUnaligned(a, b) — zip with NULL padding to the longer
    length (arrayZip requires equal sizes)."""
    n = F.greatest(F.size(a), F.size(b))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.get(a, (i - 1).cast("int")).alias("_1"),
            F.get(b, (i - 1).cast("int")).alias("_2"),
        ),
    )


SCALAR_FNS["arrayZipUnaligned"] = _array_zip_unaligned

# initcapUTF8: engine strings are Unicode; whitespace-word initcap.
SCALAR_FNS["initcapUTF8"] = F.initcap
SCALAR_FNS["initcap"] = F.initcap


# --- [EXT] tier-16: bitmap family --------------------------------------------
# CH models these over roaring bitmaps; the VALUE contract is pure set
# algebra over integers, which this engine represents as SORTED
# DISTINCT array<long> (canonical, printable, oracle-exact — roaring
# is a compression choice, not a semantic one; groupBitmap above
# already takes the same stance for cardinality). All pure JVM
# higher-order functions.


def _bm(a: Column) -> Column:
    return F.array_sort(F.array_distinct(F.transform(a, lambda v: v.cast("long"))))


SCALAR_FNS["bitmapBuild"] = _bm
SCALAR_FNS["bitmapToArray"] = lambda a: _bm(a)
SCALAR_FNS["bitmapCardinality"] = lambda a: F.size(_bm(a)).cast("long")
SCALAR_FNS["bitmapAnd"] = lambda a, b: F.array_sort(
    F.array_intersect(_bm(a), _bm(b))
)
SCALAR_FNS["bitmapOr"] = lambda a, b: F.array_sort(
    F.array_union(_bm(a), _bm(b))
)
SCALAR_FNS["bitmapXor"] = lambda a, b: F.array_sort(
    F.array_union(
        F.array_except(_bm(a), _bm(b)), F.array_except(_bm(b), _bm(a))
    )
)
SCALAR_FNS["bitmapAndnot"] = lambda a, b: F.array_sort(
    F.array_except(_bm(a), _bm(b))
)
SCALAR_FNS["bitmapAndCardinality"] = lambda a, b: F.size(
    F.array_intersect(_bm(a), _bm(b))
).cast("long")
SCALAR_FNS["bitmapOrCardinality"] = lambda a, b: F.size(
    F.array_union(_bm(a), _bm(b))
).cast("long")
SCALAR_FNS["bitmapXorCardinality"] = lambda a, b: (
    F.size(F.array_except(_bm(a), _bm(b)))
    + F.size(F.array_except(_bm(b), _bm(a)))
).cast("long")
SCALAR_FNS["bitmapAndnotCardinality"] = lambda a, b: F.size(
    F.array_except(_bm(a), _bm(b))
).cast("long")
SCALAR_FNS["bitmapContains"] = lambda a, v: F.array_contains(
    _bm(a), v.cast("long")
)
SCALAR_FNS["bitmapHasAll"] = lambda a, b: F.size(
    F.array_except(_bm(b), _bm(a))
) == 0
SCALAR_FNS["bitmapHasAny"] = lambda a, b: F.size(
    F.array_intersect(_bm(a), _bm(b))
) > 0
SCALAR_FNS["bitmapMin"] = lambda a: F.array_min(_bm(a))
SCALAR_FNS["bitmapMax"] = lambda a: F.array_max(_bm(a))
SCALAR_FNS["bitmapSubsetInRange"] = lambda a, lo, hi: F.filter(
    _bm(a),
    lambda v: (v >= lo.cast("long")) & (v < hi.cast("long")),
)
SCALAR_FNS["bitmapSubsetLimit"] = lambda a, lo, n: F.slice(
    F.filter(_bm(a), lambda v: v >= lo.cast("long")),
    1,
    n.cast("int"),
)


def _group_bitmap_fold(op: str):
    """groupBitmapAnd/Or/Xor(arr) — set-algebra fold across the
    group's bitmaps, returning the cardinality (CH contract). The
    fold runs over the SORTED collected list so XOR's rounding-free
    but order-sensitive-looking chain is deterministic (set XOR is
    associative+commutative — the sort is for plan determinism, not
    correctness). Per-entity groups (fold-backed convention)."""

    def agg(a: Column) -> Column:
        cl = F.array_sort(F.collect_list(_bm(a)))

        def step(acc, x):
            if op == "and":
                return F.array_intersect(acc, x)
            if op == "or":
                return F.array_union(acc, x)
            return F.array_union(
                F.array_except(acc, x), F.array_except(x, acc)
            )

        first = F.get(cl, 0)
        rest = F.slice(cl, 2, F.greatest(F.size(cl) - 1, F.lit(0)))
        return F.when(F.size(cl) == 0, F.lit(None).cast("long")).otherwise(
            F.size(F.aggregate(rest, first, step)).cast("long")
        )

    return agg


AGGREGATE_FNS["groupBitmapAnd"] = _group_bitmap_fold("and")
AGGREGATE_FNS["groupBitmapOr"] = _group_bitmap_fold("or")
AGGREGATE_FNS["groupBitmapXor"] = _group_bitmap_fold("xor")


# --- [EXT] tier-17: web-text extraction ---------------------------------------
# The CommonCrawl-ingest scalars. Regex subset restricted to syntax
# Java regex and RE2 treat identically (inline (?is) flags, lazy
# quantifiers, char classes — no lookaround), so the DuckDB oracle
# replays the identical pipeline.


def _extract_text_from_html(s: Column) -> Column:
    """extractTextFromHTML(s) — strip comments, script/style blocks
    (content dropped), then all tags (replaced by a space so adjacent
    words don't fuse), decode the basic entities, collapse
    whitespace. A real DOM parser is a library choice; this is CH's
    contract (approximate but deterministic text extraction)."""
    out = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"<[^>]*>", " ")
    out = _decode_html_component(out)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST: &amp;lt; must decode once, to &lt;
)


def _decode_html_component(s: Column) -> Column:
    """decodeHTMLComponent(s) — the basic named/numeric entities,
    single-pass semantics (&amp; replaced last so &amp;lt; → &lt;,
    not <)."""
    out = s
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def _encode_html_component(s: Column) -> Column:
    """encodeHTMLComponent(s) — inverse of the basic set (& first)."""
    out = F.replace(s, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    out = F.replace(out, F.lit('"'), F.lit("&quot;"))
    return F.replace(out, F.lit("'"), F.lit("&#39;"))


SCALAR_FNS["extractTextFromHTML"] = _extract_text_from_html
SCALAR_FNS["decodeHTMLComponent"] = _decode_html_component
SCALAR_FNS["encodeHTMLComponent"] = _encode_html_component


def _array_aucpr(scores: Column, labels: Column) -> Column:
    """arrayAUCPR(scores, labels) — area under the precision-recall
    curve by the sum-of-precision-at-each-positive rule:
    (Σ_{i: label_i = 1} tp_i / i) / P over the (score DESC, label
    ASC) order — ties resolved PESSIMISTICALLY (negatives first),
    a documented deterministic choice where CH's is partition-order
    dependent. Every term is a small rational; the accumulation
    folds in the fixed sorted order, so the double hash-oracles
    (the DuckDB replay is the identical fold). No positives → NULL."""
    pairs = F.array_sort(
        F.zip_with(
            scores,
            labels,
            lambda s, l: F.struct(
                (-s.cast("long")).alias("ns"),
                l.cast("long").alias("l"),
            ),
        )
    )
    init = F.struct(
        F.lit(0).cast("long").alias("i"),
        F.lit(0).cast("long").alias("tp"),
        F.lit(0.0).alias("acc"),
    )

    def step(a, p):
        i = a["i"] + 1
        tp = a["tp"] + p["l"]
        return F.struct(
            i.alias("i"),
            tp.alias("tp"),
            (
                a["acc"]
                + F.when(
                    p["l"] == 1,
                    tp.cast("double") / i.cast("double"),
                ).otherwise(F.lit(0.0))
            ).alias("acc"),
        )

    fold = F.aggregate(pairs, init, step)
    return F.when(
        fold["tp"] == 0, F.lit(None).cast("double")
    ).otherwise(fold["acc"] / fold["tp"].cast("double"))


SCALAR_FNS["arrayAUCPR"] = _array_aucpr


def _window_funnel_increase(win: int, n: int, ts: Column, conds) -> Column:
    """windowFunnel(window, 'strict_increase') — chains must have
    STRICTLY increasing timestamps (two events sharing a ts can't be
    consecutive steps). State per depth is (latest chain-start, time
    of the step that reached the depth); extension requires
    e.t > last(k−1) — which only bites on tied timestamps, since the
    fold runs in ts order. With ties the max-start discipline keeps
    one candidate chain per depth (documented: exact for unique-ts
    inputs, the same tie caveat as the base form)."""
    ev = F.array_sort(
        F.collect_list(
            F.struct(
                ts.cast("long").alias("t"),
                *[
                    c.cast("boolean").alias(f"c{k}")
                    for k, c in enumerate(conds)
                ],
            )
        )
    )
    nil = F.lit(None).cast("long")
    # state: [s1..sn, l1..ln, best]
    init = F.array(*([nil] * (2 * n) + [F.lit(0).cast("long")]))

    def step(acc, e):
        starts, lasts = [], []
        for k in range(n):
            s_cur = F.element_at(acc, k + 1)
            l_cur = F.element_at(acc, n + k + 1)
            if k == 0:
                take = e["c0"]
                s_new, l_new = e["t"], e["t"]
            else:
                sp = F.element_at(acc, k)
                lp = F.element_at(acc, n + k)
                take = (
                    e[f"c{k}"]
                    & sp.isNotNull()
                    & ((e["t"] - sp) <= F.lit(win))
                    & (e["t"] > lp)
                    & (s_cur.isNull() | (sp > s_cur))
                )
                s_new, l_new = sp, e["t"]
            starts.append(F.when(take, s_new).otherwise(s_cur))
            lasts.append(F.when(take, l_new).otherwise(l_cur))
        depth = F.lit(0).cast("long")
        for k in range(n):
            depth = F.when(
                starts[k].isNotNull(), F.lit(k + 1).cast("long")
            ).otherwise(depth)
        best = F.greatest(F.element_at(acc, 2 * n + 1), depth)
        return F.array(*(starts + lasts + [best]))

    fold = F.aggregate(ev, init, step)
    return F.element_at(fold, 2 * n + 1)


# --- [EXT] tier-18: -Resample combinators -------------------------------------
# fnResample(start, end, step)(x, key) — CH's bucketed-aggregate
# combinator: the group's rows are partitioned by which [start+i·step,
# start+(i+1)·step) bucket their KEY falls in, the base aggregate runs
# per bucket, and the result is the array of per-bucket values
# (rows with keys outside [start, end) are ignored). With literal
# bounds this lowers to ONE hash aggregate of ceil((end−start)/step)
# conditional aggregates — no collect_list, no second shuffle, the
# combinator discipline of the -If family.


def _resample(agg: str):
    def fn(params: list, x: Column, key: Column) -> Column:
        start, end, step = (int(p) for p in params[:3])
        if step <= 0 or end <= start:
            raise ValueError("Resample needs start < end and step > 0")
        nb = (end - start + step - 1) // step
        if nb > 1024:
            raise ValueError(
                f"Resample would build {nb} buckets; cap is 1024 "
                "(pre-bucket with GROUP BY instead)"
            )
        kl = key.cast("long")
        cells = []
        for i in range(nb):
            lo = start + i * step
            hi = min(lo + step, end)
            inb = (kl >= lo) & (kl < hi)
            if agg == "count":
                cells.append(
                    F.sum(F.when(inb, F.lit(1)).otherwise(F.lit(0))).cast(
                        "long"
                    )
                )
            elif agg == "sum":
                cells.append(
                    F.sum(
                        F.when(inb, x.cast("long")).otherwise(
                            F.lit(0).cast("long")
                        )
                    ).cast("long")
                )
            elif agg == "min":
                cells.append(F.min(F.when(inb, x)))
            elif agg == "max":
                cells.append(F.max(F.when(inb, x)))
            else:  # avg: exact sums, one division, NULL on empty
                s = F.sum(
                    F.when(inb, x.cast("long")).otherwise(
                        F.lit(0).cast("long")
                    )
                )
                c = F.sum(F.when(inb, F.lit(1)).otherwise(F.lit(0)))
                cells.append(
                    F.try_divide(s.cast("double"), c.cast("double"))
                )
        return F.array(*cells)

    return fn


for _agg in ("sum", "count", "min", "max", "avg"):
    PARAMETRIC_AGGS[f"{_agg}Resample"] = _resample(_agg)


# --- [EXT] tier-18: MySQL-compat aliases (CH accepts these spellings) --------
# Pure aliases over existing lowerings — no new semantics — except
# locate(), whose MySQL ARGUMENT ORDER (needle, haystack) is the
# whole point and is documented here and in the entry.
SCALAR_FNS["locate"] = lambda sub, s: F.instr(s, sub)
SCALAR_FNS["mid"] = SCALAR_FNS["substring"]
SCALAR_FNS["substr"] = SCALAR_FNS["substring"]
SCALAR_FNS["ucase"] = SCALAR_FNS["upper"]
SCALAR_FNS["lcase"] = SCALAR_FNS["lower"]
SCALAR_FNS["ceiling"] = SCALAR_FNS["ceil"]
SCALAR_FNS["char_length"] = SCALAR_FNS["lengthUTF8"]
SCALAR_FNS["character_length"] = SCALAR_FNS["lengthUTF8"]
# octet_length counts BYTES (UTF-8), unlike the character lengths
SCALAR_FNS["octet_length"] = F.octet_length


def _java_hash(s: Column) -> Column:
    """javaHash(s) — Java String.hashCode(): h = 31·h + unit over the
    UTF-16 code units with int32 wraparound, kept exact in int64 via
    ((h·31 + c + 2³¹) mod 2³²) − 2³¹ per step (the CH Java-interop
    hash; BMP-only fixture strings make code units = codepoints,
    which is the documented scope — supplementary planes would need
    surrogate-pair emulation)."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.ascii(F.substring(s, i, 1)).cast("long"),
    )
    two31 = F.lit(2147483648)
    two32 = F.lit(4294967296)
    return F.when(F.length(s) == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda h, c: F.pmod(h * 31 + c + two31, two32) - two31,
        )
    )


SCALAR_FNS["javaHash"] = _java_hash
# hiveHash = javaHash with the SIGN BIT CLEARED (CH contract):
# h & 0x7FFFFFFF over the int32 value
SCALAR_FNS["hiveHash"] = lambda s: _java_hash(s).bitwiseAND(
    F.lit(2147483647)
)


# --- [EXT] tier-18: interop scalars ------------------------------------------
# Bit probes, the CH demographic rounding ladders, IPv4/MAC codecs,
# halfMD5, URL-safe base64 and firstLine — each a pure integer/string
# expression with an exact DuckDB replay (no float, no locale, no ICU).


def _bit_test_fold(x: Column, ns: tuple[Column, ...], *, want_all: bool) -> Column:
    if len(ns) < 1:
        name = "bitTestAll" if want_all else "bitTestAny"
        raise ValueError(
            f"{name} requires at least one bit position: "
            f"{name}(x, pos1 [, pos2, ...])"
        )
    bits = [
        (
            F.call_function("shiftright", x.cast("long"), n.cast("int")) % 2
        ).cast("boolean")
        for n in ns
    ]
    out = bits[0]
    for b in bits[1:]:
        out = (out & b) if want_all else (out | b)
    return out


SCALAR_FNS["bitTestAll"] = lambda x, *ns: _bit_test_fold(
    x, ns, want_all=True
)
SCALAR_FNS["bitTestAny"] = lambda x, *ns: _bit_test_fold(
    x, ns, want_all=False
)


def _byte_swap32(x: Column) -> Column:
    """byteSwap(x) — reverse the byte order of x's low 32 bits (the
    UInt32 contract; the engine keeps the value in int64 so every
    intermediate is non-negative and exact in any engine)."""
    v = x.cast("long").bitwiseAND(F.lit(4294967295))
    b0 = v.bitwiseAND(F.lit(255))
    b1 = F.call_function("shiftright", v, F.lit(8)).bitwiseAND(F.lit(255))
    b2 = F.call_function("shiftright", v, F.lit(16)).bitwiseAND(F.lit(255))
    b3 = F.call_function("shiftright", v, F.lit(24)).bitwiseAND(F.lit(255))
    return (
        b0 * F.lit(16777216) + b1 * F.lit(65536) + b2 * F.lit(256) + b3
    ).cast("long")


SCALAR_FNS["byteSwap"] = _byte_swap32

# CH's fixed demographic rounding ladders (roundAge / roundDuration):
# the largest ladder step <= x, 0 below the first step.
_AGE_STEPS = (1, 18, 25, 35, 45, 55)
_AGE_VALS = (17, 18, 25, 35, 45, 55)
_DUR_STEPS = (
    1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600, 7200,
    18000, 36000,
)


def _ladder(x: Column, steps, vals) -> Column:
    v = x.cast("long")
    out = F.lit(0).cast("long")
    for s, r in zip(steps, vals):
        out = F.when(v >= s, F.lit(r).cast("long")).otherwise(out)
    return out


SCALAR_FNS["roundAge"] = lambda x: _ladder(x, _AGE_STEPS, _AGE_VALS)
SCALAR_FNS["roundDuration"] = lambda x: _ladder(x, _DUR_STEPS, _DUR_STEPS)


def _ipv4_num_to_string(n: Column) -> Column:
    v = n.cast("long").bitwiseAND(F.lit(4294967295))
    return F.concat_ws(
        ".",
        F.call_function("shiftright", v, F.lit(24)).bitwiseAND(F.lit(255)).cast("string"),
        F.call_function("shiftright", v, F.lit(16)).bitwiseAND(F.lit(255)).cast("string"),
        F.call_function("shiftright", v, F.lit(8)).bitwiseAND(F.lit(255)).cast("string"),
        v.bitwiseAND(F.lit(255)).cast("string"),
    )


_IPV4_RE = (
    r"^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\.){3}"
    r"(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"
)


def _is_ipv4_string(s: Column) -> Column:
    return s.rlike(_IPV4_RE)


def _ipv4_string_to_num(s: Column) -> Column:
    """IPv4StringToNum(s) — dotted quad → UInt32; NULL on malformed
    input (the engine's lenient to<T>OrNull convention where CH
    throws — a NULL survives a 100 TB scan, an exception kills it)."""
    parts = F.split(s, r"\.")
    num = (
        F.element_at(parts, 1).cast("long") * F.lit(16777216)
        + F.element_at(parts, 2).cast("long") * F.lit(65536)
        + F.element_at(parts, 3).cast("long") * F.lit(256)
        + F.element_at(parts, 4).cast("long")
    )
    return F.when(_is_ipv4_string(s), num).otherwise(
        F.lit(None).cast("long")
    )


SCALAR_FNS["IPv4NumToString"] = _ipv4_num_to_string
SCALAR_FNS["IPv4StringToNum"] = _ipv4_string_to_num
SCALAR_FNS["isIPv4String"] = _is_ipv4_string
SCALAR_FNS["toIPv4"] = _ipv4_string_to_num


def _mac_num_to_string(n: Column) -> Column:
    """MACNumToString(n) — low 48 bits as colon-separated lowercase
    hex pairs (lowercase on both engines by construction)."""
    v = n.cast("long").bitwiseAND(F.lit((1 << 48) - 1))
    parts = [
        F.lpad(
            F.lower(
                F.hex(
                    F.call_function(
                        "shiftright", v, F.lit(8 * i)
                    ).bitwiseAND(F.lit(255))
                )
            ),
            2,
            "0",
        )
        for i in range(5, -1, -1)
    ]
    return F.concat_ws(":", *parts)


SCALAR_FNS["MACNumToString"] = _mac_num_to_string


def _half_md5(s: Column) -> Column:
    """halfMD5(s) — the first 8 md5 bytes as a big-endian UInt64,
    carried as DECIMAL(20,0) (the engine's unsigned-64 widening)."""
    return F.conv(F.substring(F.md5(s), 1, 16), 16, 10).cast(
        "decimal(20,0)"
    )


SCALAR_FNS["halfMD5"] = _half_md5

SCALAR_FNS["firstLine"] = lambda s: F.split(s, "\n", 2).getItem(0)


def _base64_url_encode(s: Column) -> Column:
    """base64URLEncode(s) — RFC 4648 §5 alphabet, padding stripped."""
    return F.call_function(
        "rtrim",
        F.lit("="),
        F.translate(F.base64(s.cast("binary")), "+/", "-_"),
    )


def _base64_url_decode(u: Column) -> Column:
    pad = (4 - F.length(u) % 4) % 4
    std = F.concat(
        F.translate(u, "-_", "+/"), F.repeat(F.lit("="), pad.cast("int"))
    )
    return F.unbase64(std).cast("string")


SCALAR_FNS["base64URLEncode"] = _base64_url_encode
SCALAR_FNS["base64URLDecode"] = _base64_url_decode


# --- [EXT] tier-19: vector/date/string interop + CRC32 ------------------------


SCALAR_FNS["L2SquaredDistance"] = lambda a, b: _VSUM(
    F.zip_with(
        a, b,
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
)

SCALAR_FNS["notLike"] = lambda s, p: ~F.call_function("like", s, p)
SCALAR_FNS["notILike"] = lambda s, p: ~F.call_function("ilike", s, p)

SCALAR_FNS["toStartOfSecond"] = lambda t: F.date_trunc(
    "second", t.cast("timestamp")
)
# mode-0 contract: round the date UP to the nearest Saturday
# (Spark dayofweek: Sun=1..Sat=7)
SCALAR_FNS["toLastDayOfWeek"] = lambda d: F.date_add(
    d.cast("date"), (F.lit(7) - F.dayofweek(d.cast("date"))).cast("int")
)
SCALAR_FNS["toMillisecond"] = lambda t: (
    F.date_format(t.cast("timestamp"), "SSS").cast("long")
)
SCALAR_FNS["addMilliseconds"] = lambda t, n: F.timestamp_add(
    "MILLISECOND", n.cast("long"), t.cast("timestamp")
)
SCALAR_FNS["subtractMilliseconds"] = lambda t, n: F.timestamp_add(
    "MILLISECOND", -n.cast("long"), t.cast("timestamp")
)

SCALAR_FNS["overlay"] = lambda s, repl, pos, *l: F.overlay(
    s, repl, pos.cast("int"), *([l[0].cast("int")] if l else [])
)
SCALAR_FNS["overlayUTF8"] = SCALAR_FNS["overlay"]


def _crc_let(val: Column, body) -> Column:
    """Bind `val` once (linear expression size: without this each of
    the 8 CRC bit steps would textually duplicate its accumulator,
    blowing the tree up 2^8-fold)."""
    return F.element_at(F.transform(F.array(val), body), 1)


def _crc32(s: Column) -> Column:
    """CRC32(s) — the zlib/IEEE-802.3 reflected CRC
    (poly 0xEDB88320, init/final xor 0xFFFFFFFF), as a character fold
    with 8 nested single-binding bit steps, every intermediate a
    non-negative int64 (exact in any engine). ASCII fixture scope:
    bytes = code points (the javaHash precedent)."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.ascii(F.substring(s, i, 1)).cast("long"),
    )

    def bit_step(a: Column) -> Column:
        half = F.call_function("shiftright", a, F.lit(1))
        return F.when(
            a.bitwiseAND(F.lit(1)) == 1,
            half.bitwiseXOR(F.lit(0xEDB88320)),
        ).otherwise(half)

    def byte_step(acc: Column, c: Column) -> Column:
        out = acc.bitwiseXOR(c)
        for _ in range(8):
            out = _crc_let(out, bit_step)
        return out

    folded = F.aggregate(
        codes, F.lit(0xFFFFFFFF).cast("long"), byte_step
    )
    return F.when(F.length(s) == 0, F.lit(0).cast("long")).otherwise(
        folded.bitwiseXOR(F.lit(0xFFFFFFFF)).cast("long")
    )


SCALAR_FNS["CRC32"] = _crc32


# --- [EXT] tier-20: network-range scalars -------------------------------------

_MAC_RE = r"^([0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}$"


def _mac_string_to_num(s: Column) -> Column:
    """MACStringToNum — colon-separated hex pairs → UInt48 (NULL on
    malformed input, the lenient convention)."""
    parts = F.split(s, ":")
    num = F.aggregate(
        parts,
        F.lit(0).cast("long"),
        lambda acc, p: acc * 256 + F.conv(p, 16, 10).cast("long"),
    )
    return F.when(s.rlike(_MAC_RE), num).otherwise(
        F.lit(None).cast("long")
    )


SCALAR_FNS["MACStringToNum"] = _mac_string_to_num


def _cidr_bounds(ip: Column, prefix: Column) -> tuple[Column, Column]:
    v = ip.cast("long").bitwiseAND(F.lit(4294967295))
    p = prefix.cast("int")
    # mask = 2^32 − 2^(32−p); p = 0 → 0, p = 32 → 0xFFFFFFFF
    mask = F.lit(4294967296) - F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.lit(32) - p)
    )
    lo = v.bitwiseAND(mask)
    hi = lo + (F.lit(4294967296) - mask) - F.lit(1)
    return lo, hi


def _ipv4_cidr_to_range(ip: Column, prefix: Column) -> Column:
    """IPv4CIDRToRange(ip_u32, prefix) → tuple(lo, hi) as dotted
    strings (the CH tuple convention: struct fields _1/_2)."""
    lo, hi = _cidr_bounds(ip, prefix)
    return F.struct(
        _ipv4_num_to_string(lo).alias("_1"),
        _ipv4_num_to_string(hi).alias("_2"),
    )


SCALAR_FNS["IPv4CIDRToRange"] = _ipv4_cidr_to_range


def _is_ip_in_range(ip_s: Column, cidr: Column) -> Column:
    """isIPAddressInRange('1.2.3.4', '1.2.0.0/16') — IPv4 only (the
    fixture scope; v6 would need 128-bit lanes). Malformed ip or cidr
    → false (CH throws; a boolean gate must survive a scan)."""
    base = F.split(cidr, "/")
    ip_n = _ipv4_string_to_num(ip_s)
    net_n = _ipv4_string_to_num(F.element_at(base, 1))
    p = F.element_at(base, 2).cast("int")
    lo, hi = _cidr_bounds(net_n, p)
    ok = (
        ip_n.isNotNull()
        & net_n.isNotNull()
        & p.isNotNull()
        & (p >= 0)
        & (p <= 32)
    )
    return F.when(ok, (ip_n >= lo) & (ip_n <= hi)).otherwise(F.lit(False))


SCALAR_FNS["isIPAddressInRange"] = _is_ip_in_range
