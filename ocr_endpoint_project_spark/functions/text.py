"""Catalyst expression builders for the text layer — JVM-side, codegen'd,
no Python in the hot path (SURVEY.md §2.3 "Spark primitive" column).

Each builder returns a Column; the matching ANSI-SQL (DuckDB) oracle
strings live next to the operators that use them in ``operators/``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hoist(df: DataFrame, keep: list[str] | tuple[str, ...], **exprs: Column) -> DataFrame:
    """Materialize computed columns as REAL attributes through a Generate
    barrier (explode of a one-element struct array).

    Why: Catalyst's CollapseProject inlines a plain projection alias into
    every consumer — including the BODY of higher-order-function lambdas,
    where the inlined expression is re-evaluated once per ARRAY ELEMENT.
    ``transform(sequence(0, size(toks)-3), i -> slice(toks, i+1, 3))``
    with ``toks`` a projected tokenize expression re-tokenizes the
    document once per shingle: measured 4.15 s vs 0.46 s single-core for
    the corpus shingle pass (round-8 OPTIMIZATION_r08.md). A Generate
    node is a collapse boundary, so after the explode the columns are
    attributes evaluated exactly once per row. The one-element explode
    itself is O(rows) and drops no rows: ``struct(...)`` is never null
    (only its fields can be), so ``array(struct(...))`` always holds one
    non-null element and every input row yields exactly one output row.
    The intermediate struct column takes a name no input column has.
    """
    if clash := {n.lower() for n in exprs} & {k.lower() for k in keep}:
        raise ValueError(f"hoist: {sorted(clash)} both kept and computed")
    tmp = "_hoisted"
    while tmp in {c.lower() for c in df.columns}:
        tmp = "_" + tmp
    packed = F.explode(F.array(F.struct(*[e.alias(n) for n, e in exprs.items()])))
    out = df.select(*keep, packed.alias(tmp))
    return out.select(*keep, *[F.col(f"{tmp}.{n}").alias(n) for n in exprs])


def norm_tokens(col: Column | str) -> Column:
    """normalize_words as pure Catalyst (ocr_common.py:111-115):
    lowercase, punctuation -> space, split, drop empties."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.regexp_replace(F.lower(c), r"[^\w\s]", " "), r"\s+"),
        lambda x: x != "",
    )


def token_count(col: Column | str) -> Column:
    return F.size(norm_tokens(col))


def cer_expr(gt: Column | str, pred: Column | str) -> Column:
    """CER% as pure Catalyst via built-in levenshtein (ocr_common.py:136-141)."""
    g = F.trim(F.col(gt) if isinstance(gt, str) else gt)
    p = F.trim(F.col(pred) if isinstance(pred, str) else pred)
    return F.when(F.length(g) == 0, F.lit(0.0)).otherwise(
        F.levenshtein(g, p).cast("double") / F.length(g) * 100.0
    )


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a token array (space-joined strings).

    Guarded for short inputs: fewer than n tokens -> empty array. Without
    the guard, sequence(0, size-n) runs DESCENDING for size < n and the
    slice start hits 0 — a runtime error, not an empty result (the SQL
    twins guard the same way via greatest(len - n + 1, 0))."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
    )
    return F.when(F.size(tokens) < n, F.array().cast("array<string>")).otherwise(grams)


def shingle_hash32(shingle: Column) -> Column:
    """Engine-portable 28-bit hash: first 7 hex chars of md5 — identical
    in Spark (conv) and DuckDB (from_hex/strtol-style), unlike xxhash64
    whose seeds differ across engines."""
    return F.conv(F.substring(F.md5(shingle), 1, 7), 16, 10).cast("long")


def stopword_hits(tokens: Column, stopwords: list[str]) -> Column:
    """Multiset count of tokens that are stopwords (order of ops matches
    the SQL oracle: filter then size)."""
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


# SQL (DuckDB) fragments mirroring the builders above -------------------------

SQL_NORM_TOKENS = (
    "list_filter(regexp_split_to_array(lower(regexp_replace({col}, '[^\\w\\s]', ' ', 'g')),"
    " '\\s+'), x -> x != '')"
)
SQL_TOKEN_COUNT = "len(" + SQL_NORM_TOKENS + ")"
SQL_CER = (
    "CASE WHEN length(trim({gt})) = 0 THEN 0.0 "
    "ELSE CAST(levenshtein(trim({gt}), trim({pred})) AS DOUBLE) / length(trim({gt})) * 100.0 END"
)
# verified equal to the Spark conv() form: md5('abc') -> 151000329 both
SQL_SHINGLE_HASH32 = "CAST(('0x' || substr(md5({s}), 1, 7)) AS BIGINT)"


# ---------------------------------------------------------------------------
# engine-stable rounding. Spark's round() goes through a decimal string
# (BigDecimal HALF_UP: 0.53575 -> 0.5358) while DuckDB rounds the binary
# double (0.53575 is stored as 0.5357499999... -> 0.5357). floor(x*1e4+0.5)
# operates on the same IEEE double in both engines, so results match
# bit-for-bit — required for the driver's value-hash compare.
# ---------------------------------------------------------------------------

def r4(c: Column) -> Column:
    """Round half-up to 4 decimals, identically in Spark and DuckDB."""
    return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def sql_r4(x: str) -> str:
    """DuckDB twin of :func:`r4`."""
    return f"floor(({x}) * 10000 + 0.5) / 10000"


# Exact-sum discipline: a float aggregate over "nice decimal" inputs (2-dp
# money/metric values) lands exactly on rounding boundaries, where the two
# engines' different summation orders flip the last digit. Summing
# INTEGER-VALUED doubles is exact in any order (every partial sum is an
# integer < 2^53), so aggregates become order-independent and engine-equal:
# sum(cents(x)) / 100, or avg = sum(cents(x)) / (100 * count).

def cents(c: Column, scale: int = 100) -> Column:
    """x -> integer-valued double floor(x*scale + 0.5) (same in DuckDB)."""
    return F.floor(c * F.lit(float(scale)) + F.lit(0.5))
