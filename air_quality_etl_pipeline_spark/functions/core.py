"""Scalar/array expression helpers — all Catalyst built-ins, zero UDFs.

These are the engine's equivalents of the reference's DAX idioms
(``DIVIDE`` → :func:`safe_div`, see ``AQI.SemanticModel/definition/tables/
fact_daily_air_quality.tmdl:89-91`` in the reference) plus the hashing /
vector primitives the LLM-data extension operators are built from.

Everything here compiles to JVM-side Catalyst expressions inside
whole-stage codegen — no Python round-trips — so the same expression is
safe in the hot path of a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_div(num: Column, den: Column, alt=None) -> Column:
    """DAX ``DIVIDE(num, den[, alt])``: null/zero-denominator-safe ratio.

    Reference semantics: DIVIDE returns *alt* (default BLANK ≈ NULL) when
    the denominator is 0 or missing instead of raising/±inf.
    """
    alt_col = F.lit(alt) if not isinstance(alt, Column) else alt
    return F.when(den.isNull() | (den == 0), alt_col).otherwise(num / den)


def round_portable(col: Column, decimals: int) -> Column:
    """Engine-portable decimal rounding: ``floor(x·10^d + 0.5) / 10^d``.

    Engine-native ``round`` differs at half boundaries (Spark rounds the
    exact binary double via BigDecimal HALF_UP; DuckDB multiplies then
    rounds), which breaks value-hash comparison for structured rationals
    like count ratios. This formulation uses only floor/multiply/add —
    bit-identical in every engine. The SQL twin is
    ``floor((x) * 1e<d> + 0.5) / 1e<d>``.
    """
    f = F.lit(float(10**decimals))
    return F.floor(col * f + F.lit(0.5)) / f


def sql_round(expr: str, decimals: int) -> str:
    """The DuckDB-side twin of :func:`round_portable`."""
    f = float(10**decimals)
    return f"floor(({expr}) * {f} + 0.5) / {f}"


def md5_hex15(col: Column, salt: str | None = None) -> Column:
    """Deterministic 60-bit hash as a FIXED-WIDTH lowercase hex string
    (first 15 md5 chars). Lexicographic order on fixed-width hex equals
    numeric order, so MinHash minima over these strings pick the same
    elements as over the decoded integers — without paying the
    string→BigInteger ``conv`` per hash. The SQL twin is
    ``substr(md5('<salt>:' || x), 1, 15)``."""
    if salt is not None:
        col = F.concat(F.lit(salt), F.lit(":"), col)
    return F.substring(F.md5(col), 1, 15)


def md5_long(col: Column, salt: str | None = None) -> Column:
    """Deterministic 60-bit non-negative hash of a string column.

    ``conv(substr(md5(x), 1, 15), 16, 10)`` — 15 hex chars = 60 bits, so
    the value always fits a signed BIGINT. The package's portable hash:
    gram hashes, salted buckets and samples, and the affine MinHash
    family's shared hash all use it (SimHash writes the same expression
    as SQL text), because ``md5`` is available verbatim in every SQL
    engine the oracle harness may use, unlike ``xxhash64``/``murmur3``
    whose constants differ per engine.
    """
    if salt is not None:
        col = F.concat(F.lit(salt), F.lit(":"), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: modulus of the affine MinHash family — the Mersenne prime 2^31−1,
#: so products a·b30 (≤ 2^31·2^30 = 2^61) stay inside signed-64 exactly
#: in every engine.
MINHASH_P31 = 2_147_483_647


def affine_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a, c) pair for the i-th affine MinHash function
    ``h_i(x) = (a·b30(x) + c) mod 2^31−1`` where ``b30`` is the low 30
    bits of one shared md5. One md5 per shingle + k integer transforms
    replaces k salted md5s — the classic universal-hashing family
    (Carter-Wegman), ~8× less hashing work at k=8 — and both engines
    replay the same integer arithmetic bit-for-bit. LCG-style constants;
    a is never 0 mod p (p prime → any a ∈ [1, p) is a bijection)."""
    a = (1103515245 * (i + 1) + 12345) % MINHASH_P31
    c = (214013 * (i + 1) + 2531011) % MINHASH_P31
    return (a or 1, c)


def token_array(text: Column) -> Column:
    """Whitespace tokenization: ``split(trim(x), '\\s+')``.

    Empty/blank input yields an empty array (not ``[""]``) so ``size``
    is a true token count.
    """
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def char_shingles(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a string, as an array column.

    The shingle set for MinHash / n-gram-Jaccard dedup. Strings shorter
    than *n* shingle to the whole string so nothing hashes to an empty
    set. Pure Catalyst: ``transform(sequence(...), i -> substring(...))``.
    """
    ln = F.length(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(ln - F.lit(n - 1), F.lit(1))),
        lambda i: text.substr(i, F.lit(n)),
    )
    return F.array_distinct(grams)


def word_shingles_of_tokens(toks: Column, n: int = 5) -> Column:
    """Word n-grams over an existing token-array column.

    PERF: pass a *materialized column reference* (``withColumn("toks",
    token_array(...))`` first), not the tokenization expression itself —
    Catalyst does no common-subexpression elimination inside lambda
    bodies, so an inlined ``split`` is re-evaluated for every sequence
    element (measured 5× slower on the documents table).
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(grams)


def dot_product(a: Column, b: Column, dims: int | None = None) -> Column:
    """Dot product of two numeric array columns (JVM-side, no UDF).

    With *dims* (fixed-width vectors) the product UNROLLS into
    ``dims`` positional ``element_at`` terms — straight-line code that
    whole-stage codegen compiles, ~2× the throughput of the interpreted
    ``zip_with``/``aggregate`` lambda path (Catalyst evaluates
    higher-order functions per element in the interpreter). Summation
    order matches the fold exactly (left-associated; float addition is
    not associative), so results are bit-identical.
    """
    if dims:
        out = F.element_at(a, 1) * F.element_at(b, 1)
        for i in range(2, dims + 1):
            out = out + F.element_at(a, i) * F.element_at(b, i)
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of a numeric array column."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
