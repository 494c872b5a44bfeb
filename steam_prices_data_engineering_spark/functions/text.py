"""Text-analysis expression builders (north-star extension, SURVEY.md §2b).

All pure Column expressions over `documents.text` (space-separated tokens):
tokenization, shingling, quality scoring, language scoring, fingerprinting.
No UDFs — each builder compiles to JVM-side expressions, some of them
higher-order functions (`transform`/`aggregate`/`filter`). Those run
interpreted, outside codegen, so a lambda must never re-evaluate a
document-sized input per element. None introduces a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny English stopword list for quality scoring (public knowledge; the
# fixture vocabulary is ~31 tokens so a short list suffices).
STOPWORDS = ("the", "a")

FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(text, " ")


def _null_gate(text: Column) -> Column:
    """0 when `text` is non-NULL, NULL when it is NULL.

    Added to a fragment's output so NULL text NULL-propagates exactly like
    the DuckDB twins (`len(string_split(NULL, ' '))` is NULL there, while
    this session runs legacy ``size(NULL) = -1`` — the r7/r8 divergence
    class the driver's NULL-text regenerations exposed). Arithmetic rather
    than ``when()``: a conditional around these fragments would drag their
    codegen'd subtrees into interpreted CodegenFallback evaluation.
    """
    return F.length(text) * F.lit(0)


def token_count(text: Column) -> Column:
    """Token count; NULL for NULL text (matching DuckDB ``len`` — see
    `_null_gate`). Empty-string text remains a documented contract bound:
    Spark ``split('', ' ')`` is ``['']`` (count 1) vs DuckDB's ``[]``."""
    return F.size(tokens(text)) + _null_gate(text)


def distinct_token_ratio(text: Column) -> Column:
    """Distinct-token ratio; NULL for NULL text (see `_null_gate`)."""
    t = tokens(text)
    return (F.size(F.array_distinct(t)) + _null_gate(text)).cast(
        "double"
    ) / F.size(t)


def avg_token_length(text: Column) -> Column:
    t = tokens(text)
    return F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    ).cast("double") / F.size(t)


def stopword_ratio(text: Column) -> Column:
    """Stopword-density ratio; NULL for NULL text (see `_null_gate`)."""
    t = tokens(text)
    stop = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    return (stop + _null_gate(text)).cast("double") / F.size(t)


def token_ngrams(t: Column, n: int) -> Column:
    """Word n-grams of a token array as `array<struct<g0, ..., g{n-1}>>`:
    `arrays_zip(slice(t,1,k), ..., slice(t,n,k))` with `k = size(t) - n + 1`.
    The j-th shifted slice holds every gram's j-th token, so `t` is
    evaluated O(n) times per row and no lambda is involved — linear in the
    document. (A lambda that slices `t` itself re-evaluates it per gram:
    O(tokens^2), since higher-order functions run interpreted.) Empty when
    `t` has fewer than n tokens; NULL when `t` is NULL."""
    k = F.greatest(F.size(t) - (n - 1), F.lit(0))
    slices = [F.slice(t, j + 1, k).alias(f"g{j}") for j in range(n)]
    return F.arrays_zip(*slices)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (order-sensitive), for near-dup detection: each
    `token_ngrams` struct joined by `concat_ws(' ', s.g0, ..., s.g{n-1})`,
    a lambda that reads only its struct variable.

    Empty array when the document has fewer than n tokens, NULL text
    included under the session's legacy `size(NULL) = -1`. Empty tokens
    from repeated, leading or trailing spaces stay members of their grams.
    """
    t = tokens(text)
    return F.when(
        F.size(t) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            token_ngrams(t, n),
            lambda s: F.concat_ws(" ", *[s[f"g{j}"] for j in range(n)]),
        )
    )


def token_hash(tok: Column) -> Column:
    """Cheap deterministic arithmetic token hash, reproducible in ANSI SQL
    (used by the oracle-checkable MinHash): length*961 + 31*first_char +
    last_char. Weak on purpose — collision behavior is identical in both
    engines, which is what the correctness contract needs."""
    return (
        F.length(tok) * 961
        + F.ascii(F.substring(tok, 1, 1)) * 31
        + F.ascii(F.substring(tok, -1, 1))
    ).cast("long")


SHINGLE_HASH_PRIME = 2_147_483_647  # 2^31 - 1


def token_hash_array(text: Column) -> Column:
    """Per-token arithmetic hashes for a document."""
    return F.transform(tokens(text), token_hash)


def shingle_hash_array(th: Column, n: int = 3) -> Column:
    """Hashes of word n-grams composed from the token-hash array (no string
    materialization): h = ((th[i]*8191 + th[i+1]) % P) * 8191 + th[i+2] % P.

    PERFORMANCE: pass `th` as a STAGED COLUMN (`.select(token_hash_array(
    text).alias("th"))` first), never the inline expression — higher-order
    functions are interpreted, so an inlined array expression is re-evaluated
    by every `element_at` in the lambda: O(tokens^2) per document (measured
    6x wall-clock on the decontamination pipeline).

    Composing from token hashes keeps the shingle-hash space near-injective
    even though the token hash itself is weak (tokens are few; shingle
    strings are many) — this is what keeps MinHash-LSH candidate counts at
    the true near-dup rate instead of hash-collision noise. Reproducible in
    SQL via list indexing."""
    assert n == 3, "fixture pipeline uses 3-gram shingles"
    p = F.lit(SHINGLE_HASH_PRIME)
    return F.when(F.size(th) < n, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(th) - (n - 1)),
            lambda i: F.pmod(
                F.pmod(F.element_at(th, i) * 8191 + F.element_at(th, i + 1), p)
                * 8191
                + F.element_at(th, i + 2),
                p,
            ),
        )
    )


def ngram_hash_array(th: Column, n: int) -> Column:
    """Word n-gram hashes from a STAGED token-hash array for ANY n — the
    parametric generalization of shingle_hash_array (same fold, same
    constants: h = fold over the window of (h * 8191 + th[i+j]) % P, so
    ngram_hash_array(th, 3) == shingle_hash_array(th) element-for-
    element). The inner fold is UNROLLED to n-1 arithmetic terms (the
    constant-length-loop rule — a nested F.aggregate would run
    interpreted per element). SQL twin: sqlfrag.sql_ngram_hashes.
    Same staging contract as shingle_hash_array: pass `th` as a staged
    column, never an inline expression."""
    p = F.lit(SHINGLE_HASH_PRIME)

    def _h(i: Column) -> Column:
        acc = F.element_at(th, i)
        for j in range(1, n):
            acc = F.pmod(acc * 8191 + F.element_at(th, i + j), p)
        return acc

    return F.when(F.size(th) < n, F.array().cast("array<bigint>")).otherwise(
        F.transform(F.sequence(F.lit(1), F.size(th) - (n - 1)), _h)
    )


def fingerprint_from_hashes(hashes: Column) -> Column:
    """Rolling fingerprint over a precomputed token-hash array (stage the
    array once when combining with other hash consumers, e.g. simhash)."""
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 31 + x, F.lit(FINGERPRINT_MOD)),
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: rewards lexical diversity, penalizes
    stopword density and extreme length. Heuristic, but deterministic and
    SQL-expressible. NULL for NULL text: `distinct_token_ratio` and
    `stopword_ratio` are NULL-gated (see `_null_gate`), and a NULL addend
    NULLs the weighted sum — matching the DuckDB twin exactly (the
    ``F.least`` length term alone would NOT propagate; least skips NULLs)."""
    n = token_count(text).cast("double")
    diversity = distinct_token_ratio(text)
    stop = stopword_ratio(text)
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    return F.lit(0.5) * diversity + F.lit(0.3) * (1 - stop) + F.lit(0.2) * length_term


def hex6_to_int(hexcol: Column) -> Column:
    """First 6 hex chars of an already-lowercase-hex string column as an
    integer in [0, 16^6) (SQL twin: sqlfrag.sql_hex6_to_int). Split out of
    `md5_hex6_to_int` so a query that also needs the FULL digest string
    (e.g. as a type-proof total order) hashes once and parses the prefix."""
    return F.conv(F.substring(hexcol, 1, 6), 16, 10).cast("long")


def hex_slice_to_int(hexcol: Column, start: int, width: int) -> Column:
    """Chars [start, start+width) (1-based) of an already-lowercase-hex
    string column as a BIGINT (SQL twin: sqlfrag.sql_hex_slice_to_int).
    Four 8-char slices of an md5 digest give a numeric, collation-proof
    total order equivalent to the lexicographic order of the fixed-width
    lowercase-hex string."""
    if not (1 <= width <= 15):
        raise ValueError(f"width {width} not in [1, 15]")
    return F.conv(F.substring(hexcol, start, width), 16, 10).cast("long")


def md5_hex6_to_int(c: Column) -> Column:
    """First 6 hex chars of md5(c) as an integer in [0, 16^6): the
    cross-engine uniform-hash primitive (SQL twin:
    sqlfrag.sql_md5_hex6_to_int — DuckDB has no hex-parse builtin, so the
    oracle digit-sums the same 6 chars)."""
    return hex6_to_int(F.md5(c))
