"""Reusable Column expression helpers.

Everything here returns Spark ``Column`` expressions built from
JVM-side built-ins (whole-stage codegen) — no Python UDFs.  These are
the engine's "scalar function library" analog of the reference's
parse/cast layer (SURVEY.md §2C).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    """Exact integer cents of a money column: ``round(col * 100)`` as
    BIGINT.  Money queries sum these integers and divide ONCE at the
    end, so Spark and the DuckDB oracle produce bit-identical doubles
    (``round()`` on engine-divergent doubles does not: Spark rounds the
    shortest decimal repr HALF_UP, DuckDB the exact binary value)."""
    return F.round(col * 100).cast("bigint")


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two ``array<double>`` columns.

    Sequential left fold over the arrays (``aggregate``) — runs inside
    codegen, deterministic evaluation order (matters for oracle
    parity), no Python worker round-trip.
    """
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def tokens(text: Column) -> Column:
    """Whitespace tokenization → ``array<string>`` (no empty tokens).

    The split class is the EXPLICIT ``[ \\t\\n\\f\\r]`` rather than
    Java's ``\\s`` (which additionally matches ``\\x0B``): the DuckDB
    oracles tokenize with RE2's ``\\S+``, whose complement class
    excludes vertical tab, so spelling the class out makes
    Spark↔oracle token parity exact on EVERY character instead of
    "every character the fixtures happen to contain" (VERDICT r8
    item 5).  Both engines treat ``\\x0B`` as a token character."""
    return F.array_remove(F.split(F.trim(text), "[ \t\n\f\r]+"), "")


def word_shingles(toks: Column, k: int) -> Column:
    """k-word shingles of a token array (order-preserving, may repeat);
    empty when the document has fewer than k tokens.

    Shape matters: a ``zip_with`` ladder over k shifted slices, NOT
    ``transform(sequence(...), i -> slice(toks, i, k))``.  In the
    latter the lambda body references ``toks`` — and after projection
    collapsing that is the whole upstream expression (e.g. a regex
    split), re-evaluated at EVERY shingle position.  Here the lambdas
    only touch their own variables, so the token array is computed k
    times per row instead of once per position (~50× less work on
    typical documents)."""
    n = F.size(toks)
    m = n - (k - 1)
    acc = F.slice(toks, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(toks, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n < k, F.array().cast("array<string>")).otherwise(acc)


def char_ngrams(text: Column, n: int) -> Column:
    """Character n-grams of a string (order-preserving, may repeat)."""
    ln = F.length(text)
    return F.when(ln < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), ln - n + 1),
            lambda i: text.substr(i, F.lit(n)),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two array columns treated as sets."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
