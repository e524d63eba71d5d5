"""Scalar/vector function layer (P2 analogue + training-pipeline functions).

Everything here is a JVM built-in composition (whole-stage codegen, no
UDF).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row: it is bound to
    a lambda variable, ``element_at(transform(array(value), body), 1)``.

    A per-row expression used inside a higher-order function's lambda is
    evaluated again on every element, because Catalyst eliminates no
    common subexpression inside a lambda body and higher-order functions
    run interpreted. Bind such an expression with ``let`` and use the
    variable inside the lambda instead."""
    return F.element_at(F.transform(F.array(value), body), 1)


def norm_tokens(col: Column | str) -> Column:
    """THE canonical token split every text operator shares (shingles,
    fingerprints, simhash, bigrams): lowercase → collapse whitespace runs →
    trim → split on single space. This expression is also the Spark twin of
    the DuckDB oracle's ``_TOK_NORM`` — keep them in lockstep or oracle
    equivalence silently breaks. A caller that reads the tokens inside a
    lambda (``word_shingles``, ``repetition_features``' bigrams) binds
    them with ``let``, so the tokenizer runs once per row."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")


def rolling_fingerprint(col: Column | str, *, normalize: bool = True) -> Column:
    """Document fingerprint: md5 over the normalized token multiset
    (lowercase, whitespace-collapsed, sorted distinct tokens). Pure JVM."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.concat_ws(" ", F.array_sort(F.array_distinct(norm_tokens(c))))
    return F.md5(c)


# ---------------------------------------------------------------- text
TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def token_count(col: Column | str, pattern: str = TOKEN_RE) -> Column:
    """BPE-ish token count: word-or-single-punct regex matches (JVM)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


def whitespace_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))


def stopword_count(col: Column | str, stopwords=EN_STOPWORDS) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(c), r"\s+")
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of ``norm_tokens(col)`` in first-occurrence
    order; fewer than k tokens yield the one shingle of the whole token
    list (``''`` for NULL or blank text). The tokens are bound with
    ``let``: the tokenizer runs once per row, not once per shingle
    position and word (JVM: split + transform over a sequence)."""

    def shingles(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
        return F.when(
            n >= k,
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
                    ),
                )
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return let(norm_tokens(col), shingles)


# ---------------------------------------------------------------- vectors
def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two array<float/double> columns — pure JVM
    (zip_with + aggregate), no UDF."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(da, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(db, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)

