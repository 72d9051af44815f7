"""Text primitives: tokenization, shingling, normalization.

All built-in Catalyst expressions (split/transform/sequence/filter), so they
stay inside whole-stage codegen and scale linearly with the corpus -- the
per-document work is embarrassingly parallel with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text -> empty array."""
    return F.filter(F.split(F.trim(text), WS), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def normalize(text: Column) -> Column:
    """Canonical form for exact-dup detection / fingerprinting:
    lower-case, whitespace collapsed to single spaces, trimmed."""
    return F.regexp_replace(F.lower(F.trim(text)), WS, " ")


def word_ngrams(text: Column, n: int) -> Column:
    """Array of word n-gram shingles (space-joined), deduplicated.

    Built from sequence+transform over the token array: pure Catalyst,
    no explode until the caller chooses to.
    """
    toks = tokens(text)
    # Guard: Spark's sequence(1, 0) counts DOWN ([1,0]); emit an empty
    # shingle set for docs shorter than n tokens instead.
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


def adjacent_pairs(toks_col: Column) -> Column:
    """Adjacent-bigram strings ("w1 w2") from a BOUND token-array column,
    occurrences preserved (no dedup): zip_with of the array against its
    own 1-shift.  Use this over transform+element_at(i)/element_at(i+1):
    per-lambda-index element_at runs interpreted per element (measured
    4-10x slower corpus-wide on t7/t10/t15-class operators); zip_with
    walks both arrays once.  The right-shorter zip pads with NULL, which
    marks (and filters) the final unpaired token.
    """
    shifted = F.slice(toks_col, 2, F.greatest(F.size(toks_col) - 1, F.lit(0)))
    z = F.zip_with(toks_col, shifted, lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)))
    return F.filter(z, lambda x: x.isNotNull())
