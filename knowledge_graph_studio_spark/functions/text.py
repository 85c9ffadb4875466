"""The token layer of the text operators: how text becomes tokens
(``tokens``), how k-token windows are built (``token_windows``) and how a
key is hashed to 64 bits (``hash64``). Each decision lives here alone;
tests/test_literals.py scans the operators for hand-rolled copies."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: str | Column) -> Column:
    """Whitespace tokens: ``col`` (a name or a Column) split on single
    spaces. NULL text gives NULL; the empty string gives one empty token."""
    return F.split(col, " ")


def token_windows(toks: Column, k: int | Column,
                  fn: Callable[[Column, Column], Column]) -> Column:
    """``transform(starts, i -> fn(slice(toks, i, k), i))`` over the 1-based
    start ``i`` of every k-element window of the array ``toks``, in order.

    The start list is guarded: ``sequence(1, 0)`` is DESCENDING ``[1, 0]``
    in Spark, so an array of fewer than k elements (or NULL) gets no window
    instead of an out-of-bounds read under ANSI. Pass ``toks`` as a
    projected column, not a raw ``split``: lambda bodies get no common-
    subexpression elimination, so an inline tokenizer re-splits the text
    once per window."""
    starts = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: fn(F.slice(toks, i, k), i))


def hash64(col: str | Column, hash_fn: str) -> Column:
    """A bigint key of ``col`` in one of two families. "xxhash64" is the
    production choice (fastest, JVM-native). "md5_60" takes the top 60
    bits of standard MD5 — bit-identical between Spark
    (``conv(substr(md5, 1, 15), 16, 10)``) and DuckDB
    (``CAST('0x' || substr(md5, 1, 15) AS BIGINT)``), which is what lets a
    contract entry be value-checked against its SQL oracle."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")
