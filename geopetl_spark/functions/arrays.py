"""Array/vector column functions: dot products, norms, cosine similarity,
token-array utilities — all built-in ``pyspark.sql.functions`` (zip_with /
aggregate stay inside codegen; no Python in the hot path).

Numeric determinism notes (these are mirrored in DuckDB oracle SQL):
* embeddings are cast to double *before* any arithmetic;
* array folds are sequential left-to-right in both engines;
* similarity outputs are rounded to 6 dp before leaving the operator so
  cross-engine float comparisons hash identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    """Cosine similarity, rounded for cross-engine determinism."""
    a, b = to_double_array(a), to_double_array(b)
    return F.round(dot(a, b) / (norm(a) * norm(b)), decimals)


def word_ngrams(text: Column, n: int) -> Column:
    """n-gram shingles over whitespace words."""
    ws = F.split(F.trim(text), r"\s+")
    return F.when(F.size(ws) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j + 1) for j in range(n)]),
        )
    )


def chunk_array(arr: Column, size: int, overlap: int = 0) -> Column:
    """Split an array into fixed-size chunks with optional overlap — the
    context-windowing step for long documents (token arrays → training /
    embedding windows). The last chunk may be shorter; empty/NULL input
    yields an empty chunk list. Pure expression (sequence + slice), one row
    in → one row out, no shuffle."""
    if size <= 0:
        raise ValueError("size must be positive")
    if not 0 <= overlap < size:
        raise ValueError("overlap must satisfy 0 <= overlap < size")
    stride = size - overlap
    n = F.size(arr)
    # 1 chunk when n <= size; else 1 + ceil((n-size)/stride) — every chunk
    # past the first contributes at least one new element (no trailing
    # all-overlap chunk)
    extra = F.floor((n - F.lit(size) + F.lit(stride - 1)) / F.lit(stride))
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(extra + F.lit(1)).cast("int")
    # empty array<array<T>> derived from the input's own element type, so the
    # operator works for any element type (array<string>, array<struct>, ...)
    empty = F.slice(F.array(arr), 1, 0)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.slice(arr, i * F.lit(stride) + F.lit(1), F.lit(size)),
    )
    return F.when(n <= 0, empty).otherwise(chunks)
