"""Vector/array column expressions (embedding math without UDFs).

Dot products and cosines are built from zip_with + aggregate — JVM-side
higher-order functions with strictly sequential accumulation, which makes
them bitwise-reproducible and identical to DuckDB's list_dot_product /
list_cosine_similarity (verified in tests). For very wide vectors a Pandas
UDF over Arrow batches becomes faster; these built-ins win at 64-dim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; matches DuckDB list_cosine_similarity bitwise."""
    return dot(a, b) / (norm(a) * norm(b))


def gram_positions(tok: Column | str, n: int) -> Column:
    """1-based start positions for n-grams over a token array — guarded.

    ``F.sequence(1, size - (n-1))`` silently produces a DESCENDING
    sequence (``[1, 0]``) when ``size < n`` because Spark infers step
    -1 when start > stop, and ``element_at(tok, 0)`` then raises at
    runtime. DuckDB's ``generate_series(1, size - (n-1))`` yields an
    empty list instead. This helper matches the oracle: documents with
    fewer than ``n`` tokens contribute an empty position list, so the
    downstream explode drops them on both engines.
    """
    t = F.col(tok) if isinstance(tok, str) else tok
    return F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))


def word_trigrams(tok: str) -> Column:
    """The space-joined word 3-grams of token array column ``tok``, in
    position order; none under 3 tokens (gram_positions' guard)."""
    return F.transform(
        gram_positions(tok, 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(tok, i),
            F.element_at(tok, i + 1),
            F.element_at(tok, i + 2),
        ),
    )


def slice_trigrams(w: str) -> Column:
    """The same 3-grams as one SQL lambda over ``slice``: each kept
    start token is joined to the next two, and ``greatest(..., 0)``
    keeps a doc under 3 tokens to the empty slice (a plain size - 2
    would go negative)."""
    return F.expr(
        f"transform(slice({w}, 1, greatest(size({w}) - 2, 0)),"
        f" (x, i) -> concat(x, ' ', element_at({w}, i + 2),"
        f" ' ', element_at({w}, i + 3)))"
    )
