"""Vector column expressions: dot product, norms, cosine similarity.

Pure built-in higher-order functions (``zip_with`` + ``aggregate``) — the
JVM evaluates these per-row inside codegen; no Python UDF, no Arrow hop.
Used by the similarity-search and embedding-dedup operators.

Floating-point parity: callers cast ``array<float>`` → ``array<double>``
before these (both Spark and the DuckDB oracle sum left-to-right in double).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — sequential left fold, double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_cast(a: Column, b: Column) -> Column:
    """``cosine(as_double(a), as_double(b))`` with both casts LET-BOUND.

    ``cosine`` references each argument from four HOF lambda positions
    (dot + two norms), and Catalyst re-evaluates a non-lambda-variable
    subtree at every reference — with inline casts, each 64-float array
    was converted to double ~4× per row. Binding the casts once keeps
    the arithmetic (and the summation order) bit-identical while paying
    the conversion once per side (r15; guide §1.2 step 2).
    """
    from cloudfloe_spark.functions.text import let

    return let(
        as_double(a), lambda ad: let(as_double(b), lambda bd: cosine(ad, bd))
    )
