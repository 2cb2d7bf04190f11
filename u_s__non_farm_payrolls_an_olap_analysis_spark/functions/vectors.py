"""Vector math over ARRAY<FLOAT> embedding columns — pure Catalyst
expressions (no Python in the hot path).

``F.zip_with`` + ``F.aggregate`` run inside codegen; accumulation is forced
to DOUBLE (cast each element before multiply) so the sequential fold is
bitwise-reproducible and matches DuckDB's ``list_dot_product`` over
``DOUBLE[]`` for oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin: dot/norms over DOUBLE[] (forces double accumulation)."""
    da, db = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    return (
        f"(list_dot_product({da}, {db}) / "
        f"(sqrt(list_dot_product({da}, {da})) * "
        f"sqrt(list_dot_product({db}, {db}))))"
    )


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with precomputed per-vector norms: ONE dot product per pair
    instead of three. On an all-pairs candidate set this is the difference
    between O(pairs) and O(3 x pairs) higher-order-function evaluations —
    a 3x cut of the dominant cost. Arithmetic structure (dot / (na * nb))
    is identical to :func:`cosine`, so results are bitwise-equal."""
    return dot(a, b) / (na * nb)
