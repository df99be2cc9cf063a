"""Vector math as native Spark column expressions (JVM-side, codegen'd).

No Python UDFs: ``zip_with``/``aggregate``/``transform`` keep the whole
expression inside whole-stage codegen, which matters when the cosine kernel
runs over millions of candidate pairs (KNN self-join, SURVEY.md §2.3 J8).

Precision contract (shared with the DuckDB oracles): float arrays are cast
to double *before* any arithmetic, and similarity outputs are rounded to
6 decimals so cross-engine summation-order differences (~1e-16) can't flip
a hash compare or a top-k boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SIM_SCALE = 6  # decimals kept on any similarity/distance output


def as_double(arr: Column | str) -> Column:
    arr = F.col(arr) if isinstance(arr, str) else arr
    return arr.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic accumulation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def l2_normalize(a: Column) -> Column:
    n = l2_norm(a)
    return F.transform(a, lambda x: x / n)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (un-normalized inputs)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
