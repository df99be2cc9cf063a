"""Vector math as native Spark column expressions (JVM-side, codegen'd).

No Python UDFs: the kernels stay in the JVM. They are not codegen'd,
though: ``zip_with``/``aggregate``/``transform`` are ``CodegenFallback``
expressions in Spark 4.1, so they run interpreted and break the
whole-stage pipeline around them (see functions/blas.py and
operators/knn.py, whose Arrow kernels replay ``dot``'s fold where the
candidate pairs are many). Spelling ``dot`` out as a fixed-length sum
(``a[0]*b[0] + ... + a[63]*b[63]``) does not help either: on the IVF
re-rank its 64-term expression trees compiled slower, and the
``precompute_dist`` benchmark's ``run_s`` went from 16.8 s to 37 s on a
4-vCPU VM.

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
    """``a / ||a||`` with ``dot``'s fold, computed once per vector (the
    fold's finish step, not inside the division's lambda). A zero vector
    (or one with a null component) passes through unchanged: ANSI division
    would raise on its zero norm."""
    return F.aggregate(
        a,
        F.lit(0.0),
        lambda s, x: s + x * x,
        lambda s: F.transform(a, lambda x: F.when(s > 0, x / F.sqrt(s)).otherwise(x)),
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (un-normalized inputs)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
