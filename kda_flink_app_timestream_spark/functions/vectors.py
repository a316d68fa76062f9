"""Vector math over ``array<float>`` embedding columns — pure Catalyst
expressions (zip_with + aggregate fold), no UDF, no Python.

Arithmetic is done in DOUBLE with a sequential left fold, which matches
DuckDB's ``list_dot_product``/``list_cosine_similarity`` over
``DOUBLE[]`` bit-for-bit on the same input order — that is what makes
similarity queries oracle-checkable. (Float32 accumulation or reordered
reduction would drift in the last bits.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """``dot`` over columns named ``a``/``b`` (``dim`` kept for call-site
    compatibility; the fold is length-driven).

    History (r2→r3, measured at sf0.1): this USED to emit the dot as a
    fixed-dim ``element_at`` chain in one SQL string on the theory that
    unrolled arithmetic stays inside whole-stage codegen while
    higher-order functions fall back. Measurement says the opposite:
    at n_planes·dim ≳ 10³ terms the generated method fails Janino's
    64 KB limit (``Failed to compile the generated Java code`` logged
    and RE-ATTEMPTED every execution, ~2-3 s each), and even when it
    compiles, the huge method exceeds HotSpot's JIT threshold and runs
    in the bytecode interpreter — the 250k-pair re-rank ran 2× faster
    with the fold (1.8 s vs 3.4 s), and banded bucketing 10× faster
    (0.3 s vs 3 s). The fold produces the identical double sequence
    (``0.0 + x1 == x1``, left-assoc ``+`` ≡ sequential fold), so every
    DuckDB oracle is unaffected."""
    return dot(F.col(a), F.col(b))


def norm_unrolled(a: str, dim: int) -> Column:
    return F.sqrt(dot_unrolled(a, a, dim))
