"""Vector math over array<float> embedding columns — JVM-side higher-order
functions (zip_with + aggregate), no Python in the loop.

At 100 TB the rule is: brute-force cosine only against a BROADCAST side
(one query vector, or a small centroid table); all-pairs work goes through
LSH/IVF bucketing first (operators/similarity.py, operators/lsh.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product in double precision (sequential fold, index order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_norms(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """cosine(a, b) from precomputed norms, rounded to 4 decimals — the
    rounding absorbs the last-ulp association-order differences between
    engines, making similarity queries oracle-checkable. A zero norm gives
    NaN (an ANSI division would raise), which ranks greatest, as in the
    similarity kernels and the oracles' ``exact.cosine_duck``."""
    den = a_norm * b_norm
    return F.when(den == 0, F.lit(float("nan"))).otherwise(
        F.round(dot(a, b) / den, 4)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity rounded to 4 decimals (see ``cosine_norms``)."""
    return cosine_norms(a, b, norm(a), norm(b))


def cosine_pre(a: Column, b: Column, b_norm: Column) -> Column:
    """cosine(a, b) with b's norm PRECOMPUTED on the side that carries b.

    In the broadcast-query pattern (one query vector probed against the
    corpus) the naive cosine() re-folds norm(b) — a 64-element aggregate
    — once per corpus row even though b never changes; measured 1.6x on
    the sf0.1 retrieval leg. b_norm is the same double norm() produces
    and the product keeps the same operand order, so the result is
    IEEE-identical to cosine() and every oracle hash is unaffected."""
    return cosine_norms(a, b, norm(a), b_norm)
