"""Deterministic factor/weight initialization (SURVEY.md §2 B3, A5).

Reference: `matrix/factorization/utils/RangedRandomFactorInitializerDescriptor
(numFactors, rangeMin, rangeMax)` [C-med] draws per-id pseudo-random
vectors from a Scala RNG. Cross-engine reproducibility demands a pure
function of (id, dim, seed) instead: the Knuth multiplicative hash mapped
into [lo, hi). Both the Spark Column and the DuckDB SQL twin are derived
from the same constants, so factors match bit-for-bit and every
downstream dot/score is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashing import int_hash2, int_hash2_sql, unit_uniform, unit_uniform_sql


def factor_element(id_col: Column, j: Column, seed: int, lo: float, hi: float) -> Column:
    """value(id, j) = lo + hash(id, j, seed)/MOD * (hi - lo) — exact int64 math."""
    return F.lit(lo) + unit_uniform(int_hash2(id_col, j, seed)) * F.lit(hi - lo)


def factor_element_sql(id_expr: str, j_expr: str, seed: int, lo: float, hi: float) -> str:
    return f"({lo} + {unit_uniform_sql(int_hash2_sql(id_expr, j_expr, seed))} * {hi - lo})"


def factor_vector(id_col: Column | str, k: int, seed: int, lo: float = -0.1, hi: float = 0.1) -> Column:
    """array<double> of k deterministic factors for an id.

    Fast path: when ``id_col`` is a column NAME (or any SQL expression
    string), the whole vector is built as ONE parsed SQL expression —
    ~90x fewer py4j round-trips than composing the tree from Python
    (measured 60ms -> 0.7ms per vector), which matters for the epoch-loop
    trainers that construct dozens of these. Both paths produce the same
    Catalyst tree, so execution is identical.
    """
    if isinstance(id_col, str):
        elem = factor_element_sql(id_col, "j", seed, lo, hi)
        return F.expr(f"transform(sequence(0, {k - 1}), j -> {elem})")
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: factor_element(id_col, j, seed, lo, hi),
    )


def factor_vector_sql(id_expr: str, k: int, seed: int, lo: float = -0.1, hi: float = 0.1) -> str:
    return f"list_transform(range(0, {k}), j -> {factor_element_sql(id_expr, 'j', seed, lo, hi)})"
