"""Vector math over ``array<float>`` embedding columns.

Two tiers:

- ``dot_fixed``/``norm_fixed``/``cosine_fixed`` — for a known dimension,
  a *flat left-associated* sum of ``a[i]*b[i]`` terms. This stays inside
  WholeStageCodegen (plain arithmetic, zero per-row allocations), unlike
  the higher-order-function tier below which allocates intermediate
  arrays per evaluation (zip_with result + accumulators) and thrashes GC
  on million-pair joins. Left association keeps the summation order
  identical to the sequential fold, so scores are bit-identical to the
  generic tier and to the DuckDB oracle.
- ``dot``/``norm``/``cosine`` — generic `zip_with` + `aggregate`
  expressions for unknown dimensions (still JVM-side, no Python).

The heavy k-NN paths additionally have a numpy ``mapInPandas`` variant
in ``operators/knn.py`` for matrix-batched scoring at cluster scale.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

EMBEDDING_DIM = 64  # driver testdata embedding dimension


def as_double(vec: Column) -> Column:
    """Promote array<float> → array<double> so score math matches the
    float64 oracle bit-for-bit (modulo summation order)."""
    return F.transform(vec, lambda x: x.cast("double"))


def as_double_sql(vec_sql: str) -> str:
    """SQL-text form of :func:`as_double` for the string-input fast
    path below (same transform/CAST expression, parsed in one call)."""
    return f"transform({vec_sql}, x -> CAST(x AS DOUBLE))"


# ---------------------------------------------------------------- generic (HOF)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# ------------------------------------------------------- fixed-dim (codegen)
#
# Each builder accepts its vector input either as a Column or as a SQL
# expression STRING (a column name or any valid SQL array<...> expr).
# The string form builds the whole flat expression as ONE SQL text and
# parses it with a single F.expr() round trip; the Column form issues
# one py4j call per element/multiply/add — ~4·dim socket round trips
# per dot product, which at dim=64 made PLAN CONSTRUCTION (not
# execution) the dominant cost of every vector query (measured r14:
# semantic_bfs_production spent 3.7 s of a 5.4 s wall inside these
# builders; guide §7.3 — planning time itself as the bottleneck). The
# parsed tree is the same expression: element_at is 1-based in both,
# `t1 + t2 + t3` parses LEFT-ASSOCIATED exactly like the reduce() fold,
# and CAST/literal nodes match — so every score is bit-identical.


def quote_col(name: str) -> str:
    """A top-level column name as a backtick-quoted identifier (embedded
    backticks doubled), valid both in SQL text and as an ``F.col`` name.
    ``a.b`` names the column ``a.b``, never field ``b`` of struct ``a``."""
    return "`" + name.replace("`", "``") + "`"


def _elem(vec: Column, i: int, cast: bool) -> Column:
    # element_at is 1-based
    e = F.element_at(vec, i + 1)
    return e.cast("double") if cast else e


def _elem_sql(vec_sql: str, i: int, cast: bool) -> str:
    e = f"element_at({vec_sql}, {i + 1})"
    return f"CAST({e} AS DOUBLE)" if cast else e


def _dlit_sql(c) -> str:
    # repr() round-trips IEEE doubles exactly; the D suffix makes the
    # SQL literal DOUBLE (a bare decimal would parse as DECIMAL)
    f = float(c)
    if not math.isfinite(f):
        raise ValueError(f"non-finite constant in dot_const: {c!r}")
    return repr(f) + "D"


def dot_fixed_sql(a_sql: str, b_sql: str, dim: int = EMBEDDING_DIM,
                  cast: bool = True) -> str:
    """SQL text of the flat left-associated dot product (see the tier
    note above) — compose into larger single-parse expressions."""
    return " + ".join(
        f"({_elem_sql(a_sql, i, cast)} * {_elem_sql(b_sql, i, cast)})"
        for i in range(dim)
    )


def dot_fixed(a, b, dim: int = EMBEDDING_DIM, cast: bool = True) -> Column:
    """Flat left-associated dot product. Pass ``cast=False`` when the
    arrays are already array<double> (pre-cast per row with
    ``as_double``) — halves the expression size, which matters both for
    Janino compile time and per-pair evaluation. String inputs take the
    one-parse fast path (see the tier note above)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_fixed_sql(a, b, dim, cast))
    terms = [_elem(a, i, cast) * _elem(b, i, cast) for i in range(dim)]
    # left-associated chain == sequential-fold summation order
    return reduce(lambda acc, t: acc + t, terms)


def norm_fixed(a, dim: int = EMBEDDING_DIM, cast: bool = True) -> Column:
    if isinstance(a, str):
        return F.expr(f"SQRT({dot_fixed_sql(a, a, dim, cast)})")
    return F.sqrt(dot_fixed(a, a, dim, cast))


def dot_const_sql(vec_sql: str, consts, cast: bool = True) -> str:
    """SQL text of the flat constant-vector dot product."""
    return " + ".join(
        f"({_elem_sql(vec_sql, i, cast)} * {_dlit_sql(c)})"
        for i, c in enumerate(consts)
    )


def dot_const(vec, consts, cast: bool = True) -> Column:
    """Flat dot product against a Python-side constant vector (e.g. a
    centroid): every c_i folds into the codegen as a literal — no
    array column, no HOF allocation. String input takes the one-parse
    fast path (see the tier note above)."""
    if isinstance(vec, str):
        return F.expr(dot_const_sql(vec, consts, cast))
    terms = [_elem(vec, i, cast) * F.lit(float(c)) for i, c in enumerate(consts)]
    return reduce(lambda acc, t: acc + t, terms)


def cosine_fixed(a, b, dim: int = EMBEDDING_DIM) -> Column:
    return dot_fixed(a, b, dim) / (norm_fixed(a, dim) * norm_fixed(b, dim))


def cosine_rounded(a: Column, b: Column, digits: int = 4) -> Column:
    from .exact import pround

    return pround(cosine(a, b), digits)
