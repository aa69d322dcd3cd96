"""Vector math over ``array<float>``/``array<double>`` embedding columns.

One builder, the fold form. ``dot(a, b)`` is

    aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
              -0.0D, (acc, t) -> acc + t)

parsed from one SQL text with one ``F.expr`` call; ``norm`` and
``cosine`` wrap the same text. Inputs are SQL expression strings: a
column name (``quote_col``), a lambda variable's field, or any array
expression such as ``array_lit`` of a driver-side constant vector.

Why the fold:

- *Compile cost.* The expression does not grow with the vector
  length. A sum unrolled per coordinate does: at 64 dimensions Janino
  compiles a 64-term method per score, 1–2 s of codegen on a cold
  read, where the fold is one loop.
- *Any vector length.* The fold reads every coordinate of whatever it
  is given, so no call site passes a length, and none can disagree
  with the data (score a prefix, or NULL every row past the end).
- *Bit identity.* The fold sums the products left to right, the same
  order as the left-associated chain ``p0 + p1 + … + p(n-1)`` and the
  DuckDB oracle. The seed is −0.0, the IEEE additive identity
  (−0.0 + x == x bit for bit for every x, ±0 included), so even an
  all-(−0.0) sum keeps its sign. ``CAST`` on an ``array<double>``
  element is a no-op that the optimizer drops.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EMBEDDING_DIM = 64  # driver testdata embedding dimension


def as_double(vec: Column) -> Column:
    """Promote array<float> → array<double> once per row, so a per-pair
    score does not re-cast each element."""
    return F.transform(vec, lambda x: x.cast("double"))


def as_double_sql(vec_sql: str) -> str:
    """SQL-text form of :func:`as_double`."""
    return f"transform({vec_sql}, x -> CAST(x AS DOUBLE))"


def quote_col(name: str) -> str:
    """A top-level column name as a backtick-quoted identifier (embedded
    backticks doubled), valid both in SQL text and as an ``F.col`` name.
    ``a.b`` names the column ``a.b``, never field ``b`` of struct ``a``."""
    return "`" + name.replace("`", "``") + "`"


def array_lit(consts) -> str:
    """SQL text of an ``array<double>`` literal holding ``consts`` (e.g.
    a centroid). repr() round-trips IEEE doubles exactly; the D suffix
    keeps each element DOUBLE (a bare decimal parses as DECIMAL)."""
    parts = []
    for c in consts:
        f = float(c)
        if not math.isfinite(f):
            raise ValueError(f"non-finite constant in array_lit: {c!r}")
        parts.append(repr(f) + "D")
    return f"array({', '.join(parts)})"


def dot_sql(a: str, b: str) -> str:
    """SQL text of the fold-form dot product (see the module note)."""
    return (
        f"aggregate(zip_with({a}, {b}, (_va, _vb) -> "
        "CAST(_va AS DOUBLE) * CAST(_vb AS DOUBLE)), "
        "-0.0D, (_acc, _t) -> _acc + _t)"
    )


def norm_sql(a: str) -> str:
    return f"SQRT({dot_sql(a, a)})"


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(norm_sql(a))


def cosine(a: str, b: str) -> Column:
    return F.expr(f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})")
