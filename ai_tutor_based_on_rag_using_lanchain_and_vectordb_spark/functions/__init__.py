"""Column-expression library. Everything here returns pyspark Column
expressions built from pyspark.sql.functions — JVM-side, codegen-friendly,
no Python UDFs — so they inline into WholeStageCodegen spans.

Evaluate once: a lambda body (``transform``, ``aggregate``, ``filter``,
…) runs once per array element, and Catalyst does not eliminate common
subexpressions inside it. An outer expression the body references is
therefore recomputed for every element. Bind an expensive value with
:func:`bind` first and let the body use the bound variable.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` = ``value`` evaluated once per row.

    ``element_at(transform(array(value), body), 1)``: the one-element
    array hands ``value`` to ``body`` as a lambda variable, so every use
    of ``v`` inside ``body`` (and inside lambdas nested in it) reads the
    same evaluated value. A NULL ``value`` reaches ``body`` as NULL."""
    return F.element_at(F.transform(F.array(value), body), 1)
