"""Property/fuzz tests: the cross-engine rounding contract and splitter
invariants under random inputs (hypothesis)."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.splitter import (
    split_text,
)

# -- pround parity: the floor-based formula must agree between DuckDB and
# -- Python float semantics (same IEEE ops); Spark-side agreement is
# -- covered by the 60-query oracle gate, this fuzzes the formula itself.

_doubles = st.floats(
    min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
)


def _py_pround(x: float, d: int) -> float:
    import math

    p = 10 ** d
    return math.floor(x * p + 0.5) / p


@given(xs=st.lists(_doubles, min_size=1, max_size=50), d=st.integers(0, 6))
@settings(max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_pround_formula_cross_engine(xs, d):
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"x": xs}))
    p = 10 ** d
    duck = con.sql(f"SELECT floor(x * {p} + 0.5) / {p} AS r FROM t").df()["r"].tolist()
    py = [_py_pround(x, d) for x in xs]
    assert duck == py


# -- splitter invariants under random separator-rich text

_chunks_text = st.lists(
    st.sampled_from(["a", "bb", "word", " ", "\n", "\n\n", ".", "longtokenxyz"]),
    min_size=0,
    max_size=600,
).map("".join)


@given(text=_chunks_text, size=st.integers(20, 200), overlap=st.integers(0, 19))
@settings(max_examples=80, deadline=None)
def test_splitter_invariants_fuzz(text, size, overlap):
    chunks = split_text(text, size=size, overlap=overlap)
    if not text:
        assert chunks == []
        return
    assert chunks[0][1] == 0
    assert chunks[-1][2] == len(text)
    for c, s, e in chunks:
        assert text[s:e] == c
        assert 0 < e - s <= size
    for (_, s1, e1), (_, s2, e2) in zip(chunks, chunks[1:]):
        assert s2 > s1 and e2 > e1
        assert s2 <= e1              # no gaps
        assert e1 - s2 <= overlap    # bounded overlap


# -- interval-join grid math: the responsibility rule must emit every
# -- overlapping pair exactly once for ANY integer bounds and width
# -- (pure replica of operators/intervaljoin._buckets + owner rule)

_iv_bound = st.integers(min_value=0, max_value=5_000)


@given(
    left=st.lists(st.tuples(_iv_bound, st.integers(0, 400)), min_size=1, max_size=25),
    right=st.lists(st.tuples(_iv_bound, st.integers(0, 400)), min_size=1, max_size=25),
    width=st.integers(min_value=1, max_value=700),
)
@settings(max_examples=200, deadline=None)
def test_interval_grid_responsibility_exactly_once(left, right, width):
    left = [(s, s + d) for s, d in left]
    right = [(s, s + d) for s, d in right]

    def cells(s, e):
        return range(s // width, e // width + 1)

    emitted = {}
    for i, (ls, le) in enumerate(left):
        for j, (rs, re) in enumerate(right):
            owner = max(ls, rs) // width
            for c in cells(ls, le):
                if c in cells(rs, re) and ls <= re and rs <= le and c == owner:
                    emitted[(i, j)] = emitted.get((i, j), 0) + 1
    want = {
        (i, j)
        for i, (ls, le) in enumerate(left)
        for j, (rs, re) in enumerate(right)
        if ls <= re and rs <= le
    }
    assert set(emitted) == want
    assert all(v == 1 for v in emitted.values())


# -- GK summaries: ε rank bound must hold for any data shape, chunking
# -- and epsilon (pure-python pipeline; the Spark fold reuses it verbatim)

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import gk as _gk


@given(
    data=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=3000,
    ),
    chunk=st.integers(min_value=1, max_value=900),
    eps_pct=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_gk_pipeline_eps_bound_fuzz(data, chunk, eps_pct):
    import numpy as np

    eps = eps_pct / 100.0
    acc = []
    for i in range(0, len(data), chunk):
        block = np.sort(np.asarray(data[i : i + chunk], dtype=float))
        acc = _gk.compress(
            _gk.merge_two(acc, _gk.summarize_sorted(block, eps / 2)), eps / 2
        )
    n = len(data)
    assert _gk.total_count(acc) == n
    data_sorted = np.sort(np.asarray(data))
    for q in (0.0, 0.1, 0.5, 0.9, 1.0):
        target = max(1, int(-(-q * n // 1)))  # ceil
        ans = _gk.query(acc, q)
        lo = int(np.searchsorted(data_sorted, ans, side="left")) + 1
        hi = int(np.searchsorted(data_sorted, ans, side="right"))
        err = max(lo - target, target - hi, 0)
        assert err <= eps * n + 1, (q, ans, err)
