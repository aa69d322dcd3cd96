"""The main correctness gate replica: every queries() entry with an
oracle must match DuckDB on the same parquet tables."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

from .oracle_harness import compare, duck_con

QUERY_NAMES = sorted(E.queries())
ORACLES = E.oracle_sql()


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(E.queries())


def test_gate_guard_keys_subset_of_queries():
    # all_queries() wraps a guard only for a registered name, so a guard
    # left behind by a retired or renamed gate would be dropped silently
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans import _GATE_GUARDS

    assert set(_GATE_GUARDS) <= set(E.queries())


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    fn = E.queries()[name]
    sdf = fn(spark, sf_dir)
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert sdf.count() >= 0
        return
    con = duck_con(sf_dir)
    oracle_pdf = con.sql(ORACLES[name]).df()
    problems = compare(sdf, oracle_pdf)
    assert not problems, f"{name}: " + "; ".join(problems)
