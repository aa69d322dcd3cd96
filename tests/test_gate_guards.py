"""Registry-level in-plan gate guards (plans/guards.py + the
_GATE_GUARDS wiring): a rows-only gate with a false pass-flag must
fail the driver's own collect, not just pytest."""

from __future__ import annotations

import atexit
import shutil
import tempfile
import types

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import SparkRuntimeException

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark import plans
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark import session as S
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.guards import (
    guard_passed,
)


def test_guard_is_value_and_schema_neutral_when_green(spark):
    df = spark.createDataFrame(
        [("a", 5, 0.9, True), ("b", 7, 0.8, True)],
        "strategy string, n bigint, recall double, passed boolean",
    )
    out = guard_passed(df, "passed", "n", label="t", ident_col="strategy")
    assert out.schema == df.schema
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
    # double ride column too
    out2 = guard_passed(df, "passed", "recall", label="t")
    assert out2.schema == df.schema
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, df.collect()))


def test_guard_raises_on_false_flag_naming_the_row(spark):
    df = spark.createDataFrame(
        [("good", 5, True), ("bad_row", 7, False)],
        "strategy string, n bigint, passed boolean",
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        guard_passed(
            df, "passed", "n", label="mygate", ident_col="strategy"
        ).collect()
    s = str(ei.value)
    assert "mygate: in-plan gate failed" in s and "bad_row" in s


def test_guard_multi_flag_and_missing_ride_col(spark):
    df = spark.createDataFrame(
        [(1, 2, True, True)], "a bigint, b bigint, f1 boolean, f2 boolean"
    )
    out = guard_passed(df, ["f1", "f2"], "b", label="t")
    assert [tuple(r) for r in out.collect()] == [(1, 2, True, True)]
    with pytest.raises(KeyError):
        guard_passed(df, "f1", "nope", label="t")


def test_registry_wires_guards_over_gate_queries(spark, sf_dir):
    reg = plans.all_queries()
    for name in plans._GATE_GUARDS:
        assert name in reg, f"guard entry for unknown query {name}"
        assert reg[name].__name__ == f"{name}_guarded"
    # one cheap end-to-end: the guarded gate still collects green and
    # its schema is the unguarded schema
    rows = reg["gk_quantile_gate"](spark, sf_dir).collect()
    assert rows and all(r["passed"] for r in rows)


# Queries that build index layouts or stage files in local scratch dirs
# and return lazy frames over them: each dir must be registered for
# removal at process exit (session.scratch_dir), or every registry run
# leaks its layouts.
SCRATCH_GATES = [
    "knn_ivf_filtered",
    "knn_ivfpq_filtered",
    "knn_ivf_filtered_recall",
    "purge_document_gate",
    "warc_roundtrip_docs",
    "domain_curation",
    "bm25_index_search",
]


@pytest.mark.parametrize("name", SCRATCH_GATES)
def test_gate_registers_scratch_dir_cleanup(spark, sf_dir, monkeypatch, name):
    made, registered = [], []

    def mkdtemp(**kw):
        made.append(tempfile.mkdtemp(**kw))
        return made[-1]

    def register(fn, *args, **kw):
        registered.append((fn, args))
        return atexit.register(fn, *args, **kw)

    monkeypatch.setattr(S, "tempfile", types.SimpleNamespace(mkdtemp=mkdtemp))
    monkeypatch.setattr(S, "atexit", types.SimpleNamespace(register=register))
    plans.all_queries()[name](spark, sf_dir)
    assert made, f"{name} made no scratch dir"
    assert all((shutil.rmtree, (d,)) in registered for d in made), (made, registered)
