"""Evaluate once: the expression builders bind an expensive value before
the lambdas that use it (functions.bind), so the analyzed plan holds
each tokenizing ``split`` and each per-token hash exactly once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.functions import bind
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.functions.textstats import ws_tokens
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import dedup as DD
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import embed as EMB

# builder name → (Column builder over a text column, {plan substring: count})
BUILDERS = {
    "hashing_embedding": (
        EMB.hashing_embedding, {"xxhash64(": 2, "split(": 1},
    ),
    "ngrams": (lambda t: DD.ngrams(ws_tokens(t), 3), {"split(": 1}),
    "shingles_all_col": (DD.shingles_all_col, {"split(": 1}),
    "minhash_signature": (
        lambda t: DD.minhash_signature(DD.shingles_all_col(t, 3), 16),
        {"split(": 1},
    ),
}


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_builder_evaluates_each_subexpression_once(spark, name):
    """Reads the analyzed plan of one select; runs no Spark job."""
    build, want = BUILDERS[name]
    df = spark.range(1).select(F.lit("a b c").alias("text"))
    plan = df.select(build(F.col("text")).alias("out"))._jdf.queryExecution().analyzed().toString()
    got = {needle: plan.count(needle) for needle in want}
    assert got == want, f"{name}: analyzed plan holds {got}, want {want}"


def test_bind_evaluates_value_once(spark):
    row = spark.range(1).select(
        bind(F.rand(7), lambda x: F.array(x, x)).alias("pair"),
        bind(F.rand(7), lambda x: F.transform(F.sequence(F.lit(1), F.lit(4)), lambda _: x)).alias("bound"),
        F.transform(F.sequence(F.lit(1), F.lit(4)), lambda _: F.rand(7)).alias("unbound"),
    ).first()
    assert row["pair"][0] == row["pair"][1]
    assert len(set(row["bound"])) == 1
    # the rule bind exists for: an outer expression in a lambda body
    # runs once per element
    assert len(set(row["unbound"])) == 4


def test_bind_passes_null_to_body(spark):
    df = spark.createDataFrame([(1, None), (2, "a")], "id int, v string")
    got = df.select(
        "id", bind(F.col("v"), lambda x: F.when(x.isNull(), "null").otherwise(x)).alias("o")
    ).orderBy("id").collect()
    assert [r["o"] for r in got] == ["null", "a"]
