"""Serve reads stay in the JVM. Over a tiny layout built here, the
lexical, IVF-PQ, exact and MMR reads must execute without a Python
worker: no pandas/Arrow Python node and no scan of a Python-side RDD in
any plan the read executes, its internal collects included. The IVF-PQ
read must also keep its partial WindowGroupLimit below the shuffle."""

from __future__ import annotations

import re

import numpy as np
import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import bm25 as B
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import knn as KNN
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import mmr as MMR
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import pq_index as PQI
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import local_table

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")
WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


@pytest.fixture(scope="module")
def layout(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("serve"))
    rng = np.random.RandomState(3)
    chunks = local_table(
        spark,
        [(i, " ".join(rng.choice(WORDS, 8))) for i in range(40)],
        "chunk_id long, page_content string",
    )
    vectors = local_table(
        spark,
        [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    B.build_bm25_index(chunks, f"{root}/bm25", id_col="chunk_id", text_col="page_content")
    PQI.build_ivfpq_index(vectors, f"{root}/ivfpq", n_cells=4, m=8, kc=8)
    return {
        "vectors": vectors,
        "bm25": B.Bm25Searcher(spark, f"{root}/bm25"),
        "ivfpq": PQI.open_ivfpq_index(spark, f"{root}/ivfpq", vectors),
        "queries": vectors.where("vec_id < 3"),
    }


def _executed_plans(spark, read) -> list[str]:
    """Physical plan descriptions of every SQL execution ``read()``
    starts (its own collects and the final one)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    seen = {e.executionId() for e in executions()}
    read()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]


def _node_args(plans: list[str], node: str) -> list[str]:
    """The ``Arguments:`` line of every ``node`` in the formatted plans'
    per-node detail blocks."""
    out = []
    for block in "\n\n".join(plans).split("\n\n"):
        if re.match(rf"\(\d+\) {node}\b", block.strip()):
            out += [ln for ln in block.splitlines() if ln.startswith("Arguments:")]
    return out


def _python_nodes(plan: str) -> list[str]:
    """Offending nodes: a Python evaluation node, or an ExistingRDD scan
    whose RDD is not a pin (a pin is a checkpointed JVM RDD; anything
    else is a Python-side RDD such as ``createDataFrame(list)``)."""
    bad = [ln.strip() for ln in plan.splitlines() if any(n in ln for n in PYTHON_NODES)]
    for args in _node_args([plan], "Scan ExistingRDD"):
        if not re.search(r" at (localCheckpoint|checkpoint) at ", args):
            bad.append("Scan ExistingRDD " + args)
    return bad


READS = {
    "Bm25Searcher.search": lambda L: L["bm25"].search(
        [("q0", "alpha beta"), ("q1", "gamma zeta")], k=3
    ),
    "IvfPqSearcher.search": lambda L: L["ivfpq"].search(
        L["queries"], k=3, nprobe=2, shortlist=10
    ),
    "knn_exact_expr": lambda L: KNN.knn_exact_expr(L["vectors"], L["queries"], k=5),
    "mmr_rerank_candidates": lambda L: MMR.mmr_rerank_candidates(
        KNN.knn_exact_expr(L["vectors"], L["queries"], k=8), L["vectors"], k=3, fetch_c=8
    ),
}


@pytest.mark.parametrize("op", sorted(READS))
def test_serve_read_runs_no_python(spark, layout, op):
    plans = _executed_plans(spark, lambda: READS[op](layout).collect())
    assert plans, f"{op}: no SQL execution recorded"
    for plan in plans:
        bad = _python_nodes(plan)
        assert not bad, f"{op} executes Python: " + "; ".join(bad)
    if op == "IvfPqSearcher.search":
        limits = _node_args(plans, "WindowGroupLimit")
        assert any(a.endswith("Partial") for a in limits), (
            f"{op}: no partial WindowGroupLimit below the shuffle: {limits}"
        )
