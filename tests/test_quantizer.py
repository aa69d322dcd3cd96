"""The coarse quantizer (operators/knn.py): one seeded fit, one cell
assignment shared by builds, upserts and inline searches, one probe
ranked by the assignment's own proxy, and no second k-means anywhere in
the package."""

from __future__ import annotations

import ast
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import ann_index
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import knn as KNN
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import pq_index

PACKAGE = "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _cells(spark, path: str) -> dict:
    return {
        int(r["vec_id"]): int(r["cell"])
        for r in spark.read.parquet(path).select("vec_id", "cell").collect()
    }


def test_fit_is_deterministic(emb):
    a = KNN.fit_centroids(emb, 8)
    b = KNN.fit_centroids(emb, 8)
    assert a.shape == (8, 64)
    assert np.array_equal(a, b)
    cells, cb = KNN.fit_centroids(emb, 8, pq=(8, 16))
    # one sample serves both parts: the cells equal the cells-only fit
    assert np.array_equal(cells, a)
    assert cb.shape == (8, 16, 8)


@pytest.mark.parametrize("n_cells", [8, 40])  # expression / Arrow kernel
def test_ivf_build_and_upsert_assign_the_same_cell(spark, emb, tmp_path, n_cells):
    path = str(tmp_path / "ivf")
    ann_index.build_ivf_index(emb, path, n_cells=n_cells)
    built = _cells(spark, path + "/vectors")
    info = ann_index.upsert_ivf_index(spark, path, emb.where("vec_id % 3 = 0"))
    assert info["added"] == 0 and info["replaced"] > 0
    assert _cells(spark, path + "/vectors") == built


def test_ivfpq_build_and_upsert_assign_the_same_cell(spark, emb, tmp_path):
    path = str(tmp_path / "ivfpq")
    pq_index.build_ivfpq_index(emb, path, n_cells=8, m=8, kc=16)
    built = _cells(spark, path + "/codes")
    info = pq_index.upsert_ivfpq_index(spark, path, emb.where("vec_id % 3 = 0"))
    assert info["added"] == 0 and info["replaced"] > 0
    assert _cells(spark, path + "/codes") == built


def _zero_and_empty_queries(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    zero = spark.createDataFrame(
        [(900001, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    return empty, zero


def test_ivf_searches_return_nothing_for_empty_or_zero_norm_queries(
    spark, emb, tmp_path
):
    path = str(tmp_path / "ivf")
    ann_index.build_ivf_index(emb, path, n_cells=4)
    for q in _zero_and_empty_queries(spark):
        assert KNN.knn_ivf(emb, q, k=3, n_clusters=4, nprobe=2).collect() == []
        assert ann_index.search_ivf_index(spark, path, q, k=3, nprobe=2).collect() == []


def test_nprobe_one_probes_the_stored_vectors_cell(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    ann_index.build_ivf_index(emb, path, n_cells=8)
    stored = _cells(spark, path + "/vectors")
    qu, qids = KNN._prep_queries(emb, "vec_id", "embedding")
    probe, _ = KNN._probe_df(spark, qu, qids, KNN.read_centroids(spark, path), 1)
    probed = {int(r["query_id"]): int(r["cell"]) for r in probe.collect()}
    assert probed == stored
    # end to end: every hit of an nprobe=1 search lies in the query's cell
    q = emb.where("vec_id < 5")
    hits = ann_index.search_ivf_index(spark, path, q, k=5, nprobe=1).collect()
    assert hits
    assert all(stored[r["neighbor_id"]] == stored[r["query_id"]] for r in hits)


def _is_lloyd_loop(loop: ast.AST) -> bool:
    """A loop that both assigns points (``argmin``) and moves centroids
    (``mean``): the shape of a Lloyd iteration."""
    attrs = {
        n.func.attr
        for n in ast.walk(loop)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    }
    return {"argmin", "mean"} <= attrs


def test_one_k_means_in_the_package():
    banned = ("KMeans", "clusterCenters", "pyspark.ml.clustering")
    found = []
    for dp, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            rel = os.path.relpath(path, ROOT)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            lloyd = set()
            if rel == os.path.join(PACKAGE, "operators", "knn.py"):
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name == "_lloyd":
                        lloyd = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                names = []
                if isinstance(node, ast.Name):
                    names = [node.id]
                elif isinstance(node, ast.Attribute):
                    names = [node.attr]
                elif isinstance(node, ast.alias):
                    names = [node.name]
                elif isinstance(node, ast.ImportFrom):
                    names = [node.module or ""]
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    names = [node.value] if "pyspark.ml.clustering" in node.value else []
                for name in names:
                    hit = [b for b in banned if b in name]
                    if hit:
                        found.append(f"{rel}:{node.lineno}: {hit[0]}")
                if (isinstance(node, (ast.For, ast.While))
                        and id(node) not in lloyd and _is_lloyd_loop(node)):
                    found.append(f"{rel}:{node.lineno}: Lloyd loop outside knn._lloyd")
    assert not found, "second k-means in the package:\n" + "\n".join(found)
