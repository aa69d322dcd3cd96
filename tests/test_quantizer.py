"""The coarse quantizer (operators/knn.py): one seeded fit, one
assignment kernel (cells, PQ codes and distortion) shared by builds,
upserts and inline searches, one probe ranked by the assignment's own
proxy, and no second k-means or argmin anywhere in the package."""

from __future__ import annotations

import ast
import hashlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import knn as KNN
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import pq as PQ
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


@pytest.mark.parametrize("n_cells", [8, 40])
def test_ivf_build_and_upsert_assign_the_same_cell(spark, emb, tmp_path, n_cells):
    # the inline IVF assignment (knn_ivf's with_cells) on the stored
    # centroids agrees with the cells the index build and upsert store
    path = str(tmp_path / "ivfpq")
    pq_index.build_ivfpq_index(emb, path, n_cells=n_cells, m=8, kc=16)
    inline = {
        int(r["vec_id"]): int(r["cell"])
        for r in KNN.with_cells(emb, KNN.read_centroids(spark, path))
        .select("vec_id", "cell")
        .collect()
    }
    assert _cells(spark, path + "/codes") == inline
    info = pq_index.upsert_ivfpq_index(spark, path, emb.where("vec_id % 3 = 0"))
    assert info["added"] == 0 and info["replaced"] > 0
    assert _cells(spark, path + "/codes") == inline


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
    path = str(tmp_path / "ivfpq")
    pq_index.build_ivfpq_index(emb, path, n_cells=4, m=8, kc=16)
    searcher = pq_index.open_ivfpq_index(spark, path, emb)
    for q in _zero_and_empty_queries(spark):
        assert KNN.knn_ivf(emb, q, k=3, n_clusters=4, nprobe=2).collect() == []
        assert searcher.search(q, k=3, nprobe=2).collect() == []


@pytest.mark.parametrize("n_cells", [8, 40])
def test_nprobe_one_probes_the_stored_vectors_cell(spark, emb, tmp_path, n_cells):
    path = str(tmp_path / "ivfpq")
    pq_index.build_ivfpq_index(emb, path, n_cells=n_cells, m=8, kc=16)
    stored = _cells(spark, path + "/codes")
    q = KNN._prep_queries(emb, "vec_id", "embedding")
    probe, _ = KNN._probe_df(spark, q, KNN.read_centroids(spark, path), 1)
    probed = {int(r["query_id"]): int(r["cell"]) for r in probe.collect()}
    assert probed == stored
    # end to end: every hit of an nprobe=1 search lies in the query's cell
    hits = pq_index.open_ivfpq_index(spark, path, emb).search(
        emb.where("vec_id < 5"), k=5, nprobe=1
    ).collect()
    assert hits
    assert all(stored[r["neighbor_id"]] == stored[r["query_id"]] for r in hits)


#: sha256 of the sorted (vec_id, cell) rows of ``with_cells`` at 8 and
#: 40 cells and of the (vec_id, codes, vnorm) rows of ``encode_pq``
#: (m=8, kc=16), frozen before the assignment became one kernel (then
#: 8 cells ran a Catalyst argmin, 40 cells an Arrow kernel and the
#: codes a pandas kernel); keyed by the test data set
_DIGESTS = {
    "sf0.001": (
        "91bc6ca000bcf488d23575aed56948f99f6eeae359fe580dee76115aae64f4e1",
        "2409ef2f230aec60555a7562ab8519ec7429fbf5ac052832043d56c0cb8a2197",
        "4bea73c6c684ba73fb0ee64acb4e545e309e714eb2fb249001bcc9534846de31",
    ),
    "sf0.01": (
        "48a6c9c5b33c3b1bc968656035ff5c936a432e075ae04f578567681f10f1c85e",
        "496d5737670e2e1efe37ed29515e267c929272ebe4e90de8e8f37d406cfcb119",
        "1de1414473837d82d1a8e1be9ce262dbc13cb1545f4b361912b858168c272be8",
    ),
}


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def test_assignment_matches_the_frozen_digests(emb, sf_dir):
    want = _DIGESTS.get(os.path.basename(os.path.normpath(sf_dir)))
    if want is None:
        pytest.skip(f"no frozen digests for {sf_dir}")
    got = []
    for n_cells in (8, 40):
        cells = KNN.with_cells(emb, KNN.fit_centroids(emb, n_cells))
        got.append(_digest(
            (r["vec_id"], r["cell"]) for r in cells.select("vec_id", "cell").collect()
        ))
    cb = PQ.fit_pq_codebooks(emb, m=8, k=16)
    got.append(_digest(
        (r["vec_id"], tuple(r["codes"]), r["vnorm"])
        for r in PQ.encode_pq(emb, cb).collect()
    ))
    assert tuple(got) == want


def test_kernel_matches_numpy_with_null_zero_norm_and_ties(spark):
    rng = np.random.default_rng(3)
    d, m, kc = 8, 2, 4
    cents = np.eye(d)[[2, 1, 0, 3]]  # cells 1 and 2 are e1 and e0
    cb = rng.standard_normal((m, kc, d // m))
    cb[:, 3] = cb[:, 1]  # codes 1 and 3 tie in every subspace
    vecs = [rng.standard_normal(d).tolist() for _ in range(20)]
    vecs += [None, [0.0] * d, [1.0, 1.0] + [0.0] * (d - 2)]  # last: e0/e1 tie
    vecs.append(np.concatenate([cb[0, 3], cb[1, 3]]).tolist())  # code tie
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r
        for r in KNN.quantize(df, "embedding", cents, cb).collect()
    }
    for i, v in enumerate(vecs):
        r = got[i]
        if v is None or not np.any(v):
            assert [r[c] for c in ("cell", "centroid_dist", "codes", "vnorm",
                                   "pq_error")] == [None] * 5
            continue
        x = np.asarray(v)
        u = x / np.linalg.norm(x)
        d2 = ((u[None, :] - cents) ** 2).sum(axis=1)
        assert r["cell"] == int(np.flatnonzero(np.isclose(d2, d2.min()))[0])
        assert np.isclose(r["centroid_dist"], np.sqrt(d2.min()))
        assert np.isclose(r["vnorm"], np.linalg.norm(x))
        err = 0.0
        for s in range(m):
            seg = u[s * (d // m) : (s + 1) * (d // m)]
            e2 = ((seg[None, :] - cb[s]) ** 2).sum(axis=1)
            assert r["codes"][s] == int(np.flatnonzero(np.isclose(e2, e2.min()))[0])
            err += e2.min()
        assert np.isclose(r["pq_error"], err)
    assert got[22]["cell"] == 1  # the e0/e1 tie goes to the lower cell
    assert got[23]["codes"] == [1, 1]  # the codebook tie to the lower code


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
    knn_py = os.path.join(PACKAGE, "operators", "knn.py")
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
            if rel == knn_py:
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
                if (isinstance(node, ast.Attribute) and node.attr == "argmin"
                        and rel != knn_py):
                    found.append(f"{rel}:{node.lineno}: argmin outside knn.py")
                if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                        and "array_min(" in node.value):
                    found.append(f"{rel}:{node.lineno}: array_min argmin text")
                if (isinstance(node, (ast.For, ast.While))
                        and id(node) not in lloyd and _is_lloyd_loop(node)):
                    found.append(f"{rel}:{node.lineno}: Lloyd loop outside knn._lloyd")
    assert not found, (
        "second k-means or assignment in the package:\n" + "\n".join(found)
    )
