"""Scores follow the vectors' own length. 16- and 128-dim corpora go
through the exact, IVF-PQ and MMR read paths and must give the NumPy
cosine answer; a builder that assumed 64 coordinates scored a prefix of
the 128-dim vectors and NULLed every 16-dim score."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import knn as KNN
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import mmr as MMR
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import pq_index as PQI
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import local_table

N, K, N_Q = 48, 5, 3


def _corpus(dim):
    rng = np.random.RandomState(dim)
    return rng.standard_normal((N, dim)).astype(np.float32).astype(np.float64)


def _frame(spark, mat, id_name="vec_id"):
    return local_table(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        f"{id_name} long, embedding array<float>",
    )


def _numpy_topk(mat, queries, k, exclude_self):
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qid, q in queries:
        s = unit @ (q / np.linalg.norm(q))
        order = [int(i) for i in np.argsort(-s, kind="stable") if not (exclude_self and i == qid)]
        out[qid] = [(i, float(s[i])) for i in order[:k]]
    return out


def _by_query(rows):
    got = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["score"]))
    return got


def _assert_same(got, want):
    assert sorted(got) == sorted(want)
    for qid, hits in want.items():
        assert [i for i, _ in got[qid]] == [i for i, _ in hits], qid
        for (_, a), (_, b) in zip(got[qid], hits):
            assert a == pytest.approx(b, abs=1e-12)


@pytest.mark.parametrize("dim", [16, 128])
def test_knn_exact_expr_any_dim(spark, dim):
    mat = _corpus(dim)
    vecs = _frame(spark, mat)
    got = _by_query(
        KNN.knn_exact_expr(vecs, vecs.where(f"vec_id < {N_Q}"), k=K).collect()
    )
    _assert_same(got, _numpy_topk(mat, [(q, mat[q]) for q in range(N_Q)], K, True))


@pytest.mark.parametrize("dim", [16, 128])
def test_ivfpq_search_any_dim(spark, tmp_path, dim):
    mat = _corpus(dim)
    vecs = _frame(spark, mat)
    PQI.build_ivfpq_index(vecs, str(tmp_path / "ivfpq"), n_cells=4, m=8, kc=8)
    searcher = PQI.open_ivfpq_index(spark, str(tmp_path / "ivfpq"), vecs)
    # every cell probed and a shortlist covering the corpus: the exact
    # re-rank decides, so the answer is the exact cosine top-k
    got = _by_query(
        searcher.search(
            vecs.where(f"vec_id < {N_Q}"), k=K, nprobe=4, shortlist=N
        ).collect()
    )
    _assert_same(got, _numpy_topk(mat, [(q, mat[q]) for q in range(N_Q)], K, True))


def _fold_cos(a, b):
    # the engine's summation order: a left fold over the coordinates
    dot = sum(float(x) * float(y) for x, y in zip(a, b))
    na = math.sqrt(sum(float(x) * float(x) for x in a))
    nb = math.sqrt(sum(float(y) * float(y) for y in b))
    return dot / (na * nb)


def _quant(x):
    return math.floor(x * MMR.SIM_SCALE + 0.5)


def _mmr_reference(mat, cands, k, lam):
    """Greedy MMR over one query's (id, score) candidates on the
    module's integer grid, ties to the lower id."""
    rel = {i: _quant(s) for i, s in cands}
    chosen = []
    while len(chosen) < min(k, len(cands)):
        best = None
        for i, _ in cands:
            if i in chosen:
                continue
            div = max(
                (_quant(_fold_cos(mat[i], mat[j])) for j in chosen),
                default=-2 * MMR.SIM_SCALE,
            )
            obj = lam * rel[i] - (1000 - lam) * div
            if best is None or obj > best[0] or (obj == best[0] and i < best[1]):
                best = (obj, i)
        chosen.append(best[1])
    return chosen


@pytest.mark.parametrize("dim", [16, 128])
def test_mmr_rerank_candidates_any_dim(spark, dim):
    mat = _corpus(dim)
    vecs = _frame(spark, mat)
    q = np.random.RandomState(dim + 1).standard_normal(dim)
    pool = sorted(
        ((i, _fold_cos(q, mat[i])) for i in range(N)), key=lambda t: (-t[1], t[0])
    )[:12]
    cands = local_table(
        spark, [(0, i, s) for i, s in pool], "query_id long, neighbor_id long, score double"
    )
    rows = MMR.mmr_rerank_candidates(cands, vecs, k=K, fetch_c=12).collect()
    got = [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == _mmr_reference(mat, pool, K, 500)
