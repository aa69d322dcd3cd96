"""k-NN strategies: numpy path ≡ expression path; IVF recall vs exact;
LSH join sanity."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import knn as KNN


def _exact(spark, sf_dir, k=5):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    return KNN.knn_exact_expr(emb, q, k=k).toPandas()


def test_numpy_matches_expression_path(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.where(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    qm = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    qids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    numpy_out = KNN.knn_bruteforce_numpy(emb, qm, qids, k=5).toPandas()
    exact_out = _exact(spark, sf_dir, k=5)
    a = {(r.query_id, r.neighbor_id, r.rank) for r in numpy_out.itertuples()}
    b = {(r.query_id, r.neighbor_id, r.rank) for r in exact_out.itertuples()}
    assert a == b
    # scores agree to float tolerance
    sa = numpy_out.sort_values(["query_id", "rank"])["score"].to_numpy()
    sb = exact_out.sort_values(["query_id", "rank"])["score"].to_numpy()
    assert np.allclose(sa, sb, atol=1e-9)


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = _exact(spark, sf_dir, k=5)
    approx = KNN.knn_ivf(emb, q, k=5, n_clusters=8, nprobe=3).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [
        len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets.index
    ]
    assert np.mean(recalls) >= 0.5, f"IVF recall too low: {recalls}"


def test_lsh_similarity_join_sanity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    small = emb.where(F.col("vec_id") < 100)
    out = KNN.lsh_similarity_join(small, small, threshold_cosine=0.2).toPandas()
    # self-pairs must exist with cosine ≈ 1
    selfs = out[out.id_a == out.id_b]
    assert len(selfs) > 0
    assert np.allclose(selfs["cosine"], 1.0, atol=1e-6)
    # reported cosine respects the threshold (allow lsh approximation slack)
    assert (out["cosine"] >= 0.2 - 1e-9).all()


def test_knn_ivf_recall_gate_passes(spark, sf_dir):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.pipeline import (
        knn_ivf_recall,
    )

    row = knn_ivf_recall(spark, sf_dir).first()
    assert row["passed"] is True, row.asDict()
    assert row["n_queries"] == 5


def test_exact_knn_over_backtick_column_name(spark, sf_dir):
    # the vector column is resolved both through F.col and through SQL
    # text; one quoting must serve both
    emb = load_table(spark, sf_dir, "embeddings")
    odd = emb.withColumnRenamed("embedding", "e`mb")
    q = emb.where(F.col("vec_id") < 5)
    oq = odd.where(F.col("vec_id") < 5)
    plain = KNN.knn_exact_expr(emb, q, k=5).collect()
    quoted = KNN.knn_exact_expr(
        odd, oq, k=5, vec_col="e`mb", query_vec_col="e`mb"
    ).collect()
    assert sorted(map(tuple, quoted)) == sorted(map(tuple, plain))
