"""Metadata-filtered search on the persistent ANN layouts (r12 verdict
ask #3): the reference filters vector search by metadata
(backend/chroma_utils.py:161,250-253 ``where={"file_id": …}``);
previously only the exact brute-force path could filter. These tests
pin: filter semantics are top-k AMONG the filtered set, metadata
columns survive upserts/refits, and a batch missing a declared
metadata column fails loudly instead of silently dropping metadata.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.functions import vector as V
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.ann_index import (
    build_ivf_index,
    delete_ivf_ids,
    refit_ivf_index,
    search_ivf_index,
    upsert_ivf_index,
)
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.pq_index import (
    build_ivfpq_index,
    search_ivfpq_index,
    upsert_ivfpq_index,
)


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").where(
        V.norm("embedding") > 0
    )


def _brute_filtered(emb, n_queries=5, k=5, same_label=True, label=None):
    """Exact cosine top-k with the candidate filter applied before
    ranking — the ground truth both index paths must match in their
    exhaustive configurations."""
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        V.as_double("embedding").alias("qv"),
        V.norm("embedding").alias("qnorm"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        V.as_double("embedding").alias("cv"),
        V.norm("embedding").alias("cnorm"),
        F.col("label").alias("clabel"),
    )
    cond = F.col("query_id") != F.col("neighbor_id")
    if same_label:
        cond = cond & (F.col("qlabel") == F.col("clabel"))
    if label is not None:
        cond = cond & (F.col("clabel") == label)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        c.join(F.broadcast(q), cond)
        .withColumn(
            "score",
            V.dot("qv", "cv")
            / (F.col("qnorm") * F.col("cnorm")),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_ivf_match_cols_exhaustive_equals_exact(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_cells=4, meta_cols=("label",))
    queries = emb.where("vec_id < 5")
    got = search_ivf_index(
        spark, path, queries, k=5, nprobe=4, match_cols=("label",)
    ).select("query_id", "neighbor_id", "rank")
    want = _brute_filtered(emb, same_label=True)
    assert _rows(got) == _rows(want)


def test_ivf_static_where_equals_exact(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf_w")
    build_ivf_index(emb, path, n_cells=4, meta_cols=("label",))
    queries = emb.where("vec_id < 5")
    got = search_ivf_index(
        spark, path, queries, k=5, nprobe=4, where="label = 2"
    ).select("query_id", "neighbor_id", "rank")
    want = _brute_filtered(emb, same_label=False, label=2)
    assert _rows(got) == _rows(want)
    # and every returned neighbor really passes the predicate
    layout = spark.read.parquet(os.path.join(path, "vectors"))
    bad = (
        got.withColumnRenamed("neighbor_id", "vec_id")
        .join(layout.select("vec_id", "label"), "vec_id")
        .where("label != 2")
    )
    assert bad.count() == 0


def test_ivf_meta_survives_upsert_and_refit(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf_up")
    build_ivf_index(emb.where("vec_id < 300"), path, n_cells=4,
                    meta_cols=("label",))
    batch = emb.where("vec_id >= 300").select(
        "vec_id", "embedding", "label"
    ).localCheckpoint(eager=True)
    info = upsert_ivf_index(spark, path, batch)
    assert info["added"] > 0
    layout = spark.read.parquet(os.path.join(path, "vectors"))
    assert "label" in layout.columns
    # labels in the layout match the source for BOTH old and new rows
    mismatches = (
        layout.select("vec_id", F.col("label").alias("have"))
        .join(emb.select("vec_id", "label"), "vec_id")
        .where(F.col("have") != F.col("label"))
    )
    assert mismatches.count() == 0
    # filtered search sees upserted vectors too
    got = search_ivf_index(
        spark, path, emb.where("vec_id < 5"), k=5, nprobe=4,
        match_cols=("label",),
    ).select("query_id", "neighbor_id", "rank")
    assert _rows(got) == _rows(_brute_filtered(emb, same_label=True))
    # refit rebuilds the layout and the metadata rides through
    refit_ivf_index(spark, path, n_cells=4)
    assert "label" in spark.read.parquet(
        os.path.join(path, "vectors")
    ).columns
    # and delete still works on the meta-carrying layout
    assert delete_ivf_ids(spark, path, [300])["deleted"] == 1


def test_ivf_upsert_missing_meta_raises(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf_miss")
    build_ivf_index(emb.where("vec_id < 300"), path, n_cells=4,
                    meta_cols=("label",))
    batch = emb.where("vec_id >= 300").select("vec_id", "embedding")
    with pytest.raises(Exception, match="label"):
        upsert_ivf_index(spark, path, batch)


def test_ivfpq_static_where_equals_exact(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    n = emb.count()
    path = str(tmp_path / "ivfpq_w")
    build_ivfpq_index(emb, path, n_cells=4, m=8, kc=16,
                      meta_cols=("label",))
    queries = emb.where("vec_id < 5")
    got = search_ivfpq_index(
        spark, path, queries, emb, k=5, nprobe=4, shortlist=n,
        where="label = 3",
    ).select("query_id", "neighbor_id", "rank")
    want = _brute_filtered(emb, same_label=False, label=3)
    assert _rows(got) == _rows(want)


def test_ivfpq_meta_survives_upsert(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq_up")
    build_ivfpq_index(emb.where("vec_id < 300"), path, n_cells=4, m=8,
                      kc=16, meta_cols=("label",))
    batch = emb.where("vec_id >= 300").select(
        "vec_id", "embedding", "label"
    ).localCheckpoint(eager=True)
    info = upsert_ivfpq_index(spark, path, batch)
    assert info["added"] > 0
    codes = spark.read.parquet(os.path.join(path, "codes"))
    assert "label" in codes.columns
    mismatches = (
        codes.select("vec_id", F.col("label").alias("have"))
        .join(emb.select("vec_id", "label"), "vec_id")
        .where(F.col("have") != F.col("label"))
    )
    assert mismatches.count() == 0
    # the filtered search sees the upserted rows (full shortlist ⇒
    # exact among label-3 candidates over the WHOLE corpus)
    n = emb.count()
    got = search_ivfpq_index(
        spark, path, emb.where("vec_id < 5"), emb, k=5, nprobe=4,
        shortlist=n, where="label = 3",
    ).select("query_id", "neighbor_id", "rank")
    assert _rows(got) == _rows(_brute_filtered(emb, same_label=False, label=3))
