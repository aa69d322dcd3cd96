"""Persistent IVF+PQ index: build-once layout, partition-pruned code
scans, search identical to the inline composition (same seeds), and
the compression property the index exists for."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import pq as PQ
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import pq_index as PI


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def index_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq_idx"))
    PI.build_ivfpq_index(emb, path, n_cells=8, m=8, kc=32)
    return path


def test_layout_is_cell_partitioned_and_compressed(index_path, emb, tmp_path):
    cells = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(index_path, "codes", "cell=*"))
    )
    assert len(cells) >= 2  # real partition directories
    # codes layout is materially smaller than the raw vectors it replaces
    raw = str(tmp_path / "raw")
    emb.write.parquet(raw)
    size = lambda d: sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    )
    assert size(os.path.join(index_path, "codes")) < 0.6 * size(raw)


def test_search_matches_inline_composition(spark, emb, index_path):
    q = emb.where("vec_id < 5")
    inline = PQ.knn_ivfpq(
        emb, q, k=5, n_clusters=8, nprobe=6, shortlist=150
    ).collect()
    indexed = PI.search_ivfpq_index(
        spark, index_path, q, emb, k=5, nprobe=6, shortlist=150
    ).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["score"], 9))
        for r in rows
    )
    assert key(indexed) == key(inline)  # same seeds → identical results


def test_search_scan_is_partition_pruned(spark, emb, index_path):
    q = emb.where("vec_id < 2")
    df = PI.search_ivfpq_index(
        spark, index_path, q, emb, k=3, nprobe=2, shortlist=20
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_roundtrip_codebooks(spark, index_path, emb):
    cb = PI.read_codebooks(spark, index_path)
    assert cb.shape == (8, 32, 8)
    again = PQ.fit_pq_codebooks(emb, m=8, k=32)
    import numpy as np

    assert np.allclose(cb, again)  # persisted == refit (seeded)


def test_upsert_replaces_moves_and_adds(spark, emb, tmp_path):
    path = str(tmp_path / "idx_upsert")
    PI.build_ivfpq_index(emb, path, n_cells=8, m=8, kc=32)

    # a brand-new id, an updated id (vector changed -> may move cells),
    # and zero-norm and NULL quarantine rows
    moved = emb.where("vec_id = 7").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    )
    new = spark.createDataFrame(
        [(999_999, [0.5] * 64), (999_998, [0.0] * 64), (999_997, None)],
        "vec_id long, embedding array<float>",
    )
    res = PI.upsert_ivfpq_index(spark, path, moved.unionByName(new))
    assert res["added"] == 1 and res["replaced"] == 1 and res["skipped"] == 2

    codes = spark.read.parquet(path + "/codes")
    assert codes.where("vec_id = 7").count() == 1   # no stale duplicate
    assert codes.where("vec_id = 999999").count() == 1
    assert codes.where("vec_id IN (999998, 999997)").count() == 0
    # total = original corpus + 1 added
    assert codes.count() == emb.count() + 1

    # the new id is findable: search with its own vector as the query
    q = spark.createDataFrame(
        [(999_999, [0.5] * 64)], "vec_id long, embedding array<float>"
    )
    raw = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame([(999_999, [0.5] * 64)],
                              "vec_id long, embedding array<float>")
    )
    hits = PI.search_ivfpq_index(
        spark, path, q, raw, k=3, nprobe=8, shortlist=50,
        exclude_self=False,
    ).collect()
    assert hits[0]["neighbor_id"] == 999_999  # finds itself, rank 1


def test_stream_fed_index_matches_batch_upsert(spark, emb, sf_dir, tmp_path):
    """Vectors arriving as a stream fold into the codes layout exactly
    like one batch upsert would."""
    path = str(tmp_path / "idx_stream")
    # build from the first half; stream in the rest
    PI.build_ivfpq_index(emb.where("vec_id < 250"), path, n_cells=8)
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.schemas import DRIVER_TABLES

    stream = (
        spark.readStream.schema(DRIVER_TABLES["embeddings"])
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .where("vec_id >= 250")
        .select("vec_id", "embedding")
    )
    q = PI.stream_ivfpq_index(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    codes = spark.read.parquet(path + "/codes")
    assert codes.count() == emb.count()
    assert codes.select("vec_id").distinct().count() == emb.count()


def test_upsert_clears_emptied_cell(spark, tmp_path):
    """A cell whose ONLY row moves to another cell must not keep its
    stale file — dynamic partition overwrite alone would (the written
    data contains no row for that cell), so the upsert explicitly
    clears emptied partitions."""
    import numpy as np

    base = spark.createDataFrame(
        [(1, [1.0] + [0.0] * 63), (2, [0.0, 1.0] + [0.0] * 62)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "idx_empty")
    PI.build_ivfpq_index(base, path, n_cells=2, m=8, kc=2)
    codes = spark.read.parquet(path + "/codes")
    cells_before = {r["cell"]: r["vec_id"] for r in codes.collect()}
    assert len(set(cells_before)) == 2  # one vector per cell

    # move vec 1 onto vec 2's direction → its old cell empties
    moved = spark.createDataFrame(
        [(1, [0.0, 1.0] + [0.0] * 62)], "vec_id long, embedding array<float>"
    )
    PI.upsert_ivfpq_index(spark, path, moved)
    after = spark.read.parquet(path + "/codes").collect()
    assert len(after) == 2                      # no stale third row
    assert sorted(r["vec_id"] for r in after) == [1, 2]
    assert len({r["cell"] for r in after}) == 1  # both in one cell now


def test_search_with_empty_queries(spark, emb, index_path):
    out = PI.search_ivfpq_index(
        spark, index_path, emb.where("vec_id < 0"), emb, k=3
    )
    assert out.count() == 0
    out2 = PQ.knn_ivfpq(emb, emb.where("vec_id < 0"), k=3)
    assert out2.count() == 0


def test_upsert_reports_adc_error_rising_under_drift(spark, emb, tmp_path):
    path = str(tmp_path / "drift_idx")
    PI.build_ivfpq_index(emb, path, n_cells=4, m=8, kc=32)

    # in-distribution batch: fresh ids, same vector population
    indist = emb.where("vec_id >= 5 AND vec_id < 55").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    r1 = PI.upsert_ivfpq_index(spark, path, indist)
    assert r1["mean_adc_error"] is not None and r1["mean_adc_error"] >= 0.0

    # distribution shift: vectors collapse onto (almost) one basis
    # direction — after the encoder's unit-normalization this is far
    # from the population the codebooks were fit on (measured: error
    # more than doubles vs the in-distribution batch)
    shifted = emb.where("vec_id >= 5 AND vec_id < 55").select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, F.lit(1.0))
            .otherwise(x * F.lit(0.01))
            .cast("float"),
        ).alias("embedding"),
    )
    r2 = PI.upsert_ivfpq_index(spark, path, shifted)
    # the refit signal: frozen codebooks reconstruct drifted vectors worse
    assert r2["mean_adc_error"] > r1["mean_adc_error"] * 1.5

    # empty batch keeps the field present (None)
    r3 = PI.upsert_ivfpq_index(
        spark, path, emb.where("vec_id < 0").select("vec_id", "embedding"),
    )
    assert r3["mean_adc_error"] is None


def test_auto_search_params_scale_with_corpus(spark, emb, index_path, tmp_path):
    # small corpus: the candidate-pool rule probes everything
    np_small, sl_small = PI.auto_search_params(spark, index_path, k=5)
    assert sl_small == 100
    n_cells = spark.read.parquet(index_path + "/centroids").count()
    assert np_small == n_cells  # exhaustive at fixture scale

    # 20x corpus (replicated ids): expected per-cell mass covers the
    # pool sooner, nprobe falls back toward the sqrt floor
    big = emb
    for i in range(1, 20):
        big = big.unionByName(
            emb.select((F.col("vec_id") + 100_000 * i).alias("vec_id"),
                       "embedding", *[c for c in emb.columns
                                      if c not in ("vec_id", "embedding")])
            .select(*emb.columns)
        )
    big_path = str(tmp_path / "big_idx")
    PI.build_ivfpq_index(big, big_path, n_cells=8, m=8, kc=32)
    np_big, sl_big = PI.auto_search_params(spark, big_path, k=5)
    assert sl_big == 100
    assert np_big < np_small
    assert np_big >= 3  # ceil(sqrt(8)) floor


def test_auto_params_keep_recall_gate(spark, emb, index_path):
    """Defaulted search must clear the same ≥0.7 recall bar as the
    tuned constants did (r7 verdict item 6's done-condition)."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import knn as KNN

    q = emb.where("vec_id < 5")
    exact = KNN.knn_exact_expr(emb, q, k=5)
    approx = PI.search_ivfpq_index(spark, index_path, q, emb, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, recall


def test_searcher_handle_matches_oneshot(spark, emb, index_path):
    """open-once/search-many (IvfPqSearcher) ≡ the one-shot function —
    cached driver artifacts must not change results — and repeated
    searches reuse the handle without re-reading codebooks."""
    s = PI.open_ivfpq_index(spark, index_path, emb)
    q1 = emb.where("vec_id < 5")
    q2 = emb.where("vec_id >= 5 AND vec_id < 8")
    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["score"], 9))
        for r in rows
    )
    assert key(s.search(q1, k=5).collect()) == key(
        PI.search_ivfpq_index(spark, index_path, q1, emb, k=5).collect()
    )
    assert key(s.search(q2, k=3).collect()) == key(
        PI.search_ivfpq_index(spark, index_path, q2, emb, k=3).collect()
    )
    assert s.auto_params(5) == PI.auto_search_params(spark, index_path, 5)
