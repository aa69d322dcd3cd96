"""Delete/purge propagation across the persistent retrieval layouts
(reference parity: POST /delete-doc removes a document from BOTH
stores — backend/main.py:443-486 SQLite + chroma_utils.py:174 Chroma;
the engine's ingest.delete_document covers catalog+chunks, and these
tests cover the two persistent index layouts: BM25 postings and IVF+PQ
codes).

The contract under test everywhere: after a delete, searches are
row-identical to an index that NEVER contained the victims — stats
(N, avgdl, df) re-derive from survivors, no stale posting/code
survives, emptied partitions don't serve stale files, and replays are
no-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import (
    Bm25Searcher,
    build_bm25_index,
    delete_bm25_docs,
    upsert_bm25_index,
)
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.pq_index import (
    build_ivfpq_index,
    delete_ivfpq_ids,
    search_ivfpq_index,
)

QUERIES = [("qa", "sort merge join"), ("qb", "fast table scan")]


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


# --------------------------------------------------------------- BM25


def test_bm25_delete_equals_fresh_build(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25")
    build_bm25_index(docs, path, n_buckets=8)

    # victims that MATTER: the top hit of each query must disappear and
    # every score (df, N, avgdl all shift) must re-derive
    top = Bm25Searcher(spark, path).search(QUERIES, k=1)
    victims = [int(r["doc_id"]) for r in top.collect()]
    assert victims

    info = delete_bm25_docs(spark, path, victims)
    assert info["deleted_docs"] == len(set(victims))
    assert info["deleted_postings"] > 0
    assert info["touched_buckets"]

    fresh_path = str(tmp_path / "bm25_fresh")
    survivors = docs.where(~F.col("doc_id").isin(victims))
    build_bm25_index(survivors, fresh_path, n_buckets=8)

    got = _rows(Bm25Searcher(spark, path).search(QUERIES, k=5))
    want = _rows(Bm25Searcher(spark, fresh_path).search(QUERIES, k=5))
    assert got == want
    for v in victims:
        assert not any(str(v) in row for row in got)

    # replay (idempotent): nothing moves
    info2 = delete_bm25_docs(spark, path, victims)
    assert info2["deleted_docs"] == 0
    assert info2["touched_buckets"] == []
    assert _rows(Bm25Searcher(spark, path).search(QUERIES, k=5)) == want


def test_bm25_delete_dataframe_ids_and_doclens(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25df")
    build_bm25_index(docs, path, n_buckets=4)
    n0 = spark.read.parquet(os.path.join(path, "doclens")).count()

    ids_df = docs.select("doc_id").where("doc_id % 7 = 0")
    n_victims = ids_df.count()
    info = delete_bm25_docs(spark, path, ids_df)
    assert info["deleted_docs"] == n_victims

    doclens = spark.read.parquet(os.path.join(path, "doclens"))
    assert doclens.count() == n0 - n_victims
    assert doclens.where("doc_id % 7 = 0").count() == 0
    postings = spark.read.parquet(os.path.join(path, "postings"))
    assert postings.where("doc_id % 7 = 0").count() == 0


def test_bm25_upsert_replace_equals_fresh_build(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "bm25rep")
    build_bm25_index(docs, path, n_buckets=8)

    # re-crawl: two docs change content (one gains the query terms),
    # one brand-new doc arrives
    changed = spark.createDataFrame(
        [
            (0, "sort merge join sort merge join fresh recrawl"),
            (1, "entirely different content now"),
            (10_000_000, "a brand new page about fast table scan"),
        ],
        "doc_id long, text string",
    )
    info = upsert_bm25_index(spark, path, changed, mode="replace")
    assert info["replaced"] == 2
    assert info["added"] == 1

    updated = docs.where(~F.col("doc_id").isin([0, 1])).unionByName(changed)
    fresh_path = str(tmp_path / "bm25rep_fresh")
    build_bm25_index(updated, fresh_path, n_buckets=8)

    got = _rows(Bm25Searcher(spark, path).search(QUERIES, k=10))
    want = _rows(Bm25Searcher(spark, fresh_path).search(QUERIES, k=10))
    assert got == want
    # no stale posting of the changed docs survives anywhere
    postings = spark.read.parquet(os.path.join(path, "postings"))
    assert (
        postings.where("doc_id IN (0, 1)")
        .join(
            spark.createDataFrame([("different",)], "term string"),
            "term",
            "left_semi",
        )
        .count()
        > 0
    )
    assert postings.where(
        (F.col("doc_id") == 1) & F.col("term").isin(["sort", "merge"])
    ).count() == 0


def test_bm25_upsert_skip_mode_unchanged(spark, sf_dir, tmp_path):
    # skip mode keeps its exactly-once anti-join semantics (the
    # streaming path depends on it)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "bm25skip")
    build_bm25_index(docs.where("doc_id < 300"), path, n_buckets=4)
    batch = docs.where("doc_id < 400").localCheckpoint(eager=True)
    r = upsert_bm25_index(spark, path, batch)  # default skip
    assert r["replaced"] == 0
    assert r["added"] == docs.where(
        "doc_id >= 300 and doc_id < 400"
    ).count()


# ------------------------------------------------------------- IVF+PQ


def test_ivfpq_delete_equals_fresh_build(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, n_cells=4, m=8, kc=16)

    queries = emb.where("vec_id < 3").localCheckpoint(eager=True)
    top = search_ivfpq_index(
        spark, path, queries, emb, k=1, nprobe=4, shortlist=n
    )
    victims = sorted({int(r["neighbor_id"]) for r in top.collect()})
    assert victims

    info = delete_ivfpq_ids(spark, path, victims)
    assert info["deleted"] == len(victims)
    codes = spark.read.parquet(os.path.join(path, "codes"))
    assert codes.join(
        spark.createDataFrame([(v,) for v in victims], "vec_id long"),
        "vec_id",
        "left_semi",
    ).count() == 0

    # full-shortlist search = exact re-rank over every surviving code:
    # quantizer differences between the two indexes cannot matter
    survivors = emb.where(~F.col("vec_id").isin(victims)).localCheckpoint(
        eager=True
    )
    fresh_path = str(tmp_path / "ivfpq_fresh")
    build_ivfpq_index(survivors, fresh_path, n_cells=4, m=8, kc=16)
    got = _rows(
        search_ivfpq_index(
            spark, path, queries, survivors, k=5, nprobe=4, shortlist=n
        )
    )
    want = _rows(
        search_ivfpq_index(
            spark, fresh_path, queries, survivors, k=5, nprobe=4,
            shortlist=n,
        )
    )
    assert got == want

    # replay is a no-op
    assert delete_ivfpq_ids(spark, path, victims)["deleted"] == 0


def test_ivfpq_delete_empties_whole_cell(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq_empty")
    build_ivfpq_index(emb, path, n_cells=4, m=8, kc=16)
    codes_path = os.path.join(path, "codes")
    cdf = spark.read.parquet(codes_path)
    n_before = cdf.count()  # captured BEFORE the delete: cdf's file
    # index snapshots pre-delete files and must not be re-evaluated
    cell = int(cdf.groupBy("cell").count().orderBy("count").first()["cell"])
    victims = [
        int(r["vec_id"]) for r in cdf.where(F.col("cell") == cell).collect()
    ]
    info = delete_ivfpq_ids(spark, path, victims)
    assert info["deleted"] == len(victims)
    after = spark.read.parquet(codes_path)
    # the emptied cell serves ZERO rows (stale files cleared), others
    # are untouched
    assert after.where(F.col("cell") == cell).count() == 0
    assert after.count() == n_before - len(victims)


# ------------------------------------------------- streaming deletes


def test_stream_deletes_exactly_once(spark, sf_dir, tmp_path):
    """The marker scheme, driven directly through DeleteStreamState
    (the foreachBatch body): a replayed COMPLETED epoch is skipped —
    which matters because a delete replayed AFTER the doc was
    re-added would wrongly kill the re-added copy."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming.index_deletes import (
        DeleteStreamState,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "bm25_sd")
    build_bm25_index(docs, path, n_buckets=4)

    state = DeleteStreamState(
        str(tmp_path / "del_state"),
        [lambda s, ids: delete_bm25_docs(s, path, ids)],
    )
    b0 = spark.createDataFrame([(0,), (1,)], "doc_id long")
    b1 = spark.createDataFrame([(2,)], "doc_id long")

    assert state.apply_batch(b0, 0) is True
    assert state.apply_batch(b1, 1) is True
    doclens = spark.read.parquet(os.path.join(path, "doclens"))
    assert doclens.where("doc_id IN (0, 1, 2)").count() == 0

    # docs 0 and 1 get re-added (re-crawl) AFTER their delete epoch
    upsert_bm25_index(
        spark, path, docs.where("doc_id IN (0, 1)"), mode="replace"
    )
    assert spark.read.parquet(os.path.join(path, "doclens")).where(
        "doc_id IN (0, 1)"
    ).count() == 2

    # the redelivered (completed) epoch 0 must be SKIPPED — otherwise
    # it would re-delete the re-added docs
    assert state.apply_batch(b0, 0) is False
    assert spark.read.parquet(os.path.join(path, "doclens")).where(
        "doc_id IN (0, 1)"
    ).count() == 2

    # end state equals a fresh build over the corpus minus doc 2
    fresh_path = str(tmp_path / "bm25_sd_fresh")
    build_bm25_index(docs.where("doc_id != 2"), fresh_path, n_buckets=4)
    got = _rows(Bm25Searcher(spark, path).search(QUERIES, k=5))
    want = _rows(Bm25Searcher(spark, fresh_path).search(QUERIES, k=5))
    assert got == want


def test_stream_deletes_end_to_end(spark, sf_dir, tmp_path):
    """Full Structured Streaming drive of stream_index_deletes over a
    rate-limited file source feeding TWO layouts at once (the
    reference's remove-from-both-stores contract)."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming.index_deletes import (
        stream_index_deletes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    bm25_path = str(tmp_path / "bm25_e2e")
    ivfpq_path = str(tmp_path / "ivfpq_e2e")
    build_bm25_index(docs, bm25_path, n_buckets=4)
    build_ivfpq_index(emb, ivfpq_path, n_cells=4, m=8, kc=16)

    req_dir = str(tmp_path / "reqs")
    victims = [0, 1, 2, 3]
    spark.createDataFrame(
        [(v,) for v in victims], "doc_id long"
    ).coalesce(1).write.parquet(req_dir)
    stream = spark.readStream.schema("doc_id long").parquet(req_dir)

    q = stream_index_deletes(
        stream,
        str(tmp_path / "e2e_state"),
        str(tmp_path / "e2e_ckpt"),
        [
            lambda s, ids: delete_bm25_docs(s, bm25_path, ids),
            lambda s, ids: delete_ivfpq_ids(s, ivfpq_path, ids),
        ],
    )
    q.awaitTermination(120)

    assert spark.read.parquet(os.path.join(bm25_path, "doclens")).where(
        F.col("doc_id").isin(victims)
    ).count() == 0
    assert spark.read.parquet(os.path.join(ivfpq_path, "codes")).where(
        F.col("vec_id").isin(victims)
    ).count() == 0


def test_purge_document_gate_all_pass(spark, sf_dir):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.pipeline import (
        purge_document_gate,
    )

    rows = purge_document_gate(spark, sf_dir).collect()
    assert len(rows) == 6
    assert all(r["passed"] for r in rows), [
        (r["check"], r["observed"], r["expected"])
        for r in rows
        if not r["passed"]
    ]
