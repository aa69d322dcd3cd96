"""Exactly-once audit across every foreachBatch state maintainer:
foreachBatch is AT-LEAST-ONCE (a micro-batch can complete and the
offset commit still be lost), so each maintainer must tolerate a
replayed COMPLETED batch with bit-identical final state.

Maintainers and their mechanism:
- HLL rollup            epoch marker (tests/test_rollup.py)
- streaming heavy hitters  last_epoch skip (tests/test_stream_freq.py)
- IVF index stream      replace-by-id upsert (naturally idempotent)
- IVF+PQ index stream   replace-by-id upsert (naturally idempotent)
- BM25 index stream     doclens-membership anti-join (skip existing)
- incremental components  replayed edges condense to self-loops
- append landing zone   per-epoch overwrite subtree (sinks.append_epoch)
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table


def _vec_state(spark, path, sub):
    rows = spark.read.parquet(os.path.join(path, sub)).collect()
    return sorted(sorted(r.asDict().items()) for r in (row for row in rows))


def test_ivf_upsert_replay_is_idempotent(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.ann_index import (
        build_ivf_index,
        read_stats,
        upsert_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.where("vec_id < 400"), path, n_cells=4)
    batch = emb.where("vec_id >= 400").select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=True)

    info1 = upsert_ivf_index(spark, path, batch)
    state1 = _vec_state(spark, path, "vectors")
    stats1 = read_stats(spark, path)
    assert info1["added"] > 0

    # the redelivered (completed) batch
    info2 = upsert_ivf_index(spark, path, batch)
    assert info2["added"] == 0
    assert info2["replaced"] == info1["added"]
    assert _vec_state(spark, path, "vectors") == state1
    assert read_stats(spark, path) == stats1


def test_ivfpq_upsert_replay_is_idempotent(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.pq_index import (
        build_ivfpq_index,
        upsert_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb.where("vec_id < 400"), path, n_cells=4, m=8, kc=16)
    batch = emb.where("vec_id >= 400").select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=True)

    info1 = upsert_ivfpq_index(spark, path, batch)
    state1 = _vec_state(spark, path, "codes")
    assert info1["added"] > 0

    info2 = upsert_ivfpq_index(spark, path, batch)
    assert info2["added"] == 0
    assert _vec_state(spark, path, "codes") == state1


def test_bm25_upsert_replay_is_idempotent(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import (
        build_bm25_index,
        upsert_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25")
    build_bm25_index(docs.where("doc_id < 400"), path, n_buckets=8)
    batch = docs.where("doc_id >= 400").localCheckpoint(eager=True)

    r1 = upsert_bm25_index(spark, path, batch)
    postings1 = _vec_state(spark, path, "postings")
    doclens1 = _vec_state(spark, path, "doclens")
    assert r1["added"] > 0

    r2 = upsert_bm25_index(spark, path, batch)
    assert r2["added"] == 0
    assert r2["skipped"] == r1["added"]
    assert _vec_state(spark, path, "postings") == postings1
    assert _vec_state(spark, path, "doclens") == doclens1


def test_incremental_components_replay_is_idempotent(spark):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming.graph import (
        IncrementalComponents,
    )

    inc = IncrementalComponents()
    b1 = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    b2 = spark.createDataFrame([(2, 3), (10, 11)], "src long, dst long")
    inc.update(b1)
    inc.update(b2)
    labels1 = sorted((r.node, r.label) for r in inc.labels().collect())
    # redeliver the already-applied batch: every edge condenses to a
    # self-loop, the labeling must not move
    inc.update(b2)
    labels2 = sorted((r.node, r.label) for r in inc.labels().collect())
    assert labels1 == labels2


def test_append_epoch_replay_is_idempotent(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import sinks

    events = load_table(spark, sf_dir, "events").limit(200).localCheckpoint(
        eager=True
    )
    out = str(tmp_path / "land")
    sinks.append_epoch(events, out, 0)
    first = sorted(
        (r.event_id, r.ingest_epoch) for r in spark.read.parquet(out).collect()
    )
    assert len(first) == 200
    # replay epoch 0 (completed batch, lost commit): same subtree is
    # overwritten, not appended
    sinks.append_epoch(events, out, 0)
    again = sorted(
        (r.event_id, r.ingest_epoch) for r in spark.read.parquet(out).collect()
    )
    assert again == first
    # a genuinely new epoch lands additively
    sinks.append_epoch(events, out, 1)
    assert spark.read.parquet(out).count() == 400


def test_append_stream_end_to_end_still_lands_all_rows(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import sinks
    from tests.test_streaming import _stream_events

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = sinks.append_stream_foreachbatch(_stream_events(spark, sf_dir), out, ckpt)
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    assert written.count() == load_table(spark, sf_dir, "events").count()
    assert "ingest_epoch" in written.columns
    # date pruning still works above the epoch layer
    assert "event_date" in written.columns


def test_semdedup_state_replay_is_idempotent(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.knn import (
        fit_ivf_centroids,
    )
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.semdedup import (
        semdedup,
    )
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming.semdedup import (
        SemDedupState,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, cents = fit_ivf_centroids(emb, 4, "embedding")
    b1 = emb.where("vec_id < 250").localCheckpoint(eager=True)
    b2 = emb.where("vec_id >= 250").localCheckpoint(eager=True)

    st = SemDedupState(str(tmp_path / "sd"), cents, 0.3)
    assert st.apply_batch(b1, 0) is True
    assert st.apply_batch(b2, 1) is True
    dec1 = sorted(
        (r.vec_id, r.cell, r.kept) for r in st.decisions(spark).collect()
    )
    state_files = sorted(os.listdir(str(tmp_path / "sd")))

    # redeliver the COMPLETED epoch 1 (lost offset commit): pure skip,
    # bit-identical state and decisions
    assert st.apply_batch(b2, 1) is False
    assert sorted(os.listdir(str(tmp_path / "sd"))) == state_files
    dec2 = sorted(
        (r.vec_id, r.cell, r.kept) for r in st.decisions(spark).collect()
    )
    assert dec2 == dec1

    # crash-before-commit shape: a NEW epoch whose rows were all seen
    # before (replace-by-id upsert) adds no vectors and flips nothing
    assert st.apply_batch(b1, 2) is True
    dec3 = sorted(
        (r.vec_id, r.cell, r.kept) for r in st.decisions(spark).collect()
    )
    assert dec3 == dec1

    # and the maintained decisions equal the one-shot batch operator
    want = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in semdedup(
            emb, n_cells=4, threshold=0.3, order="id", centroids=cents
        ).collect()
    )
    assert dec1 == want


def test_semdedup_state_non_default_dim_and_intra_batch_dups(
    spark, sf_dir, tmp_path
):
    # regression (round-12 ADVICE): at dim=16 apply_batch's pair score
    # must read the vectors' own length — a 64-term dot over-read past
    # the truncated arrays, NULLing every score and silently dropping
    # all demotions (the fold-form builder has no dim to get wrong,
    # and this 16-dim data keeps checking it). Also: duplicate vec_ids
    # WITHIN one micro-batch (intra-epoch redelivery) must collapse
    # before pairing, or the self-pair filter hides the duplicate.
    from pyspark.sql import functions as F

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.knn import (
        fit_ivf_centroids,
    )
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.semdedup import (
        semdedup,
    )
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming.semdedup import (
        SemDedupState,
    )

    dim = 16
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.slice("embedding", 1, dim).alias("embedding"))
    )
    _, cents = fit_ivf_centroids(emb, 4, "embedding")
    cents = cents[:, :dim]
    b1 = emb.where("vec_id < 250").localCheckpoint(eager=True)
    # intra-batch duplicate ids: redeliver part of b2 inside b2 itself
    b2 = (
        emb.where("vec_id >= 250")
        .unionByName(emb.where("vec_id >= 400"))
        .localCheckpoint(eager=True)
    )

    st = SemDedupState(str(tmp_path / "sd16"), cents, 0.3)
    assert st.apply_batch(b1, 0) is True
    assert st.apply_batch(b2, 1) is True
    got = sorted(
        (r.vec_id, r.cell, r.kept) for r in st.decisions(spark).collect()
    )
    want = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in semdedup(
            emb, n_cells=4, threshold=0.3, order="id",
            centroids=cents,
        ).collect()
    )
    assert got == want
    # the non-default dim genuinely exercises demotions
    assert any(not kept for _, _, kept in got), "no demotions at dim=16"


def test_dsir_state_replay_is_idempotent(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.trainprep import (
        dsir_importance_sample,
    )
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming.dsir import (
        DsirState,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where("doc_id < 250").localCheckpoint(eager=True)
    # intra-batch duplicates + cross-epoch overlap with b1: counts must
    # never double-add
    b2 = (
        docs.where("doc_id >= 250")
        .unionByName(docs.where("doc_id >= 400"))
        .unionByName(docs.where("doc_id < 50"))
        .localCheckpoint(eager=True)
    )

    st = DsirState(str(tmp_path / "dsir"))
    assert st.apply_batch(b1, 0) is True
    assert st.apply_batch(b2, 1) is True
    cols = ["doc_id", "n_grams", "llr", "skey"]

    def rows(df):
        return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

    got1 = rows(st.sample(spark))
    state_files = sorted(os.listdir(str(tmp_path / "dsir")))

    # redeliver the COMPLETED epoch 1: pure skip, identical state
    assert st.apply_batch(b2, 1) is False
    assert sorted(os.listdir(str(tmp_path / "dsir"))) == state_files
    assert rows(st.sample(spark)) == got1

    # a NEW epoch of already-seen docs adds nothing (set-keyed state)
    assert st.apply_batch(b1, 2) is True
    assert rows(st.sample(spark)) == got1

    # and the maintained sample equals the one-shot batch operator
    assert got1 == rows(dsir_importance_sample(spark, sf_dir))
