"""Driver-visible self-check for the STREAMING surface (SURVEY §2.8,
ST1-ST5): the pytest suite proves stream ≡ batch per operator
(tests/test_streaming.py, test_stream_dedup.py, test_sinks.py), but
the driver's correctness gate never sees those runs. This gate runs
each streaming operator as a real availableNow Structured Streaming
query over the events fixture INSIDE the query, compares it to the
batch formulation of the same operator, and emits one pass-flag row
per operator (rows-only: a streaming drain isn't SQL-expressible).

Modeled on plans/pipeline.multimodal_gate (the media analog).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import _read_schema, ensure_nanos_conf, load_table
from ..session import local_table, pin, tune_for_oracle
from ..streaming import windows as W
from ..streaming.epochs import drain, start_foreach_batch


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream with the same nanos→timestamp
    normalization the batch loader applies (catalog.load_table)."""
    ensure_nanos_conf(spark)
    schema, nanos = _read_schema("events", f"{sf_dir}/events.parquet")
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    for c in nanos:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def _drain(spark: SparkSession, stream_df: DataFrame, mode: str):
    name = f"sg_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 300)
    return spark.table(name)


def _rows(df: DataFrame, cols) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def streaming_equivalence_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per streaming operator: the availableNow stream drain
    must produce exactly the batch operator's rows.

    - ST1 rate-limit alerts (sliding window count, complete mode)
    - ST2 session expiry (session_window, complete mode)
    - ST3 active-user gauge (sliding window + HLL distinct — the HLL
      merge is associative, so incremental state equals the batch pass)
    - ST4 retention (watermark eviction: append-mode daily counts emit
      exactly the windows the end-of-stream watermark finalized ≡ batch
      windows ending before max(ts) - horizon)
    - ST5 continuous-ingest dedup (dropDuplicatesWithinWatermark ≡
      batch dropDuplicates on the fixture, whose duplicates are close
      in event time)
    - stream-stream interval join (click→purchase attribution)
    - ST7 streaming heavy hitters (incremental Misra-Gries + exact
      recount ≡ the batch two-pass operator)
    - ST8 streaming BM25 index maintenance (foreachBatch build/upsert
      ≡ one-shot direct search)
    - ST9 streaming KMV sketch (incremental merges ≡ one-shot sketch,
      strict equality)
    """
    tune_for_oracle(spark)
    batch_events = load_table(spark, sf_dir, "events")
    results = []

    def check(op: str, stream_df: DataFrame, mode: str, batch_df: DataFrame,
              cols) -> None:
        got = _rows(_drain(spark, stream_df, mode), cols)
        want = _rows(batch_df, cols)
        results.append((op, len(got), len(want), got == want))

    stream = _stream_events(spark, sf_dir)

    check(
        "st1_rate_limit",
        W.rate_limit_alerts(stream, threshold=2),
        "complete",
        W.rate_limit_alerts(batch_events, threshold=2),
        ["user_id", "window_start", "window_end", "n_req"],
    )
    check(
        "st2_session_expiry",
        W.session_expiry(stream, gap="60 minutes", watermark="61 minutes"),
        "complete",
        W.session_expiry(batch_events, gap="60 minutes"),
        ["user_id", "session_start", "n_events"],
    )
    check(
        "st3_active_gauge",
        W.active_users_gauge(stream),
        "complete",
        W.active_users_gauge(batch_events),
        ["window_start", "active_users"],
    )
    # ST4: watermark-driven eviction. In append mode the availableNow
    # drain emits exactly the daily windows whose end precedes the
    # final watermark (max ts - horizon) — the batch filter re-derives
    # that set from the same anchor.
    horizon = "1 day"
    daily = F.window("ts", "1 day").alias("w")
    st4_stream = (
        W.retention_filter(stream, horizon=horizon)
        .groupBy(daily)
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("day"), "n")
    )
    anchor = batch_events.agg(
        (F.max("ts") - F.expr(f"INTERVAL {horizon}")).alias("_wm")
    )
    st4_batch = (
        batch_events.groupBy(daily)
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(anchor))
        .where(F.col("w.end") <= F.col("_wm"))
        .select(F.col("w.start").alias("day"), "n")
    )
    check("st4_retention_eviction", st4_stream, "append", st4_batch,
          ["day", "n"])
    check(
        "st5_ingest_dedup",
        W.dedup_stream(stream, keys=("event_id",), watermark="365 days"),
        "append",
        W.dedup_stream(batch_events, keys=("event_id",)),
        ["event_id"],
    )
    check(
        "join_attribution",
        W.click_purchase_attribution(stream),
        "append",
        W.click_purchase_attribution(batch_events),
        ["user_id", "click_id", "purchase_id"],
    )

    # Streaming heavy hitters: incremental Misra-Gries state over the
    # drained stream + exact candidate recount against the stored
    # corpus must equal the batch two-pass operator exactly.
    from ..operators.freq import heavy_hitters
    from ..streaming.freq import finalize_exact, run_heavy_hitters_stream

    hh_state = run_heavy_hitters_stream(
        _stream_events(spark, sf_dir).select("user_id"), "user_id", 0.008
    )
    hh_got = _rows(
        finalize_exact(batch_events, "user_id", 0.008, hh_state),
        ["user_id", "cnt"],
    )
    hh_want = _rows(
        heavy_hitters(batch_events, "user_id", 0.008), ["user_id", "cnt"]
    )
    results.append(
        ("st7_heavy_hitters", len(hh_got), len(hh_want), hh_got == hh_want)
    )

    # Streaming BM25 index maintenance: documents streamed through
    # foreachBatch (build on the first batch, upsert after) must yield
    # an index whose bucket-pruned search equals the one-shot direct
    # search — exact by construction (postings and doc lengths are
    # doc-local; corpus stats derive from doclens at open).
    import tempfile

    from ..operators.bm25 import (
        Bm25Searcher,
        bm25_search,
        build_bm25_index,
        upsert_bm25_index,
    )
    from .documents import BM25_QUERIES

    dschema, dnanos = _read_schema("documents", f"{sf_dir}/documents.parquet")
    doc_stream = (
        spark.readStream.schema(dschema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    for c in dnanos:
        doc_stream = doc_stream.withColumn(
            c, F.expr(f"timestamp_micros({c} div 1000)")
        )
    idx_path = tempfile.mkdtemp(prefix="sg_bm25_")
    state = {"built": False}

    def feed(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        if not state["built"]:
            build_bm25_index(batch_df, idx_path)
            state["built"] = True
        else:
            upsert_bm25_index(batch_df.sparkSession, idx_path, batch_df)

    drain(start_foreach_batch(doc_stream, feed), 300)
    cols = ["query_id", "doc_id", "rank", "score"]
    bm_got = _rows(Bm25Searcher(spark, idx_path).search(BM25_QUERIES, k=5), cols)
    bm_want = _rows(
        bm25_search(spark, load_table(spark, sf_dir, "documents"),
                    BM25_QUERIES, k=5),
        cols,
    )
    results.append(
        ("st8_bm25_index", len(bm_got), len(bm_want), bm_got == bm_want)
    )

    # Streaming KMV distinct sketch: per-micro-batch sketches merged
    # incrementally must equal the one-shot batch sketch EXACTLY
    # (merge(kmv(A), kmv(B)) == kmv(A ∪ B) — the k smallest distinct
    # hashes of a union are determined by the per-side k smallest).
    from ..operators.kmv import kmv_merge, kmv_sketch

    kmv_state: dict = {"sketch": None}

    def feed_kmv(batch_df: DataFrame, _epoch: int) -> None:
        sk = kmv_sketch(batch_df.select("user_id"), "user_id", 256)
        merged = (
            sk
            if kmv_state["sketch"] is None
            else kmv_merge(kmv_state["sketch"], sk, 256)
        )
        kmv_state["sketch"] = pin(merged, eager=True)

    q = start_foreach_batch(
        _stream_events(spark, sf_dir).select("user_id"), feed_kmv
    )
    drain(q, 300)
    kmv_got = _rows(kmv_state["sketch"], ["uk"]) if kmv_state["sketch"] is not None else []
    kmv_want = _rows(kmv_sketch(batch_events, "user_id", 256), ["uk"])
    results.append(
        ("st9_kmv_sketch", len(kmv_got), len(kmv_want), kmv_got == kmv_want)
    )

    # Streaming Count-Min sketch: counter addition is associative, so
    # per-micro-batch sketches merged incrementally must equal the
    # one-shot batch sketch EXACTLY, counter for counter.
    from ..operators.cms import cms_build, cms_merge

    cms_state: dict = {"sketch": None}

    def feed_cms(batch_df: DataFrame, _epoch: int) -> None:
        sk = cms_build(batch_df, "user_id", width=256, depth=4)
        merged = (
            sk
            if cms_state["sketch"] is None
            else cms_merge(cms_state["sketch"], sk)
        )
        cms_state["sketch"] = pin(merged, eager=True)

    q = start_foreach_batch(
        _stream_events(spark, sf_dir).select("user_id"), feed_cms
    )
    drain(q, 300)
    cms_cols = ["row", "bucket", "cnt"]
    cms_got = (
        _rows(cms_state["sketch"], cms_cols)
        if cms_state["sketch"] is not None
        else []
    )
    cms_want = _rows(cms_build(batch_events, "user_id", 256, 4), cms_cols)
    results.append(
        ("st10_cms_sketch", len(cms_got), len(cms_want), cms_got == cms_want)
    )

    # Streaming GK quantile summary: unlike KMV/CMS the merge is not
    # grouping-invariant (different batch splits give different — but
    # equally VALID — summaries), so the equivalence criterion is the
    # operator's actual contract: the stream-built summary must (a)
    # account for exactly the batch row count and (b) answer every
    # probe quantile within ε·n of the TRUE batch rank.
    from ..operators import gk as GK

    gk_eps = 0.02
    gk_state: dict = {"entries": []}

    def feed_gk(batch_df: DataFrame, _epoch: int) -> None:
        rows = GK.gk_sketch(batch_df.select("value"), "value", gk_eps).collect()
        entries = sorted((r["v"], r["g"], r["delta"]) for r in rows)
        gk_state["entries"] = GK.compress(
            GK.merge_two(gk_state["entries"], entries), gk_eps / 2
        )

    q = start_foreach_batch(
        _stream_events(spark, sf_dir).select("value"), feed_gk
    )
    drain(q, 300)
    gk_entries = gk_state["entries"]
    gk_n = GK.total_count(gk_entries)
    gk_vals = batch_events.select("value").where(F.col("value").isNotNull())
    gk_n_batch = gk_vals.count()
    gk_ok = gk_n == gk_n_batch
    if gk_ok:
        import math

        for prob in (0.05, 0.25, 0.5, 0.75, 0.95):
            ans = GK.query(gk_entries, prob)
            r_hi = gk_vals.where(F.col("value") <= ans).count()
            r_lo = gk_vals.where(F.col("value") < ans).count()
            target = max(1, int(math.ceil(prob * gk_n_batch)))
            err = max(r_lo + 1 - target, target - r_hi, 0)
            if err > gk_eps * gk_n_batch + 1:
                gk_ok = False
                break
    results.append(("st11_gk_quantiles", gk_n, gk_n_batch, gk_ok))

    # Incremental connected components: edge batches (user ↔ value
    # bucket bipartite graph) condensed through the live labeling must
    # end at EXACTLY the one-shot batch labeling — min-labels are
    # associative, so stream order must not matter (multi-batch order
    # permutations are pinned in tests/test_stream_components.py).
    from ..streaming.graph import IncrementalComponents

    inc_cc = IncrementalComponents()

    def feed_cc(batch_df: DataFrame, _epoch: int) -> None:
        inc_cc.update(_cc_edges(batch_df))

    q = start_foreach_batch(
        _stream_events(spark, sf_dir).select("user_id", "value"), feed_cc
    )
    drain(q, 300)
    cc_cols = ["node", "label"]
    cc_got = (
        _rows(inc_cc.labels(), cc_cols) if inc_cc.labels() is not None else []
    )
    cc_want = _rows(
        connected_components_gate_batch(batch_events), cc_cols
    )
    results.append(
        ("st12_incremental_components", len(cc_got), len(cc_want),
         cc_got == cc_want)
    )

    # st13: history-gated bloom dedup — the streamed novel-document set
    # must equal the batch first-occurrence dedup (smallest doc_id per
    # text), whatever the arrival batching. State is the versioned
    # bloom sketch + per-epoch key log (streaming/bloomdedup.py).
    import shutil
    import tempfile

    from ..operators.bloom import bloom_params
    from ..streaming.bloomdedup import stream_bloom_dedup

    docs_batch = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bd_dir = tempfile.mkdtemp(prefix="st13_bloom_")
    try:
        src = os.path.join(bd_dir, "src")
        docs_batch.repartition(4).write.parquet(src)
        doc_stream = (
            spark.readStream.schema(docs_batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        m_bits, k_hashes = bloom_params(max(docs_batch.count(), 1), 0.03)
        novel_acc: list = []

        def bd_sink(novel: DataFrame, _epoch: int) -> None:
            novel_acc.extend((r.text, r.doc_id) for r in novel.collect())

        qbd = stream_bloom_dedup(
            doc_stream, "text", os.path.join(bd_dir, "state"),
            os.path.join(bd_dir, "ckpt"), m_bits, k_hashes, bd_sink,
        )
        drain(qbd, 300)
        # batch truth compares TEXT SETS: within one micro-batch the
        # surviving doc_id per duplicate text is arbitrary (matches
        # dropDuplicates semantics), across batches first-epoch wins
        bd_got = sorted(t for t, _ in novel_acc)
        bd_want = sorted(
            r.text for r in docs_batch.dropDuplicates(["text"]).collect()
        )
        results.append(
            ("st13_bloom_dedup", len(bd_got), len(bd_want), bd_got == bd_want)
        )
    finally:
        shutil.rmtree(bd_dir, ignore_errors=True)

    # st14: streaming covariance maintenance — per-micro-batch integer
    # second-moment partials (operators/covariance.py) merged by plain
    # addition. Integer sums are associative and the quantization is
    # per-row, so the stream-folded moments must equal the one-shot
    # batch moments EXACTLY, entry for entry — the strongest possible
    # stream≡batch criterion (same class as st9/st10).
    from ..operators.covariance import second_moments

    emb_batch = load_table(spark, sf_dir, "embeddings").select("embedding")
    cov_dir = tempfile.mkdtemp(prefix="st14_cov_")
    try:
        # split the source into 4 files + maxFilesPerTrigger=1 so the
        # fold really merges across micro-batches (the st13 pattern);
        # one availableNow batch would make stream ≡ batch a tautology
        cov_src = os.path.join(cov_dir, "src")
        emb_batch.repartition(4).write.parquet(cov_src)
        emb_stream = (
            spark.readStream.schema(emb_batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(cov_src)
        )
        cov_state: dict = {"m": None, "batches": 0}

        def feed_cov(batch_df: DataFrame, _epoch: int) -> None:
            if batch_df.isEmpty():
                return
            part = second_moments(batch_df, "embedding")
            merged = (
                part
                if cov_state["m"] is None
                else cov_state["m"]
                .unionByName(part)
                .groupBy("i", "j")
                .agg(F.sum("s").alias("s"), F.sum("n_rows").alias("n_rows"))
            )
            cov_state["m"] = pin(merged, eager=True)
            cov_state["batches"] += 1

        drain(start_foreach_batch(emb_stream, feed_cov), 300)
        cov_cols = ["i", "j", "s", "n_rows"]
        cov_got = (
            _rows(cov_state["m"], cov_cols) if cov_state["m"] is not None else []
        )
        cov_want = _rows(second_moments(emb_batch, "embedding"), cov_cols)
        results.append(
            ("st14_covariance_moments", len(cov_got), len(cov_want),
             cov_got == cov_want and cov_state["batches"] >= 2)
        )
    finally:
        shutil.rmtree(cov_dir, ignore_errors=True)

    # st15: incremental aggregate-VIEW maintenance — the materialized
    # per-user spend view folded by per-micro-batch delta aggregation
    # (union + re-aggregate, the insert-only IVM rule). Decimal sums
    # are exact and associative, so the maintained view must equal the
    # one-shot batch aggregate EXACTLY, row for row.
    view_state: dict = {"v": None, "batches": 0}

    def _view_agg(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col("value").isNotNull())
            .groupBy("user_id")
            .agg(
                F.sum(F.col("value").cast("decimal(28,6)")).alias("total"),
                F.count("*").alias("n"),
            )
        )

    def feed_view(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        delta = _view_agg(batch_df)
        merged = (
            delta
            if view_state["v"] is None
            else view_state["v"]
            .unionByName(delta)
            .groupBy("user_id")
            .agg(F.sum("total").alias("total"), F.sum("n").alias("n"))
        )
        view_state["v"] = pin(merged, eager=True)
        view_state["batches"] += 1

    ev_src_batch = batch_events.select("user_id", "value")
    view_dir = tempfile.mkdtemp(prefix="st15_view_")
    try:
        # multi-file source + maxFilesPerTrigger=1: the delta merge must
        # actually run across micro-batches (the st13/st14 pattern)
        view_src = os.path.join(view_dir, "src")
        ev_src_batch.repartition(4).write.parquet(view_src)
        ev_stream = (
            spark.readStream.schema(ev_src_batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(view_src)
        )
        drain(start_foreach_batch(ev_stream, feed_view), 300)
        view_cols = ["user_id", "total", "n"]
        view_got = (
            _rows(view_state["v"], view_cols)
            if view_state["v"] is not None
            else []
        )
        view_want = _rows(_view_agg(ev_src_batch), view_cols)
        results.append(
            ("st15_incremental_agg_view", len(view_got), len(view_want),
             view_got == view_want and view_state["batches"] >= 2)
        )
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)

    # st16: streaming SemDeDup — per-epoch kept/pruned maintenance on a
    # FROZEN quantizer (streaming/semdedup.py). The prune rule is
    # non-recursive and monotone in arrival order, so the N-batch fold
    # must equal the one-shot batch semdedup on the union EXACTLY,
    # (vec_id, cell, kept) for row — the dedup family's incremental
    # member alongside st5 (watermark dedup) and st13 (bloom).
    from ..operators.knn import fit_centroids
    from ..operators.semdedup import semdedup
    from ..streaming.semdedup import SemDedupState, stream_semdedup
    from .vectors import SEMDEDUP_TAU

    emb_all = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    sd_cents = fit_centroids(emb_all, 4, "embedding")
    sd_dir = tempfile.mkdtemp(prefix="st16_semdedup_")
    try:
        sd_src = os.path.join(sd_dir, "src")
        emb_all.repartition(4).write.parquet(sd_src)
        sd_stream = (
            spark.readStream.schema(emb_all.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sd_src)
        )
        qsd = stream_semdedup(
            sd_stream,
            os.path.join(sd_dir, "state"),
            os.path.join(sd_dir, "ckpt"),
            sd_cents,
            SEMDEDUP_TAU,
        )
        drain(qsd, 300)
        sd_state = SemDedupState(
            os.path.join(sd_dir, "state"), sd_cents, SEMDEDUP_TAU
        )
        sd_cols = ["vec_id", "cell", "kept"]
        sd_dec = sd_state.decisions(spark)
        sd_got = _rows(sd_dec, sd_cols) if sd_dec is not None else []
        sd_want = _rows(
            semdedup(
                emb_all, n_cells=4, threshold=SEMDEDUP_TAU, order="id",
                centroids=sd_cents,
            ),
            sd_cols,
        )
        results.append(
            ("st16_semdedup", len(sd_got), len(sd_want),
             sd_got == sd_want and sd_state.last_epoch() >= 1)
        )
    finally:
        shutil.rmtree(sd_dir, ignore_errors=True)

    # st17: streaming DSIR — the importance-resampling weights are a
    # mergeable sketch (per-bucket target/raw counts), folded per epoch
    # in foreachBatch (streaming/dsir.py). The re-emitted sample after
    # the N-batch fold must equal the one-shot batch
    # dsir_importance_sample EXACTLY (integer count sums → identical
    # weights → identical race keys), whatever the arrival batching.
    from ..streaming.dsir import DsirState, stream_dsir
    from .trainprep import dsir_importance_sample

    ds_dir = tempfile.mkdtemp(prefix="st17_dsir_")
    try:
        ds_src = os.path.join(ds_dir, "src")
        docs_all = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        docs_all.repartition(4).write.parquet(ds_src)
        ds_stream = (
            spark.readStream.schema(docs_all.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ds_src)
        )
        qds = stream_dsir(
            ds_stream,
            os.path.join(ds_dir, "state"),
            os.path.join(ds_dir, "ckpt"),
        )
        drain(qds, 300)
        st = DsirState(os.path.join(ds_dir, "state"))
        ds_cols = ["doc_id", "n_grams", "llr", "skey"]
        samp = st.sample(spark)
        ds_got = _rows(samp, ds_cols) if samp is not None else []
        ds_want = _rows(dsir_importance_sample(spark, sf_dir), ds_cols)
        results.append(
            ("st17_dsir_sample", len(ds_got), len(ds_want),
             ds_got == ds_want and st.last_epoch() >= 1)
        )
    finally:
        shutil.rmtree(ds_dir, ignore_errors=True)

    out = local_table(
        spark, results, "operator string, n_stream long, n_batch long, matched boolean"
    ).orderBy("operator")
    return _assert_all_matched(out)


def _assert_all_matched(out: DataFrame) -> DataFrame:
    """In-plan guard (the trainprep.span_scrub pattern): the driver's
    rows-only check only counts rows, so a matched=false row would
    otherwise pass it silently — assert_true makes the collect itself
    raise on any mismatch, naming the operator. The coalesced 0 rides
    a consumed column, so the guard is un-prunable and value-neutral."""
    guard = F.coalesce(
        F.assert_true(
            F.col("matched"),
            F.concat(F.lit("streaming gate mismatch: "), F.col("operator")),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    return out.select(
        "operator",
        (F.col("n_stream") + guard).alias("n_stream"),
        "n_batch",
        "matched",
    )


def _cc_edges(df: DataFrame) -> DataFrame:
    """st12's graph encoding — ONE definition: the stream fold and the
    batch reference labeling must encode the identical bipartite graph
    (user ↔ 1e6-offset value bucket) or the gate compares apples to
    oranges."""
    return df.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.col("user_id").alias("src"),
        (F.lit(1_000_000) + F.floor("value").cast("long")).alias("dst"),
    )


def connected_components_gate_batch(batch_events: DataFrame) -> DataFrame:
    """One-shot labeling of the same bipartite graph st12 streams."""
    from ..operators.components import connected_components

    return connected_components(_cc_edges(batch_events)).select(
        "node", F.col("component").alias("label")
    )


QUERIES = {"streaming_equivalence_gate": streaming_equivalence_gate}
ORACLE: dict[str, str] = {}
