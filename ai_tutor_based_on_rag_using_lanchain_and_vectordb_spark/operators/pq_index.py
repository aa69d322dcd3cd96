"""Persistent IVF+PQ index — the compressed counterpart of the raw
IVF layout in operators/ann_index.py: the corpus is stored ONCE as
cell-partitioned PQ codes (M ints + a norm per vector instead of D
floats — the 16×-smaller footprint is the point of the index), with
the coarse centroids and subspace codebooks beside it. A search probes
nprobe cells (a partition-pruned scan of the codes layout), ADC-scores
the surviving codes, and re-ranks the shortlist exactly against the
caller's raw-vector table.

Build cost is paid once; searches never re-fit or re-encode — the
difference between this and pq.knn_ivfpq (which fits inline and exists
for gates/one-shot use).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..session import local_table, pin
from ..streaming.epochs import start_foreach_batch
from .knn import fit_ivf_centroids, unit_vectors_ml
from .partdelete import clear_emptied_partitions
from .pq import (
    _RESULT_SCHEMA,
    _adc_shortlist,
    _exact_rerank,
    _lut_df,
    _prep_queries,
    _probe_df,
    encode_pq,
    fit_pq_codebooks,
)


def build_ivfpq_index(
    vectors: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    kc: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple = (),
) -> None:
    """Fit the coarse quantizer + subspace codebooks and write the
    layout: codes parquet partitioned by cell, centroids, codebooks.
    ``meta_cols`` rides typed metadata beside the codes so searches can
    filter below ADC (IvfPqSearcher.search ``where`` — the reference's
    ``where={"file_id": …}`` vector-store filter on the compressed
    path); upserts preserve whatever metadata the layout carries."""
    model, centroids = fit_ivf_centroids(vectors, n_cells, vec_col)
    assigned = (
        model.transform(unit_vectors_ml(vectors, vec_col))
        .withColumnRenamed("prediction", "cell")
        .select(id_col, vec_col, *meta_cols, "cell")
    )
    cb = fit_pq_codebooks(vectors, m=m, k=kc, vec_col=vec_col, id_col=id_col)
    enc = encode_pq(assigned, cb, id_col, vec_col, keep_cols=("cell", *meta_cols))
    enc.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "codes")
    )
    spark = vectors.sparkSession
    cent_rows = [
        (int(i), [float(x) for x in centroids[i]])
        for i in range(len(centroids))
    ]
    local_table(spark, cent_rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    cb_rows = [
        (int(i), int(c), [float(x) for x in cb[i, c]])
        for i in range(cb.shape[0])
        for c in range(cb.shape[1])
    ]
    local_table(
        spark, cb_rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks")
    )


def read_codebooks(spark: SparkSession, path: str) -> np.ndarray:
    pdf = spark.read.parquet(os.path.join(path, "codebooks")).toPandas()
    m = int(pdf["subspace"].max()) + 1
    kc = int(pdf["code"].max()) + 1
    sub = len(pdf["centroid"].iloc[0])
    cb = np.zeros((m, kc, sub))
    for _, r in pdf.iterrows():
        cb[int(r["subspace"]), int(r["code"])] = np.asarray(r["centroid"])
    return cb


def auto_search_params(
    spark: SparkSession, path: str, k: int
) -> tuple[int, int]:
    """Cost-based (nprobe, shortlist) from the INDEX's own stats, so a
    corpus 100× the tuning scale doesn't silently run with constants
    tuned at sf0.01 (r7 verdict #6). Inputs: cell count from the
    centroids table, total code rows from parquet metadata (a
    count(*) over the codes layout — row-group stats only, no data
    scan).

    - shortlist: a re-rank pool of max(20·k, 100) candidates (the
      measured sf0.01 recall 0.84-0.96 used 30·k; 20·k keeps ≥0.7 with
      margin while the exact re-rank stays O(shortlist·dim) per query).
    - nprobe: enough cells that the EXPECTED candidate pool (probed
      cells × avg rows/cell) reaches ~20× the shortlist, floored at
      ceil(sqrt(n_cells)) (the classic IVF probe floor) and capped at
      n_cells. Small corpora therefore probe everything (exhaustive ≡
      exact); at 100× the per-cell mass covers the pool with the sqrt
      floor and the scan stays partition-pruned.
    """
    n_cells = spark.read.parquet(os.path.join(path, "centroids")).count()
    n_codes = spark.read.parquet(os.path.join(path, "codes")).count()
    return _search_params(k, n_cells, n_codes)


def _search_params(k: int, n_cells: int, n_codes: int) -> tuple[int, int]:
    shortlist = max(20 * k, 100)
    avg = max(1.0, n_codes / max(1, n_cells))
    want = int(np.ceil(20.0 * shortlist / avg))
    floor = int(np.ceil(np.sqrt(max(1, n_cells))))
    nprobe = max(1, min(int(n_cells), max(want, floor)))
    return nprobe, shortlist


class IvfPqSearcher:
    """Search-many handle over a persistent IVF+PQ layout: the small
    driver-side artifacts (centroids, codebooks, the two stat counts
    the cost-based defaults need) load ONCE at open; every
    :meth:`search` then runs only the distributed jobs (pruned code
    scan, ADC, exact re-rank). This is the production access pattern —
    an online retrieval tier opens the index at startup and serves
    query batches against it; re-open after upserts to refresh the
    cached quantizers (they are frozen on disk between refits, so a
    stale handle is merely stale, never wrong)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        rerank_vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.spark = spark
        self.path = path
        self.rerank_vectors = rerank_vectors
        self.id_col = id_col
        self.vec_col = vec_col
        centroids_pdf = spark.read.parquet(
            os.path.join(path, "centroids")
        ).toPandas()
        self.cent = np.vstack(centroids_pdf["centroid"].to_numpy())
        self.cells = centroids_pdf["cell"].to_numpy()
        self.cb = read_codebooks(spark, path)
        self.n_cells = len(self.cells)
        self.n_codes = spark.read.parquet(os.path.join(path, "codes")).count()

    def auto_params(self, k: int) -> tuple[int, int]:
        """:func:`auto_search_params` from the cached stats (no jobs)."""
        return _search_params(k, self.n_cells, self.n_codes)

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int | None = None,
        shortlist: int | None = None,
        exclude_self: bool = True,
        where: str | None = None,
    ) -> DataFrame:
        """Probe → pruned code scan → ADC → exact re-rank. The cell
        IN-filter prunes partitions of the codes layout before any
        byte of code is read; raw vectors are touched only for the
        shortlist. ``nprobe``/``shortlist`` default to
        :meth:`auto_params` when not given.

        ``where`` is a static SQL predicate over the metadata columns
        the layout carries (build_ivfpq_index ``meta_cols``) — the
        reference's ``where={"file_id": …}`` filter, applied to the
        partition-pruned code scan BEFORE ADC, so the shortlist and
        the exact re-rank only ever see passing candidates (top-k
        among the filtered set, not a filtered top-k)."""
        if nprobe is None or shortlist is None:
            auto_np, auto_sl = self.auto_params(k)
            nprobe = auto_np if nprobe is None else nprobe
            shortlist = auto_sl if shortlist is None else shortlist
        qu, qids = _prep_queries(queries, self.id_col, self.vec_col)
        if not len(qids):
            return local_table(self.spark, [], _RESULT_SCHEMA)
        probe_df, probed_cells = _probe_df(
            self.spark, qu, qids, self.cent, self.cells, nprobe
        )
        codes = self.spark.read.parquet(
            os.path.join(self.path, "codes")
        ).where(F.col("cell").isin(probed_cells))  # partition pruning
        if where is not None:
            # metadata filter below ADC: evaluated in the pruned scan,
            # before any distance table is consulted
            codes = codes.where(where)
        cand = (
            codes.join(probe_df, "cell")
            .select("query_id", "vec_id", "codes")
            .join(F.broadcast(_lut_df(self.spark, self.cb, qu, qids)), "query_id")
        )
        short = _adc_shortlist(cand, max(shortlist, k), exclude_self)
        return _exact_rerank(
            short, self.rerank_vectors, qu, qids, k, self.id_col, self.vec_col
        )


def open_ivfpq_index(
    spark: SparkSession,
    path: str,
    rerank_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfPqSearcher:
    """Open a persistent layout for repeated searches (see
    :class:`IvfPqSearcher`)."""
    return IvfPqSearcher(spark, path, rerank_vectors, id_col, vec_col)


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    rerank_vectors: DataFrame,
    k: int = 5,
    nprobe: int | None = None,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    where: str | None = None,
) -> DataFrame:
    """One-shot search: open + single :meth:`IvfPqSearcher.search`."""
    return IvfPqSearcher(spark, path, rerank_vectors, id_col, vec_col).search(
        queries, k=k, nprobe=nprobe, shortlist=shortlist,
        exclude_self=exclude_self, where=where,
    )


def upsert_ivfpq_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    track_distortion: bool = False,
) -> dict:
    """Merge a batch into the persistent codes layout with the FROZEN
    quantizers: cells assign against the stored centroids, codes encode
    against the stored codebooks, matching ids are replaced wherever
    they previously lived (a column-pruned (id, cell) probe locates
    stale rows — an updated vector may move cells), zero-norm vectors
    quarantine, and only touched cell partitions rewrite (dynamic
    partition overwrite).

    Telemetry: with ``track_distortion=True`` the returned dict
    carries ``mean_adc_error`` — the batch's mean squared quantization
    error under the FROZEN codebooks (operators/pq.mean_pq_distortion).
    Off by default: it is a second full Arrow pass over the batch, so a
    refit policy should sample batches rather than pay it on every
    upsert. The coarse quantizer's
    growth/drift refit triggers live in ann_index.upsert_ivf_index;
    this is the matching signal for the PQ side: a refit policy
    re-fits the codebooks when the error trend of incoming batches
    rises above the build-time distortion.
    ``vec_col`` is a top-level column name."""
    from .ann_index import _nearest_cell_expr

    cent_pdf = spark.read.parquet(os.path.join(path, "centroids")).toPandas()
    centroids = np.vstack(cent_pdf["centroid"].to_numpy())
    cells = [int(c) for c in cent_pdf["cell"].to_numpy()]
    cb = read_codebooks(spark, path)

    cell_col, _dist = _nearest_cell_expr(V.quote_col(vec_col), centroids, cells)
    # preserve whatever metadata the layout carries (declared at build
    # time via meta_cols; the batch must supply the same columns)
    codes_path = os.path.join(path, "codes")
    meta_cols = [
        c
        for c in spark.read.parquet(codes_path).schema.names
        if c not in (id_col, "codes", "vnorm", "cell")
    ]
    assigned = (
        new_vectors.select(id_col, vec_col, *meta_cols)
        .dropDuplicates([id_col])
        .withColumn("cell", cell_col)
    )
    n_skipped = assigned.where(F.col("cell").isNull()).count()
    assigned = assigned.where(F.col("cell").isNotNull())
    enc = encode_pq(assigned, cb, id_col, vec_col,
                    keep_cols=("cell", *meta_cols))
    enc = pin(enc, eager=True)
    batch_cells = [
        int(r["cell"]) for r in enc.select("cell").distinct().collect()
    ]
    n_batch = enc.count()
    if not n_batch:
        return {"added": 0, "replaced": 0, "skipped": n_skipped,
                "touched_cells": [], "mean_adc_error": None}
    mean_adc_error = None
    if track_distortion:
        from .pq import mean_pq_distortion

        mean_adc_error = mean_pq_distortion(assigned, cb, vec_col)

    prior = (
        spark.read.parquet(codes_path)
        .select(id_col, "cell")
        .join(F.broadcast(enc.select(id_col)), id_col, "left_semi")
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    replaced = sum(int(r["n"]) for r in prior)
    touched = sorted(set(batch_cells) | {int(r["cell"]) for r in prior})
    existing = spark.read.parquet(codes_path).where(F.col("cell").isin(touched))
    keep = existing.join(enc.select(id_col), id_col, "left_anti")
    merged = pin(keep.select(id_col, "codes", "vnorm", *meta_cols, "cell").unionByName(
        enc.select(id_col, "codes", "vnorm", *meta_cols, "cell")
    ), eager=True)  # materialize before overwriting inputs
    (
        merged.repartition("cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(codes_path)
    )
    clear_emptied_partitions(spark, merged, codes_path, touched, "cell")
    return {
        "added": n_batch - replaced,
        "replaced": replaced,
        "skipped": n_skipped,
        "touched_cells": touched,
        "mean_adc_error": mean_adc_error,
    }



def delete_ivfpq_ids(
    spark: SparkSession,
    path: str,
    ids,
    id_col: str = "vec_id",
) -> dict:
    """Purge vectors from the persistent codes layout (the IVF+PQ
    counterpart of ann_index.delete_ivf_ids — same /delete-doc parity
    note). Locate is a column-pruned (id, cell) probe; only cells
    containing victim rows rewrite (dynamic partition overwrite). The
    frozen quantizers are untouched — codebooks fitted over a corpus
    that included the victims remain a valid (merely stale-fit)
    quantizer for the survivors, and the exact re-rank on top makes
    full-shortlist searches identical to a fresh build
    (Q(purge_document_gate)). Idempotent on replay."""
    from .partdelete import delete_ids_from_layout

    n, touched = delete_ids_from_layout(
        spark, os.path.join(path, "codes"), ids, id_col, "cell"
    )
    return {"deleted": n, "touched_cells": touched}


def stream_ivfpq_index(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous maintenance of the codes layout: every micro-batch
    runs the frozen-quantizer upsert (same foreachBatch shape as
    ann_index.stream_ivf_index). Returns the started StreamingQuery."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_ivfpq_index(
            batch_df.sparkSession, path, batch_df,
            id_col=id_col, vec_col=vec_col,
        )

    return start_foreach_batch(stream_df, _merge, checkpoint)
