"""Persistent IVF+PQ index — the package's one persistent vector index
(the reference keeps one vector store, a Chroma collection,
backend/chroma_utils.py:36-39): the corpus is stored ONCE as
cell-partitioned PQ codes (M ints + a norm per vector instead of D
floats — the 16×-smaller footprint is the point of the index), with
the coarse centroids and subspace codebooks beside it. A search probes
nprobe cells (a partition-pruned scan of the codes layout), ADC-scores
the surviving codes, and re-ranks the shortlist exactly against the
caller's raw-vector table.

Build cost is paid once; searches never re-fit or re-encode — the
difference between this and pq.knn_ivfpq (which fits inline and exists
for gates/one-shot use). Both fit, assign and probe cells with the
coarse quantizer of operators/knn.py and run one search body
(pq._search).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_table, pin
from ..streaming.epochs import start_foreach_batch
from .knn import (
    RESULT_SCHEMA,
    _prep_queries,
    fit_centroids,
    quantize,
    read_centroids,
    write_centroids,
)
from .partdelete import delete_ids_from_layout
from .pq import _encoded, _search


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
    filter below ADC (IvfPqSearcher.search ``where``/``match_cols`` —
    the reference's ``where={"file_id": …}`` vector-store filter);
    upserts preserve whatever metadata the layout carries."""
    centroids, cb = fit_centroids(vectors, n_cells, vec_col, id_col, pq=(m, kc))
    enc = _encoded(
        quantize(vectors.select(id_col, vec_col, *meta_cols), vec_col, centroids, cb),
        id_col,
        ("cell", *meta_cols),
    )
    enc.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "codes")
    )
    spark = vectors.sparkSession
    write_centroids(spark, path, centroids)
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
    n_cells = len(read_centroids(spark, path))
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
        self.cent = read_centroids(spark, path)
        self.cb = read_codebooks(spark, path)
        self.n_cells = len(self.cent)
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
        match_cols: tuple = (),
    ) -> DataFrame:
        """Probe → pruned code scan → ADC → exact re-rank. The cell
        IN-filter prunes partitions of the codes layout before any
        byte of code is read; raw vectors are touched only for the
        shortlist. ``nprobe``/``shortlist`` default to
        :meth:`auto_params` when not given.

        Metadata filters over the columns the layout carries
        (build_ivfpq_index ``meta_cols``) — the reference's
        ``where={"file_id": …}`` filter, backend/chroma_utils.py:161,
        250-253 — apply to the partition-pruned code scan BEFORE ADC,
        so the shortlist and the exact re-rank only ever see passing
        candidates (top-k among the filtered set, not a filtered top-k):

        - ``where``: a static SQL predicate (``"label = 3"``).
        - ``match_cols``: per-query equality — a candidate must equal
          the QUERY's own value on each column (the "restrict to the
          query's own label/file" shape). The query frame carries the
          columns; NULL metadata on either side never matches.

        With nprobe = all cells and a shortlist ≥ the filtered pool the
        result is the exact filtered k-NN (Q(knn_ivf_filtered) carries
        the label-filtered oracle verbatim)."""
        if nprobe is None or shortlist is None:
            auto_np, auto_sl = self.auto_params(k)
            nprobe = auto_np if nprobe is None else nprobe
            shortlist = auto_sl if shortlist is None else shortlist
        q = _prep_queries(queries, self.id_col, self.vec_col, match_cols)
        if not len(q.ids):
            return local_table(self.spark, [], RESULT_SCHEMA)
        codes = self.spark.read.parquet(os.path.join(self.path, "codes"))
        if where is not None:
            codes = codes.where(where)
        return _search(
            codes, self.rerank_vectors, q, self.cent, self.cb, k, nprobe,
            shortlist, exclude_self, self.id_col, self.vec_col, match_cols,
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
) -> dict:
    """Merge a batch into the persistent codes layout with the FROZEN
    quantizers: cells assign against the stored centroids, codes encode
    against the stored codebooks (one :func:`knn.quantize` pass, pinned),
    matching ids are replaced wherever they previously lived (a
    column-pruned (id, cell) probe locates stale rows — an updated
    vector may move cells), zero-norm vectors quarantine, and only
    touched cell partitions rewrite (dynamic partition overwrite).

    Telemetry: the returned dict carries ``mean_adc_error`` — the
    batch's mean squared quantization error under the FROZEN codebooks,
    None when nothing was encodable. The skipped count, the touched
    cells and this error come from one aggregate over the pinned pass.
    It is the index's drift signal: a refit policy rebuilds the index
    (a fresh :func:`build_ivfpq_index`) when the error trend of
    incoming batches rises above the build-time distortion.
    ``vec_col`` is a top-level column name."""
    # preserve whatever metadata the layout carries (declared at build
    # time via meta_cols; the batch must supply the same columns)
    codes_path = os.path.join(path, "codes")
    meta_cols = [
        c
        for c in spark.read.parquet(codes_path).schema.names
        if c not in (id_col, "codes", "vnorm", "cell")
    ]
    quantized = quantize(
        new_vectors.select(id_col, vec_col, *meta_cols).dropDuplicates([id_col]),
        vec_col,
        read_centroids(spark, path),
        read_codebooks(spark, path),
    )
    quantized = pin(quantized.drop(vec_col, "centroid_dist"), eager=True)
    # NULL cell = unassignable vector (null / zero-norm embedding),
    # quarantined out of the merge rather than crashing the batch
    batch_cells = quantized.groupBy("cell").agg(
        F.count("*").alias("n"), F.sum("pq_error").alias("err")
    ).collect()
    n_skipped = sum(int(r["n"]) for r in batch_cells if r["cell"] is None)
    batch_cells = [r for r in batch_cells if r["cell"] is not None]
    n_batch = sum(int(r["n"]) for r in batch_cells)
    if not n_batch:
        return {"added": 0, "replaced": 0, "skipped": n_skipped,
                "touched_cells": [], "mean_adc_error": None}
    enc = _encoded(quantized, id_col, ("cell", *meta_cols))
    replaced, touched = delete_ids_from_layout(
        spark, codes_path, enc.select(id_col), id_col, "cell",
        replacement=enc.select(id_col, "codes", "vnorm", *meta_cols, "cell"),
        replacement_parts=[int(r["cell"]) for r in batch_cells],
    )
    return {
        "added": n_batch - replaced,
        "replaced": replaced,
        "skipped": n_skipped,
        "touched_cells": touched,
        "mean_adc_error": sum(float(r["err"]) for r in batch_cells) / n_batch,
    }


def delete_ivfpq_ids(
    spark: SparkSession,
    path: str,
    ids,
    id_col: str = "vec_id",
) -> dict:
    """Purge vectors from the persistent codes layout — the vector-store
    half of the reference's /delete-doc (backend/chroma_utils.py:174
    deletes by metadata from the Chroma collection; a GDPR purge or a
    re-crawl replacement needs the persistent index to forget too).
    ``ids`` is a list or a 1-column DataFrame. Locate is a column-pruned
    (id, cell) probe; only cells containing victim rows rewrite (dynamic
    partition overwrite). The frozen quantizers are untouched —
    codebooks fitted over a corpus that included the victims remain a
    valid (merely stale-fit) quantizer for the survivors, and the exact
    re-rank on top makes full-shortlist searches identical to a fresh
    build (Q(purge_document_gate)). Idempotent on replay."""
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
    runs the frozen-quantizer upsert through streaming/epochs.py's
    foreachBatch wiring. Returns the started StreamingQuery."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_ivfpq_index(
            batch_df.sparkSession, path, batch_df,
            id_col=id_col, vec_col=vec_col,
        )

    return start_foreach_batch(stream_df, _merge, checkpoint)
