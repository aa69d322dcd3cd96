"""Persistent ANN index layout: IVF cells as *partition columns*.

``operators/knn.py`` computes IVF in-memory; this module is the 100 TB
variant where the coarse quantizer's cell assignment is baked into the
storage layout: vectors are written partitioned by ``cell``, so a query
probing `nprobe` cells reads exactly those partitions (partition
pruning — verified by test) and the exact rerank touches
``nprobe/n_cells`` of the corpus. Centroids persist alongside as a tiny
parquet table.

    index = build_ivf_index(vectors, path, n_cells=16)
    hits  = search_ivf_index(spark, path, query_vectors, k=5, nprobe=3)

Incremental maintenance (streaming ingest):

    upsert_ivf_index(spark, path, new_vectors)   # per micro-batch
    stream_ivf_index(stream_df, path)            # foreachBatch wrapper

The coarse quantizer (fit, cell assignment, centroid table, probe) is
the one of operators/knn.py. New vectors are assigned to the EXISTING
centroids with the build's own assignment and merged into only the
touched cell partitions (dynamic partition overwrite through
operators/partdelete.py — untouched cells are never rewritten).
Matching ids are replaced, Delta-MERGE style.
``upsert`` also tracks centroid drift: when the corpus has grown past
``refit_growth`` × the size at fit time, or the mean
assignment distance of incoming batches exceeds ``refit_drift`` × the
mean at fit time, it flags a re-fit (the caller runs
``build_ivf_index`` again — cheap relative to the corpus scan it
amortizes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_table, pin
from ..streaming.epochs import start_foreach_batch
from .knn import (
    RESULT_SCHEMA,
    _prep_queries,
    _probe_search,
    fit_centroids,
    read_centroids,
    with_cells,
    write_centroids,
)
from .partdelete import delete_ids_from_layout


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple = (),
) -> None:
    """Fit the coarse quantizer and write the cell-partitioned layout
    (plus centroids and the fit-time stats that drive re-fit triggers).

    ``meta_cols`` rides typed metadata columns (label, doc_id, source)
    into the vectors layout so searches can FILTER below scoring — the
    reference's ``where={"file_id": …}`` vector-store pattern
    (backend/chroma_utils.py:161,250-253) on the production index path
    (see search_ivf_index's ``where``/``match_cols``). Upsert/refit
    derive the metadata set from the layout's own schema, so it is
    declared once, here.
    ``vec_col`` is a top-level column name."""
    centroids = fit_centroids(vectors, n_cells, vec_col, id_col)
    assigned = with_cells(
        vectors.select(id_col, vec_col, *meta_cols), centroids, vec_col
    )
    # null / zero-norm embeddings have no cell: outside the cosine
    # domain, as in the upsert's quarantine
    assigned.where(F.col("cell").isNotNull()).drop("centroid_dist").repartition(
        "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "vectors")
    )
    spark = vectors.sparkSession
    write_centroids(spark, path, centroids)
    # fit-time stats: stored rows and mean unit-sphere assignment
    # distance — the baselines the drift trigger compares against
    agg = assigned.select(
        F.count("cell").alias("n"), F.avg("centroid_dist").alias("mean_dist")
    ).collect()[0]
    _write_stats(spark, path, fit_n=agg["n"], fit_mean_dist=float(agg["mean_dist"]),
                 cur_n=agg["n"])


def _stats_path(path: str) -> str:
    return os.path.join(path, "stats")


def _write_stats(spark: SparkSession, path: str, fit_n: int, fit_mean_dist: float,
                 cur_n: int) -> None:
    local_table(
        spark,
        [(int(fit_n), float(fit_mean_dist), int(cur_n))],
        "fit_n long, fit_mean_dist double, cur_n long",
    ).coalesce(1).write.mode("overwrite").parquet(_stats_path(path))


def read_stats(spark: SparkSession, path: str) -> dict:
    row = spark.read.parquet(_stats_path(path)).collect()[0]
    return dict(row.asDict())


def delete_ivf_ids(
    spark: SparkSession,
    path: str,
    ids,
    id_col: str = "vec_id",
) -> dict:
    """Purge vectors from the persistent IVF layout — the vector-store
    half of the reference's /delete-doc (backend/chroma_utils.py:174
    deletes by metadata from the Chroma collection; the engine's
    persistent layouts must be able to forget too, or a GDPR purge /
    re-crawl replacement hits a wall). ``ids`` is a list or a 1-column
    DataFrame. Locate is a column-pruned (id, cell) probe; only the
    cells that contain victim rows are rewritten (dynamic partition
    overwrite, operators/partdelete.py); ``cur_n`` in the stats file is
    decremented so the growth-refit trigger stays truthful. Searches
    against the post-delete layout are row-identical to an index that
    never contained the victims, quantizer aside (exhaustive configs:
    exactly identical — Q(purge_document_gate)). Idempotent: deleting
    an absent id is a no-op."""
    n, touched = delete_ids_from_layout(
        spark, os.path.join(path, "vectors"), ids, id_col, "cell"
    )
    stats = read_stats(spark, path)
    cur_n = int(stats["cur_n"]) - n
    if n:
        _write_stats(
            spark, path, stats["fit_n"], stats["fit_mean_dist"], cur_n
        )
    return {"deleted": n, "touched_cells": touched, "cur_n": cur_n}


def upsert_ivf_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refit_growth: float = 2.0,
    refit_drift: float = 1.5,
) -> dict:
    """Merge a batch of vectors into the persistent IVF layout.

    - assignment against the EXISTING centroids (column expression);
    - matching ids are replaced (Delta-MERGE upsert semantics) — INCLUDING
      ids whose new embedding assigns to a different cell: prior rows are
      located by a column-pruned (id, cell) probe of the whole index, and
      their cells join the rewrite set so no stale duplicate survives;
    - null / zero-norm embeddings are quarantined (``skipped`` count),
      not batch-killing;
    - only the touched cell partitions are rewritten (dynamic partition
      overwrite) — at 100 TB a batch touching 3 of 1024 cells rewrites
      3 partitions, not the index;
    - returns drift/growth telemetry and ``refit_recommended``.
    ``vec_col`` is a top-level column name.
    """
    # metadata columns are whatever the layout's own schema carries
    # beyond (id, vec, cell) — declared once at build time, preserved
    # here (the batch must supply them; a missing column is a loud
    # AnalysisException, not silent metadata loss)
    vectors_path = os.path.join(path, "vectors")
    meta_cols = [
        c
        for c in spark.read.parquet(vectors_path).schema.names
        if c not in (id_col, vec_col, "cell")
    ]
    assigned = with_cells(
        new_vectors.select(id_col, vec_col, *meta_cols).dropDuplicates([id_col]),
        read_centroids(spark, path),
        vec_col,
    )
    # one pass for the telemetry + touched-cell set; batch is the small
    # side by construction so a collect of its per-cell rollup is tiny.
    # NULL cell = unassignable vector (null / zero-norm embedding) —
    # quarantined out of the merge rather than crashing the batch.
    batch_stats = assigned.groupBy("cell").agg(
        F.count("*").alias("n"), F.sum("centroid_dist").alias("dist_sum")
    ).collect()
    n_skipped = sum(int(r["n"]) for r in batch_stats if r["cell"] is None)
    batch_stats = [r for r in batch_stats if r["cell"] is not None]
    assigned = assigned.where(F.col("cell").isNotNull())
    n_batch = sum(int(r["n"]) for r in batch_stats)
    batch_mean_dist = (
        sum(float(r["dist_sum"]) for r in batch_stats) / n_batch if n_batch else 0.0
    )
    if not batch_stats:
        stats = read_stats(spark, path)
        return {"added": 0, "replaced": 0, "skipped": n_skipped,
                "touched_cells": [], "batch_mean_dist": 0.0,
                "refit_recommended": False, **stats}

    # the batch ids are deleted wherever they live (an updated vector
    # may assign to a DIFFERENT cell than its stored row, whose stale
    # copy must go) and the batch is written, in one rewrite of the
    # touched cells
    replaced, touched = delete_ids_from_layout(
        spark, vectors_path, assigned.select(id_col), id_col, "cell",
        replacement=assigned.select(id_col, vec_col, *meta_cols, "cell"),
        replacement_parts=[int(r["cell"]) for r in batch_stats],
    )

    stats = read_stats(spark, path)
    cur_n = int(stats["cur_n"]) + n_batch - replaced
    _write_stats(spark, path, stats["fit_n"], stats["fit_mean_dist"], cur_n)
    refit = (cur_n >= refit_growth * max(int(stats["fit_n"]), 1)) or (
        stats["fit_mean_dist"] > 0
        and batch_mean_dist > refit_drift * float(stats["fit_mean_dist"])
    )
    return {
        "added": n_batch - replaced,
        "replaced": replaced,
        "skipped": n_skipped,
        "touched_cells": touched,
        "batch_mean_dist": batch_mean_dist,
        "refit_recommended": refit,
        "fit_n": int(stats["fit_n"]),
        "cur_n": cur_n,
        "fit_mean_dist": float(stats["fit_mean_dist"]),
    }


def refit_ivf_index(
    spark: SparkSession,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Re-fit the coarse quantizer over the CURRENT index contents and
    rewrite the layout (the action behind ``refit_recommended``).
    Metadata columns the layout carries ride through the rebuild."""
    raw = spark.read.parquet(os.path.join(path, "vectors"))
    meta_cols = tuple(
        c for c in raw.schema.names if c not in (id_col, vec_col, "cell")
    )
    # break lineage before overwrite
    full = pin(raw.select(id_col, vec_col, *meta_cols), eager=True)
    build_ivf_index(full, path, n_cells=n_cells, id_col=id_col, vec_col=vec_col,
                    meta_cols=meta_cols)


def stream_ivf_index(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    auto_refit: bool = False,
    n_cells: int = 16,
):
    """ST5-style continuous index maintenance: every micro-batch runs the
    partition-scoped upsert; with ``auto_refit`` the centroid re-fit
    fires inline when drift/growth trips (otherwise the flag is left to
    an external scheduler). Returns the started StreamingQuery."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        info = upsert_ivf_index(
            batch_df.sparkSession, path, batch_df, id_col=id_col, vec_col=vec_col,
        )
        if auto_refit and info["refit_recommended"]:
            refit_ivf_index(
                batch_df.sparkSession, path, n_cells=n_cells,
                id_col=id_col, vec_col=vec_col,
            )

    return start_foreach_batch(stream_df, _merge, checkpoint)


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: str | None = None,
    match_cols: tuple = (),
) -> DataFrame:
    """Probe top-`nprobe` cells per query; the cell IN-filter prunes
    partitions of the written layout before any vector math.

    Metadata-filtered search (P4 on the production index path — the
    reference filters its vector search by metadata,
    backend/chroma_utils.py:161,250-253; previously only the exact
    brute-force path Q(knn_label_filtered) could):

    - ``where``: a static SQL predicate over the layout's metadata
      columns (``"label = 3"``, ``"doc_id IN (…)"``) — applied to the
      partition-pruned scan BELOW scoring, so parquet row-group
      pruning and codegen see it before any dot product. This is the
      Chroma ``where={…}`` per-call filter shape.
    - ``match_cols``: per-query equality columns — a candidate must
      equal the QUERY's own value on each (the "restrict to the
      query's own label/file" shape). The query frame must carry the
      columns; the equality lands below scoring too.

    k-NN semantics are unchanged: top-k AMONG the rows passing the
    filter (nprobe=all cells + a filter ≡ exact filtered k-NN —
    Q(knn_ivf_filtered) carries the label-filtered oracle verbatim).
    ``vec_col`` is a top-level column name.
    """
    prepped = _prep_queries(queries, id_col, vec_col)
    if not len(prepped[1]):  # empty or all zero-norm queries
        return local_table(spark, [], RESULT_SCHEMA)
    return _probe_search(
        spark.read.parquet(os.path.join(path, "vectors")),
        queries, prepped, read_centroids(spark, path), k, nprobe,
        id_col, vec_col, where=where, match_cols=match_cols,
    )
