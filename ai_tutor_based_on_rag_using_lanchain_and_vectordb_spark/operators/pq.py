"""Product quantization (PQ) for compressed-domain similarity search —
the memory-bound scale path next to IVF (operators/knn.py knn_ivf):
vectors are stored as M small codes (one byte-ish each) instead of D
floats, and queries score candidates from an M×K lookup table without
touching the original vectors (asymmetric distance computation, ADC —
Jégou et al., "Product Quantization for Nearest Neighbor Search",
public literature).

Scale shape (100 TB design point):

- Codebooks are FIXED-cardinality (M · K · D/M floats ≈ a few KB) —
  the one thing that may live in every task's closure. Training is the
  coarse quantizer's one fit (operators/knn.py ``fit_centroids``): a
  bounded, deterministic sample (orderBy + limit = TakeOrdered, no
  full sort), never the corpus.
- Encoding is the package's one assignment kernel (operators/knn.py
  ``quantize``: one mapInArrow pass that assigns the coarse cell and
  the M subspace codes together): embarrassingly parallel, output ~M
  bytes/vector, so the encoded corpus is D·4/M× smaller than the raw
  one — the point of PQ.
- ADC search scans CODES, not vectors: each query's M×K LUT is built
  on the driver and rides a broadcast local table, and the score is
  one Catalyst expression — M ``element_at`` gathers folded into a sum
  (no Python worker in the read). The shortlist is a window rank
  filter; Catalyst runs a partial ``WindowGroupLimit`` below the
  exchange, so the shuffle sees ≤ shortlist·partitions rows per query,
  never the corpus. The fold sums the M subspaces left to right, so a
  score can differ from NumPy's pairwise sum in the last ulp; final
  scores come from the exact re-rank either way.
- The optional exact re-rank joins the shortlist ids back to the raw
  vectors (hash join on id) — touching D floats for only
  shortlist·|queries| rows. ADC-shortlist → exact-rerank is the
  standard production arrangement.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table
from . import knn as KNN


def fit_pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Train M per-subspace codebooks of K centroids with the coarse
    quantizer's one fit (knn.fit_centroids: seeded Lloyd on the first
    max(4096, 39·K) rows by id, unit-normalized so ADC inner products
    approximate cosine). Returns (M, K, D/M)."""
    return KNN.fit_centroids(vectors, 0, vec_col, id_col, pq=(m, k))[1]


def encode_pq(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector's M subvectors to their nearest codebook
    entries (the :func:`knn.quantize` kernel with the codebooks only).
    NULL and zero-norm vectors are dropped (cosine undefined — same
    contract as knn_exact_expr). Output is (vec_id, codes[M], original
    norm) plus any ``keep_cols`` carried through untouched; at 100 TB
    this is the table you persist instead of the raw vectors."""
    return _encoded(
        KNN.quantize(
            vectors.select(id_col, vec_col, *keep_cols), vec_col, codebooks=codebooks
        ),
        id_col,
        keep_cols,
    )


def _encoded(quantized: DataFrame, id_col: str, keep_cols=()) -> DataFrame:
    """The encoded-corpus shape (vec_id, codes, vnorm, *keep_cols) of a
    :func:`knn.quantize` pass with codebooks: rows with no codes (NULL
    or zero-norm vectors) drop out."""
    return quantized.where(F.col("codes").isNotNull()).select(
        F.col(id_col).cast("long").alias("vec_id"), "codes", "vnorm", *keep_cols
    )


def knn_pq_adc(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query_matrix: np.ndarray,
    query_ids: np.ndarray,
    k: int = 5,
    shortlist: int = 50,
    rerank_vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-k over the encoded corpus: every query's M×K LUT rides a
    broadcast table, each code row is scored against every query by the
    one ADC expression, and a window keeps a shortlist per query. With
    `rerank_vectors` the shortlist is re-scored exactly (hash join on id
    against the raw vectors) — ADC ranks, exact scores decide, the
    production arrangement."""
    # zero-norm queries drop out — cosine undefined, the same contract
    # knn_exact_expr applies (a NaN LUT would rank arbitrarily instead)
    q = KNN._queries(query_matrix, query_ids)
    cand = encoded.select("vec_id", "codes").crossJoin(
        F.broadcast(_lut_df(encoded.sparkSession, codebooks, q))
    )
    if rerank_vectors is None:
        return KNN._topk_window(_adc_scored(cand, exclude_self), k)
    short = _adc_shortlist(cand, max(shortlist, k), exclude_self)
    return _exact_rerank(short, rerank_vectors, q, k, id_col, vec_col)


def _exact_rerank(
    short: DataFrame,
    rerank_vectors: DataFrame,
    q: KNN._Queries,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine re-scoring of an ADC shortlist: hash join on id back
    to the raw vectors, then the one exact scorer (knn.cosine_scored)
    against the collected raw query rows, window top-k. The query side
    is a local table of those rows, never the caller's query frame, so
    the re-rank scans no Python-side data."""
    qdf = local_table(
        rerank_vectors.sparkSession,
        [(int(i), v.tolist()) for i, v in zip(q.ids, q.raw)],
        "query_id long, qv array<double>",
    )
    cand = short.join(
        KNN.vector_side(rerank_vectors, id_col, vec_col, "c", "neighbor_id"),
        "neighbor_id",
    )
    qside = KNN.vector_side(qdf, "query_id", "qv", "q", "query_id")
    return KNN._topk_window(KNN.cosine_scored(cand, qside, "query_id"), k)


def _search(
    codes: DataFrame,
    rerank_vectors: DataFrame,
    q: KNN._Queries,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int,
    nprobe: int,
    shortlist: int,
    exclude_self: bool,
    id_col: str,
    vec_col: str,
    match_cols: tuple = (),
) -> DataFrame:
    """The one IVF+PQ search body, shared by the inline composition
    (:func:`knn_ivfpq`) and the persistent index (pq_index
    ``IvfPqSearcher.search``): probe → cell-pruned code scan (partition
    pruning on a cell-partitioned layout) → LUT join → ADC shortlist →
    exact re-rank. ``codes`` carries (vec_id, codes, cell) plus the
    ``match_cols``; a candidate must equal its query on each of those
    (the query's values ride the probe table), so the equality lands
    in the pruned scan before ADC and NULL metadata never matches.
    ``q`` is non-empty."""
    spark = rerank_vectors.sparkSession
    probe_df, cells = KNN._probe_df(spark, q, centroids, nprobe)
    cand = (
        codes.where(F.col("cell").isin(cells))
        .join(probe_df, ["cell", *match_cols])
        .select("query_id", "vec_id", "codes")
        .join(F.broadcast(_lut_df(spark, codebooks, q)), "query_id")
    )
    short = _adc_shortlist(cand, max(shortlist, k), exclude_self)
    return _exact_rerank(short, rerank_vectors, q, k, id_col, vec_col)


def knn_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    nprobe: int = 3,
    m: int = 8,
    kc: int = 32,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """The canonical IVF+PQ arrangement (FAISS IVFPQ, public
    literature): the coarse quantizer prunes the corpus to each
    query's top-``nprobe`` cells, PQ codes score the surviving
    candidates via the ADC lookup table, and the shortlist re-ranks
    exactly against the raw vectors.

    At 100 TB: the cell id is a write-time partition column (the probe
    join IS partition pruning), the scan inside probed cells touches
    M-byte codes instead of D floats, and raw vectors are read for only
    shortlist·|queries| rows. Compute shape: the probe table
    (queries × nprobe) and the LUT table broadcast; candidate scoring
    is one expression over the pruned code table with a partial
    WindowGroupLimit below the shuffle — no stage ever materializes a
    full score matrix."""
    # queries first: an empty query set must not pay the fit
    q = KNN._prep_queries(queries, id_col, vec_col)
    if not len(q.ids):
        return local_table(vectors.sparkSession, [], KNN.RESULT_SCHEMA)

    centroids, cb = KNN.fit_centroids(
        vectors, n_clusters, vec_col, id_col, pq=(m, kc)
    )
    enc = _encoded(
        KNN.quantize(vectors.select(id_col, vec_col), vec_col, centroids, cb),
        id_col,
        ("cell",),
    )
    return _search(
        enc, vectors, q, centroids, cb, k, nprobe, shortlist, exclude_self,
        id_col, vec_col,
    )


#: ADC score of one (codes, lut) row: the sum over the M subspaces of
#: lut[i][codes[i]], folded left to right (element_at is 1-based)
_ADC_SCORE_SQL = (
    "aggregate(zip_with(codes, lut, (_c, _row) -> element_at(_row, _c + 1)), "
    "-0.0D, (_acc, _t) -> _acc + _t)"
)


def _lut_df(spark, codebooks: np.ndarray, q: KNN._Queries) -> DataFrame:
    """(query_id, lut) with lut[i][c] = <query subvector i, codebook i
    entry c>: the M×K asymmetric-distance table of each unit query,
    computed on the driver and shipped as a local table."""
    cb = np.asarray(codebooks, dtype=np.float64)
    qu = q.unit
    lut = np.einsum("qis,ics->qic", qu.reshape(len(qu), cb.shape[0], cb.shape[2]), cb)
    return local_table(
        spark,
        [(int(qid), lut[i].tolist()) for i, qid in enumerate(q.ids)],
        "query_id long, lut array<array<double>>",
    )


def _adc_scored(cand: DataFrame, exclude_self: bool) -> DataFrame:
    """(query_id, neighbor_id, score) over a (query_id, vec_id, codes,
    lut) candidate frame: ADC as one Catalyst expression, no Python."""
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(_ADC_SCORE_SQL).alias("score"),
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    return scored


def _adc_shortlist(cand: DataFrame, n_short: int, exclude_self: bool) -> DataFrame:
    """(query_id, neighbor_id) of each query's top-``n_short`` ADC
    scores — shared by the one search body (:func:`_search`) and
    knn_pq_adc. The window's rank filter lets Catalyst put a partial
    WindowGroupLimit below the query_id exchange, so the shuffle carries
    at most ``n_short`` rows per (partition, query), never the
    candidate set."""
    return KNN._topk_window(_adc_scored(cand, exclude_self), n_short).select(
        "query_id", "neighbor_id"
    )
