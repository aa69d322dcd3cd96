"""Product quantization (PQ) for compressed-domain similarity search —
the memory-bound scale path next to IVF (operators/knn.py knn_ivf):
vectors are stored as M small codes (one byte-ish each) instead of D
floats, and queries score candidates from an M×K lookup table without
touching the original vectors (asymmetric distance computation, ADC —
Jégou et al., "Product Quantization for Nearest Neighbor Search",
public literature).

Scale shape (100 TB design point):

- Codebooks are FIXED-cardinality (M · K · D/M floats ≈ a few KB) —
  the one thing that may live in every task's closure. Training reads
  a bounded, deterministic sample (orderBy + limit = TakeOrdered, no
  full sort) — never the corpus.
- Encoding is one mapInPandas pass (Arrow-batched numpy argmin per
  subspace): embarrassingly parallel, output ~M bytes/vector, so the
  encoded corpus is D·4/M× smaller than the raw one — the point of PQ.
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

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_table
from . import knn as KNN


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int = 25) -> np.ndarray:
    """Deterministic Lloyd k-means (seeded init, fixed iteration count,
    empty clusters re-seeded from the farthest points). numpy-only so
    the fit has no MLlib/JVM nondeterminism across runs."""
    rng = np.random.RandomState(seed)
    init = rng.choice(len(x), size=min(k, len(x)), replace=False)
    cents = x[np.sort(init)].astype(np.float64).copy()
    if len(cents) < k:  # tiny sample: pad with jittered repeats
        pad = cents[rng.randint(0, len(cents), k - len(cents))]
        cents = np.vstack([cents, pad + 1e-6])
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        far = d2[np.arange(len(x)), assign].argsort()[::-1]
        n_spare = 0
        for j in range(k):
            sel = assign == j
            if sel.any():
                cents[j] = x[sel].mean(axis=0)
            else:
                # re-seed dead centroids from the farthest points; wrap
                # + jitter once there are more dead clusters than sample
                # points (k > len(x)) so the iterator never exhausts
                cents[j] = x[far[n_spare % len(far)]] + 1e-6 * (
                    n_spare // len(far)
                )
                n_spare += 1
    return cents


def fit_pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 4096,
    seed: int = 42,
) -> np.ndarray:
    """Train M per-subspace codebooks of K centroids on a bounded
    deterministic sample (first `sample_n` rows by id — TakeOrdered,
    not a full sort). Vectors are unit-normalized before fitting so
    ADC inner products approximate cosine. Returns (M, K, D/M)."""
    rows = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_n)
        .collect()
    )
    x = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    keep = norms[:, 0] > 0
    x = x[keep] / norms[keep]
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return np.stack(
        [_lloyd(x[:, i * sub : (i + 1) * sub], k, seed + i) for i in range(m)]
    )


_CODES_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
        T.StructField("vnorm", T.DoubleType()),
    ]
)


def encode_pq(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One Arrow-batched pass assigning each vector's M subvectors to
    their nearest codebook entries. Zero-norm vectors are dropped
    (cosine undefined — same contract as knn_exact_expr). Output is
    (vec_id, codes[M], original norm) plus any ``keep_cols`` carried
    through untouched (e.g. the IVF cell id); at 100 TB this is the
    table you persist instead of the raw vectors."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = cb.shape
    extra_fields = [
        vectors.schema[c] for c in keep_cols
    ]
    schema = T.StructType(list(_CODES_SCHEMA.fields) + extra_fields)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # NULL embeddings are dropped up front (np.vstack would
            # crash on a None element) — same contract as the zero-norm
            # drop below and as knn_exact_expr's norm filtering
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            keep = norms > 0
            mat, ids = mat[keep] / norms[keep, None], pdf[id_col].to_numpy()[keep]
            if not len(mat):  # all-zero-norm batch: empty object column
                continue  # would break Arrow's list<int32> conversion
            codes = np.empty((len(mat), m), dtype=np.int32)
            for i in range(m):
                seg = mat[:, i * sub : (i + 1) * sub]
                d2 = (
                    (seg**2).sum(axis=1)[:, None]
                    - 2.0 * seg @ cb[i].T
                    + (cb[i] ** 2).sum(axis=1)[None, :]
                )
                codes[:, i] = d2.argmin(axis=1)
            out = {
                "vec_id": ids.astype(np.int64),
                # plain lists: Arrow's ndarray-of-ndarray conversion
                # is not implemented for some batch shapes
                "codes": codes.tolist(),
                "vnorm": norms[keep],
            }
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()[keep]
            yield pd.DataFrame(out)

    return vectors.select(id_col, vec_col, *keep_cols).mapInPandas(
        encode, schema
    )


def mean_pq_distortion(
    vectors: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
) -> float | None:
    """Mean squared quantization error of encoding ``vectors`` with the
    given (frozen) codebooks — the observable a codebook-refit policy
    needs: under distribution drift the frozen codebooks reconstruct
    new vectors worse, and this number rises. Same normalization and
    assignment math as :func:`encode_pq`; one Arrow pass emitting one
    (count, sse) row per batch, aggregated to a scalar. Returns None
    when no encodable (non-null, non-zero-norm) vectors exist."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = cb.shape

    def measure(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            mat = mat[norms > 0] / norms[norms > 0, None]
            if not len(mat):
                continue
            sse = 0.0
            for i in range(m):
                seg = mat[:, i * sub : (i + 1) * sub]
                d2 = (
                    (seg**2).sum(axis=1)[:, None]
                    - 2.0 * seg @ cb[i].T
                    + (cb[i] ** 2).sum(axis=1)[None, :]
                )
                # float roundoff can push the true-minimum distance a
                # hair below zero — clamp before summing
                sse += float(np.maximum(d2.min(axis=1), 0.0).sum())
            yield pd.DataFrame({"n": [len(mat)], "sse": [sse]})

    totals = (
        vectors.select(vec_col)
        .mapInPandas(measure, "n long, sse double")
        .agg(F.sum("n").alias("n"), F.sum("sse").alias("sse"))
        .first()
    )
    if not totals or not totals["n"]:
        return None
    return float(totals["sse"]) / float(totals["n"])


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
    qm = np.asarray(query_matrix, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    # zero-norm queries drop out — cosine undefined, the same contract
    # knn_exact_expr applies (a NaN LUT would rank arbitrarily instead)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    keep_q = qn[:, 0] > 0
    qm, qn, qids = qm[keep_q], qn[keep_q], qids[keep_q]
    qu = qm / qn
    spark = encoded.sparkSession
    cand = encoded.select("vec_id", "codes").crossJoin(
        F.broadcast(_lut_df(spark, codebooks, qu, qids))
    )
    n_short = max(shortlist, k)
    if rerank_vectors is None:
        return KNN._topk_window(_adc_scored(cand, exclude_self), k)
    short = _adc_shortlist(cand, n_short, exclude_self)
    return _exact_rerank(short, rerank_vectors, qu, qids, k, id_col, vec_col)


def _exact_rerank(
    short: DataFrame,
    rerank_vectors: DataFrame,
    qu: np.ndarray,
    qids: np.ndarray,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine re-scoring of an ADC shortlist: hash join on id
    back to the raw vectors, broadcast the (few) unit query vectors,
    fold-form dot product, window top-k."""
    from ..functions import vector as V

    qdf = local_table(
        rerank_vectors.sparkSession,
        [(int(q), qu[i].tolist()) for i, q in enumerate(qids)],
        "query_id long, qv array<double>",
    )
    exact = (
        short.join(
            rerank_vectors.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(V.quote_col(vec_col)).alias("cv"),
                V.norm(V.quote_col(vec_col)).alias("cnorm"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(qdf), "query_id")
        .where(F.col("cnorm") > 0)
        .withColumn("score", V.dot("qv", "cv") / F.col("cnorm"))
    )
    return KNN._topk_window(exact, k)


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
    literature): a KMeans coarse quantizer prunes the corpus to each
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
    from .knn import fit_ivf_centroids, unit_vectors_ml

    spark = vectors.sparkSession
    # queries first: an empty query set must not pay the k-means fits
    qu, qids = _prep_queries(queries, id_col, vec_col)
    if not len(qids):
        return local_table(spark, [], _RESULT_SCHEMA)

    model, centroids = fit_ivf_centroids(vectors, n_clusters, vec_col)
    assigned = (
        model.transform(unit_vectors_ml(vectors, vec_col))
        .withColumnRenamed("prediction", "cell")
        .select(id_col, vec_col, "cell")
    )
    cb = fit_pq_codebooks(vectors, m=m, k=kc, vec_col=vec_col, id_col=id_col)
    enc = encode_pq(assigned, cb, id_col, vec_col, keep_cols=("cell",))
    probe_df, _cells = _probe_df(
        spark, qu, qids, centroids, list(range(len(centroids))), nprobe
    )
    cand = enc.join(probe_df, "cell").select("query_id", "vec_id", "codes")
    cand = cand.join(F.broadcast(_lut_df(spark, cb, qu, qids)), "query_id")
    short = _adc_shortlist(cand, max(shortlist, k), exclude_self)
    return _exact_rerank(short, vectors, qu, qids, k, id_col, vec_col)


_RESULT_SCHEMA = (
    "query_id long, neighbor_id long, rank int, score double"
)


def _prep_queries(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Collect the (few) query vectors, drop zero-norm ones (cosine
    undefined — the shared contract), return (unit vectors, ids). The
    single place the query-side prep lives for every PQ-family search."""
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return np.empty((0, 0)), np.empty(0, np.int64)
    qm = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    qids = np.asarray([r[id_col] for r in q_rows], dtype=np.int64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    keep_q = qn[:, 0] > 0
    return qm[keep_q] / qn[keep_q], qids[keep_q]


def _probe_df(
    spark,
    qu: np.ndarray,
    qids: np.ndarray,
    centroids: np.ndarray,
    cells,
    nprobe: int,
):
    """(broadcast probe table, probed cell list) for the top-``nprobe``
    cells of each query."""
    scores = qu @ np.asarray(centroids, dtype=np.float64).T
    pairs = [
        (int(qid), int(cells[c]))
        for i, qid in enumerate(qids)
        for c in np.argsort(-scores[i])[:nprobe]
    ]
    probe = F.broadcast(local_table(spark, pairs, "query_id long, cell int"))
    return probe, sorted({c for _, c in pairs})


#: ADC score of one (codes, lut) row: the sum over the M subspaces of
#: lut[i][codes[i]], folded left to right (element_at is 1-based)
_ADC_SCORE_SQL = (
    "aggregate(zip_with(codes, lut, (_c, _row) -> element_at(_row, _c + 1)), "
    "-0.0D, (_acc, _t) -> _acc + _t)"
)


def _lut_df(
    spark, codebooks: np.ndarray, qu: np.ndarray, qids: np.ndarray
) -> DataFrame:
    """(query_id, lut) with lut[i][c] = <query subvector i, codebook i
    entry c>: the M×K asymmetric-distance table of each unit query,
    computed on the driver and shipped as a local table."""
    cb = np.asarray(codebooks, dtype=np.float64)
    lut = np.einsum("qis,ics->qic", qu.reshape(len(qu), cb.shape[0], cb.shape[2]), cb)
    return local_table(
        spark,
        [(int(q), lut[i].tolist()) for i, q in enumerate(qids)],
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
    scores — shared by the inline composition (knn_ivfpq), the
    persistent index (pq_index.search) and knn_pq_adc. The window's
    rank filter lets Catalyst put a partial WindowGroupLimit below the
    query_id exchange, so the shuffle carries at most ``n_short`` rows
    per (partition, query), never the candidate set."""
    return KNN._topk_window(_adc_scored(cand, exclude_self), n_short).select(
        "query_id", "neighbor_id"
    )
