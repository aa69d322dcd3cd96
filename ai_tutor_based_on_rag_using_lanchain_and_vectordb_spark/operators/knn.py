"""k-NN / similarity-search operators (reference: Chroma retrieval,
backend/chroma_utils.py:237-263; k from backend/config.py:34).

Three physical strategies, trading exactness for scale:

1. ``knn_exact_expr`` — broadcast queries, the fold-form cosine of
   functions/vector.py (one Catalyst expression, any vector length),
   window top-k. Exact; right up to ~10^8 vectors per query batch.
2. ``knn_bruteforce_numpy`` — mapInPandas + numpy matmul with
   *per-partition partial top-k* before the final window: Arrow-batched,
   SIMD scoring; the shuffle carries only k rows per (partition, query).
   Exact scores (float64), used for throughput.
3. ``knn_ivf`` — IVF coarse quantization: centroids from the package's
   one seeded Lloyd fit on a bounded sample (``fit_centroids``),
   candidates restricted to the query's top-`nprobe` cells, exact
   rerank inside. Approximate; the one-shot composition of the cell
   machinery (the persistent, cell-partitioned index is
   operators/pq_index.py).

Every exact query-candidate cosine in the package — these strategies'
scores, the IVF and IVF+PQ re-ranks, MMR's relevance and the registered
exact k-NN plans — is one builder: ``vector_side`` projects each side
and ``cosine_scored`` broadcasts the queries onto the candidates and
scores dot(q, c) / (|q|·|c|), the DuckDB oracle's form.

Every assignment to a fitted quantizer — IVF cells, PQ codes and the
PQ quantization error — is one ``mapInArrow`` kernel, ``quantize``,
over one NumPy ranking, ``_proxy``; the probe ranks cells with the same
helper.

Plus ``lsh_similarity_join`` via MLlib BucketedRandomProjectionLSH on
unit-normalized vectors (Euclidean distance on unit sphere ⇔ cosine).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import vector as V
from ..session import local_table


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def vector_side(
    df: DataFrame, id_col: str, vec_col: str, prefix: str, id_alias: str, *extra
) -> DataFrame:
    """One side of the exact cosine: the id as ``id_alias``, the vector
    promoted to double once per row (``{prefix}v``), its norm
    (``{prefix}norm``) and any ``extra`` columns. Zero-norm rows drop
    out: cosine is undefined there (the oracle's contract). ``prefix``
    is ``"q"`` for the query side, ``"c"`` for the candidates;
    ``vec_col`` is a top-level column name."""
    vec = V.quote_col(vec_col)
    return df.select(
        F.col(id_col).alias(id_alias),
        V.as_double(F.col(vec)).alias(f"{prefix}v"),
        V.norm(vec).alias(f"{prefix}norm"),
        *extra,
    ).where(F.col(f"{prefix}norm") > 0)


def cosine_scored(cand: DataFrame, queries: DataFrame, on) -> DataFrame:
    """The package's one exact query-candidate cosine: the (few) query
    rows broadcast onto the candidates on the caller's join condition
    ``on`` (anything ``DataFrame.join`` takes), scored
    dot(q, c) / (|q|·|c|) — the DuckDB oracle's form, bit for bit.
    ``cand`` and ``queries`` are :func:`vector_side` projections with
    prefixes ``"c"`` and ``"q"``."""
    return cand.join(F.broadcast(queries), on).withColumn(
        "score", V.dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm"))
    )


def knn_exact_expr(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Strategy 1: broadcast nested-loop + fold-form cosine + window
    top-k. ``vec_col`` and ``query_vec_col`` are top-level column names."""
    q = vector_side(queries, query_id_col, query_vec_col, "q", "query_id")
    c = vector_side(vectors, id_col, vec_col, "c", "neighbor_id")
    cond = F.lit(True) if not exclude_self else F.col("query_id") != F.col("neighbor_id")
    return _topk_window(cosine_scored(c, q, cond), k)


_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def knn_bruteforce_numpy(
    vectors: DataFrame,
    query_matrix: "np.ndarray",
    query_ids: "np.ndarray",
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Strategy 2: numpy matmul scoring with per-partition partial top-k.

    `query_matrix` (Q×D) is closure-captured (broadcast with the task
    binary): fine for the "few queries against huge corpus" shape. Each
    Arrow batch computes an (N×Q) score block and keeps only the local
    top-k rows per query — the post-shuffle window sees ≤ k·partitions
    rows per query instead of N.
    """
    qm = np.asarray(query_matrix, dtype=np.float64)
    qnorm = np.linalg.norm(qm, axis=1)
    qids = np.asarray(query_ids, dtype=np.int64)

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[int, pd.DataFrame] = {}
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            scores = (mat @ qm.T) / np.outer(norms, qnorm)  # N×Q
            ids = pdf[id_col].to_numpy().astype(np.int64)
            for qi, qid in enumerate(qids):
                col = scores[:, qi]
                mask = ids != qid if exclude_self else np.ones(len(ids), bool)
                cand = pd.DataFrame(
                    {"query_id": qid, "neighbor_id": ids[mask], "score": col[mask]}
                )
                merged = pd.concat([best.get(qi, None), cand]) if qi in best else cand
                best[qi] = merged.nlargest(k, "score")
        if best:
            yield pd.concat(best.values(), ignore_index=True)

    partial = vectors.select(id_col, vec_col).mapInPandas(score_partition, _SCORE_SCHEMA)
    return _topk_window(partial, k)


def unit_vectors_ml(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """array<float> → unit-normalized MLlib dense vector column named
    ``{vec_col}_unit`` (what the LSH stage consumes)."""
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    with_vec = df.withColumn(
        "_mlvec", array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double")))
    )
    return Normalizer(inputCol="_mlvec", outputCol=f"{vec_col}_unit", p=2.0).transform(
        with_vec
    ).drop("_mlvec")


def lsh_similarity_join(
    df_a: DataFrame,
    df_b: DataFrame,
    threshold_cosine: float = 0.3,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine-similarity join: on unit vectors, cosine ≥ t ⇔
    euclidean ≤ sqrt(2-2t), so BucketedRandomProjectionLSH applies."""
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH

    a = unit_vectors_ml(df_a, vec_col)
    b = unit_vectors_ml(df_b, vec_col)
    lsh = BucketedRandomProjectionLSH(
        inputCol=f"{vec_col}_unit",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(a)
    dist = math.sqrt(max(2.0 - 2.0 * threshold_cosine, 0.0))
    joined = model.approxSimilarityJoin(a, b, dist, distCol="euclidean")
    return joined.select(
        F.col("datasetA.vec_id").alias("id_a"),
        F.col("datasetB.vec_id").alias("id_b"),
        (1 - F.col("euclidean") * F.col("euclidean") / 2).alias("cosine"),
    )


# ---------------------------------------------------------------------
# The coarse quantizer: one fit, one assignment kernel (which also
# encodes PQ), one persisted table and one probe for every IVF path
# (knn_ivf, pq.knn_ivfpq, the persistent IVF+PQ layout and its upserts,
# semdedup).

#: the fit's seed; PQ subspace i uses _FIT_SEED + i
_FIT_SEED = 42
#: the fit's sample: the first max(4096, 39·k) rows by id. 39 points per
#: centroid is FAISS's training floor; 4096 is the floor PQ always used.
_FIT_MIN_SAMPLE = 4096
_POINTS_PER_CENTROID = 39

#: result schema of every IVF-family search
RESULT_SCHEMA = "query_id long, neighbor_id long, rank int, score double"


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int = 25) -> np.ndarray:
    """Deterministic Lloyd k-means (seeded init, fixed iteration count,
    empty clusters re-seeded from the farthest points): the package's
    one k-means, so a fit is reproducible run to run and costs one
    driver collect, not a distributed job per iteration."""
    rng = np.random.RandomState(seed)
    init = rng.choice(len(x), size=min(k, len(x)), replace=False)
    cents = x[np.sort(init)].astype(np.float64).copy()
    if len(cents) < k:  # tiny sample: pad with jittered repeats
        pad = cents[rng.randint(0, len(cents), k - len(cents))]
        cents = np.vstack([cents, pad + 1e-6])
    x2 = (x * x).sum(axis=1)[:, None]
    for _ in range(iters):
        # ||x−c||² = ||x||² − 2x·c + ||c||²: an n×k matrix, never n×k×d
        d2 = x2 - 2.0 * (x @ cents.T) + (cents * cents).sum(axis=1)[None, :]
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


def fit_centroids(
    vectors: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pq: tuple[int, int] | None = None,
):
    """Fit the coarse quantizer on one bounded, deterministic sample:
    the first max(4096, 39·k) rows by ``id_col`` (TakeOrdered, not a
    sort of the corpus), unit-normalized, zero-norm and NULL rows
    dropped. FAISS trains IVF the same way, on a sample.

    Returns the (n_cells, D) cell centroids. With ``pq=(m, kc)`` the
    same sample also fits the M subspace codebooks and the result is
    ``(centroids, codebooks)`` with codebooks (m, kc, D/m); a build
    collects its sample once. ``n_cells=0`` fits no cells (centroids
    None). ``vec_col`` is a top-level column name."""
    k = max(n_cells, pq[1] if pq else 0)
    rows = (
        vectors.select(F.col(id_col), F.col(V.quote_col(vec_col)).alias("_v"))
        .orderBy(id_col)
        .limit(max(_FIT_MIN_SAMPLE, _POINTS_PER_CENTROID * k))
        .collect()
    )
    vecs = [r["_v"] for r in rows if r["_v"] is not None]
    x = np.asarray(vecs, dtype=np.float64) if vecs else np.zeros((0, 1))
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    if not len(x):
        raise ValueError("no non-zero vectors to fit the quantizer on")
    cells = _lloyd(x, n_cells, _FIT_SEED) if n_cells else None
    if pq is None:
        return cells
    m, kc = pq
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    codebooks = np.stack(
        [_lloyd(x[:, i * sub : (i + 1) * sub], kc, _FIT_SEED + i) for i in range(m)]
    )
    return cells, codebooks


def _proxy(u: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """|c|²/2 − u·c of each row of ``u`` against each centroid row
    (float64). For a fixed row ||u−c||² = |u|² + 2·proxy, so the argmin
    is the nearest centroid: the one ranking of every assignment and of
    the probe."""
    return 0.5 * (centroids * centroids).sum(axis=1)[None, :] - u @ centroids.T


def quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """``df`` assigned to a fitted quantizer in one ``mapInArrow`` pass:
    the package's one assignment kernel. Each vector is unit-normalized
    once, then ranked by :func:`_proxy` against the coarse
    ``centroids`` (n_cells, D) and against each of the M subspace
    ``codebooks`` (M, K, D/M); argmin ties go to the lower index.

    The input columns pass through as Arrow arrays, untouched. With
    ``centroids`` it adds ``cell`` (int, the nearest centroid's row) and
    ``centroid_dist`` (unit-sphere distance to it); with ``codebooks``
    it adds ``codes`` (array<int>, one entry per subspace), ``vnorm``
    (the vector's norm) and ``pq_error`` (the squared quantization
    error of the unit vector). Every added column is NULL for a NULL or
    zero-norm vector. ``vec_col`` is a top-level column name."""
    import pyarrow as pa

    C = None if centroids is None else np.asarray(centroids, dtype=np.float64)
    cb = None if codebooks is None else np.asarray(codebooks, dtype=np.float64)
    fields = []
    if C is not None:
        dim = C.shape[1]
        fields += [
            T.StructField("cell", T.IntegerType()),
            T.StructField("centroid_dist", T.DoubleType()),
        ]
    if cb is not None:
        m, _, sub = cb.shape
        dim = m * sub
        fields += [
            T.StructField("codes", T.ArrayType(T.IntegerType())),
            T.StructField("vnorm", T.DoubleType()),
            T.StructField("pq_error", T.DoubleType()),
        ]
    schema = T.StructType(df.schema.fields + fields)

    def run(batches):
        for b in batches:
            col = b.column(vec_col)
            valid = np.asarray(col.is_valid(), dtype=bool)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if len(flat) != int(valid.sum()) * dim:
                raise ValueError(f"every {vec_col} must have {dim} entries")
            X = flat.astype(np.float64).reshape(-1, dim)
            norms = np.sqrt((X * X).sum(axis=1))
            nz = norms > 0.0
            X, norms = X[nz] / norms[nz, None], norms[nz]
            ok = np.zeros(len(valid), dtype=bool)
            ok[np.flatnonzero(valid)[nz]] = True

            def column(vals):
                full = np.zeros(len(ok), dtype=vals.dtype)
                full[ok] = vals
                return pa.array(full, mask=~ok)

            rows = np.arange(len(X))
            out = []
            if C is not None:
                proxy = _proxy(X, C)
                best = proxy.argmin(axis=1)
                d = proxy[rows, best]
                out += [
                    column(best.astype(np.int32)),
                    column(np.sqrt(np.maximum(0.0, 1.0 + 2.0 * d))),
                ]
            if cb is not None:
                codes = np.empty((len(X), m), dtype=np.int32)
                err = np.zeros(len(X))
                for i in range(m):
                    seg = X[:, i * sub : (i + 1) * sub]
                    proxy = _proxy(seg, cb[i])
                    codes[:, i] = proxy.argmin(axis=1)
                    # ||seg−c||² = |seg|² + 2·proxy; roundoff can take
                    # the true minimum a hair below zero
                    err += np.maximum(
                        0.0, (seg * seg).sum(axis=1) + 2.0 * proxy[rows, codes[:, i]]
                    )
                offsets = np.zeros(len(ok) + 1, dtype=np.int32)
                offsets[1:] = np.cumsum(ok * m)
                out += [
                    pa.ListArray.from_arrays(
                        pa.array(offsets), pa.array(codes.ravel()), mask=pa.array(~ok)
                    ),
                    column(norms),
                    column(err),
                ]
            yield pa.RecordBatch.from_arrays(
                b.columns + out, names=b.schema.names + [f.name for f in fields]
            )

    return df.mapInArrow(run, schema)


def with_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """``df`` plus the coarse quantizer's assignment: ``cell`` (int, the
    nearest centroid's row) and ``centroid_dist`` (unit-sphere distance
    to it), both NULL for a null or zero-norm embedding. The
    :func:`quantize` kernel with the centroids only; every cell count
    takes this one path, so a build and its upserts agree."""
    return quantize(df, vec_col, centroids=centroids)


def write_centroids(spark, path: str, centroids: np.ndarray) -> None:
    """Persist a layout's quantizer as ``<path>/centroids``: one
    (cell, centroid) row per cell, cell = the centroid's row."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    local_table(spark, rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def read_centroids(spark, path: str) -> np.ndarray:
    """The (n_cells, D) centroid matrix :func:`write_centroids` stored,
    row i = cell i (one small collect)."""
    rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    rows.sort(key=lambda r: r["cell"])
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


class _Queries(NamedTuple):
    """A collected query batch, zero-norm rows dropped (cosine
    undefined, the shared contract): the raw vectors (Q×D float64, what
    the exact re-rank scores), their unit vectors (what the probe and
    the ADC tables rank), the ids, and the probe table's extra
    ``fields`` with each query's values of them (``meta``)."""

    raw: np.ndarray
    unit: np.ndarray
    ids: np.ndarray
    fields: tuple = ()
    meta: tuple = ()


def _queries(qm, qids, fields=(), meta=None) -> _Queries:
    """:class:`_Queries` of a (Q×D) query matrix and its ids."""
    qm = np.asarray(qm, dtype=np.float64)
    qids = np.asarray(qids, dtype=np.int64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    keep = qn[:, 0] > 0
    meta = [() for _ in qids] if meta is None else meta
    return _Queries(
        qm[keep], qm[keep] / qn[keep], qids[keep], tuple(fields),
        tuple(m for m, kept in zip(meta, keep) if kept),
    )


def _prep_queries(
    queries: DataFrame, id_col: str, vec_col: str, match_cols: tuple = ()
) -> _Queries:
    """Collect the (few) query rows with their ``match_cols`` values:
    the one query-side prep of every IVF-family search."""
    rows = queries.select(id_col, vec_col, *match_cols).collect()
    if not rows:
        return _Queries(np.empty((0, 0)), np.empty((0, 0)), np.empty(0, np.int64))
    return _queries(
        np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in rows]),
        [r[id_col] for r in rows],
        [queries.schema[c] for c in match_cols],
        [tuple(r[c] for c in match_cols) for r in rows],
    )


def _probe_df(spark, q: _Queries, centroids: np.ndarray, nprobe: int):
    """(broadcast probe table, probed cell list) for the top-``nprobe``
    cells of each query, ranked by the assignment's own proxy
    |c|²/2 − u·c ascending, ties to the lower cell — so a query equal
    to a stored vector probes that vector's cell first. Each (query_id,
    cell) row carries the query's ``meta`` values as its extra fields."""
    proxy = _proxy(q.unit, np.asarray(centroids, dtype=np.float64))
    pairs = [
        (int(qid), int(c), *q.meta[i])
        for i, qid in enumerate(q.ids)
        for c in np.argsort(proxy[i], kind="stable")[:nprobe]
    ]
    schema = T.StructType(
        [T.StructField("query_id", T.LongType()), T.StructField("cell", T.IntegerType()),
         *q.fields]
    )
    probe = F.broadcast(local_table(spark, pairs, schema))
    return probe, sorted({p[1] for p in pairs})


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 2,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Strategy 3: fit the coarse quantizer, assign every vector to its
    cell, score each query only against its top-`nprobe` nearest cells,
    exact rerank inside.

    At 100 TB the assignment is a write-time partitioning column, so a
    query touches nprobe/n_clusters of the data (partition pruning: the
    persistent layout of operators/pq_index.py). ``vec_col`` is a
    top-level column name."""
    spark = vectors.sparkSession
    q = _prep_queries(queries, id_col, vec_col)
    if not len(q.ids):  # empty or all zero-norm: no fit to pay
        return local_table(spark, [], RESULT_SCHEMA)
    centroids = fit_centroids(vectors, n_clusters, vec_col, id_col)
    probe_df, _cells = _probe_df(spark, q, centroids, nprobe)
    cand = vector_side(
        with_cells(vectors, centroids, vec_col), id_col, vec_col, "c", "neighbor_id", "cell"
    ).join(probe_df, "cell")
    scored = cosine_scored(
        cand, vector_side(queries, id_col, vec_col, "q", "query_id"), "query_id"
    )
    return _topk_window(scored.where(F.col("neighbor_id") != F.col("query_id")), k)
