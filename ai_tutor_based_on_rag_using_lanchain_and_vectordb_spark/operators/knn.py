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
   rerank inside. Approximate; the 100 TB path (cell assignment
   partitions/prunes the scan).

Plus ``lsh_similarity_join`` via MLlib BucketedRandomProjectionLSH on
unit-normalized vectors (Euclidean distance on unit sphere ⇔ cosine).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
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
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(V.quote_col(query_vec_col)).alias("qv"),
        V.norm(V.quote_col(query_vec_col)).alias("qnorm"),
    ).where(F.col("qnorm") > 0)  # zero-norm excluded: cosine undefined
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(V.quote_col(vec_col)).alias("cv"),
        V.norm(V.quote_col(vec_col)).alias("cnorm"),
    ).where(F.col("cnorm") > 0)
    cond = F.lit(True) if not exclude_self else F.col("query_id") != F.col("neighbor_id")
    scored = c.join(F.broadcast(q), cond).withColumn(
        "score", V.dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm"))
    )
    return _topk_window(scored, k)


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
# The coarse quantizer: one fit, one assignment, one persisted table and
# one probe for every IVF path (knn_ivf, pq.knn_ivfpq, the two
# persistent layouts, their upserts, semdedup).

#: the fit's seed; PQ subspace i uses _FIT_SEED + i
_FIT_SEED = 42
#: the fit's sample: the first max(4096, 39·k) rows by id. 39 points per
#: centroid is FAISS's training floor; 4096 is the floor PQ always used.
_FIT_MIN_SAMPLE = 4096
_POINTS_PER_CENTROID = 39
#: above this cell count the argmin expression (one dot product per
#: centroid against its literal array, O(cells·dim) plan literals) is the
#: bottleneck: the 100x probe measured a 390-cell assignment at ~145x
#: growth. The Arrow kernel does the same argmin as one matrix product
#: per batch.
_EXPR_ASSIGN_MAX_CELLS = 32

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


def _half_sq_norms(centroids: np.ndarray) -> np.ndarray:
    """|c|²/2 per centroid, computed one way for every assignment path
    and the probe, so their proxies agree bit for bit on this term."""
    c = np.asarray(centroids, dtype=np.float64)
    return 0.5 * (c * c).sum(axis=1)


def _nearest_cell_expr(vec: str, centroids: np.ndarray) -> tuple[Column, Column]:
    """(cell, unit-sphere distance) columns assigning a raw embedding to
    its nearest centroid (cell = the centroid's row) as one Catalyst
    expression. On unit vectors argmin ||u−c||² == argmin
    (|c|²/2 − u·c), so each centroid contributes one fold-form dot
    product against its array literal. Ties break on the lower cell id
    (array_min on struct(d, cell)). ``vec`` is a SQL expression string
    (e.g. ``V.quote_col(name)``); the whole argmin is parsed in one
    ``F.expr`` call."""
    nrm_sql = V.norm_sql(vec)
    pair_sqls = []
    for cell, (c, half) in enumerate(zip(centroids, _half_sq_norms(centroids))):
        # repr() round-trips the double; D keeps the literal DOUBLE
        proxy = f"({repr(float(half))}D - {V.dot_sql(vec, V.array_lit(c))} / {nrm_sql})"
        pair_sqls.append(f"struct({proxy} AS d, {cell} AS cell)")
    best = F.expr(f"array_min(array({', '.join(pair_sqls)}))")
    nrm = F.expr(nrm_sql)
    vec = F.expr(vec)
    # A null or all-zero embedding has no unit direction: the division
    # yields NULL, which would otherwise surface as a NULL proxy inside
    # the argmin struct. Make the no-cell case explicit and
    # DETERMINISTIC (both outputs NULL) so callers can route such rows
    # to a skip/quarantine path instead of crashing on None cells.
    unassignable = vec.isNull() | nrm.isNull() | (nrm == 0.0)
    cell_out = F.when(unassignable, F.lit(None).cast("int")).otherwise(best["cell"])
    # ||u−c||² = 1 + |c|² − 2·u·c = 1 + 2·proxy
    dist = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) + 2.0 * best["d"]))
    dist_out = F.when(unassignable, F.lit(None).cast("double")).otherwise(dist)
    return cell_out, dist_out


def with_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """``df`` plus the coarse quantizer's assignment: ``cell`` (int, the
    nearest centroid's row) and ``centroid_dist`` (unit-sphere distance
    to it), both NULL for a null or zero-norm embedding. Every builder,
    inline search, upsert and semdedup assigns cells here. Up to
    ``_EXPR_ASSIGN_MAX_CELLS`` cells the argmin is one Catalyst
    expression; above, an Arrow kernel computes the same proxy. Each
    cell count uses one path, so a build and its upserts agree."""
    if len(centroids) > _EXPR_ASSIGN_MAX_CELLS:
        return _with_cells_arrow(df, centroids, vec_col)
    cell, dist = _nearest_cell_expr(V.quote_col(vec_col), centroids)
    return df.select("*", cell.alias("cell"), dist.alias("centroid_dist"))


def _with_cells_arrow(
    df: DataFrame, centroids: np.ndarray, vec_col: str
) -> DataFrame:
    """mapInArrow assignment against the centroid matrix, the same
    proxy as :func:`_nearest_cell_expr` (ties to the lowest cell via
    argmin's first-minimum rule). Float accumulation order differs
    (matrix product vs fold), which only matters at exact-boundary
    ties. The input columns pass through as Arrow arrays, untouched."""
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)
    half = _half_sq_norms(C)
    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("cell", T.IntegerType()),
            T.StructField("centroid_dist", T.DoubleType()),
        ]
    )

    def run(batches):
        for b in batches:
            vals = b.column(vec_col).to_numpy(zero_copy_only=False)
            cell = np.zeros(len(vals), dtype=np.int32)
            dist = np.zeros(len(vals))
            ok = np.zeros(len(vals), dtype=bool)
            live = np.flatnonzero([v is not None for v in vals])
            if len(live):
                X = np.stack(vals[live]).astype(np.float64)
                norms = np.sqrt((X * X).sum(axis=1))
                nz = norms > 0.0
                live, X, norms = live[nz], X[nz], norms[nz]
                proxy = half[None, :] - (X / norms[:, None]) @ C.T
                best = proxy.argmin(axis=1)
                d = proxy[np.arange(len(best)), best]
                cell[live] = best
                dist[live] = np.sqrt(np.maximum(0.0, 1.0 + 2.0 * d))
                ok[live] = True
            yield pa.RecordBatch.from_arrays(
                b.columns + [pa.array(cell, mask=~ok), pa.array(dist, mask=~ok)],
                names=b.schema.names + ["cell", "centroid_dist"],
            )

    return df.mapInArrow(run, schema)


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


def _prep_queries(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Collect the (few) query vectors, drop zero-norm ones (cosine
    undefined, the shared contract), return (unit vectors, ids). The
    one query-side prep of every IVF-family search."""
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return np.empty((0, 0)), np.empty(0, np.int64)
    qm = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    qids = np.asarray([r[id_col] for r in q_rows], dtype=np.int64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    keep_q = qn[:, 0] > 0
    return qm[keep_q] / qn[keep_q], qids[keep_q]


def _probe_df(
    spark, qu: np.ndarray, qids: np.ndarray, centroids: np.ndarray, nprobe: int
):
    """(broadcast probe table, probed cell list) for the top-``nprobe``
    cells of each query, ranked by the assignment's own proxy
    |c|²/2 − u·c ascending, ties to the lower cell — so a query equal
    to a stored vector probes that vector's cell first."""
    C = np.asarray(centroids, dtype=np.float64)
    proxy = _half_sq_norms(C)[None, :] - qu @ C.T
    pairs = [
        (int(qid), int(c))
        for i, qid in enumerate(qids)
        for c in np.argsort(proxy[i], kind="stable")[:nprobe]
    ]
    probe = F.broadcast(local_table(spark, pairs, "query_id long, cell int"))
    return probe, sorted({c for _, c in pairs})


def _probe_search(
    celled: DataFrame,
    queries: DataFrame,
    prepped: tuple[np.ndarray, np.ndarray],
    centroids: np.ndarray,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    where: str | None = None,
    match_cols: tuple = (),
) -> DataFrame:
    """Exact top-k inside each query's top-``nprobe`` cells of a frame
    carrying a ``cell`` column (an assigned corpus or a cell-partitioned
    layout, whose scan the cell IN-filter prunes). ``where`` filters
    the pruned rows below scoring; ``match_cols`` requires a candidate
    to equal its query on each column. ``prepped`` is
    :func:`_prep_queries` of ``queries``, non-empty."""
    qu, qids = prepped
    probe_df, probed_cells = _probe_df(
        queries.sparkSession, qu, qids, centroids, nprobe
    )
    vectors = celled.where(F.col("cell").isin(probed_cells))
    if where is not None:
        vectors = vectors.where(where)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        V.as_double(F.col(V.quote_col(vec_col))).alias("qv"),
        V.norm(V.quote_col(vec_col)).alias("qnorm"),
        *[F.col(c).alias(f"_q_{c}") for c in match_cols],
    ).where(F.col("qnorm") > 0)  # zero-norm excluded: cosine undefined
    cand = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            V.as_double(F.col(V.quote_col(vec_col))).alias("cv"),
            "cell",
            V.norm(V.quote_col(vec_col)).alias("cnorm"),
            *[F.col(c).alias(f"_c_{c}") for c in match_cols],
        )
        .join(probe_df, "cell")
        .join(F.broadcast(q), "query_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    for c in match_cols:
        # per-query metadata equality, below scoring (NULL metadata on
        # either side never matches: three-valued logic drops it)
        cand = cand.where(F.col(f"_c_{c}") == F.col(f"_q_{c}"))
    scored = cand.withColumn(
        "score", V.dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm"))
    )
    return _topk_window(scored, k)


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
    query touches nprobe/n_clusters of the data (partition pruning:
    operators/ann_index.py). ``vec_col`` is a top-level column name."""
    prepped = _prep_queries(queries, id_col, vec_col)
    if not len(prepped[1]):  # empty or all zero-norm: no fit to pay
        return local_table(vectors.sparkSession, [], RESULT_SCHEMA)
    centroids = fit_centroids(vectors, n_clusters, vec_col, id_col)
    celled = with_cells(vectors, centroids, vec_col)
    return _probe_search(
        celled, queries, prepped, centroids, k, nprobe, id_col, vec_col
    )
