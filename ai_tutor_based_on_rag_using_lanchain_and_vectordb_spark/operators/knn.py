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
3. ``knn_ivf`` — IVF coarse quantization: KMeans centroids (MLlib),
   candidates restricted to the query's top-`nprobe` clusters, exact
   rerank inside. Approximate; the 100 TB path (cluster assignment
   partitions/prunes the scan).

Plus ``lsh_similarity_join`` via MLlib BucketedRandomProjectionLSH on
unit-normalized vectors (Euclidean distance on unit sphere ⇔ cosine).
"""

from __future__ import annotations

from collections.abc import Iterator

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
    ``{vec_col}_unit`` (what the LSH / KMeans stages consume)."""
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


def fit_ivf_centroids(
    vectors: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF coarse quantizer: KMeans over the (sampled) corpus. Returns
    (model, centroids ndarray)."""
    from pyspark.ml.clustering import KMeans

    prepared = unit_vectors_ml(vectors, vec_col)
    km = KMeans(k=n_clusters, seed=seed, featuresCol=f"{vec_col}_unit")
    model = km.fit(prepared)
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return model, centroids


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 2,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Strategy 3: assign every vector to a KMeans cell; score each query
    only against its top-`nprobe` nearest cells, exact rerank inside.

    At 100 TB the assignment is a write-time partitioning column, so a
    query touches nprobe/n_clusters of the data (partition pruning).
    ``vec_col`` is a top-level column name."""
    model, centroids = fit_ivf_centroids(vectors, n_clusters, vec_col)
    assigned = model.transform(unit_vectors_ml(vectors, vec_col)).withColumnRenamed(
        "prediction", "cell"
    )

    # query → top-nprobe cells (tiny: Q×C in the driver is fine; Q and C
    # are both small by construction)
    q_rows = queries.select(id_col, vec_col).collect()
    qm = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    qm_unit = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    cell_scores = qm_unit @ centroids.T
    probe = [
        (int(r[id_col]), [int(c) for c in np.argsort(-cell_scores[i])[:nprobe]])
        for i, r in enumerate(q_rows)
    ]
    spark = vectors.sparkSession
    probe_df = F.broadcast(
        local_table(
            spark,
            [(qid, cell) for qid, cells in probe for cell in cells],
            "query_id long, cell int",
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(V.quote_col(vec_col)).alias("qv"),
        V.norm(V.quote_col(vec_col)).alias("qnorm"),
    )
    cand = (
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(V.quote_col(vec_col)).alias("cv"),
            F.col("cell"),
            V.norm(V.quote_col(vec_col)).alias("cnorm"),
        )
        .join(probe_df, "cell")  # restrict to probed cells per query
        .join(F.broadcast(q), "query_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    scored = cand.withColumn(
        "score", V.dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm"))
    )
    return _topk_window(scored, k)
