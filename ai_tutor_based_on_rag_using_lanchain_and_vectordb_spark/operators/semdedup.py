"""SemDeDup-style semantic deduplication: cluster-bucketed embedding
near-dup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", arXiv:2303.09540).

The modern layer above the pairwise dedup stack: instead of scoring
pairs across the whole corpus (quadratic) or within a metadata block
(plans/vectors.py blocks on ``label``), vectors are first assigned to
IVF cells — the same coarse-quantizer assignment the persistent ANN
index uses (operators/knn.py) — and cosine pairs are generated
STRICTLY within a cell. At 100 TB the pair space is Σ|cell|² instead
of N², each cell's pair generation is salt-spread across tasks by the
proven near-dup machinery (plans/vectors.py), and no cross-cell pair
exists anywhere in the plan by construction.

Prune rule — the paper's upper-triangular max rule, which is
deliberately NON-recursive (a vector's fate does not depend on whether
its witness itself survives): order the cell's vectors by a priority
key; a vector is PRUNED iff some strictly-earlier vector in the SAME
cell has cosine ≥ threshold with it. Supported orders:

- ``"id"`` (default): priority = vec_id ascending — the smallest id in
  every duplicate neighborhood survives. Deterministic and exactly
  SQL-expressible (``NOT EXISTS`` earlier witness), which is what the
  exhaustive-configuration oracle checks.
- ``"centroid"``: priority = distance to the cell centroid DESCENDING
  (ties by id) — keeps the example LEAST similar to its cluster
  centroid, the paper's reported-best keep heuristic (§4.3 of the
  paper: low-similarity examples carry the most marginal information).

Exhaustive configuration (``n_cells=1``) reduces to all-pairs semantic
dedup over the whole table — the oracle-checkable case. The reference
anchor is the exact-hash ingest dedup gate at backend/db_utils.py:173,
221-225; this operator is its semantic-scale descendant (equal bytes →
equal meaning).

Zero-norm / NULL embeddings have no cosine direction and are OUTSIDE
the operator's domain (same contract as every cosine path in this
repo): they appear in neither the kept nor the pruned set.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from ..session import pin
from .knn import _nearest_cell_expr, fit_centroids, with_cells

DEFAULT_THRESHOLD = 0.3


def assign_cells(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(id, embedding, cell, centroid_dist) with the coarse quantizer of
    operators/knn.py — the fit and the cell assignment the persistent
    ANN layouts use. ``centroids`` skips the fit — the production
    shape: the quantizer is amortized infrastructure shared with the
    ANN index and refit on drift, not refit per dedup pass. Rows
    outside the cosine domain (NULL / zero-norm) are dropped.
    ``vec_col`` is a top-level column name."""
    vq = V.quote_col(vec_col)
    base = vectors.select(id_col, vec_col).where(
        F.col(vq).isNotNull() & (V.norm(vq) > 0)
    )
    if n_cells == 1 and centroids is None:
        # no quantizer needed: one cell, distance measured to the mean
        # direction only when an order key asks for it (semdedup passes
        # centroids explicitly for order="centroid")
        return base.select(
            id_col,
            vec_col,
            F.lit(0).alias("cell"),
            F.lit(None).cast("double").alias("centroid_dist"),
        )
    if centroids is None:
        centroids = fit_centroids(base, n_cells, vec_col, id_col)
    return with_cells(base, centroids, vec_col)


def _mean_direction_dist(
    vectors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """centroid_dist for the 1-cell case: unit-sphere distance to the
    corpus mean direction, via the same argmin expression machinery as
    the multi-cell path (one centroid ⇒ the argmin is just that
    centroid's distance)."""
    vq = V.quote_col(vec_col)
    sums = (
        vectors.select(F.posexplode(V.as_double(F.col(vq))).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.avg("x").alias("m"))
        .orderBy("dim")
        .collect()
    )  # bounded: one row per embedding dimension
    centroid = np.asarray([r["m"] for r in sums], dtype=np.float64)
    _, dist_col = _nearest_cell_expr(vq, centroid[None, :])
    return vectors.withColumn("centroid_dist", dist_col)


def semdedup(
    vectors: DataFrame,
    n_cells: int = 1,
    threshold: float = DEFAULT_THRESHOLD,
    order: str = "id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "numpy",
    collapse: bool | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Semantic dedup decision per vector: (vec_id, cell, kept).

    ``kept = false`` ⇔ some same-cell vector with strictly higher
    priority scores cosine ≥ ``threshold`` against it. Pair generation
    reuses plans/vectors.embedding_neardup_pairs_df with the cell as
    the blocking key — salted self-join / cogrouped Arrow kernel,
    duplicate-collapse rewrite, zero-norm contract and all — so the
    plan is cell-local and skew-spread end to end; this function adds
    only the (cheap, pair-bounded) prune bookkeeping on top.

    ``engine`` forwards to the pair scorer ("numpy" = cogrouped Arrow
    kernel, anything else = the codegen expression join); the two are
    bit-parity-tested, which the pruned-configuration gate exploits as
    a cross-engine check.
    """
    if order not in ("id", "centroid"):
        raise ValueError(f"order must be 'id' or 'centroid', got {order!r}")
    # plans.vectors imports operators lazily, never this module — the
    # late import here keeps the module graph acyclic
    from ..plans.vectors import embedding_neardup_pairs_df

    assigned = assign_cells(vectors, n_cells, id_col, vec_col, centroids=centroids)
    # pin the assignment: it feeds the pair generator, both prune-key
    # branches and the final flag join — without the pin each branch
    # re-runs the scan + argmin and the DAG deepens by the whole pair
    # machinery per branch. The assignment is (id, vec, cell, dist) —
    # the operator's working set, same bound as the index build. LAZY
    # (optimization r14): the collapse preflight (has_exact_duplicates,
    # the first action over it) materializes the pin inside its own
    # job, dropping the dedicated eager-checkpoint round trip.
    assigned = pin(assigned)
    if order == "centroid" and n_cells == 1 and centroids is None:
        assigned = _mean_direction_dist(
            assigned.drop("centroid_dist"), id_col, vec_col
        )

    labeled = assigned.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.col("cell").alias("label"),
    )
    pairs = embedding_neardup_pairs_df(
        labeled, threshold=threshold, engine=engine, collapse=collapse
    )

    if order == "id":
        # priority = ascending id and pairs are emitted vec_a < vec_b:
        # every pair prunes exactly its b side
        pruned = pairs.select(F.col("vec_b").alias("_pid")).distinct()
    else:
        # priority = (centroid_dist DESC, id ASC): the pair member with
        # the SMALLER distance (more centroid-typical) is pruned; ties
        # fall back to pruning the larger id
        keys = assigned.select(
            F.col(id_col).alias("_kid"), F.col("centroid_dist").alias("_kd")
        )
        ka = keys.select(F.col("_kid").alias("vec_a"), F.col("_kd").alias("_da"))
        kb = keys.select(F.col("_kid").alias("vec_b"), F.col("_kd").alias("_db"))
        pruned = (
            pairs.join(ka.hint("shuffle_hash"), "vec_a")
            .join(kb.hint("shuffle_hash"), "vec_b")
            .select(
                F.when(F.col("_db") < F.col("_da"), F.col("vec_b"))
                .when(F.col("_da") < F.col("_db"), F.col("vec_a"))
                .otherwise(F.col("vec_b"))  # tie: larger id (a < b)
                .alias("_pid")
            )
            .distinct()
        )

    return (
        assigned.select(F.col(id_col).alias("vec_id"), "cell")
        .join(
            pruned.withColumn("_hit", F.lit(1)).hint("shuffle_hash"),
            F.col("vec_id") == F.col("_pid"),
            "left",
        )
        .select("vec_id", "cell", F.col("_hit").isNull().alias("kept"))
    )
