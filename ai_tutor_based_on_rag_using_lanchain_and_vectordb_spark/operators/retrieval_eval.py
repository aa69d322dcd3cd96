"""Ranked-retrieval quality metrics — the evaluation half a retrieval
stack needs (the reference tunes its retriever k by hand,
backend/langchain_utils.py:13; production RAG teams regression-gate
retriever changes on recall/MRR/nDCG against a labeled query set).

``ranking_metrics`` scores ANY (query_id, doc_id, rank) ranking
against ANY (query_id, doc_id) relevance set, cut off at k, with the
standard binary-relevance metrics:

- ``recall_at_k``  = |relevant ∩ top-k| / |relevant|
- ``precision_at_k`` = |relevant ∩ top-k| / k
- ``mrr``          = 1 / rank of the first relevant hit (0 if none)
- ``ndcg_at_k``    = DCG@k / IDCG@k with binary gains,
  DCG = Σ_{hits} 1/log2(rank+1), IDCG = Σ_{i≤min(|rel|,k)} 1/log2(i+1)

Exactness/oracle parity: every log term is pround-quantized (1e-6)
BEFORE the exact decimal sum (the BM25 contribution convention — the
single ln libm relaxation documented in operators/bm25.py), ratios of
integers are plain double division of identical operands, and final
values are pround(…, 6) — so the DuckDB mirror hash-matches.

Scale shape: rankings are top-k-bounded per query BEFORE any join
(Q·k rows), the relevance join is a semi-join on (query, doc), and
the per-query aggregation is one map-side-combined groupBy — nothing
corpus-scaled crosses the wire beyond the relevance derivation the
caller supplies.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import exact as X
from ..session import pin

__all__ = ["ranking_metrics"]

_LN2 = math.log(2.0)


def _inv_log2(col) -> F.Column:
    # 1/log2(x+1) with the portable quantization: ln is the one libm
    # relaxation (same in both engines for these small integer inputs),
    # pround(…, 6) pins the grid before the exact sum
    return X.pround(F.lit(1.0) / (F.log(col + F.lit(1.0)) / F.lit(_LN2)), 6)


def ranking_metrics(
    ranked: DataFrame,
    relevant: DataFrame,
    k: int,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    graded: DataFrame | None = None,
    grade_col: str = "grade",
) -> DataFrame:
    """One row per query id present in ``ranked``:
    (query_id, n_rel, hits, recall_at_k, precision_at_k, mrr,
    ndcg_at_k). Queries with an empty relevance set score 0 on every
    metric (not NULL — a regression gate wants a comparable number).

    ``graded`` (optional) adds ``ndcg_graded_at_k``: a (query_id,
    doc_id, grade) frame of integer relevance grades (e.g. number of
    matched query terms — binary contains-all-terms truth saturates
    quickly; integer grades stay oracle-exact). Graded gain is linear
    (gain = grade): DCG_g = Σ_topk grade/log2(rank+1); IDCG_g sorts
    the grade set descending and takes the best k positions. Each term
    is pround(grade · pround(1/log2(·),6), 6) before the exact decimal
    sum — grade is a small integer so the product rounds once,
    identically in both engines (the PRF weight-multiply convention).
    The per-query IDCG top-k is a WindowGroupLimit over the graded
    set (partial top-k before any exchange)."""
    from pyspark.sql import Window

    q = query_col
    # pin both inputs (optimization r13): ``ranked`` feeds the query
    # universe, the hit semi-join and (graded) the DCG join — unpinned,
    # each consumer re-ran the caller's whole ranking plan (for the
    # BM25/fusion rankers, the full scoring pipeline, 2-3×). ``rel``
    # feeds n_rel and the semi-join. Both frames are top-k/Q-bounded; a
    # caller-side pin of an already-pinned frame only copies Q·k rows,
    # which is noise.
    ranked = pin(ranked)
    base = ranked.select(q).distinct()
    rel = pin(relevant.select(q, doc_col).distinct())
    n_rel = rel.groupBy(q).agg(F.count(F.lit(1)).cast("long").alias("n_rel"))

    topk = ranked.where(F.col(rank_col) <= k).select(q, doc_col, rank_col)
    hit_rows = topk.join(rel, [q, doc_col], "left_semi")
    per_q = hit_rows.groupBy(q).agg(
        F.count(F.lit(1)).cast("long").alias("hits"),
        F.min(rank_col).alias("first_rank"),
        X.dsum(_inv_log2(F.col(rank_col).cast("double")), 6).alias("dcg"),
    )
    # ideal DCG: the best achievable ordering puts min(n_rel, k)
    # relevant docs at ranks 1..m — a per-query m-row explode, m ≤ k
    idcg = (
        n_rel.select(
            q,
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k)))
            ).alias("i"),
        )
        .groupBy(q)
        .agg(X.dsum(_inv_log2(F.col("i").cast("double")), 6).alias("idcg"))
    )

    out = (
        base.join(n_rel, q, "left")
        .join(per_q, q, "left")
        .join(idcg, q, "left")
    )
    graded_cols = []
    if graded is not None:
        g = graded.select(
            q, doc_col, F.col(grade_col).cast("double").alias("_g")
        )
        gdcg = (
            topk.join(g, [q, doc_col])
            .groupBy(q)
            .agg(
                X.dsum(
                    X.pround(
                        F.col("_g")
                        * _inv_log2(F.col(rank_col).cast("double")),
                        6,
                    ),
                    6,
                ).alias("dcg_g")
            )
        )
        wg = Window.partitionBy(q).orderBy(
            F.desc("_g"), F.asc(doc_col)
        )
        gidcg = (
            g.withColumn("_pos", F.row_number().over(wg))
            .where(F.col("_pos") <= k)
            .groupBy(q)
            .agg(
                X.dsum(
                    X.pround(
                        F.col("_g")
                        * _inv_log2(F.col("_pos").cast("double")),
                        6,
                    ),
                    6,
                ).alias("idcg_g")
            )
        )
        out = out.join(gdcg, q, "left").join(gidcg, q, "left")
        graded_cols = [
            X.pround(
                F.when(
                    F.col("idcg_g").isNotNull() & (F.col("idcg_g") > 0),
                    F.coalesce(F.col("dcg_g"), F.lit(0.0))
                    / F.col("idcg_g"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg_graded_at_k")
        ]
    nrel = F.coalesce(F.col("n_rel"), F.lit(0)).cast("long")
    hits = F.coalesce(F.col("hits"), F.lit(0)).cast("long")
    return out.select(
        q,
        nrel.alias("n_rel"),
        hits.alias("hits"),
        X.pround(
            F.when(nrel > 0, hits.cast("double") / nrel.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("recall_at_k"),
        X.pround(hits.cast("double") / F.lit(float(k)), 6).alias(
            "precision_at_k"
        ),
        X.pround(
            F.coalesce(
                F.lit(1.0) / F.col("first_rank").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("mrr"),
        X.pround(
            F.when(
                F.col("idcg").isNotNull() & (F.col("idcg") > 0),
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg_at_k"),
        *graded_cols,
    )
