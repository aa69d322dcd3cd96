"""Maximal-marginal-relevance (MMR) re-ranking over a bounded k-NN
candidate pool — the diversity-aware retrieval variant the reference's
RAG surface can enable with one flag (backend/langchain_utils.py:13
builds the retriever with pure top-k similarity; ``search_type="mmr"``
is the ubiquitous LangChain/Chroma alternative, same candidate pool,
greedy re-selection).

Semantics (Carbonell & Goldstein 1998, as implemented by the LangChain
``maximal_marginal_relevance`` helper): given query q and candidate
pool C (the top-C most similar items), select k items greedily —

- first pick: argmax relevance = cos(q, d);
- pick i>1: argmax over remaining d of
  ``λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)``.

Ties break by neighbor id ascending. λ=1 degenerates to pure top-k;
λ=0 to pure diversity.

Physical plan (the 100 TB story): the pool is BOUNDED (top-C per query
from the existing exact/IVF paths, C ≤ 64), so MMR is per-query local
work, never corpus-scale: ONE aggregation groups each query's pool and
its C² pairwise similarities into a single row (a struct array + a
POOL-LOCAL-id-keyed map — candidates are re-indexed 0..C-1 inside
their pool, so the packed map key is < C² regardless of how large the
global id space grows; scaled corpora with 64-bit ids just work), and
the k-step greedy runs entirely JVM-side as nested higher-order
functions — ``aggregate(sequence(1, k), …)`` folds the selected-lid
array, an inner fold does the argmax, an innermost fold the
max-similarity-to-selected lookup. No Python in the row path, no
per-iteration shuffle, no driver state: Q queries re-rank as Q
independent rows, and the scoring scan below the pool window is the
same broadcast map-only stage as knn_exact.

Determinism / oracle parity: cosines are quantized to 1e-6 integers on
the portable grid (``floor(x·1e6 + 0.5)``) and λ enters as an integer
per-mille, so every greedy comparison is exact int64 arithmetic —
bit-identical between Spark and the DuckDB recursive-CTE oracle
(plans/vectors.py knn_mmr_rerank, which joins on global ids directly
and needs no packing). Tie-breaks use the GLOBAL neighbor id on both
sides, so local re-indexing never changes the selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..session import default_parallelism
from .knn import cosine_scored, vector_side

__all__ = ["mmr_rerank", "SIM_SCALE"]

#: quantization grid for cosine scores (1e-6 — six digits carries the
#: full useful precision of float32 embeddings)
SIM_SCALE = 1_000_000
#: below any reachable objective (|obj| ≤ 1000·SIM_SCALE + 1000·2·SIM_SCALE)
_NEG_OBJ = -(2**62)
#: below any quantized cosine (≥ -SIM_SCALE) but safe to scale by 1000
_NEG_SIM = -2 * SIM_SCALE
#: pool size ceiling: keeps the local-id-packed sim-map key < 2¹²ᵇⁱᵗˢ
#: and the per-row C² map bounded (4096 entries at the ceiling)
MAX_FETCH_C = 64


def _quant(score) -> F.Column:
    return F.floor(score * SIM_SCALE + F.lit(0.5)).cast("long")


def _check_params(k: int, fetch_c: int, lam_permille: int) -> None:
    if not 0 <= lam_permille <= 1000:
        raise ValueError("lam_permille must be in [0, 1000]")
    if k > fetch_c:
        raise ValueError("k cannot exceed the candidate pool size")
    if fetch_c > MAX_FETCH_C:
        raise ValueError(f"fetch_c > {MAX_FETCH_C}: the per-row C² sim map "
                         "stops being 'bounded local work' past that")


def _pool_from_scored(scored: DataFrame, fetch_c: int) -> DataFrame:
    """Top-C pool with pool-local ids from a (query_id, nid, score,
    cv, cnorm) scored frame. Membership cuts on the QUANTIZED grid
    (ties → nid asc) so it is engine-exact; the window rank minus one
    IS the local id the sim map is keyed on. Consumed exactly once (the
    single per-query aggregation in :func:`_mmr_select`), so no pin is
    needed — optimization r13 removed the C² pair self-join that used
    to be the second consumer."""
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("nid"))
    return (
        scored.select(
            "query_id",
            "nid",
            _quant(F.col("score")).alias("rel"),
            (F.floor(F.col("score") * 10_000 + F.lit(0.5)) / 10_000).alias(
                "relevance"
            ),
            "cv",
            "cnorm",
        )
        .withColumn("lid", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("lid") < fetch_c)
    )


def mmr_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    fetch_c: int = 16,
    lam_permille: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank, relevance): greedy MMR selection of
    ``k`` items from the top-``fetch_c`` EXACT cosine candidates per
    query. ``relevance`` is the plain query-candidate cosine (pround
    4), so a caller can see exactly what diversity traded away.
    ``vec_col`` and ``query_vec_col`` are top-level column names."""
    _check_params(k, fetch_c, lam_permille)
    q = vector_side(queries, query_id_col, query_vec_col, "q", "query_id")
    c = vector_side(vectors, id_col, vec_col, "c", "nid")
    cond = (
        F.col("query_id") != F.col("nid") if exclude_self else F.lit(True)
    )
    scored = cosine_scored(c.repartition(default_parallelism()), q, cond)
    pool = _pool_from_scored(scored, fetch_c)
    return _mmr_select(pool, k, fetch_c, int(lam_permille))


def mmr_rerank_candidates(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    fetch_c: int = 16,
    lam_permille: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MMR over a PRE-RETRIEVED candidate set — the production
    arrangement: any retriever (IVF / PQ / IVF+PQ searcher output)
    supplies ``candidates`` = (query_id, neighbor_id, score) with
    score the exact query-candidate cosine of its rerank stage, and
    MMR re-selects k of the top-``fetch_c``. ``vectors`` is joined
    only to fetch the candidates' embeddings for the pairwise term —
    a semi-bounded join of Q·C rows against the corpus, the same
    shape as the ANN searchers' own rerank fetch. The greedy itself is
    identical to :func:`mmr_rerank` (shared pool/selection path), so
    exact-pool vs ANN-pool differences come ONLY from pool membership
    — which Q(knn_mmr_ivf)'s overlap gate measures.
    ``vec_col`` is a top-level column name."""
    _check_params(k, fetch_c, lam_permille)
    cand = candidates.select(
        "query_id",
        F.col("neighbor_id").alias("nid"),
        F.col("score").cast("double").alias("score"),
    )
    vecs = vector_side(vectors, id_col, vec_col, "c", "nid")
    scored = cand.join(vecs.hint("shuffle_hash"), "nid").select(
        "query_id", "nid", "score", "cv", "cnorm"
    )
    pool = _pool_from_scored(scored, fetch_c)
    return _mmr_select(pool, k, fetch_c, int(lam_permille))


def _mmr_select(
    pool: DataFrame, k: int, fetch_c: int, lam: int
) -> DataFrame:
    stride = F.lit(int(fetch_c)).cast("long")

    # ONE aggregation per query (optimization r13): the pool collects
    # into a single struct array, and the C² pairwise-similarity map is
    # computed JVM-side from that array with nested higher-order
    # functions — the former plan's pool self-join + second groupBy +
    # state join (2 extra Exchanges + a pool pin) collapse into this
    # projection. V.dot's fold is the same left-to-right summation as
    # the scoring join, so every quantized sim is bit-identical to the
    # join form (and to the DuckDB oracle). The map includes the
    # never-looked-up diagonal (the greedy only consults (lid, s) pairs
    # with s ∈ selected, lid ∉ selected); with a partially-filled pool
    # (C' < fetch_c) absent keys behave as before — element_at yields
    # NULL and greatest() skips it.
    pooled = pool.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("lid", "nid", "rel", "relevance", "cv", "cnorm")
            )
        ).alias("pool"),
    )
    # same arithmetic as _quant, in SQL text so the fold can name the
    # lambda variables
    simmap = F.expr(
        "map_from_entries(flatten(transform(pool, _pa -> transform(pool, _pb -> "
        f"struct(_pa.lid * CAST({int(fetch_c)} AS BIGINT) + _pb.lid AS key, "
        f"CAST(floor({V.dot_sql('_pa.cv', '_pb.cv')} / (_pa.cnorm * _pb.cnorm) "
        f"* {SIM_SCALE} + 0.5D) AS BIGINT) AS value)))))"
    )
    state = pooled.select(
        "query_id",
        F.transform(
            "pool",
            lambda p: F.struct(
                p["lid"].alias("lid"),
                p["nid"].alias("nid"),
                p["rel"].alias("rel"),
            ),
        ).alias("cands"),
        F.map_from_entries(
            F.transform(
                "pool",
                lambda p: F.struct(
                    p["lid"],
                    F.struct(
                        p["nid"].alias("nid"),
                        p["relevance"].alias("relevance"),
                    ),
                ),
            )
        ).alias("outmap"),
        simmap.alias("simmap"),
    )

    # the greedy loop, entirely in codegen: fold k steps over the
    # selected-lid array; each step's argmax folds the candidate array;
    # each objective folds the selected array for max-sim-to-selected
    def _maxsim(sel, lid):
        # empty sel → _NEG_SIM, which is an additive constant across
        # candidates (first pick == pure relevance argmax, as specified)
        return F.aggregate(
            sel,
            F.lit(_NEG_SIM).cast("long"),
            lambda m, s: F.greatest(
                m, F.element_at(F.col("simmap"), lid * stride + s)
            ),
        )

    def _argmax(sel):
        init = F.struct(
            F.lit(-1).cast("long").alias("lid"),
            F.lit(-1).cast("long").alias("nid"),
            F.lit(_NEG_OBJ).cast("long").alias("obj"),
        )

        def step(acc, cand):
            obj = (
                F.lit(lam) * cand["rel"]
                - F.lit(1000 - lam) * _maxsim(sel, cand["lid"])
            )
            # tie-break on the GLOBAL id (matches the oracle); acc.nid
            # is -1 only alongside obj == _NEG_OBJ, which any real obj
            # beats strictly
            better = (obj > acc["obj"]) | (
                (obj == acc["obj"]) & (cand["nid"] < acc["nid"])
            )
            return F.when(F.array_contains(sel, cand["lid"]), acc).otherwise(
                F.when(
                    better,
                    F.struct(
                        cand["lid"].alias("lid"),
                        cand["nid"].alias("nid"),
                        obj.alias("obj"),
                    ),
                ).otherwise(acc)
            )

        return F.aggregate(F.col("cands"), init, step)["lid"]

    # always append the step's argmax (−1 once the pool is exhausted)
    # and strip the −1 suffix afterwards: ONE _argmax evaluation per
    # step instead of the former test-then-append double evaluation —
    # halves the expression tree (optimization r13). Equivalent: −1
    # appears only after every candidate is selected (monotone), a −1
    # in the accumulator matches no cand.lid (≥ 0), and its _maxsim
    # lookup key lid·stride − 1 cannot collide with a real key (lb =
    # stride−1 exists only when the pool is FULL, in which case k ≤ C
    # means exhaustion — and −1 — is unreachable).
    selected = F.filter(
        F.aggregate(
            F.sequence(F.lit(1), F.lit(int(k))),
            F.expr("CAST(array() AS ARRAY<BIGINT>)"),
            lambda acc, _i: F.concat(acc, F.array(_argmax(acc))),
        ),
        lambda x: x != -1,
    )

    return (
        state.select(
            "query_id", "outmap", F.posexplode(selected).alias("pos", "lid")
        )
        .select(
            "query_id",
            F.element_at(F.col("outmap"), F.col("lid"))["nid"].alias(
                "neighbor_id"
            ),
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.element_at(F.col("outmap"), F.col("lid"))["relevance"].alias(
                "relevance"
            ),
        )
    )
