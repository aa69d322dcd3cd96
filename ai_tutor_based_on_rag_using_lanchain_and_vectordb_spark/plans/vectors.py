"""Vector / similarity-search queries over the ``embeddings`` table —
the Chroma k-NN retrieval re-expressed Spark-first (reference
backend/chroma_utils.py:237-263, retriever k from backend/config.py:34).

Physical strategy (100 TB design point):

- Query vectors are tiny → ``broadcast`` them against the big vector
  table: the scan side never shuffles; scoring is a map-only stage.
- Top-k per query via ``row_number`` over (score DESC, id ASC) —
  WindowGroupLimit makes this a partial top-k before any exchange.
- Metadata filters (label) are applied *below* scoring so partition /
  row-group pruning kicks in before any math.
- Approximate variants (LSH / IVF) live in operators/knn.py; here are
  the exact paths that have DuckDB-expressible oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact as X
from ..functions import vector as V
from ..operators import knn as KNN
from ..operators.semdedup import assign_cells, embedding_neardup_pairs_df, semdedup
from ..session import default_parallelism, local_table, pin

K = 5
N_QUERIES = 5  # vec_id < 5 are the designated query vectors


def _scored_pairs(embeddings: DataFrame, same_label_only: bool) -> DataFrame:
    """The exact cosine of the N_QUERIES designated queries against the
    whole table (the one scorer, operators/knn.py ``cosine_scored``),
    optionally restricted to the query's own label."""
    queries = KNN.vector_side(
        embeddings.where(F.col("vec_id") < N_QUERIES), "vec_id", "embedding",
        "q", "query_id", F.col("label").alias("qlabel"),
    )
    cand = KNN.vector_side(
        embeddings, "vec_id", "embedding", "c", "neighbor_id",
        F.col("label").alias("clabel"),
    )
    cond = F.col("query_id") != F.col("neighbor_id")
    if same_label_only:
        cond = cond & (F.col("qlabel") == F.col("clabel"))
    # explicit repartition: the scan side is one small parquet file (one
    # input split), which would make the broadcast-join scoring stage a
    # single task; a fixed-count round-robin fans the N×Q scoring out
    # across the executor threads (AQE never coalesces explicit counts)
    return KNN.cosine_scored(cand.repartition(default_parallelism()), queries, cond)


def _exact_topk(emb: DataFrame, same_label_only: bool) -> DataFrame:
    return KNN._topk_window(_scored_pairs(emb, same_label_only), K).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


def knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/J4 — exact cosine top-k (k=5) for 5 query vectors against the
    full collection, deterministic (score DESC, neighbor_id ASC)."""
    return _exact_topk(load_table(spark, sf_dir, "embeddings"), False)


def knn_label_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+W3 — metadata-filtered k-NN: neighbors restricted to the
    query's own label partition *before* scoring (the Chroma
    ``where={"file_id": ...}`` pushdown, backend/chroma_utils.py:250-253)."""
    return _exact_topk(load_table(spark, sf_dir, "embeddings"), True)


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the ``embeddings`` table,
    blocked on label and scored by the salted cogroup kernel
    (operators/semdedup.py :func:`embedding_neardup_pairs_df`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs_df(emb)


def embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking recall for the BucketedRandomProjectionLSH cosine
    join: ground truth = the exact label-blocked pairs (cosine ≥ 0.3
    within label); candidates = MLlib LSH approxSimilarityJoin over the
    whole table (no label blocking — a superset space). One row with a
    pass flag at recall ≥ 0.9. Rows-only (LSH is not SQL-expressible);
    pytest asserts the flag."""
    from ..operators.knn import lsh_similarity_join

    emb = load_table(spark, sf_dir, "embeddings")
    exact = embedding_neardup_pairs_df(emb).select("vec_a", "vec_b")
    approx = lsh_similarity_join(
        emb, emb, threshold_cosine=0.3, num_hash_tables=6
    ).where(F.col("id_a") < F.col("id_b")).select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        F.lit(1).alias("_hit"),
    )
    joined = exact.join(approx, ["vec_a", "vec_b"], "left")
    agg = joined.agg(
        F.count("*").cast("long").alias("n_exact"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_caught"),
    )
    recall = F.when(F.col("n_exact") == 0, F.lit(1.0)).otherwise(
        F.col("n_caught") / F.col("n_exact")
    )
    return agg.select(
        F.lit("brp_lsh_cosine").alias("strategy"),
        "n_exact",
        "n_caught",
        F.round(recall, 4).alias("recall"),
        (recall >= 0.9).alias("passed"),
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norms — array aggregation via element-wise
    running sums (posexplode + groupBy dim), the scalable layout for
    centroid computation (used by the IVF coarse quantizer)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(V.as_double(F.col("embedding"))).alias("dim", "x")
    )
    # decimal-exact sums so the per-dim mean (and the norm built from it)
    # is bit-identical to the oracle regardless of summation order
    per_dim = exploded.groupBy("label", "dim").agg(
        (F.sum(F.col("x").cast("decimal(28,10)")).cast("double") / F.count("x")).alias(
            "mean_x"
        )
    )
    sq = (F.col("mean_x") * F.col("mean_x")).cast("decimal(38,20)")
    return per_dim.groupBy("label").agg(
        F.count("*").cast("long").alias("n_dims"),
        X.pround(F.sqrt(F.sum(sq).cast("double")), 4).alias("centroid_norm"),
    )


RRF_K = 20  # per-ranker depth feeding the fusion
RRF_C = 60  # the standard RRF damping constant
RRF_TOPK = 5


def vector_ranked_named(
    spark: SparkSession, sf_dir: str, depth: int
) -> DataFrame:
    """The exact-cosine vector ranking keyed by QUERY NAME: each fixed
    BM25 query maps to its designated query vector (position i →
    vec_id i; vec_id aligns with doc_id), top-``depth`` per query as
    (query_id string, doc_id, rank). Shared by the hybrid RRF fusion
    and the multi-ranker retrieval evaluation — one scoring pass,
    every consumer cuts its own depth."""
    from .documents import BM25_QUERIES

    emb = load_table(spark, sf_dir, "embeddings")
    name = F.lit(None).cast("string")
    for i, (qid, _) in enumerate(BM25_QUERIES):
        name = F.when(F.col("query_id") == i, F.lit(qid)).otherwise(name)
    scored = _scored_pairs(emb, same_label_only=False)
    return KNN._topk_window(
        scored.where(F.col("query_id") < len(BM25_QUERIES)), depth
    ).select(
        name.cast("string").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )


def rrf_fuse(rankings: list, topk: int) -> DataFrame:
    """Reciprocal Rank Fusion of any number of (query_id, doc_id, rank)
    rankings: rrf(d) = Σ_rankers 1/(C + rank_r(d)), top-``topk`` per
    query by (score desc, doc_id). Rank arithmetic is integer, the
    reciprocal is one IEEE division — exactly mirrorable in SQL
    (pre-rounded decimal sum, no ln caveat)."""
    contrib = X.pround(F.lit(1.0) / (F.lit(RRF_C) + F.col("rank")), 6)
    both = rankings[0].select("query_id", "doc_id", contrib.alias("c"))
    for r in rankings[1:]:
        both = both.unionByName(
            r.select("query_id", "doc_id", contrib.alias("c"))
        )
    fused = both.groupBy("query_id", "doc_id").agg(
        X.pround(F.sum(F.col("c").cast(X.DEC)).cast("double"), 4).alias(
            "rrf_score"
        ),
        F.count("*").cast("long").alias("n_rankers"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= topk)
        .select(
            "query_id", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "rrf_score", "n_rankers",
        )
    )


def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion of the BM25 lexical
    ranking (operators/bm25.py over documents) and the exact-cosine
    vector ranking (embeddings; vec_id aligns with doc_id), the
    production RAG pattern the reference's embedding-only retriever
    (backend/chroma_utils.py) upgrades to. Composition of
    :func:`vector_ranked_named` + :func:`rrf_fuse` over each ranker's
    top-RRF_K."""
    from ..operators.bm25 import bm25_search
    from .documents import BM25_QUERIES

    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_search(spark, docs, BM25_QUERIES, k=RRF_K).select(
        "query_id", "doc_id", "rank"
    )
    vec = vector_ranked_named(spark, sf_dir, RRF_K)
    return rrf_fuse([lex, vec], RRF_TOPK)


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (5 iterations) over the embedding near-dup
    graph (operators/pagerank.py) — centrality inside duplicate
    neighborhoods, the 'keep the canonical copy' signal. Top-20 by
    (rank desc, node_id); the top-k is a sort-limit (TakeOrdered),
    never a global window. Oracle unrolls the same five iterations as
    chained CTEs with identical per-iteration decimal rounding."""
    from ..operators.pagerank import pagerank_undirected

    pairs = embedding_neardup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    pr = pagerank_undirected(pairs)
    top = pr.orderBy(F.desc("rank"), F.asc("node_id")).limit(20)
    w = Window.orderBy(F.desc("rank"), F.asc("node_id"))
    return top.select(
        "node_id",
        F.row_number().over(w).cast("long").alias("pos"),
        "rank",
    )


SEMDEDUP_TAU = 0.3
SEMDEDUP_GATE_CELLS = 4


def semdedup_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py) in its EXHAUSTIVE configuration:
    one cell ⇒ all-pairs semantic dedup over the whole embeddings table,
    priority = ascending vec_id. Output is the full per-vector decision
    (vec_id, kept); kept ⇔ no earlier vector anywhere scores cosine ≥
    τ against it — exactly the oracle's NOT EXISTS. The semantic-scale
    descendant of the exact-hash ingest dedup gate
    (backend/db_utils.py:173,221-225)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, n_cells=1, threshold=SEMDEDUP_TAU).select(
        "vec_id", "kept"
    )


def semdedup_prune_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in its PRUNED (production) configuration — 4 IVF cells,
    so pair generation is strictly cell-local — self-checked against an
    independent reference: on cells from the same deterministic
    quantizer fit, the reference prunes every vector that a smaller id
    in its cell scores cosine ≥ τ against, through a plain same-cell
    Catalyst self-join (``V.cosine``, no salt, no duplicate collapse,
    no NumPy). The operator's (vec_id, cell, kept) must agree with the
    reference row for row. One row; pytest asserts ``passed``.
    Rows-only: the k-means fit behind the cells is not SQL-expressible."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = semdedup(emb, n_cells=SEMDEDUP_GATE_CELLS, threshold=SEMDEDUP_TAU)
    ref = pin(assign_cells(emb, SEMDEDUP_GATE_CELLS))
    l, r = ref.alias("l"), ref.alias("r")
    pruned = (
        l.join(
            r,
            (F.col("l.cell") == F.col("r.cell"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .where(V.cosine("l.embedding", "r.embedding") >= SEMDEDUP_TAU)
        .select(F.col("r.vec_id").alias("_pid"))
        .distinct()
    )
    b = ref.join(pruned, F.col("vec_id") == F.col("_pid"), "left").select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("_pid").isNull().alias("b_kept"),
    )
    j = a.join(b, F.col("vec_id") == F.col("b_vec_id"), "full_outer")
    agg = j.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.countDistinct("cell").cast("long").alias("n_cells"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(
            F.when(
                F.col("vec_id").isNull()
                | F.col("b_vec_id").isNull()
                | (F.col("kept") != F.col("b_kept"))
                | (F.col("cell") != F.col("b_cell")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_disagree"),
    )
    return agg.select(
        F.lit("semdedup_cells4").alias("config"),
        "n_vectors",
        "n_cells",
        "n_kept",
        (F.col("n_vectors") - F.col("n_kept")).alias("n_pruned"),
        "n_disagree",
        (
            (F.col("n_disagree") == 0)
            & (F.col("n_kept") >= 1)
            # k-means may leave a cell empty; ≥2 proves real bucketing
            & (F.col("n_cells") >= 2)
            & (F.col("n_cells") <= SEMDEDUP_GATE_CELLS)
        ).alias("passed"),
    )


SEMDEDUP_CELL_TARGET = 512  # production config: ~this many vectors/cell


def semdedup_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in its PRODUCTION configuration — the paper's shape:
    cell count scales with the corpus (≈ SEMDEDUP_CELL_TARGET vectors
    per cell, so intra-cell pair work stays N × cell_size = LINEAR as
    the corpus grows; the exhaustive 1-cell and fixed-4-cell variants
    above are the oracle hooks, not the scale path), priority =
    least-centroid-typical survives (order="centroid"). Rows-only
    (the k-means fit isn't SQL); the headline/scale probes time THIS
    configuration. Returns per-vector decisions + the kept count
    sanity columns used by pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # bounded sizing preflight, as in the ANN builders
    n_cells = max(1, n // SEMDEDUP_CELL_TARGET)
    return semdedup(
        emb, n_cells=n_cells, threshold=SEMDEDUP_TAU, order="centroid"
    )


def embedding_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (the FAISS "SQ8" storage layout): each
    vector is stored as d int8 codes + one per-vector scale = max|xᵢ|
    (4× smaller than float32 — the compression a 100 TB vector store
    takes before IVF/PQ even enters). Emits, per vector, the scale, the
    exact max reconstruction error, the integer code mass (an exact
    checksum of the whole code array — one flipped code flips the
    hash), and the theoretical half-step error-bound flag.

    Map-only, expression-only (whole-stage codegen; no Python); every
    output is either an exact integer or a deterministic double
    expression mirrored in the oracle, so no rounding is needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = V.as_double(F.col("embedding"))
    df = emb.where(F.col("embedding").isNotNull()).select(
        "vec_id",
        xd.alias("v"),
        F.array_max(F.transform(xd, F.abs)).alias("scale"),
    )
    zero = F.transform(F.col("v"), lambda a: F.lit(0.0))
    codes = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("v"),
            lambda a: F.floor(a / F.col("scale") * 127.0 + F.lit(0.5)),
        ),
    ).otherwise(zero)
    df = df.withColumn("code", codes)
    err = F.zip_with(
        F.col("v"),
        F.col("code"),
        lambda a, c: F.abs(a - c / 127.0 * F.col("scale")),
    )
    mass = F.aggregate(
        F.col("code"),
        F.lit(0).cast("long"),
        lambda acc, c: acc + F.abs(c).cast("long"),
    )
    max_err = F.when(F.col("scale") > 0, F.array_max(err)).otherwise(F.lit(0.0))
    return df.select(
        "vec_id",
        "scale",
        max_err.alias("max_abs_err"),
        mass.alias("code_mass"),
        (max_err <= F.col("scale") / 254.0 + F.lit(1e-12)).alias("within_bound"),
    )


SEMANTIC_BFS_HOPS = 4


def semantic_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop semantic neighborhood of the query-vector set
    (operators/bfs.py): hop distance from the nearest designated query
    vector (vec_id < N_QUERIES) through the embedding near-dup graph —
    the "related via a chain of similar items" expansion a retrieval
    UI offers beyond direct k-NN. Hops 0 = the query vectors
    themselves; nodes beyond SEMANTIC_BFS_HOPS are not emitted (the
    fixed-depth contract that makes the recursive-CTE oracle exact)."""
    from ..operators.bfs import bfs_hops

    emb = load_table(spark, sf_dir, "embeddings")
    edges = embedding_neardup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    seeds = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("node")
    )
    return bfs_hops(
        edges, seeds, SEMANTIC_BFS_HOPS, src="vec_a", dst="vec_b"
    ).select(F.col("node").alias("vec_id"), "hops")


def semantic_bfs_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for semantic neighborhood expansion: BFS over
    CELL-LOCAL edges (SemDeDup blocking — IVF cell assignment, pairs
    only within a cell, cell size ≈ SEMDEDUP_CELL_TARGET so pair work
    stays N × cell_size = LINEAR as the corpus grows). The exact-edge
    variant Q(semantic_bfs_hops) is the oracle hook — its same-label
    all-pairs edge set is quadratic per block by DEFINITION, which the
    100× probe demonstrates (this production form is what the probe
    times). Blocking trades recall for linearity exactly like
    semdedup_production vs semdedup_exhaustive; with n_cells=1 the
    edge sets coincide and this reduces to the exact BFS
    (pinned in tests/test_bfs.py). Rows-only: k-means cells aren't
    SQL-expressible.

    Memory floor (measured, BENCH_SF10_r12.json headroom_8g): at 100×
    data under 32 concurrent tasks this query sits exactly AT the
    8 GiB boundary — one probe run completed at 8 GiB (68 s, peak
    8.13 GiB of 8.19) and one failed there (GC-timing-dependent
    margin; 12 GiB always passes, 4 GiB always OOMs). So ~8 GiB IS the
    live working set at this scale. The resident structure is (a) the
    materialized
    cell-blocked edge list (pinned blocks; O(corpus) rows by
    the cell-size cap — never quadratic — but stored in memory+disk
    for the whole loop) plus (b) each round's frontier⋈edges
    shuffled-hash builds across all concurrent tasks (aggregate ≈ |E|
    in flight). Both scale LINEARLY with the corpus, so the knob is
    per-executor sizing, not the algorithm: a cluster divides |E|
    across executors (32-thread/12 GiB here ≈ 384 MiB per concurrent
    task at 100×), raises shuffle partitions, or sets
    ``spark.checkpoint.dir`` so ``session.pin`` keeps edge blocks on
    reliable storage instead of executor memory."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # bounded sizing preflight, as in the ANN builders
    n_cells = max(1, n // SEMDEDUP_CELL_TARGET)
    return semantic_bfs_production_df(emb, n_cells)


def semantic_bfs_production_df(
    emb: DataFrame, n_cells: int, centroids=None
) -> DataFrame:
    """Cell-blocked BFS core; ``centroids`` lets callers amortize the
    quantizer fit exactly like semdedup (fit once, refit on drift)."""
    from ..operators.bfs import bfs_hops

    # LAZY pin (optimization r13): the assignment has exactly two
    # consumers here (the pair generator's duplicate-collapse preflight
    # count and the scorer itself — fewer than semdedup's four), so the
    # first consumer materializes the checkpoint inside its own job and
    # the dedicated eager-materialization job disappears
    assigned = pin(assign_cells(emb, n_cells, centroids=centroids))
    labeled = assigned.select(
        "vec_id", "embedding", F.col("cell").alias("label")
    )
    edges = embedding_neardup_pairs_df(labeled).select("vec_a", "vec_b")
    seeds = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("node")
    )
    return bfs_hops(
        edges, seeds, SEMANTIC_BFS_HOPS, src="vec_a", dst="vec_b"
    ).select(F.col("node").alias("vec_id"), "hops")


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus covariance matrix of the embedding space — the input every
    whitening / PCA-truncation / ABTT post-processing stage needs
    (operators/covariance.py). One pass: each partition reduces its rows
    to a d×d integer partial via a numpy outer product; the shuffle
    moves only d²-sized partials, never vectors — the 100 TB plan. The
    quantize-to-integer contract makes the sums exact, so the oracle
    matches bit-for-bit (see the module docstring)."""
    from ..operators.covariance import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, "embedding")


def label_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class covariance matrices (operators/covariance.py with a
    group key) — the within-class scatter LDA / Mahalanobis outlier
    scoring needs. Same one-pass integer-moments plan; a class spread
    over P partitions ships only P·d² partial rows. The label key is
    bounded-cardinality by contract (class labels), so the means side
    of the assembly join stays a |labels|·d-row broadcast."""
    from ..operators.covariance import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, "embedding", key_col="label")


def mahalanobis_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class Mahalanobis scoring end-to-end self-check (rows-only:
    the matrix pseudo-inverse is driver-side numpy over the COLLECTED
    |labels|·d² moments — the bounded sketch-merge pattern; scoring is
    one Arrow map stage with the (μ, Σ⁺) table broadcast in the
    closure). The in-plan check is an EXACT identity: evaluated on the
    fitting sample with population statistics, the mean Mahalanobis²
    per class equals rank(Σ) = trace(Σ⁺Σ) — so a wrong inverse, a
    drifted mean, or a quantization slip all break the gate. Emits one
    row per label with the class's top outlier."""
    import numpy as np
    import pandas as pd

    from ..operators.covariance import QUANT_DIGITS, second_moments

    emb = load_table(spark, sf_dir, "embeddings")
    rows = second_moments(emb, "embedding", key_col="label").collect()
    scale = float(10 ** QUANT_DIGITS)
    by_label: dict = {}
    for r in rows:
        d_ = by_label.setdefault(r["label"], {"sx": {}, "sxy": {}, "n": 0})
        if r["j"] == -1:
            d_["sx"][r["i"]] = int(r["s"])
            d_["n"] = int(r["n_rows"])
        else:
            d_["sxy"][(r["i"], r["j"])] = int(r["s"])
    stats = {}
    for lbl, d_ in by_label.items():
        dim = max(d_["sx"]) + 1
        n = d_["n"]
        mu = np.array([d_["sx"][i] for i in range(dim)]) / scale / n
        c = np.zeros((dim, dim))
        for (i, j), s in d_["sxy"].items():
            cov = (s / (scale * scale) - d_["sx"][i] * d_["sx"][j] / (scale * scale) / n) / n
            c[i, j] = c[j, i] = cov
        w, v = np.linalg.eigh(c)
        tol = 1e-10 * max(w.max(), 1e-30)
        rank = int((w > tol).sum())
        pinv = (v[:, w > tol] / w[w > tol]) @ v[:, w > tol].T
        stats[lbl] = (mu, pinv, rank)

    def score(batches):
        for pdf in batches:
            out = []
            for lbl, grp in pdf.groupby("label", sort=True):
                mu, pinv, rank = stats[lbl]
                x = np.stack([np.asarray(v, dtype=np.float64) for v in grp["embedding"]])
                xq = np.floor(x * scale + 0.5) / scale - mu
                md2 = np.einsum("bi,ij,bj->b", xq, pinv, xq)
                out.append(pd.DataFrame({
                    "label": lbl, "vec_id": grp["vec_id"].values,
                    "md2": md2, "rank": rank,
                }))
            if out:
                yield pd.concat(out)

    scored = emb.where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    ).mapInPandas(score, "label int, vec_id long, md2 double, rank int")
    w_top = Window.partitionBy("label").orderBy(F.desc("md2"), F.asc("vec_id"))
    top = (
        scored.withColumn("_rn", F.row_number().over(w_top))
        .where(F.col("_rn") == 1)
        .select("label", F.col("vec_id").alias("top_outlier_id"))
    )
    agg = scored.groupBy("label").agg(
        F.count("*").alias("n"),
        F.avg("md2").alias("avg_md2"),
        F.first("rank").alias("rank"),
    )
    return (
        agg.join(top, "label")  # both sides |labels| rows
        .select(
            "label", "n", "rank",
            F.round("avg_md2", 6).alias("avg_md2"),
            "top_outlier_id",
            (
                F.abs(F.col("avg_md2") - F.col("rank"))
                <= 1e-6 * (F.col("rank") + 1)
            ).alias("ok_trace_identity"),
        )
        .orderBy("label")
    )


PCA_COMPONENTS = 8


def pca_projection_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA end-to-end self-check (rows-only — eigenvectors are
    driver-side numpy over the COLLECTED d² covariance rows, the
    bounded sketch-merge pattern): project every embedding onto the
    top-q components, then verify in-plan that (a) the per-component
    variance of the projections equals the corresponding eigenvalue
    (that IS what an eigendecomposition promises — a strong
    independent check, since the variances are recomputed from the
    projected data by the engine) and (b) the variances are
    non-increasing. Emits one row per component."""
    from ..operators.covariance import (
        QUANT_DIGITS,
        covariance_matrix,
        pca_components,
        project,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cov_rows = [r.asDict() for r in covariance_matrix(emb, "embedding").collect()]
    dim = max(r["j"] for r in cov_rows) + 1
    eigvals, comps = pca_components(cov_rows, dim)
    # project the same quantized values the covariance summed, so the
    # variance↔eigenvalue identity holds to float precision, not merely
    # to quantization precision
    scale = float(10 ** QUANT_DIGITS)
    quant = emb.withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)) / scale,
        ),
    )
    proj = project(quant, comps, "embedding", n_components=PCA_COMPONENTS)
    x = F.col("x")
    per_comp = (
        proj.select(
            F.posexplode("pca").alias("component", "x")
        )
        .groupBy("component")
        .agg(
            F.count("*").alias("n"),
            F.avg(x).alias("mean"),
            (F.sum(x * x) / F.count("*")).alias("ex2"),
        )
        .select(
            "component",
            "n",
            (F.col("ex2") - F.col("mean") * F.col("mean")).alias("proj_variance"),
        )
    )
    ev = local_table(
        spark,
        [(int(i), float(eigvals[i])) for i in range(PCA_COMPONENTS)],
        "component int, eigenvalue double",
    )
    w = Window.orderBy("component").rowsBetween(Window.unboundedPreceding, -1)
    return (
        per_comp.join(F.broadcast(ev), "component")  # q rows by construction
        .withColumn(
            "ok_matches_eigenvalue",
            F.abs(F.col("proj_variance") - F.col("eigenvalue"))
            <= 1e-6 + F.lit(1e-6) * F.abs(F.col("eigenvalue")),
        )
        .withColumn(
            "ok_nonincreasing",
            F.coalesce(
                F.col("proj_variance")
                <= F.min("proj_variance").over(w) + F.lit(1e-9),
                F.lit(True),
            ),
        )
        .orderBy("component")
    )


# MMR re-ranking (operators/mmr.py): top-MMR_C exact candidates per
# query, greedy λ=0.5 diversity re-selection of MMR_K. Reference
# anchor: backend/langchain_utils.py:13 (search_type="mmr" is the
# one-flag LangChain/Chroma variant of the pure-similarity retriever).
MMR_K = 5
MMR_C = 16
MMR_LAM = 500  # per-mille


def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 variant — maximal-marginal-relevance re-ranking: k=5 selected
    from the top-16 cosine candidates, λ=0.5, exact integer greedy."""
    from ..operators.mmr import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb,
        emb.where(F.col("vec_id") < N_QUERIES),
        k=MMR_K,
        fetch_c=MMR_C,
        lam_permille=MMR_LAM,
    )


def knn_mmr_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MMR production path: candidates from the IVF index (nprobe
    cell pruning — the scan touches nprobe/n_cells of the corpus)
    instead of the exact broadcast scoring, re-selected by the SAME
    shared greedy (operators/mmr.mmr_rerank_candidates). Self-checking
    overlap gate, exactly like knn_ivf_recall: the ANN-pool MMR
    selection must overlap the exact-pool selection ≥ 60% on average —
    differences can come only from pool membership, since the greedy
    path is shared code. Rows-only: k-means cells aren't
    SQL-expressible."""
    from ..operators.knn import knn_ivf
    from ..operators.mmr import mmr_rerank_candidates

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    cand = knn_ivf(emb, queries, k=MMR_C, n_clusters=8, nprobe=4)
    approx = mmr_rerank_candidates(
        cand, emb, k=MMR_K, fetch_c=MMR_C, lam_permille=MMR_LAM
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    exact = knn_mmr_rerank(spark, sf_dir).select("query_id", "neighbor_id")
    per_q = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (F.coalesce(F.sum("_hit"), F.lit(0)) / F.count("*")).alias(
                "overlap_q"
            )
        )
    )
    agg = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.avg("overlap_q"), 4).alias("mean_overlap"),
    )
    return agg.select(
        F.lit("mmr_ivf_pool_vs_exact").alias("strategy"),
        "n_queries",
        "mean_overlap",
        (F.col("mean_overlap") >= 0.6).alias("passed"),
    )


QUERIES = {
    "knn_mmr_rerank": knn_mmr_rerank,
    "knn_mmr_ivf": knn_mmr_ivf,
    "embedding_sq8_error": embedding_sq8_error,
    "semantic_bfs_hops": semantic_bfs_hops,
    "semantic_bfs_production": semantic_bfs_production,
    "embedding_covariance": embedding_covariance,
    "label_covariance": label_covariance,
    "mahalanobis_outlier_gate": mahalanobis_outlier_gate,
    "pca_projection_gate": pca_projection_gate,
    "hybrid_rrf_fusion": hybrid_rrf_fusion,
    "semdedup_exhaustive": semdedup_exhaustive,
    "semdedup_prune_gate": semdedup_prune_gate,
    "semdedup_production": semdedup_production,
    "neardup_pagerank": neardup_pagerank,
    "knn_exact": knn_exact,
    "knn_label_filtered": knn_label_filtered,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "embedding_lsh_recall": embedding_lsh_recall,
    "label_centroids": label_centroids,
}


_COS = (
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
    "sqrt(list_dot_product(b.v, b.v)))"
)

# self-cosine of a representative vector — the same float expression a
# naive pair of identical vectors evaluates (≈1.0 up to rounding)
_SELF_COS = (
    "list_dot_product(v, v) / (sqrt(list_dot_product(v, v)) * "
    "sqrt(list_dot_product(v, v)))"
)


def _rrf_oracle_sql() -> str:
    from .documents import BM25_QUERIES, bm25_ranked_cte_sql

    vq_sql = ", ".join(f"('{qid}', {i})" for i, (qid, _) in enumerate(BM25_QUERIES))
    recip = X.pround_sql(f"1.0 / ({RRF_C} + rank)", 6)
    return f"""
        WITH {bm25_ranked_cte_sql()},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[])) > 0),
        vq(query_id, qvec) AS (VALUES {vq_sql}),
        vecrank AS (
            SELECT * FROM (
                SELECT vq.query_id, b.vec_id AS doc_id,
                       CAST(row_number() OVER (
                           PARTITION BY vq.query_id
                           ORDER BY {_COS} DESC, b.vec_id ASC
                       ) AS BIGINT) AS rank
                FROM vq JOIN e a ON a.vec_id = vq.qvec
                        JOIN e b ON b.vec_id != vq.qvec
            ) WHERE rank <= {RRF_K}
        ),
        allr AS (
            SELECT query_id, doc_id, {recip} AS c
            FROM bm25_ranked WHERE rank <= {RRF_K}
            UNION ALL
            SELECT query_id, doc_id, {recip} FROM vecrank
        ),
        fused AS (
            SELECT query_id, doc_id, {X.dsum_sql("c", 4)} AS rrf_score,
                   CAST(count(*) AS BIGINT) AS n_rankers
            FROM allr GROUP BY 1, 2
        )
        SELECT query_id, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
               ) AS BIGINT) AS rank,
               rrf_score, n_rankers
        FROM fused
        QUALIFY rank <= {RRF_TOPK}
    """


# MMR oracle: the greedy loop as a recursive CTE over the SAME
# quantized-integer grid the Spark operator uses (floor(cos·1e6 + 0.5),
# λ as integer per-mille), so every argmax compares exact int64s.
# Seed = per-query argmax relevance; each step re-scores the remaining
# candidates against the selected list and appends the winner.
_MMR_QREL = "CAST(floor(({cos}) * 1000000 + 0.5) AS BIGINT)".format(cos=_COS)
_MMR_ORACLE = f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings
          WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0),
    cand AS (
        SELECT * FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS nid,
                   {_MMR_QREL} AS rel,
                   (floor(({_COS}) * 10000 + 0.5) / 10000) AS relevance,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_MMR_QREL} DESC, b.vec_id ASC
                   ) AS rn
            FROM e a JOIN e b
              ON a.vec_id < {N_QUERIES} AND a.vec_id != b.vec_id
        ) WHERE rn <= {MMR_C}
    ),
    sims AS (
        SELECT x.query_id, x.nid AS a_id, y.nid AS b_id,
               CAST(floor((list_dot_product(va.v, vb.v) /
                    (sqrt(list_dot_product(va.v, va.v)) *
                     sqrt(list_dot_product(vb.v, vb.v)))) * 1000000 + 0.5)
                    AS BIGINT) AS sim
        FROM cand x
        JOIN cand y ON x.query_id = y.query_id AND x.nid != y.nid
        JOIN e va ON va.vec_id = x.nid
        JOIN e vb ON vb.vec_id = y.nid
    ),
    sel(query_id, it, selected, nid) AS (
        SELECT query_id, 1, [nid], nid FROM (
            SELECT query_id, nid,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY rel DESC, nid ASC
                   ) AS rn
            FROM cand
        ) WHERE rn = 1
        UNION ALL
        SELECT query_id, it + 1, list_append(selected, nid), nid FROM (
            SELECT g.query_id, g.it, g.selected, g.nid,
                   row_number() OVER (
                       PARTITION BY g.query_id
                       ORDER BY g.obj DESC, g.nid ASC
                   ) AS rn
            FROM (
                SELECT s.query_id, s.it, s.selected, c.nid,
                       {MMR_LAM} * c.rel
                           - {1000 - MMR_LAM} * max(m.sim) AS obj
                FROM sel s
                JOIN cand c ON c.query_id = s.query_id
                           AND NOT list_contains(s.selected, c.nid)
                JOIN sims m ON m.query_id = s.query_id AND m.a_id = c.nid
                           AND list_contains(s.selected, m.b_id)
                GROUP BY s.query_id, s.it, s.selected, c.nid, c.rel
            ) g WHERE g.it < {MMR_K}
        ) WHERE rn = 1
    )
    SELECT s.query_id, s.nid AS neighbor_id, CAST(s.it AS BIGINT) AS rank,
           c.relevance
    FROM sel s JOIN cand c ON c.query_id = s.query_id AND c.nid = s.nid
"""

ORACLE = {
    "knn_mmr_rerank": _MMR_ORACLE,
    "knn_exact": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                   FROM embeddings
                   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])) > 0)
        SELECT query_id, neighbor_id, rank, {{pr}} AS score
        FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   {_COS} AS score,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_COS} DESC, b.vec_id ASC) AS rank
            FROM e a JOIN e b ON a.vec_id < {N_QUERIES} AND a.vec_id != b.vec_id
        ) WHERE rank <= {K}
    """.replace("{pr}", X.pround_sql("score", 4)),
    "knn_label_filtered": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                   FROM embeddings
                   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])) > 0)
        SELECT query_id, neighbor_id, rank, {{pr}} AS score
        FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   {_COS} AS score,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_COS} DESC, b.vec_id ASC) AS rank
            FROM e a JOIN e b
              ON a.vec_id < {N_QUERIES} AND a.vec_id != b.vec_id
             AND a.label = b.label
        ) WHERE rank <= {K}
    """.replace("{pr}", X.pround_sql("score", 4)),
    "embedding_neardup_pairs": f"""
        WITH grp AS (
            SELECT label, embedding, min(vec_id) AS rep,
                   list_sort(list(vec_id)) AS ids
            FROM embeddings GROUP BY label, embedding
        ), r AS (
            -- zero-norm vectors are excluded by operator contract
            -- (cosine undefined), matching both Spark engines
            SELECT rep AS vec_id, CAST(embedding AS DOUBLE[]) AS v, label, ids
            FROM grp
            WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0
        ), rep_pairs AS (
            SELECT {X.pround_sql(_COS, 4)} AS score,
                   a.ids AS ids_a, b.ids AS ids_b
            FROM r a JOIN r b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {_COS} >= 0.3
        ), c1 AS (
            SELECT score, unnest(ids_a) AS a_id, ids_b FROM rep_pairs
        ), c2 AS (
            SELECT score, a_id, unnest(ids_b) AS b_id FROM c1
        ), selfs AS (
            SELECT {X.pround_sql(_SELF_COS, 4)} AS score, ids
            FROM r WHERE len(ids) >= 2 AND {_SELF_COS} >= 0.3
        ), w1 AS (
            SELECT score, ids, unnest(ids) AS a_id FROM selfs
        ), w2 AS (
            SELECT score, a_id, unnest(ids) AS b_id FROM w1
        )
        SELECT least(a_id, b_id) AS vec_a, greatest(a_id, b_id) AS vec_b, score
        FROM c2
        UNION ALL
        SELECT a_id AS vec_a, b_id AS vec_b, score FROM w2 WHERE a_id < b_id
    """,
    "label_centroids": """
        WITH idx AS (
            SELECT label, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings
        ), exploded AS (
            SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
            FROM idx
        ), per_dim AS (
            SELECT label, dim,
                   CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(x) AS mean_x
            FROM exploded GROUP BY 1, 2
        )
        SELECT label, CAST(count(*) AS BIGINT) AS n_dims,
               {pr_norm}
                   AS centroid_norm
        FROM per_dim GROUP BY label
    """.format(pr_norm=X.pround_sql(
        "sqrt(CAST(sum(CAST(mean_x * mean_x AS DECIMAL(38,20))) AS DOUBLE))", 4)),
}

ORACLE["semdedup_exhaustive"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings
               WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0)
    SELECT a.vec_id,
           NOT EXISTS (
               SELECT 1 FROM e b
               WHERE b.vec_id < a.vec_id
                 AND list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))) >= {SEMDEDUP_TAU}
           ) AS kept
    FROM e a
"""

ORACLE["hybrid_rrf_fusion"] = _rrf_oracle_sql()


def _covariance_oracle() -> str:
    from ..operators.covariance import covariance_oracle_sql

    return covariance_oracle_sql("embeddings", "embedding")


ORACLE["embedding_covariance"] = _covariance_oracle()


def _label_covariance_oracle() -> str:
    from ..operators.covariance import covariance_oracle_sql

    return covariance_oracle_sql("embeddings", "embedding", key_col="label")


ORACLE["label_covariance"] = _label_covariance_oracle()


def _semantic_bfs_oracle() -> str:
    # nests the (oracle-green) pair definition so edges can't drift
    from ..operators.bfs import bfs_oracle_sql

    return (
        "WITH RECURSIVE p AS (SELECT * FROM ("
        + ORACLE["embedding_neardup_pairs"]
        + ")), "
        + bfs_oracle_sql(
            "p",
            f"SELECT vec_id AS node FROM embeddings WHERE vec_id < {N_QUERIES}",
            SEMANTIC_BFS_HOPS,
            src_col="vec_a",
            dst_col="vec_b",
        )
        + " SELECT node AS vec_id, hops FROM bfs"
    )


ORACLE["semantic_bfs_hops"] = _semantic_bfs_oracle()

ORACLE["embedding_sq8_error"] = """
    WITH x AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ), s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, a -> abs(a))) AS scale
        FROM x
    ), c AS (
        SELECT vec_id, v, scale,
               CASE WHEN scale > 0
                    THEN list_transform(v, a -> floor(a / scale * 127.0 + 0.5))
                    ELSE list_transform(v, a -> 0.0)
               END AS code
        FROM s
    ), e AS (
        SELECT vec_id, scale,
               CASE WHEN scale > 0
                    THEN list_max(list_transform(v, (a, i) ->
                         abs(a - code[i] / 127.0 * scale)))
                    ELSE 0.0
               END AS max_abs_err,
               CAST(list_sum(list_transform(code,
                    cd -> CAST(abs(cd) AS BIGINT))) AS BIGINT) AS code_mass
        FROM c
    )
    SELECT vec_id, scale, max_abs_err, code_mass,
           (max_abs_err <= scale / 254.0 + 1e-12) AS within_bound
    FROM e
"""


def _pagerank_oracle() -> str:
    from ..operators.pagerank import pagerank_oracle_sql

    return f"""
        WITH {pagerank_oracle_sql(ORACLE["embedding_neardup_pairs"])}
        SELECT node_id, pos, rank FROM (
            SELECT node_id, rank,
                   CAST(row_number() OVER (ORDER BY rank DESC, node_id)
                        AS BIGINT) AS pos
            FROM pr_final
        ) WHERE pos <= 20
    """


ORACLE["neardup_pagerank"] = _pagerank_oracle()
