"""PageRank over an undirected edge list — the second iterative graph
algorithm next to connected components (operators/components.py), used
here to rank documents inside near-duplicate similarity neighborhoods
(a centrality-weighted "keep the canonical copy" signal).

Scale shape: each iteration is one join of the edge list against the
current rank vector plus one aggregation on the destination key — the
classic Pregel-style plan; lineage is cut per iteration with a
pin (the components pattern) so the DAG stays O(1) deep.
No driver state beyond the node count (a 1-value collect, bounded by
construction).

Float parity (the oracle hook): PageRank sums neighbor contributions,
and float addition is order-sensitive — so the algorithm DEFINITION
includes rounding: each contribution rank/deg is pre-rounded to
``digits`` decimals, summed exactly in DECIMAL, and the damped total is
re-rounded to ``digits``. Two engines implementing this definition
agree bit-for-bit after every iteration, which lets a DuckDB oracle
unroll the same fixed iteration count as chained CTEs."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import exact as X
from ..session import pin

PR_DEC = "decimal(28,12)"
PR_DEC_SQL = "DECIMAL(28,12)"


def pagerank_undirected(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    digits: int = 9,
) -> DataFrame:
    """(node_id, rank) after ``iterations`` damped power iterations
    over the UNIQUE undirected edge list ``edges`` (each row one edge;
    both directions are materialized internally). Nodes are the edge
    endpoints; every node therefore has degree ≥ 1 (no dangling
    mass)."""
    # explode-symmetrization (optimization r13): both directions from ONE
    # pass over the edge plan — the former self-union executed the
    # (possibly expensive) upstream edge computation twice, once per
    # union branch. Pinned once: every iteration joins this edge list,
    # and without the pin the upstream edge computation would re-execute
    # per iteration. LAZY (optimization r14): the node-count action
    # below materializes sym and deg together in one job — the former
    # two eager checkpoints plus the count cost three driver round trips.
    sym = pin(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("src"), F.col("dst").alias("dst")
                    ),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("x")
        )
        .select(F.col("x.src").alias("src"), F.col("x.dst").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    deg = pin(deg.select(F.col("src").alias("node_id"), "deg"))
    # the only driver-side scalar: the node count (bounded: one value);
    # this action materializes both lazy pins above
    n = deg.count()
    if n == 0:
        return deg.select("node_id", F.lit(0.0).alias("rank"))
    teleport = (1.0 - damping) / n

    state = deg.withColumn("rank", X.pround(F.lit(1.0 / n), digits))
    for _ in range(iterations):
        contrib = sym.join(
            state, sym["src"] == state["node_id"]
        ).select(
            F.col("dst").alias("node_id"),
            X.pround(F.col("rank") / F.col("deg"), digits).alias("c"),
        )
        sums = contrib.groupBy("node_id").agg(
            F.sum(F.col("c").cast(PR_DEC)).cast("double").alias("s")
        )
        # cut lineage each iteration; LAZY (optimization r14): the
        # iteration count is FIXED — no per-round driver decision — so
        # all five pins materialize inside the consumer's single job
        # instead of five dedicated checkpoint jobs
        state = pin(
            deg.join(sums, "node_id").select(
                "node_id",
                "deg",
                X.pround(
                    F.lit(teleport) + F.lit(damping) * F.col("s"), digits
                ).alias("rank"),
            )
        )
    return state.select("node_id", "rank")


def pagerank_oracle_sql(
    edges_sql: str,
    src: str = "vec_a",
    dst: str = "vec_b",
    iterations: int = 5,
    damping: float = 0.85,
    digits: int = 9,
) -> str:
    """The SAME fixed-iteration PageRank as chained CTEs: ``edges_sql``
    is a query producing the unique undirected pairs (columns ``src``,
    ``dst``). Mirrors :func:`pagerank_undirected`'s rounding exactly."""
    pr = lambda e: X.pround_sql(e, digits)  # noqa: E731
    out = f"""
    pr_pairs AS ({edges_sql}),
    pr_edges AS (
        SELECT {src} AS src, {dst} AS dst FROM pr_pairs
        UNION ALL
        SELECT {dst} AS src, {src} AS dst FROM pr_pairs
    ),
    pr_deg AS (
        SELECT src AS node_id, CAST(count(*) AS BIGINT) AS deg
        FROM pr_edges GROUP BY 1
    ),
    pr_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pr_deg),
    pr_it0 AS (
        SELECT node_id, deg, {pr("1.0 / pr_n.n")} AS rank
        FROM pr_deg CROSS JOIN pr_n
    )"""
    for i in range(1, iterations + 1):
        out += f""",
    pr_it{i} AS (
        SELECT e.dst AS node_id, d.deg,
               {pr(
                   f"(1.0 - {damping}) / pr_n.n + {damping} * "
                   f"CAST(sum(CAST({pr('r.rank / r.deg')} AS {PR_DEC_SQL})) "
                   f"AS DOUBLE)"
               )} AS rank
        FROM pr_edges e
        JOIN pr_it{i - 1} r ON e.src = r.node_id
        JOIN pr_deg d ON e.dst = d.node_id
        CROSS JOIN pr_n
        GROUP BY e.dst, d.deg, pr_n.n
    )"""
    return out + f",\n    pr_final AS (SELECT node_id, rank FROM pr_it{iterations})"
