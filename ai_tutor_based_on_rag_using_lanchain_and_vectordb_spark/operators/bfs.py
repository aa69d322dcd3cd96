"""Multi-source breadth-first hop distance over a pair graph.

Curation use (why an analytics engine ships BFS): "trust propagation" —
given a seed set of known-good documents (human-audited, high quality
score), every document within h hops in the near-duplicate /
similarity graph inherits a provenance signal; conversely for
known-bad seeds (spam clusters). The output (node, hops) is the raw
material for distance-weighted sampling or quarantine rules.

Algorithm: classic frontier iteration. Each round expands the frontier
one hop through the symmetrized edge list and anti-joins the previous
two levels (the undirected level property: a neighbor of a level-(h-1)
node sits at distance h-2, h-1 or h, so excluding those two levels
leaves exactly the new level). Each round is two hash shuffles
(frontier⋈edges + distinct / anti-join) on the node key and ONE driver
round trip (a fused pin+count that materializes the level's lazy
checkpoint and decides the early exit); rounds are bounded by
``max_hops`` (the semantic contract: nodes further than max_hops are
NOT emitted), so unlike connected components there is no convergence
risk: the fixed-depth recursive-CTE oracle computes the identical
level sets.

Per-level ``session.pin`` truncates the growing lineage (the
components.py rationale); cluster runs set ``spark.checkpoint.dir`` for
reliable HDFS/S3 checkpointing instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table, pin
from .components import MAX_DRIVER_EDGES


def _driver_bfs(spark, sym: DataFrame, dist0: DataFrame,
                max_hops: int) -> DataFrame:
    """Level-set BFS over a collected (bounded, see gate) edge list —
    identical semantics to the distributed loop: min hop distance ≤
    max_hops, seeds at 0 (incl. isolated seeds)."""
    adj: dict = {}
    for r in sym.collect():  # bounded by the measured edge gate
        adj.setdefault(r["a"], []).append(r["b"])
    dist = {r["node"]: 0 for r in dist0.collect()}  # bounded by the gate
    frontier = list(dist)
    for h in range(1, max_hops + 1):
        nxt = {
            b
            for a in frontier
            for b in adj.get(a, ())
            if b not in dist
        }
        if not nxt:
            break
        for n in nxt:
            dist[n] = h
        frontier = list(nxt)
    node_type = dist0.schema["node"].dataType.simpleString()
    return local_table(spark, list(dist.items()), f"node {node_type}, hops int")


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_driver_edges: int | None = MAX_DRIVER_EDGES,
) -> DataFrame:
    """Hop distance from the nearest seed, over undirected ``edges``.

    Returns ``(node, hops)`` for every node reachable within
    ``max_hops`` of any seed — seeds themselves at hops 0 (including
    isolated seeds that appear in no edge). Deterministic: BFS level
    sets don't depend on execution order.

    Physical shape (optimization r13/r14): symmetrization is ONE
    explode of (a,b)/(b,a) struct pairs — the former self-union
    executed the (possibly expensive) upstream pair pipeline twice,
    once per union branch. Small graphs take the same measured-gate
    driver fast path as connected_components (both the edge count AND
    the seed count must clear ``max_driver_edges``; each gate count is
    the action that materializes its lazily-pinned frame, so pin+gate
    is one job per frame). Above the gate each hop costs ONE fused
    pin+count job (the former shape paid a materialization job plus an
    isEmpty job per hop) and anti-joins only the previous two levels —
    see the module docstring.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # pin the symmetrized edge list once: it is re-joined every round,
    # and the upstream pair pipeline may be expensive. The explode emits
    # both directions from ONE pass over e. LAZY pin + count fusion
    # (optimization r14): the gate count is the materializing action, so
    # pin+gate is ONE job instead of the former eager-checkpoint job
    # followed by a count job.
    sym = pin(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("x")
        )
        .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"))
        .distinct()
    )
    dist0 = pin(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    if (
        max_driver_edges
        and sym.count() <= max_driver_edges
        and dist0.count() <= max_driver_edges
    ):
        return _driver_bfs(spark, sym, dist0, max_hops)
    # Distributed loop (optimization r14). Settled-set bookkeeping uses
    # the UNDIRECTED level property: a neighbor of a node at distance
    # h-1 has distance in {h-2, h-1, h}, so anti-joining the candidates
    # against just the PREVIOUS TWO levels leaves exactly the new level
    # — the anti-join build side stays two pinned levels instead of the
    # growing union of all settled nodes.
    # One fused pin+count job per hop: the count materializes the
    # level's lazy pin AND decides the early exit — half the former two
    # driver round trips per hop. (A fully action-free loop — all hops
    # deferred to the consumer's single job — was tried first and
    # reverted: at the 100× probe's 12 GiB heap it runs every hop's
    # shuffles CONCURRENTLY, pushing the peak to the cap and losing
    # checkpoint blocks; the per-hop count re-bounds execution memory
    # to one hop, exactly the r13 memory profile.)
    levels = [dist0]
    frontier = dist0.select("node")
    prev, prev2 = frontier, None
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(prev, "node", "left_anti")
        )
        if prev2 is not None:
            nxt = nxt.join(prev2, "node", "left_anti")
        nxt = pin(nxt.withColumn("hops", F.lit(h)))
        if nxt.count() == 0:
            break
        levels.append(nxt)
        frontier = nxt.select("node")
        prev, prev2 = frontier, prev
    dist = levels[0]
    for lvl in levels[1:]:
        dist = dist.unionByName(lvl)
    return dist


def bfs_oracle_sql(
    pairs_sql_alias: str,
    seeds_sql: str,
    max_hops: int,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> str:
    """Recursive-CTE mirror of :func:`bfs_hops`, for splicing into a
    WITH RECURSIVE chain. ``pairs_sql_alias`` names a CTE or derived
    table with pair columns (src_col, dst_col); ``seeds_sql`` selects
    one column ``node``. Emits CTEs ending in ``bfs(node, hops)`` =
    min hop distance ≤ max_hops.

    The recursion enumerates (node, depth) pairs with depth < max_hops
    fan-out and UNION dedup, then takes min(depth) per node — the
    fixed-depth bound makes it terminate on cyclic graphs.
    """
    return f"""bfs_edges AS (
            SELECT {src_col} AS a, {dst_col} AS b FROM {pairs_sql_alias}
            UNION ALL
            SELECT {dst_col} AS a, {src_col} AS b FROM {pairs_sql_alias}
        ), bfs_seeds AS ({seeds_sql}
        ), bfs_reach(node, d) AS (
            SELECT node, 0 FROM bfs_seeds
            UNION
            SELECT e.b, r.d + 1
            FROM bfs_reach r JOIN bfs_edges e ON e.a = r.node
            WHERE r.d < {max_hops}
        ), bfs AS (
            SELECT node, CAST(min(d) AS INT) AS hops
            FROM bfs_reach GROUP BY node
        )"""
