"""Distributed connected components via min-label propagation.

The near-duplicate detectors (minhash/simhash/n-gram Jaccard,
operators/dedup.py) emit *pairs*; turning pairs into dedup groups —
"keep one document per cluster" — needs the transitive closure. This is
the standard iterative-join formulation:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until fixpoint. Each iteration is two distributed hash
shuffles (edge⋈label join + per-node min); no driver-side graph state —
only the converged-yet? count crosses to the driver, so the algorithm
runs unchanged on a 1000-executor cluster.

Scale notes (100 TB design point):

- Each round composes one-hop propagation with pointer jumping
  (label <- label(label), i.e. path halving as in Kiveris et al.,
  "Connected Components in MapReduce and Beyond"), so convergence is
  O(log diameter) rounds, not O(diameter) — a 1M-node chain resolves
  in ~20 rounds. Near-dup clusters are dense and shallow, so 2-4
  rounds are typical; `max_iter` bounds the pathological case.
- The per-round materialization truncates the growing lineage;
  otherwise every iteration replans the whole prefix and the DAG
  explodes quadratically. Rounds pin through ``session.pin``: without a
  checkpoint dir that is an executor-local ``localCheckpoint`` — right
  for local[N], but NOT fault-tolerant on a real cluster (an executor
  loss makes truncated lineage unrecoverable). Cluster runs set
  ``spark.checkpoint.dir`` (HDFS/S3) to make every pin a reliable
  ``checkpoint()`` instead.
- Labels and edges shuffle on the same node key every round, so AQE
  reuses co-partitioned exchanges where possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table, pin

# Small-graph gate for the driver fast path: a MEASURED bound on the
# symmetrized edge count (same pattern as the size-gated counts join in
# plans/documents.py). Below it, log-rounds of distributed joins cost
# more in fixed job overhead than the whole graph costs to union-find
# on the driver (measured at sf0.1: 4.3 s of Spark rounds vs
# milliseconds of union-find over a few hundred pairs); above it, the
# propagation path runs unchanged. 2×200k longs is ~3 MB on the driver
# — bounded by construction, never scales with corpus rows unless the
# pair stage itself exploded (which its own df-ceilings prevent).
MAX_DRIVER_EDGES = 200_000


def _driver_components(spark, sym: DataFrame) -> DataFrame:
    """Union-find over a collected (bounded, see gate) edge list; same
    contract as the distributed path: component = min reachable id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in sym.collect():  # bounded by the measured edge gate
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    best: dict = {}
    for node in parent:
        root = find(node)
        if root not in best or node < best[root]:
            best[root] = node
    rows = [(node, best[find(node)]) for node in parent]
    node_type = sym.schema["a"].dataType.simpleString()
    return local_table(spark, rows, f"node {node_type}, component {node_type}")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    max_driver_edges: int | None = MAX_DRIVER_EDGES,
) -> DataFrame:
    """Resolve undirected ``edges`` into components.

    Returns ``(node, component)`` for every node that appears in an
    edge, where ``component`` is the minimum node id reachable —
    a deterministic, engine-independent cluster id.

    Per-round materialization goes through ``session.pin``: reliable
    ``checkpoint()`` when the session has ``spark.checkpoint.dir`` set
    (HDFS/S3 on a real cluster — survives executor loss), fast
    executor-local ``localCheckpoint`` otherwise.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Pin the edge list once: without this every iteration re-derives
    # the upstream pair-generation plan (for near-dup input, the whole
    # shingle/inverted-index pipeline) from scratch. The symmetrization
    # is ONE explode of (a,b)/(b,a) struct pairs (optimization r13) —
    # the former self-union executed that upstream pair pipeline twice,
    # once per union branch. The pin is LAZY (optimization r14): the
    # gate count below is the action that materializes it, so pin+gate
    # is one job instead of an eager-checkpoint job followed by a count.
    sym = pin(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("x")
        ).select(F.col("x.a").alias("a"), F.col("x.b").alias("b"))
    )
    # Size-gated fast path: the count doubles as the pin materialization
    # and decides driver union-find vs distributed propagation — the
    # measured-gate strategy, not a guess.
    if max_driver_edges and sym.count() <= max_driver_edges:
        return _driver_components(spark, sym)
    labels = pin(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        nbr = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("label")
        )
        propagated = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # Pointer jumping (path halving): label <- label(label). One hop
        # of propagation alone needs O(diameter) rounds; composing it
        # with a label-of-label jump shortens chains geometrically, so
        # long paths converge in O(log diameter) rounds.
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        jumped = propagated.join(
            parent, propagated["label"] == parent["p_node"], "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
            ).alias("label"),
        )
        # ONE job per round (optimization r14): the round's result is a
        # LAZY pin carrying the previous label, and the convergence
        # count over it is the action that materializes the pin — the
        # former eager checkpoint + count pair cost two driver round
        # trips per round.
        staged = pin(
            jumped.alias("n")
            .join(
                labels.select("node", F.col("label").alias("old")).alias("o"),
                "node",
            )
            .select("node", "label", "old")
        )
        changed = staged.where(F.col("label") < F.col("old")).count()
        labels = staged.select("node", "label")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle + wedge census of an undirected graph; one row
    ``(n_triangles, n_wedges)``.

    Degree-oriented node-iterator (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11): every edge
    is oriented from its lower-(degree, id) endpoint to the higher one,
    wedges are generated only at each triangle's unique two-out-edge
    apex, and the closing edge is probed with a semi-join. The naive
    canonical-order self-join generates Θ(Σ deg(v)²) candidate wedges —
    one celebrity node with a million neighbors yields 10¹² wedges in
    a single reducer; orientation bounds per-node out-degree by
    O(√|E|), so the worst key holds O(|E|) wedges and the skew
    disappears. Both joins are plain hash shuffles on node/pair keys —
    no driver state, runs unchanged on a 1000-executor cluster.

    ``n_wedges`` counts unordered neighbor pairs Σ deg·(deg−1)/2 over
    UNDIRECTED degrees (the global-clustering denominator); integer
    arithmetic throughout so the result is hash-stable.
    """
    # pin once (the pagerank pattern): the edge list feeds degrees,
    # the orientation join, and the closing-edge probe — without
    # this the (possibly expensive) upstream pair pipeline
    # re-executes for each of those consumers. LAZY (optimization
    # r14): the single consuming action materializes it in place of
    # a dedicated eager-checkpoint job.
    e = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    # consumed by the wedge census AND the orientation join (lazy:
    # shared blocks, no dedicated job)
    deg = pin(
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    wedges = deg.agg(
        F.coalesce(F.expr("CAST(sum((deg * (deg - 1)) DIV 2) AS BIGINT)"), F.lit(0)).alias(
            "n_wedges"
        )
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    key_a = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    key_b = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    oriented = pin(ed.select(
        F.when(key_a < key_b, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(key_a < key_b, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(key_a < key_b, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ))  # consumed three times: both wedge legs + closing-edge probe (lazy pin)
    o1 = oriented.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    o2 = oriented.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedge_pairs = o1.join(o2, "u").where(
        F.struct(F.col("dx").alias("d"), F.col("x").alias("n"))
        < F.struct(F.col("dy").alias("d"), F.col("y").alias("n"))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedge_pairs.join(closing, ["x", "y"], "left_semi").agg(
        F.count("*").alias("n_triangles")
    )
    return tri.crossJoin(F.broadcast(wedges))


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree ≥ k, by iterative peeling — drop under-degree nodes, recount,
    repeat. One row column ``node``.

    Each round is two hash shuffles (degree count + semi-join filter)
    over the SURVIVING edge set, which only shrinks; no driver graph
    state (one converged-yet count per round crosses the driver). The
    peel is monotone, so stopping early at a fixpoint equals running
    all ``max_iter`` rounds — which is what makes a FIXED-depth SQL
    unrolling of the same peel an exact oracle for this loop whether
    or not the oracle's depth was 'enough': once stable, further
    rounds are identity on both sides.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    # explode-symmetrization (optimization r13): one pass over e, not
    # one per union branch
    # lazy pin + count fusion (optimization r14): each round's count is
    # the action that materializes that round's pinned edge set — one
    # job per peel round instead of two
    cur = pin(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("x")
        )
        .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"))
    )
    prev_n = cur.count()
    converged = prev_n == 0
    for _ in range(max_iter):
        if converged:
            break
        deg = cur.groupBy("a").agg(F.count("*").alias("_deg"))
        keep = deg.where(F.col("_deg") >= k).select("a")
        nxt = pin(
            cur.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
        )
        n = nxt.count()
        cur = nxt
        if n == prev_n:
            converged = True
        prev_n = n
    if not converged:
        # a silent return here would be a SUPERSET of the true k-core
        # (e.g. a long path peels only its two endpoints per round);
        # fail loudly instead — the fixed-depth SQL oracle would be
        # equally wrong, so green-but-wrong is the failure mode this
        # guard exists to prevent
        raise ValueError(
            f"k_core did not converge within max_iter={max_iter} peel "
            f"rounds ({prev_n} directed edges remain); raise max_iter"
        )
    return cur.select(F.col("a").alias("node")).distinct()


def local_clustering(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    2·T_v / (deg_v·(deg_v−1)) for every node of degree ≥ 2 (degree-1
    nodes have no defined coefficient and are omitted). Same
    degree-oriented wedge generation as :func:`triangle_count` — the
    skew bound carries over — but the closing-edge probe is an INNER
    join (the triple is needed, not just its existence), and each found
    triangle (u, x, y) credits all three corners via one explode."""
    e = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    deg = pin(
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    key_a = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    key_b = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    oriented = pin(ed.select(
        F.when(key_a < key_b, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(key_a < key_b, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(key_a < key_b, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ))
    o1 = oriented.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    o2 = oriented.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedge_pairs = o1.join(o2, "u").where(
        F.struct(F.col("dx").alias("d"), F.col("x").alias("n"))
        < F.struct(F.col("dy").alias("d"), F.col("y").alias("n"))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    triangles = wedge_pairs.join(closing, ["x", "y"])  # inner: keep triples
    corners = (
        triangles.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(corners, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            (
                F.floor(
                    (
                        2.0
                        * F.coalesce("n_triangles", F.lit(0))
                        / (F.col("deg") * (F.col("deg") - 1))
                    )
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("local_cc"),
        )
    )
