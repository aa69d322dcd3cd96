"""Incremental connected components over an edge stream.

Maintains the (node → component) labeling of operators/components.py
under batch-by-batch edge arrival WITHOUT re-running the transitive
closure over all history: each new batch's edges are CONDENSED through
the current labeling (every endpoint replaced by its component label),
components run on that condensed graph — whose size is bounded by the
batch plus the number of TOUCHED components, not by history — and the
resulting label-to-label merges rewrite the state.

Correctness: labels are minimum-reachable node ids, and min is
associative, so merging per-batch minima through condensed edges
reproduces exactly the labels a one-shot run over the union of all
edges would produce (pytest pins stream ≡ batch across chunked
arrivals; st12 in the streaming equivalence gate runs it end-to-end
under foreachBatch).

Scale shape: state is one (node, label) DataFrame, pinned per batch
through ``session.pin`` (executor memory by default; a session with
``spark.checkpoint.dir`` set keeps it on reliable storage on a real
cluster). A batch touches only the components its edges reach — the
common streaming case (most batches touch few components) costs
O(batch) regardless of accumulated graph size, which is the entire
point versus recomputation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..session import pin

__all__ = ["IncrementalComponents"]


class IncrementalComponents:
    """Fold edge batches into a live (node, component) labeling."""

    def __init__(self) -> None:
        self._labels: DataFrame | None = None

    def update(self, edges: DataFrame, src: str = "src", dst: str = "dst") -> None:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        labels = self._labels
        if labels is not None:
            la = labels.select(
                F.col("node").alias("src"), F.col("label").alias("_ls")
            )
            lb = labels.select(
                F.col("node").alias("dst"), F.col("label").alias("_ld")
            )
            # condense: endpoints → their current component labels
            e = (
                e.join(la, "src", "left")
                .join(lb, "dst", "left")
                .select(
                    F.coalesce("_ls", F.col("src")).alias("src"),
                    F.coalesce("_ld", F.col("dst")).alias("dst"),
                )
            )
        comp = connected_components(e)  # node ∈ {old labels} ∪ {new nodes}
        if labels is None:
            merged = comp.select("node", F.col("component").alias("label"))
        else:
            upd = comp.select(
                F.col("node").alias("label"), F.col("component").alias("_new")
            )
            relabeled = labels.join(upd, "label", "left").select(
                "node", F.coalesce("_new", F.col("label")).alias("label")
            )
            fresh = comp.join(
                labels.select("node"), "node", "left_anti"
            ).select("node", F.col("component").alias("label"))
            merged = relabeled.unionByName(fresh)
        self._labels = pin(merged, eager=True)

    def labels(self) -> DataFrame | None:
        """Current (node, label); None before the first batch."""
        return self._labels
