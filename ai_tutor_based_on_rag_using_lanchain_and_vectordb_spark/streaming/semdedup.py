"""Streaming SemDeDup: maintain the semantic-dedup decision set
incrementally as vectors arrive, on a FROZEN coarse quantizer — the
dedup family's incremental path (exact dedup has st5/st13, near-dup
components has st12; this is the embedding-cluster member,
operators/semdedup.py).

Semantics — identical to the batch operator by construction: with the
paper's non-recursive id-priority prune rule (operators/semdedup.py
docstring), ``kept(v) = ¬∃ w: w.id < v.id ∧ cell(w) = cell(v) ∧
cos(w, v) ≥ τ``. Pruned-ness is MONOTONE in the arrival order (a new
vector can only ADD witnesses, never remove one), so the stream fold
is: per micro-batch, assign cells with the frozen centroids, score
every (new, new) and (new, history) same-cell pair ONCE, and demote the
higher id of every hit — new vectors against surviving-and-pruned
history alike (the rule is non-recursive: a pruned witness still
prunes). After any prefix of batches the decision set equals the
one-shot ``semdedup(union, order="id", centroids=frozen)`` on the rows
seen so far — Q(streaming_equivalence_gate) st16 pins exactly that. The
pairs come from the batch operator's own scorer
(operators/semdedup.py ``cosine_pairs``), so the stream and the batch
compare the same float bits.

State is O(corpus) vectors but O(batch) WRITE per epoch (per-epoch
parquet subtrees, the operators/pq_index.py cell-layout idea), and the
pair work per batch is new×(cell-mates) only — history×history is never
re-scored. Exactly-once via the committed-epoch marker of
streaming/epochs.py: a crash before the commit replays against
unchanged state and regenerates byte-identical epoch files
(tests/test_stream_exactly_once.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.semdedup import assign_cells, cosine_pairs
from ..session import pin
from .epochs import EpochState, start_foreach_batch

__all__ = ["SemDedupState", "stream_semdedup"]


class SemDedupState(EpochState):
    """Versioned (vectors, demotions) state under one directory."""

    def __init__(
        self,
        root: str,
        centroids: np.ndarray,
        threshold: float,
    ) -> None:
        super().__init__(root)
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.threshold = float(threshold)

    def vectors(self, spark, epoch: int) -> DataFrame | None:
        """(vec_id, embedding, cell) committed at-or-before ``epoch``."""
        paths = self._epoch_paths("vecs", epoch)
        return spark.read.parquet(*paths) if paths else None

    def pruned_ids(self, spark, epoch: int) -> DataFrame | None:
        paths = self._epoch_paths("pruned", epoch)
        return spark.read.parquet(*paths) if paths else None

    def decisions(self, spark) -> DataFrame | None:
        """Final (vec_id, cell, kept) over everything committed —
        row-identical to the one-shot batch semdedup on the union."""
        last = self.last_epoch()
        vecs = self.vectors(spark, last)
        if vecs is None:
            return None
        pruned = self.pruned_ids(spark, last)
        base = vecs.select("vec_id", "cell")
        if pruned is None:
            return base.select("vec_id", "cell", F.lit(True).alias("kept"))
        return base.join(
            pruned.select(F.col("vec_id").alias("_pid"))
            .distinct()
            .withColumn("_hit", F.lit(1))
            .hint("shuffle_hash"),
            F.col("vec_id") == F.col("_pid"),
            "left",
        ).select("vec_id", "cell", F.col("_hit").isNull().alias("kept"))

    def _fold(self, batch_df: DataFrame, epoch_id: int, last: int) -> None:
        """Fold one micro-batch of (vec_id, embedding)."""
        spark = batch_df.sparkSession

        # collapse duplicate ids WITHIN the batch first: a redelivering
        # source can repeat a vec_id inside one epoch, and the vec_a !=
        # vec_b pair filter would otherwise skip the self-duplicate —
        # state must stay a set keyed by id even intra-batch
        new = assign_cells(
            batch_df.dropDuplicates(["vec_id"]),
            n_cells=len(self.centroids),
            centroids=self.centroids,
        ).select("vec_id", "embedding", "cell")
        hist = self.vectors(spark, last)
        if hist is not None:
            # replace-by-id upsert semantics: a vec_id already in state
            # (redelivered row inside a NEW epoch) is not re-added —
            # state stays a set keyed by id
            new = new.join(hist.select("vec_id"), "vec_id", "left_anti")
        new = pin(new, eager=True)

        # same-cell pairs with at least one NEW side, scored ONCE by the
        # batch operator's pair kernel: side A = the new batch, side B =
        # new ∪ history, pair rule vec_a != vec_b. history×history never
        # re-scores.
        both = new if hist is None else new.unionByName(hist)
        pairs = cosine_pairs(
            new.withColumnRenamed("cell", "label"),
            both.withColumnRenamed("cell", "label"),
            self.threshold,
        )
        # non-recursive id priority: every hit demotes its larger id
        # (new-new pairs meet twice — once per orientation — and
        # resolve to the same demotion; distinct collapses them)
        demoted = pairs.select(
            F.greatest("vec_a", "vec_b").alias("vec_id")
        ).distinct()

        # write THIS epoch's state (overwrite-safe on replay)
        new.write.mode("overwrite").parquet(self._epoch_path("vecs", epoch_id))
        demoted.write.mode("overwrite").parquet(
            self._epoch_path("pruned", epoch_id)
        )


def stream_semdedup(
    stream_df: DataFrame,
    state_root: str,
    checkpoint: str,
    centroids: np.ndarray,
    threshold: float,
):
    """Continuous semantic dedup of a (vec_id, embedding) stream on a
    frozen quantizer. Read the maintained decision set back with
    ``SemDedupState(...).decisions(spark)``. Returns the started
    StreamingQuery."""
    state = SemDedupState(state_root, centroids, threshold)
    return start_foreach_batch(stream_df, state.apply_batch, checkpoint)
