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
seen so far — Q(streaming_equivalence_gate) st16 pins exactly that, and
the float path is the expression kernel that is bit-parity-tested
against the batch operator's numpy kernel (plans/vectors.py).

State is O(corpus) vectors but O(batch) WRITE per epoch (per-epoch
parquet subtrees, the operators/ann_index.py cell-layout idea), and the
pair work per batch is new×(cell-mates) only — history×history is never
re-scored. Exactly-once under foreachBatch's at-least-once redelivery
via the versioned-epoch marker scheme of streaming/bloomdedup.py: a
replayed committed epoch is skipped outright; a crash before the marker
move replays against unchanged state and regenerates byte-identical
epoch files (tests/test_stream_exactly_once.py).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from ..operators.semdedup import assign_cells
from ..session import default_parallelism, pin

__all__ = ["SemDedupState", "stream_semdedup"]

_MARKER = "last_committed_epoch.txt"
_SALTS = 8


class SemDedupState:
    """Versioned (vectors, demotions) state under one directory."""

    def __init__(
        self,
        root: str,
        centroids: np.ndarray,
        threshold: float,
        dim: int = V.EMBEDDING_DIM,
    ) -> None:
        self.root = root
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.threshold = float(threshold)
        self.dim = dim
        os.makedirs(root, exist_ok=True)

    # -- epoch bookkeeping (the bloomdedup scheme) --------------------------
    def last_epoch(self) -> int:
        p = os.path.join(self.root, _MARKER)
        if not os.path.exists(p):
            return -1
        with open(p) as fh:
            return int(fh.read().strip() or "-1")

    def _commit(self, epoch: int) -> None:
        with open(os.path.join(self.root, _MARKER), "w") as fh:
            fh.write(str(int(epoch)))

    def _epoch_paths(self, prefix: str, epoch: int) -> list[str]:
        return sorted(
            os.path.join(self.root, d)
            for d in os.listdir(self.root)
            if d.startswith(f"{prefix}_epoch=")
            and int(d.split("=")[1]) <= epoch
        )

    def vectors(self, spark, epoch: int) -> DataFrame | None:
        """(vec_id, embedding, cell) committed at-or-before ``epoch``."""
        paths = self._epoch_paths("vecs", epoch) if epoch >= 0 else []
        return spark.read.parquet(*paths) if paths else None

    def pruned_ids(self, spark, epoch: int) -> DataFrame | None:
        paths = self._epoch_paths("pruned", epoch) if epoch >= 0 else []
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

    # -- the foreachBatch body ----------------------------------------------
    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> bool:
        """Fold one micro-batch of (vec_id, embedding); returns False on
        a pure replay skip (epoch already committed)."""
        spark = batch_df.sparkSession
        last = self.last_epoch()
        if epoch_id <= last:
            return False

        # collapse duplicate ids WITHIN the batch first: a redelivering
        # source can repeat a vec_id inside one epoch, and the vec_a !=
        # vec_b pair filter would otherwise skip the self-duplicate —
        # state must stay a set keyed by id even intra-batch
        new = assign_cells(
            batch_df.dropDuplicates(["vec_id"]),
            n_cells=len(self.centroids),
            dim=self.dim,
            centroids=self.centroids,
        ).select("vec_id", "embedding", "cell")
        hist = self.vectors(spark, last)
        if hist is not None:
            # replace-by-id upsert semantics: a vec_id already in state
            # (redelivered row inside a NEW epoch) is not re-added —
            # state stays a set keyed by id
            new = new.join(hist.select("vec_id"), "vec_id", "left_anti")
        new = pin(new, eager=True)

        # same-cell pairs with at least one NEW side, scored ONCE:
        # side A = the new batch (salted on hash(id), the
        # _salted_pair_scores shape), side B = new ∪ history, replicated
        # across the salts. history×history never re-scores. The score
        # is the exact expression kernel (dot_fixed / norm·norm) that is
        # bit-parity-tested against the batch operator's numpy kernel.
        both = new if hist is None else new.unionByName(hist)
        salt_a = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(_SALTS)).cast("int")
        a = new.select(
            F.col("vec_id").alias("vec_a"),
            V.as_double(F.col("embedding")).alias("va"),
            F.col("cell").alias("ca"),
            V.norm_fixed("embedding", self.dim).alias("norm_a"),
            salt_a.alias("salt_a"),
        ).where(F.col("norm_a") > 0)
        b = (
            both.select(
                F.col("vec_id").alias("vec_b"),
                V.as_double(F.col("embedding")).alias("vb"),
                F.col("cell").alias("cb"),
                V.norm_fixed("embedding", self.dim).alias("norm_b"),
            )
            .where(F.col("norm_b") > 0)
            .withColumn(
                "salt_b", F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1)))
            )
        )
        score = V.dot_fixed("va", "vb", self.dim, cast=False) / (
            F.col("norm_a") * F.col("norm_b")
        )
        n_parts = default_parallelism()
        pairs = (
            a.repartition(n_parts, "ca", "salt_a")
            .hint("shuffle_hash")
            .join(
                b.repartition(n_parts, "cb", "salt_b"),
                (F.col("ca") == F.col("cb"))
                & (F.col("salt_a") == F.col("salt_b"))
                & (F.col("vec_a") != F.col("vec_b")),
            )
            .where(score >= self.threshold)
        )
        # non-recursive id priority: every hit demotes its larger id
        # (new-new pairs meet twice — once per orientation — and
        # resolve to the same demotion; distinct collapses them)
        demoted = pairs.select(
            F.greatest("vec_a", "vec_b").alias("vec_id")
        ).distinct()

        # write THIS epoch's state (overwrite-safe on replay), then
        # commit the marker — the bloomdedup crash contract
        new.write.mode("overwrite").parquet(
            os.path.join(self.root, f"vecs_epoch={int(epoch_id)}")
        )
        demoted.write.mode("overwrite").parquet(
            os.path.join(self.root, f"pruned_epoch={int(epoch_id)}")
        )
        self._commit(epoch_id)
        return True


def stream_semdedup(
    stream_df: DataFrame,
    state_root: str,
    checkpoint: str,
    centroids: np.ndarray,
    threshold: float,
    dim: int = V.EMBEDDING_DIM,
    available_now: bool = True,
):
    """Continuous semantic dedup of a (vec_id, embedding) stream on a
    frozen quantizer. Read the maintained decision set back with
    ``SemDedupState(...).decisions(spark)``. Returns the started
    StreamingQuery."""
    state = SemDedupState(state_root, centroids, threshold, dim)

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        state.apply_batch(batch_df, epoch_id)

    writer = stream_df.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
