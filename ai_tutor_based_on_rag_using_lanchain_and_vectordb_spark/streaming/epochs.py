"""Exactly-once streams: the one place the package starts a
``foreachBatch`` query, waits for it, and keeps the committed-epoch
marker that makes a stream's state exactly-once.

``foreachBatch`` is AT-LEAST-ONCE: a micro-batch can complete and its
offset commit still be lost, and after a restart Spark redelivers it
with the SAME epoch id (Armbrust et al., "Structured Streaming",
SIGMOD 2018; the Spark ``foreachBatch`` docs). :class:`EpochState`
turns a fold over such batches into an exactly-once one with a marker
file naming the last COMMITTED epoch, and one crash contract, in this
order:

1. skip — an epoch at or below the marker is a replay and is dropped;
2. fold — the subclass's ``_fold`` applies the batch. Versioned state
   reads only the ``<prefix>_epoch=N`` directories at or below the
   marker (:meth:`EpochState._epoch_paths`) and writes THIS epoch's
   directories in overwrite mode, so a replay regenerates them;
3. commit — the marker moves to the epoch.

A crash anywhere before the commit leaves the marker where it was, so
the redelivered batch folds again against unchanged state. A fold that
is not overwrite-safe (streaming/rollup.py's additive counts) can
still double-apply the one batch caught between its fold and the
commit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

__all__ = ["EpochState", "drain", "start_foreach_batch"]

MARKER = "last_committed_epoch.txt"


class EpochState:
    """Committed-epoch bookkeeping under one directory. Subclasses
    implement ``_fold(batch_df, epoch_id, last, *args)``, where
    ``last`` is the marker's epoch when the batch arrived."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def last_epoch(self) -> int:
        """The last committed epoch, -1 before the first commit."""
        p = os.path.join(self.root, MARKER)
        if not os.path.exists(p):
            return -1
        with open(p) as fh:
            return int(fh.read().strip() or "-1")

    def _epoch_path(self, prefix: str, epoch: int) -> str:
        return os.path.join(self.root, f"{prefix}_epoch={int(epoch)}")

    def _epoch_paths(self, prefix: str, epoch: int) -> list[str]:
        """``prefix`` directories at or below ``epoch``: a directory an
        uncommitted epoch left behind after a crash is above the marker
        and stays out, which is what makes a replay read exactly the
        pre-batch state."""
        return sorted(
            os.path.join(self.root, d)
            for d in os.listdir(self.root)
            if d.startswith(f"{prefix}_epoch=") and int(d.split("=")[1]) <= epoch
        )

    def apply_batch(self, batch_df: DataFrame, epoch_id: int, *args) -> bool:
        """The foreachBatch body: fold one micro-batch and commit its
        epoch; returns False, without folding, for a replayed epoch."""
        last = self.last_epoch()
        if epoch_id <= last:
            return False
        self._fold(batch_df, epoch_id, last, *args)
        # write-then-rename: a crash mid-write never leaves a torn marker
        tmp = os.path.join(self.root, f".{MARKER}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(int(epoch_id)))
        os.replace(tmp, os.path.join(self.root, MARKER))
        return True

    def _fold(self, batch_df: DataFrame, epoch_id: int, last: int, *args) -> None:
        raise NotImplementedError


def start_foreach_batch(
    stream_df: DataFrame, fn, checkpoint: str | None = None
) -> StreamingQuery:
    """Start an availableNow query that hands every micro-batch to
    ``fn(batch_df, epoch_id)``. Without ``checkpoint`` Spark uses a
    temporary checkpoint, so the query cannot resume after a restart."""
    writer = stream_df.writeStream.foreachBatch(fn).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def drain(query: StreamingQuery, timeout: float) -> None:
    """Wait for ``query`` to finish; a failed query raises its error.
    ``awaitTermination`` returns False on timeout with the query still
    running — a partial drain. Reading state then would silently see a
    prefix of the stream, so stop the query and fail loudly; the
    checkpoint and the epoch state make a rerun resume where this one
    ended."""
    if not query.awaitTermination(timeout):
        query.stop()
        raise TimeoutError(
            f"stream {query.name or query.id} did not drain within {timeout}s "
            "and was stopped; rerun with the same checkpoint to resume"
        )
