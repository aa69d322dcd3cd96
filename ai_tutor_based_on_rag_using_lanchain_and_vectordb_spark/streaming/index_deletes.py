"""Streaming delete propagation into the persistent retrieval layouts
(st18): a stream of purge requests (doc/vec ids) applied per
micro-batch to the BM25 postings, IVF vectors, and/or IVF+PQ codes
layouts — the continuous form of the reference's /delete-doc
(backend/main.py:443-486), at the cadence a production corpus actually
deletes (GDPR purges, re-crawl replacements).

Exactly-once via the committed-epoch marker of streaming/epochs.py: a
single delete is idempotent (deleting an absent id is a no-op), but
replay is NOT harmless in general — deletes interleave with upserts,
and a replayed old delete epoch arriving AFTER a doc was legitimately
re-added would kill the re-added copy
(tests/test_index_delete.py::test_stream_deletes_exactly_once).

The `apply_fns` are the batch delete operators themselves
(operators/bm25.delete_bm25_docs, operators/ann_index.delete_ivf_ids,
operators/pq_index.delete_ivfpq_ids) partially applied to their index
paths — one delete stream can fan a purge request out to every layout
a document lives in, which is exactly the reference's "remove from
BOTH stores" contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import pin
from .epochs import EpochState, start_foreach_batch

__all__ = ["DeleteStreamState", "stream_index_deletes"]


class DeleteStreamState(EpochState):
    """Epoch-marker state for a delete stream: remembers the last
    committed epoch so a redelivered (completed) batch is skipped."""

    def __init__(self, root: str, apply_fns) -> None:
        super().__init__(root)
        self.apply_fns = list(apply_fns)

    def _fold(self, batch_df: DataFrame, epoch_id: int, last: int) -> None:
        """Apply one micro-batch of ids (first column) to every layout.
        The id batch is pinned once — each apply_fn's locate probe
        broadcasts it."""
        ids = pin(batch_df.select(batch_df.columns[0]).dropDuplicates(), eager=True)
        spark = batch_df.sparkSession
        for fn in self.apply_fns:
            fn(spark, ids)


def stream_index_deletes(
    stream_df: DataFrame,
    state_root: str,
    checkpoint: str,
    apply_fns,
):
    """Continuous purge propagation: every micro-batch of ids runs each
    ``fn(spark, ids_df)`` delete operator once (exactly-once via the
    epoch marker). Returns the started StreamingQuery.

        stream_index_deletes(
            req_stream, state, ckpt,
            [lambda s, ids: delete_bm25_docs(s, bm25_path, ids),
             lambda s, ids: delete_ivf_ids(s, ivf_path, ids)])
    """
    state = DeleteStreamState(state_root, apply_fns)
    return start_foreach_batch(stream_df, state.apply_batch, checkpoint)
