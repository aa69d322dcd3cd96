"""Canonical Parquet storage layout (S5/S6 sinks) — the write-side
decisions that replace the reference's SQLite indexes
(backend/db_utils.py:56-65,177-186) at scale:

- chat logs    → partitioned by date(created_at): the idx_created_at
  equivalent; time-range predicates (P3) become partition pruning.
- chunks/vecs  → bucketed by doc_id: the idx_file_hash/file_id
  equivalent; per-document fetch/delete (J3) touches one bucket, and a
  chunks⋈vectors join on doc_id is shuffle-free when both sides share
  the bucketing.
- append mode  → the INSERT path (db_utils.py:80-86); streaming ingest
  lands through foreachBatch into the same layout.

Buckets require a saveAsTable (metastore) target; the path-based
variants fall back to repartition-by-key + sorted files, which still
gives clustered row groups (min/max skipping) without a metastore.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.epochs import start_foreach_batch


def write_logs_partitioned(logs: DataFrame, path: str, mode: str = "append") -> None:
    """Chat-log table partitioned by event date (P3-prunable layout)."""
    (
        logs.withColumn("log_date", F.to_date("created_at"))
        .repartition("log_date")
        .write.mode(mode)
        .partitionBy("log_date")
        .parquet(path)
    )


def write_events_partitioned(events: DataFrame, path: str, mode: str = "append") -> None:
    (
        events.withColumn("event_date", F.to_date("ts"))
        .repartition("event_date")
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def write_chunks_clustered(
    chunks: DataFrame, path: str, n_files: int = 32, mode: str = "overwrite"
) -> None:
    """Chunk table clustered by doc_id: repartition on the key + sort
    within partitions → parquet row groups with tight doc_id min/max, so
    a doc_id predicate (P4) skips row groups like the reference's
    secondary index skips pages."""
    (
        chunks.repartition(n_files, "doc_id")
        .sortWithinPartitions("doc_id", "chunk_index")
        .write.mode(mode)
        .parquet(path)
    )


def write_vectors_clustered(
    vectors: DataFrame, path: str, n_files: int = 32, mode: str = "overwrite"
) -> None:
    (
        vectors.repartition(n_files, "chunk_id")
        .sortWithinPartitions("chunk_id")
        .write.mode(mode)
        .parquet(path)
    )


def append_epoch(batch_df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent landing of ONE micro-batch: the batch gets its own
    ``ingest_epoch={id}`` subtree, OVERWRITTEN in place — a replayed
    epoch (foreachBatch is at-least-once: the batch can complete and
    the offset commit still be lost) or a half-written crash rewrites
    the same directory instead of appending a duplicate. Readers
    discover ``ingest_epoch`` as an ordinary partition column
    (ingest provenance) above the event_date layout, so date pruning
    is unchanged."""
    (
        batch_df.withColumn("event_date", F.to_date("ts"))
        .repartition("event_date")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(os.path.join(path, f"ingest_epoch={int(batch_id)}"))
    )


def append_stream_foreachbatch(stream_df: DataFrame, path: str, checkpoint: str):
    """ST5 — continuous ingest: the partitioned landing zone, driven by
    a stream (upload-per-request becomes a file stream at scale).
    Exactly-once: each epoch is an idempotent overwrite of its own
    subtree (:func:`append_epoch`; replay-tested in
    tests/test_stream_exactly_once.py) — a plain ``mode("append")``
    here would double rows on every redelivered batch."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_epoch(batch_df, path, batch_id)

    return start_foreach_batch(stream_df, sink, checkpoint)
