"""Incrementally-maintained rollup table with mergeable sketches.

The batch pattern (plans/pipeline.hll_rollup_gate) keeps one HLL sketch
per day so any date range's distinct-user count is answerable by
merging sketches. This module maintains that table CONTINUOUSLY from an
event stream: each micro-batch's per-day sketches are unioned into the
stored per-day sketches (``hll_union`` two-arg form on the join of new
vs stored), and only the touched day-partitions are rewritten (dynamic
partition overwrite — the same incremental-maintenance move as
``operators/pq_index.upsert_ivfpq_index``).

Because HLL union is associative and commutative, ANY batching of the
input produces the same merged registers — the N-batch ≡ 1-batch test
(tests/test_rollup.py) asserts identical estimates and counts under
uneven, out-of-order, day-overlapping batches. That property is what
makes the pattern safe at 100 TB: late events fold in without
re-scanning history, and REPLAYED micro-batches are safe for the
distinct-count estimates (HLL union is idempotent); the additive
per-day event counts are protected separately by the epoch marker in
:func:`stream_daily_rollup`.

Counts (events per day) ride along as plain additive longs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin
from .epochs import EpochState, start_foreach_batch


def _batch_rollup(events: DataFrame, ts_col: str, user_col: str) -> DataFrame:
    return events.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.hll_sketch_agg(user_col).alias("sketch"),
        F.count("*").alias("n_events"),
    )


def upsert_daily_rollup(
    spark: SparkSession,
    path: str,
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> None:
    """Merge one batch of events into the stored per-day rollup,
    rewriting only the day partitions the batch touches.

    Safety details:

    - ``new`` is pinned (eager) so the ``days`` collect and
      the merged write see the SAME rows even for a nondeterministic or
      concurrently-changing source; without it a day appearing only in
      the recomputation would silently replace a stored partition.
    - ``merged`` is pinned BEFORE the overwrite so the
      stored partitions are fully read and materialized before any file
      under ``path`` is replaced — the write never races its own input.
    - ``partitionOverwriteMode=dynamic`` is a writer option of this
      write, not a session conf, so later ``overwrite``+``partitionBy``
      writes in the same session keep their truncate-table semantics.
    """
    new = pin(_batch_rollup(events, ts_col, user_col), eager=True)
    if not os.path.exists(path):
        new.write.partitionBy("day").mode("overwrite").parquet(path)
        return
    days = [r["day"] for r in new.select("day").distinct().collect()]
    stored = spark.read.parquet(path).where(F.col("day").isin(days))
    merged = pin(
        new.alias("n")
        .join(stored.alias("s"), "day", "left")
        .select(
            "day",
            F.when(
                F.col("s.sketch").isNull(), F.col("n.sketch")
            ).otherwise(F.hll_union(F.col("n.sketch"), F.col("s.sketch"))).alias(
                "sketch"
            ),
            (
                F.col("n.n_events") + F.coalesce(F.col("s.n_events"), F.lit(0))
            ).alias("n_events"),
        ), eager=True)
    (
        merged.write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


class _RollupEpochs(EpochState):
    def _fold(self, batch_df, epoch_id, last, path, ts_col, user_col) -> None:
        upsert_daily_rollup(
            batch_df.sparkSession, path, batch_df, ts_col=ts_col, user_col=user_col
        )


def merge_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    path: str,
    checkpoint: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> bool:
    """foreachBatch body with replay protection: merge the batch unless
    ``epoch_id`` was already applied (the streaming/epochs.py marker in
    the checkpoint dir). Returns True if the batch was merged, False if
    skipped."""
    return _RollupEpochs(checkpoint).apply_batch(
        batch_df, epoch_id, path, ts_col, user_col
    )


def stream_daily_rollup(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
):
    """Continuous rollup maintenance: every micro-batch folds into the
    stored table via :func:`upsert_daily_rollup`. Returns the started
    StreamingQuery.

    Replay: the HLL union is idempotent but the additive ``n_events``
    count is not, so replayed epochs are skipped by the
    streaming/epochs.py marker (:func:`merge_epoch`). The merge is not
    versioned: a crash exactly between merge and commit can still
    double-count that one batch's ``n_events``; the distinct-count
    estimates stay exact under any replay."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_epoch(
            batch_df, epoch_id, path, checkpoint, ts_col=ts_col, user_col=user_col
        )

    return start_foreach_batch(stream_df, _merge, checkpoint)


def rollup_estimate(
    spark: SparkSession, path: str, start=None, end=None
) -> DataFrame:
    """Distinct-user estimate + event count over a day range, answered
    purely from the rollup (no raw-event scan)."""
    df = spark.read.parquet(path)
    if start is not None:
        df = df.where(F.col("day") >= F.lit(start))
    if end is not None:
        df = df.where(F.col("day") <= F.lit(end))
    return df.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("long").alias(
            "distinct_users"
        ),
        F.sum("n_events").cast("long").alias("n_events"),
    )
