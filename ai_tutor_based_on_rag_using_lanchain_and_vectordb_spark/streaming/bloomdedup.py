"""Streaming bloom dedup: gate an incoming document stream against the
ENTIRE historical corpus without ever re-scanning it.

streaming/windows.dedup_stream dedupes WITHIN the stream (watermark-
bounded state); this module dedupes the stream AGAINST HISTORY: the
history lives as a bloom membership bitmap (operators/bloom.py) that
each micro-batch probes map-side. Bloom misses are guaranteed novel;
the ε-bounded hit slice is exactly verified against the persisted key
log. Novel rows go to the caller's idempotent sink and their keys fold
into the bitmap — so the sketch IS the accumulated corpus summary, a
few MB standing in for the 100 TB of history at probe time.

Exactly-once with VERSIONED state (streaming/epochs.py): a replayed
batch must probe the PRE-batch sketch, or every replayed row would look
like a duplicate. State lives in ``sketch_epoch=N`` + ``keys_epoch=N``
directories, and the caller's sink must be idempotent per epoch
(sinks.append_epoch is the intended pairing).

The exact-verify side reads the persisted key log, which at corpus
scale is the thin (key) column of the landing zone — still never the
corpus payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.bloom import bloom_build, bloom_merge, bloom_probe
from ..session import pin
from .epochs import EpochState, start_foreach_batch

__all__ = ["BloomDedupState", "stream_bloom_dedup"]


class BloomDedupState(EpochState):
    """Versioned (sketch, key-log) state under one directory."""

    def __init__(self, root: str, m_bits: int, k_hashes: int) -> None:
        super().__init__(root)
        self.m_bits = m_bits
        self.k_hashes = k_hashes

    def sketch(self, spark, epoch: int) -> DataFrame | None:
        if epoch < 0:
            return None
        return spark.read.parquet(self._epoch_path("sketch", epoch))

    def keys(self, spark, epoch: int) -> DataFrame | None:
        """Union of the per-epoch key logs COMMITTED at-or-before
        ``epoch`` — each epoch writes only ITS OWN keys."""
        paths = self._epoch_paths("keys", epoch)
        return spark.read.parquet(*paths) if paths else None

    def _fold(self, batch_df: DataFrame, epoch_id: int, last: int,
              key_col: str, sink) -> None:
        """Gate one micro-batch (``apply_batch(batch_df, epoch_id,
        key_col, sink)``). ``sink(novel_df, epoch)`` must be idempotent
        per epoch."""
        spark = batch_df.sparkSession

        # within-batch dedup must pick DETERMINISTICALLY (dropDuplicates
        # keeps an arbitrary row — a replayed epoch could then sink a
        # different row for the same key, breaking byte-identical
        # redelivery): keep the row with the smallest whole-row hash
        from pyspark.sql import Window

        all_cols = F.struct(*[F.col(c) for c in batch_df.columns])
        w = Window.partitionBy(key_col).orderBy(F.xxhash64(all_cols))
        batch = pin(  # pin rows: sink + state writes
            batch_df.where(F.col(key_col).isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn"), eager=True
        )
        sk = self.sketch(spark, last)
        hist_keys = self.keys(spark, last)
        if sk is None:
            novel = batch
        else:
            probed = bloom_probe(
                batch, F.col(key_col), sk, self.m_bits, self.k_hashes,
                pin_input=False,  # batch is already pinned
            )
            misses = probed.where(~F.col("bloom_hit")).drop("bloom_hit")
            cands = probed.where(F.col("bloom_hit")).drop("bloom_hit")
            verified = cands.join(
                hist_keys.withColumnRenamed("key", key_col), key_col, "left_anti"
            )
            novel = misses.unionByName(verified)
        novel = pin(novel, eager=True)

        sink(novel, epoch_id)

        new_keys = novel.select(F.col(key_col).alias("key"))
        add = bloom_build(new_keys, F.col("key"), self.m_bits, self.k_hashes)
        merged = add if sk is None else bloom_merge(sk, add)
        # write NEXT versions (overwrite-safe on replay)
        merged.coalesce(1).write.mode("overwrite").parquet(
            self._epoch_path("sketch", epoch_id)
        )
        # per-epoch key log: each epoch persists only ITS keys (O(batch)
        # state write per batch, never O(history))
        new_keys.write.mode("overwrite").parquet(self._epoch_path("keys", epoch_id))


def stream_bloom_dedup(
    stream_df: DataFrame,
    key_col: str,
    state_root: str,
    checkpoint: str,
    m_bits: int,
    k_hashes: int,
    sink,
):
    """Continuous history-gated dedup: every micro-batch's novel rows
    (key unseen in ALL prior epochs) go to ``sink``; duplicate rows are
    dropped. Returns the started StreamingQuery."""
    state = BloomDedupState(state_root, m_bits, k_hashes)
    return start_foreach_batch(
        stream_df, lambda b, e: state.apply_batch(b, e, key_col, sink), checkpoint
    )
