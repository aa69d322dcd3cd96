"""Streaming DSIR: maintain the importance-resampling state
incrementally as documents arrive — the trainprep family's newest
incremental twin (st17), alongside st13 (bloom dedup), st14 (moments),
st15 (IVM view), st16 (semdedup).

The DSIR weight model is a MERGEABLE sketch: per-bucket target/raw
gram-mass counts (plans/trainprep.dsir_bucket_counts) add across any
split of the corpus, and every downstream quantity — the Laplace-
smoothed LLR weights, per-doc integer weight sums, the deterministic
A-Res race — is a pure function of the summed counts. So the stream
fold is: per micro-batch, hash the new documents' bigrams into
(doc_id, b, cnt) rows and append them as a versioned epoch; the sample
re-emitted after any prefix of batches equals the one-shot
``dsir_importance_sample`` on the rows seen so far, row for row
(Q(streaming_equivalence_gate) st17 pins exactly that).

State is O(docs·min(grams, B)) small-int rows but O(batch) WRITE per
epoch (per-epoch parquet subtrees). Re-emitting the sample reads the
full count state — per-epoch emission is the gate's shape; a
production pipeline re-emits on demand, with the weight fit itself
always O(B)=512 rows. Exactly-once via the committed-epoch marker of
streaming/epochs.py; duplicate doc_ids (intra-batch or cross-epoch)
are dropped before append so counts are never double-added
(tests/test_stream_exactly_once.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import ws_tokens
from ..plans.trainprep import dsir_bucket_counts, dsir_sample_from_counts
from ..session import pin
from .epochs import EpochState, start_foreach_batch

__all__ = ["DsirState", "stream_dsir"]


class DsirState(EpochState):
    """Versioned (doc_id, b, cnt) bucket-count state under one
    directory."""

    def counts(self, spark, epoch: int) -> DataFrame | None:
        """(doc_id, b, cnt) committed at-or-before ``epoch``."""
        paths = self._epoch_paths("fbc", epoch)
        return spark.read.parquet(*paths) if paths else None

    def sample(self, spark) -> DataFrame | None:
        """The maintained DSIR sample over everything committed —
        row-identical to the one-shot batch dsir_importance_sample on
        the union (same columns: doc_id, n_grams, llr, skey)."""
        fbc = self.counts(spark, self.last_epoch())
        return None if fbc is None else dsir_sample_from_counts(fbc)

    def _fold(self, batch_df: DataFrame, epoch_id: int, last: int) -> None:
        """Fold one micro-batch of (doc_id, text)."""
        spark = batch_df.sparkSession

        # set-keyed-by-id state: collapse intra-batch duplicates, then
        # drop docs already committed (cross-epoch redelivery) — counts
        # must never double-add
        new = batch_df.dropDuplicates(["doc_id"]).select("doc_id", "text")
        hist = self.counts(spark, last)
        if hist is not None:
            new = new.join(
                hist.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        fbc = pin(dsir_bucket_counts(
            new.select("doc_id", ws_tokens(F.col("text")).alias("ws"))
        ), eager=True)
        # write THIS epoch's counts (overwrite-safe on replay). An epoch
        # whose batch fully dedupes away (or carries only <2-token
        # docs) yields ZERO count rows: skip the write (the marker
        # still commits) — an empty parquet dir has no data files, and
        # a later counts() read would die on schema inference instead
        # of returning the correct (empty) contribution.
        if fbc.count():
            fbc.write.mode("overwrite").parquet(self._epoch_path("fbc", epoch_id))


def stream_dsir(
    stream_df: DataFrame,
    state_root: str,
    checkpoint: str,
):
    """Continuous DSIR state maintenance over a (doc_id, text) stream.
    Read the maintained sample back with ``DsirState(...).sample``.
    Returns the started StreamingQuery."""
    return start_foreach_batch(stream_df, DsirState(state_root).apply_batch, checkpoint)
