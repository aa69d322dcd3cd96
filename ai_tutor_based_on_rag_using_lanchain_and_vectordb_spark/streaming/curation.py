"""Online corpus-curation gates — the trainprep checks re-expressed for
a continuously-ingesting corpus (the shape a 100 TB pipeline actually
runs: the benchmark/boilerplate reference sets are computed offline,
new documents stream in and are gated on arrival).

Two streaming shapes, chosen by what keeps state bounded:

- ``contamination_hits_stream`` — a NATIVE stream-static inner join:
  per-document distinct grams (deduped inside the row with
  array_distinct, so no stateful streaming ``distinct()`` is needed)
  joined against the static benchmark gram set. Stateless, append-mode;
  the static side is re-scanned per micro-batch and AQE sizes the join
  each time.
- ``score_documents_stream`` — per-document fractions need a
  groupBy(doc_id) after the join; on a stream that is unbounded state,
  so it runs as foreachBatch over self-contained micro-batches (each
  document's grams live in one batch), the same pattern as ingest/
  rollup. State never outlives the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.trainprep import (
    BENCH_MOD,
    CONTAM_MAX,
    _tokens,
)
from ..functions import exact as X
from ..operators.dedup import ngrams
from .epochs import start_foreach_batch


def benchmark_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static benchmark 3-gram set (distinct), computed offline from
    the held-out split — the reference side of the stream-static join."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0
    )
    return (
        docs.select(F.explode(ngrams(_tokens(F.col("text")), 3)).alias("g"))
        .distinct()
    )


def _doc_grams_stateless(docs: DataFrame) -> DataFrame:
    """(doc_id, g) with per-document dedup done INSIDE the row
    (array_distinct before explode): works identically on a batch or
    streaming frame because it needs no cross-row state. array_distinct
    is O(n²) per row — bounded by document length, not corpus size."""
    grams = F.array_distinct(ngrams(_tokens(F.col("text")), 3))
    return docs.select("doc_id", F.explode(grams).alias("g"))


def contamination_hits_stream(
    docs: DataFrame, bench: DataFrame
) -> DataFrame:
    """Benchmark-colliding grams of arriving documents: stream-static
    inner join, stateless, append-mode. Emits (doc_id, g) per hit; the
    per-doc rollup belongs downstream (or in
    :func:`score_documents_stream`) because aggregating here would need
    unbounded per-doc state on the stream side."""
    return _doc_grams_stateless(docs).join(bench, "g").select("doc_id", "g")


def score_documents_stream(
    docs: DataFrame,
    bench: DataFrame,
    sink,
    checkpoint: str,
):
    """Per-document contamination fractions over a stream: foreachBatch
    applies the batch scorer to each self-contained micro-batch and
    hands the scored frame to ``sink(df, epoch_id)``. Documents are
    atomic rows, so a batch always holds every gram of its documents —
    the groupBy(doc_id) state lives only inside the batch."""

    def _score(batch_df: DataFrame, epoch_id: int) -> None:
        sink(score_documents_batch(batch_df, bench), epoch_id)

    return start_foreach_batch(docs, _score, checkpoint)


def score_documents_batch(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """The batch scorer foreachBatch applies: per-doc distinct-gram
    count, benchmark hits, fraction, flag — same output contract as
    plans.trainprep.contamination_overlap."""
    dg = _doc_grams_stateless(docs)
    marked = bench.withColumn("hit", F.lit(1))
    frac = X.pround(F.col("n_hit") / F.col("n_grams"), 4)
    return (
        dg.join(marked, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            frac.alias("contam_frac"),
            (frac > F.lit(CONTAM_MAX)).alias("flagged"),
        )
    )
