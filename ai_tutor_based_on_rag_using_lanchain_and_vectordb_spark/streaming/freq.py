"""Streaming heavy hitters (ST surface × operators/freq.py): maintain
a Misra-Gries summary + running total incrementally over micro-batches
via foreachBatch, then finalize with the batch exact recount.

Soundness: MG summaries are mergeable — adding two summaries and
re-trimming to k counters (operators/freq.mg_trim) preserves the
ε = n/(k+1) undercount bound for the combined stream under ARBITRARY
merge trees (Agarwal et al., "Mergeable Summaries", PODS'12). Each
micro-batch contributes its per-partition summaries (distributed,
mapInPandas — the Spark-side work is identical to the batch operator),
the driver folds the ≤ partitions × k rows into the ≤ k-entry running
state, and the candidate extraction at phi·n − n/(k+1) is therefore a
guaranteed superset of the true heavy hitters of EVERYTHING streamed
so far — the same invariant the batch plan has after its first pass.

The finalize step recounts candidates exactly against the stored
corpus (production: the table the stream is landing into), making the
end-to-end answer exact, not approximate — the lambda arrangement
where the stream maintains the bounded sketch and the store answers
the bounded recount.

Driver state is bounded by construction: ≤ k counters + one total
(k ≈ 2/phi). Restart safety: state checkpoints to ``state_path`` as
JSON keyed by the last applied epoch id; replayed epochs (foreachBatch
re-delivery after a failure) are skipped idempotently.
"""

from __future__ import annotations

import json
import math
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.freq import _domain_filter, _mg_summaries, mg_trim
from ..session import local_table
from .epochs import drain, start_foreach_batch


class MgState:
    """Running MG summary + total, optionally persisted per epoch."""

    def __init__(self, k: int, state_path: str | None = None):
        self.k = k
        self.state_path = state_path
        self.counters: dict = {}
        self.total = 0
        self.last_epoch = -1
        if state_path and os.path.exists(state_path):
            with open(state_path) as f:
                saved = json.load(f)
            self.counters = {
                self._unkey(v): c for v, c in saved["counters"].items()
            }
            self.total = saved["total"]
            self.last_epoch = saved["last_epoch"]

    # JSON object keys are strings; keep the original type recoverable
    @staticmethod
    def _key(v):
        return json.dumps(v)

    @staticmethod
    def _unkey(s):
        return json.loads(s)

    def absorb(self, summary_rows, n_rows: int, epoch_id: int) -> None:
        if epoch_id <= self.last_epoch:
            return  # replayed epoch after restart — already applied
        for v, w in summary_rows:
            self.counters[v] = self.counters.get(v, 0) + int(w)
        self.counters = mg_trim(self.counters, self.k)
        self.total += int(n_rows)
        self.last_epoch = epoch_id
        if self.state_path:
            tmp = f"{self.state_path}.tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "counters": {self._key(v): c for v, c in self.counters.items()},
                        "total": self.total,
                        "last_epoch": self.last_epoch,
                    },
                    f,
                )
            os.replace(tmp, self.state_path)  # atomic commit

    def candidates(self, phi: float) -> list:
        bound = self.total * (phi - 1.0 / (self.k + 1))
        return [v for v, w in self.counters.items() if w >= bound]


def run_heavy_hitters_stream(
    stream_df: DataFrame,
    col: str,
    phi: float,
    k: int | None = None,
    state_path: str | None = None,
    checkpoint: str | None = None,
    timeout: int = 300,
) -> MgState:
    """Drain ``stream_df`` (availableNow) maintaining the MG state;
    returns the final state. Each micro-batch runs the distributed
    per-partition summary pass (value typed through JSON for state
    portability — ids/strings only, same domain as the batch op).
    A drain that outlasts ``timeout`` stops the query and raises
    ``TimeoutError`` (streaming/epochs.drain); rerun with the same
    ``checkpoint`` and ``state_path`` to resume."""
    if not (0.0 < phi < 1.0):
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    if k is None:
        k = int(math.ceil(2.0 / phi))
    state = MgState(k, state_path)
    dtype_holder = {}

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        dtype = batch_df.schema[col].dataType.simpleString()
        dtype_holder["t"] = dtype
        rows = (
            _domain_filter(batch_df.select(col), col)
            .mapInPandas(
                _mg_summaries(col, k, emit_part_rows=True),
                f"{col} {dtype}, mg_weight long, part_rows long",
            )
            .collect()  # bounded: ≤ partitions × k summary rows + 1/partition
        )
        summary = [(r[col], r["mg_weight"]) for r in rows if r[col] is not None]
        n_rows = sum(r["part_rows"] for r in rows)
        state.absorb(summary, n_rows, epoch_id)

    # Resuming after a failure requires the SAME checkpoint (source
    # offsets) and state_path (summary): committed batches are not
    # redelivered, and a batch that ran but died before its checkpoint
    # commit is redelivered with the same epoch id — absorb() skips it.
    ckpt = checkpoint or f"/tmp/hh_stream_{uuid.uuid4().hex[:12]}"
    drain(start_foreach_batch(stream_df, on_batch, ckpt), timeout)
    return state


def finalize_exact(
    corpus: DataFrame, col: str, phi: float, state: MgState
) -> DataFrame:
    """Exact heavy hitters of the streamed data, answered from the
    stored corpus: recount ONLY the streamed candidate set (O(1/phi)
    keys, broadcast isin) and apply the exact threshold. Identical
    rows to operators/freq.heavy_hitters over the same data."""
    cands = state.candidates(phi)
    if not cands:
        schema = corpus.select(col).schema
        return (
            local_table(corpus.sparkSession, [], schema)
            .withColumn("cnt", F.lit(0).cast("long"))
        )
    return (
        corpus.where(F.col(col).isin(cands))
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > F.lit(state.total) * phi)
        .select(col, "cnt")
    )
