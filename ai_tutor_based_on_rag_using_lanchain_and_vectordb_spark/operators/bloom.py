"""Bloom-filter membership sketches: the mergeable NEGATIVE-membership
summary family, next to HLL (distinct counts), Misra-Gries (heavy
hitters), KMV (distinct/overlap) and GK (quantiles).

The 100 TB job this buys: INCREMENTAL corpus dedup. A crawl pipeline
receives batches forever; re-scanning the historical corpus per batch
is the cost that kills naive exact dedup. Instead the history is
summarized ONCE into a bloom bitmap (per-partition partials, bit-OR
merged — one pass, mergeable across days/shards exactly like the HLL
rollup), each new batch probes the bitmap map-side, and only the
POSITIVE candidates — |new ∩ history| plus an ε-bounded false-positive
tail — pay the exact verification join against history. Bloom filters
have NO false negatives by construction, so

    bloom-filter + exact-verify  ==  exact anti-join   (row for row)

— which is the oracle hook: the composed pipeline is checked against
the plain SQL anti-join, while the plan only ever joins history
against the candidate slice.

Reference anchor: the exact-hash ingest gate at
backend/db_utils.py:173,221-225 (UNIQUE(file_hash) → HTTP 409) is the
per-row ancestor; this is its batch-over-summary restatement for
corpus scale.

Representation: a DataFrame of set 64-bit words ``(word long, bits
long)`` — ≤ m/64 rows, sparse where the filter is sparse. All hashing
is JVM-side xxhash64 with the hash index as a second argument (k
independent streams); probe bit-tests are codegen shifts. Merging is
``groupBy(word).bit_or(bits)`` — associative, partial-aggregated
map-side like every sketch in this repo.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin


def bloom_params(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) sized for ``n_keys`` distinct keys at target
    false-positive probability ``fpp`` (standard formulas; m rounded up
    to a multiple of 64 so the word layout is exact)."""
    if n_keys < 1 or not (0.0 < fpp < 1.0):
        raise ValueError(f"need n_keys >= 1 and 0 < fpp < 1, got {n_keys}/{fpp}")
    m = math.ceil(-n_keys * math.log(fpp) / (math.log(2.0) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n_keys * math.log(2.0)))
    return m, k


def _positions(key: Column, m_bits: int, k_hashes: int) -> Column:
    """Array of the key's k bit positions in [0, m)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
            for i in range(k_hashes)
        ]
    )


def bloom_build(
    df: DataFrame, key: Column, m_bits: int, k_hashes: int
) -> DataFrame:
    """Build the sketch: (word long, bits long), ≤ m/64 rows. NULL keys
    are outside the domain (the repo-wide sketch convention)."""
    if m_bits < 64 or m_bits % 64 != 0 or k_hashes < 1:
        raise ValueError(
            f"m_bits must be a positive multiple of 64 and k_hashes >= 1, "
            f"got {m_bits}/{k_hashes}"
        )
    pos = (
        df.where(key.isNotNull())
        .select(F.explode(_positions(key, m_bits, k_hashes)).alias("pos"))
    )
    # the Python shiftleft() helper takes only a literal shift; the SQL
    # function accepts a column shift amount
    one_bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
    return pos.groupBy(F.floor(F.col("pos") / 64).cast("long").alias("word")).agg(
        F.bit_or(one_bit).alias("bits")
    )


def bloom_merge(*sketches: DataFrame) -> DataFrame:
    """Bit-OR union of same-geometry sketches (the day→month rollup)."""
    if not sketches:
        raise ValueError("bloom_merge requires at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_probe(
    df: DataFrame,
    key: Column,
    sketch: DataFrame,
    m_bits: int,
    k_hashes: int,
    hit_col: str = "bloom_hit",
    pin_input: bool = True,
) -> DataFrame:
    """``df`` + a boolean ``hit_col``: true ⇔ every one of the key's k
    bits is set (possible member), false ⇔ DEFINITELY not in the
    summarized set. One explode (k rows/input row), one join on the
    word id, one all-bits aggregate back to row grain; the word join
    broadcasts when the bitmap is small and shuffles on ``word`` when
    it is not — never on the probe keys themselves.

    Row identity across the explode/regroup round trip is a synthetic
    ``monotonically_increasing_id``, which is only stable if the input
    evaluates to the same row order on both sides of the re-join —
    true for scan-rooted plans, NOT guaranteed after a shuffle. So the
    tagged frame is pinned (``session.pin``) by default; the probe
    side of a bloom gate is the incoming batch (small by design), so
    the pin is cheap. Callers that already pinned (the streaming gate)
    can pass ``pin_input=False``."""
    tagged = df.withColumn("_bid", F.monotonically_increasing_id())
    if pin_input:
        tagged = pin(tagged, eager=True)
    pos = tagged.select(
        "_bid", F.explode(_positions(key, m_bits, k_hashes)).alias("pos")
    ).select(
        "_bid",
        F.floor(F.col("pos") / 64).cast("long").alias("word"),
        (F.col("pos") % 64).cast("int").alias("bit"),
    )
    probed = pos.join(sketch, "word", "left").select(
        "_bid",
        (
            F.coalesce(
                F.expr("shiftright(bits, bit)").bitwiseAND(F.lit(1)),
                F.lit(0),
            )
            == 1
        ).alias("_one"),
    )
    verdict = probed.groupBy("_bid").agg(F.min("_one").alias(hit_col))
    return tagged.join(verdict, "_bid").drop("_bid")


def bloom_incremental_dedup(
    new: DataFrame,
    history: DataFrame,
    new_key: Column,
    history_key: Column,
    m_bits: int,
    k_hashes: int,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Rows of ``new`` whose key does NOT occur in ``history`` — the
    ingest gate (reference backend/db_utils.py:221-225) restated for
    batch-over-history scale. ``sketch`` (prebuilt, e.g. maintained by
    a stream) is built from history when absent. Bloom misses pass
    straight through (no false negatives ⇒ guaranteed novel); bloom
    hits alone pay the exact anti-join, against ONLY the history rows
    whose key hashes could collide (semi-filtered via the candidates'
    keys is unnecessary — the anti-join's build side is the candidate
    slice, already ε-bounded). Output ≡ the exact anti-join."""
    if sketch is None:
        sketch = bloom_build(history, history_key, m_bits, k_hashes)
    probed = bloom_probe(new, new_key, sketch, m_bits, k_hashes)
    misses = probed.where(~F.col("bloom_hit")).drop("bloom_hit")
    candidates = probed.where(F.col("bloom_hit")).drop("bloom_hit")
    verified = candidates.join(
        history.select(history_key.alias("_hk")),
        new_key == F.col("_hk"),
        "left_anti",
    )
    return misses.unionByName(verified)
