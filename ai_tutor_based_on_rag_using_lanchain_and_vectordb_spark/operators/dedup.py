"""Deduplication operators for the training-data pipeline (and the
reference's UNIQUE(file_hash) ingest gate, backend/db_utils.py:173,221-225):

- exact:       sha256 hash-groupBy / anti-join against a catalog
- MinHash+LSH: shingle → minhash signature → banded bucket-join →
               exact-Jaccard verification of candidates only
- SimHash:     64-bit sign-of-sums signature → banded blocking →
               Hamming-distance filter
- n-gram Jaccard: inverted-index self-join (plans/documents.py)

All candidate generation is blocked (LSH bands / signature bytes) so
nothing goes quadratic: at 100 TB the only shuffles are on band keys,
and verification touches candidate pairs only. Everything is JVM
expressions — no Python in any per-pair path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import bind
from ..session import pin

# --------------------------------------------------------------------- exact


def dup_stats(df: DataFrame, *cols: str) -> tuple[int, int]:
    """(total rows, distinct (*cols) combinations) in ONE job — the
    shared pre-flight for the duplicate-collapse rewrite and for
    size-gated join hints (the distinct count is the cardinality of the
    collapsed representative set). Distinctness is measured on a 64-bit
    hash so the partial aggregate dedupes map-side and the shuffle
    carries ~8 bytes per distinct combination instead of whole
    payloads; a hash collision can only under-report distincts, which
    routes to the collapse path / shuffle join — a performance miss,
    never a wrong answer."""
    row = df.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.xxhash64(*cols)).alias("d"),
    ).first()
    return int(row["n"]), int(row["d"])


def has_exact_duplicates(df: DataFrame, *cols: str) -> bool:
    """Does any (*cols) combination repeat? See :func:`dup_stats`."""
    n, d = dup_stats(df, *cols)
    return n != d


def exact_dedup(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (smallest id) per key — set-based rewrite of
    the reference's per-row UNIQUE violation (semantic divergence
    documented in SURVEY.md §4.5)."""
    return (
        df.withColumn("_k", key)
        .withColumn("_rn", F.row_number().over(Window.partitionBy("_k").orderBy(F.col(id_col))))
        .where(F.col("_rn") == 1)
        .drop("_k", "_rn")
    )


def anti_join_new(new: DataFrame, catalog: DataFrame, hash_col: str = "file_hash") -> DataFrame:
    """Ingest gate: rows of `new` whose hash is not already cataloged
    (reference backend/db_utils.py:221-225 → HTTP 409 path)."""
    return new.join(catalog.select(hash_col), hash_col, "left_anti")


# ------------------------------------------------------------------- shingles


def tokens_col(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingle_starts(toks: Column, n: int) -> Column:
    """Start indexes [0, size-n] for n-gram windows, empty when the doc
    has fewer than n tokens. Guarded: Spark's ``sequence(start, stop)``
    counts DOWN when start > stop, so an unguarded ``sequence(0, size-n)``
    yields [0, -1] for short docs and the downstream ``slice`` throws
    INVALID_PARAMETER_VALUE.START."""
    return F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (JVM-side).

    array_distinct is O(n²) and interpreted — fine for expression
    composition and tests, but hot paths over long documents use
    :func:`_shingle_rows` (DataFrame-level distinct, vectorized) or
    skip distinctness entirely where it cannot change the result
    (min-hashing: min over duplicates = min over distinct). Measured
    34 s of pure array_distinct across the sf1 corpus."""
    return F.array_distinct(shingles_all_col(text, n))


def ngrams(toks: Column, n: int) -> Column:
    """Sliding word n-grams (space-joined) of a token array, in order and
    WITH duplicates; empty when it has fewer than n tokens. ``toks`` is
    bound once, so a tokenizing expression is not re-run per gram."""
    return bind(toks, lambda ts: F.transform(
        shingle_starts(ts, n),
        lambda i: F.concat_ws(" ", F.slice(ts, i + 1, n)),
    ))


def shingles_all_col(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles WITH duplicates (no O(n²) distinct)."""
    return ngrams(tokens_col(text), n)


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Distinct (_id, _s) shingle rows: explode the duplicated grams and
    dedupe with a DataFrame distinct — a map-side-combined hash
    aggregate instead of per-row O(n²) array_distinct. The explicit
    repartition fans the gram generation across the cluster — a
    handful of parquet splits would otherwise evaluate every doc's
    shingle expressions on a handful of cores (measured 32 s → 4 s at
    sf1)."""
    from ..session import default_parallelism

    return (
        df.repartition(default_parallelism())
        .select(
            F.col(id_col).alias("_id"),
            F.explode(shingles_all_col(F.col(text_col), shingle_n)).alias("_s"),
        )
        .distinct()
    )


# -------------------------------------------------------------------- MinHash


def minhash_signature(shingle_arr: Column, num_hashes: int = 16) -> Column:
    """Array of `num_hashes` min-hashes; hash_i(s) = xxhash64(i, s).

    Column-expression form (kept for tests and expression composition).
    ``shingle_arr`` is bound once, so a shingle expression runs once per
    row, not once per hash index. Hot paths still use
    :func:`_minhash_signatures`: it skips the O(n²) array_distinct a
    :func:`shingles_col` input carries and takes the mins in a
    map-side-combined aggregate."""
    return bind(shingle_arr, lambda sh: F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(sh, lambda s: F.xxhash64(i, s))),
    ))


def _minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """(_id, _sig array<long>) via explode → per-shingle hashes →
    element-wise min aggregation: the shingle expression (including its
    O(n²) interpreted array_distinct) evaluates ONCE per document, and
    the mins come from a map-side-combined hash aggregate. Bit-identical
    to :func:`minhash_signature` except documents with no shingles
    (< n tokens) drop out — such docs can never verify ≥ threshold, and
    in the old formulation their all-NULL signatures collided into one
    degenerate bucket."""
    from ..session import default_parallelism

    # duplicated grams, no distinct: min over duplicates = min over
    # distinct, so the O(n²) array_distinct adds nothing here; the
    # repartition fans gram generation out of the few parquet splits
    sh = df.repartition(default_parallelism()).select(
        F.col(id_col).alias("_id"),
        F.explode(shingles_all_col(F.col(text_col), shingle_n)).alias("_s"),
    )
    hashed = sh.select(
        "_id",
        *[
            F.xxhash64(F.lit(i), F.col("_s")).alias(f"_h{i}")
            for i in range(num_hashes)
        ],
    )
    mins = hashed.groupBy("_id").agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "_id",
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("_sig"),
    )


def pairs_from_sorted_ids(ids: Column) -> Column:
    """All unordered (a<b) pairs from a SORTED id array, as an array of
    structs — the shared expansion used by posting lists, duplicate
    groups and LSH buckets."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda j: F.transform(
                F.sequence(F.lit(0), j - 1),
                lambda i: F.struct(
                    F.element_at(ids, i + 1).alias("doc_a"),
                    F.element_at(ids, j + 1).alias("doc_b"),
                ),
            ),
        )
    )


# Hot-bucket ceiling for the LSH candidate steps: a band bucket (or
# SimHash quarter bucket) larger than this is degenerate — boilerplate
# or template mass-collisions — and its O(bucket²) pair fan-out is the
# one term no physical plan can bound, exactly the MAX_SHINGLE_DF
# argument from the n-gram path. Pairs inside oversized buckets are
# dropped from candidate generation (they still surface through any
# non-degenerate bucket the pair shares).
MAX_LSH_BUCKET = 256


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Candidate pairs whose signatures collide in ≥1 LSH band.

    rows-per-band r = num_hashes/bands; collision prob ≈ 1-(1-j^r)^b —
    (16,4) targets Jaccard ≳ 0.5. Pair generation is an inverted-index
    expansion over per-bucket posting lists (one shuffle on the band
    key, pairs deduped by a hash distinct) with the ``max_bucket``
    hot-bucket ceiling — never a self-join, never a cross product."""
    from ..session import default_parallelism

    rows_per_band = num_hashes // bands
    sig = _minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    banded = sig.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(F.slice("_sig", b * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band_idx", "band_hash"),
    )
    return (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .repartition(default_parallelism())
        .select(F.explode(pairs_from_sorted_ids(F.col("ids"))).alias("p"))
        .select(F.col("p.doc_a").alias("id_a"), F.col("p.doc_b").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates verified with *exact* Jaccard (array_intersect /
    array_union on the candidates only).

    A size-ratio prefilter runs before the array joins: J = |∩|/|∪| ≤
    min(|A|,|B|)/max(|A|,|B|), so any pair with min < threshold·max can
    be dropped from knowing the two SIZES alone — two cheap scalar
    joins against a (id, size) table prune the candidate set before the
    heavy shingle-array shuffle and intersect. Shingle SETS come from
    the exploded DataFrame distinct (:func:`_shingle_rows`), not the
    per-row O(n²) array_distinct."""
    sh = _shingle_rows(df, id_col, text_col, shingle_n).groupBy("_id").agg(
        F.collect_list("_s").alias("_sh")
    )
    cands = minhash_candidates(df, id_col, text_col, num_hashes, bands, shingle_n)
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"))
    cands = (
        cands.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            F.least("n_a", "n_b")
            >= F.lit(threshold) * F.greatest("n_a", "n_b")
        )
        .select("id_a", "id_b")
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / F.greatest(union, F.lit(1))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# -------------------------------------------------------------------- SimHash


def _bit_votes(token: Column) -> Column:
    """64-element ±1 vote array from a token's xxhash64 bits (literal
    shift counts — Spark's shift functions don't take column shifts)."""
    h = F.xxhash64(token)
    return F.array(
        *[
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            for i in range(64)
        ]
    )


def _pack_bits(votes: Column, lo: int, hi: int) -> Column:
    """Sign bits [lo, hi) of the vote array packed into one long."""
    terms = [
        F.when(F.element_at(votes, i + 1) > 0, F.lit(1 << (i - lo)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(lo, hi)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def simhash_signature(text: Column) -> Column:
    """64-bit SimHash as struct<lo long, hi long> (two 32-bit halves —
    avoids signed-overflow on bit 63). Map-only, one pass per document."""
    toks = tokens_col(text)
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 64),
        lambda acc, t: F.zip_with(acc, _bit_votes(t), lambda c, v: c + v),
    )
    return F.struct(
        _pack_bits(votes, 0, 32).alias("lo"),
        _pack_bits(votes, 32, 64).alias("hi"),
    )


def portable_token_hash(t: Column) -> Column:
    """60-bit token hash both engines compute identically: the first 15
    hex chars of md5, parsed base-16 (Spark ``conv``; DuckDB
    ``('0x'||…)::BIGINT``). Slower than xxhash64 — used ONLY by the
    oracle-checked verified configuration; the production path keeps
    the JVM xxhash64."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def _simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """(_id, _lo, _hi) via explode → per-token bit votes → summed per
    bit → sign-packed. Bit-identical to :func:`simhash_signature`
    (vote sums are order-independent; token-less documents coalesce to
    the zero signature the empty aggregate produced), but the token
    expression evaluates once per token ROW inside whole-stage codegen
    instead of a 64-wide interpreted zip_with per array element — and
    downstream consumers evaluate the aggregate, not the raw text."""
    from ..session import default_parallelism

    toks = df.repartition(default_parallelism()).select(
        F.col(id_col).alias("_id"),
        F.explode(tokens_col(F.col(text_col))).alias("_t"),
    )
    # portable = md5-derived 60-bit hash (bits 60-63 vote -1 for every
    # token, so those signature bits are constant-zero — hamming
    # distances are unaffected); default = xxhash64, full 64 bits
    h = portable_token_hash(F.col("_t")) if portable else F.xxhash64(F.col("_t"))
    votes = toks.select(
        "_id",
        *[
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            .alias(f"_v{i}")
            for i in range(64)
        ],
    )
    sums = votes.groupBy("_id").agg(
        *[F.sum(f"_v{i}").alias(f"_s{i}") for i in range(64)]
    )
    arr = F.array(*[F.col(f"_s{i}") for i in range(64)])
    packed = sums.select(
        "_id",
        _pack_bits(arr, 0, 32).alias("_lo"),
        _pack_bits(arr, 32, 64).alias("_hi"),
    )
    base = df.select(F.col(id_col).alias("_id"))
    return base.join(packed, "_id", "left").select(
        "_id",
        F.coalesce("_lo", F.lit(0).cast("long")).alias("_lo"),
        F.coalesce("_hi", F.lit(0).cast("long")).alias("_hi"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 12,
    max_bucket: int | None = MAX_LSH_BUCKET,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit
    signature quarters (pigeonhole: Hamming ≤ 3 guarantees a shared
    quarter; small distances collide with high probability).

    The EXACT configuration — ``max_hamming ≤ 3, max_bucket=None`` —
    returns precisely the pairs at Hamming ≤ threshold (pigeonhole,
    no bucket drop); with ``portable=True`` the whole pipeline is
    SQL-mirrorable and carries a DuckDB oracle
    (plans/pipeline.simhash_verified_pairs).

    ``max_bucket`` caps the per-(quarter, value) bucket: a bucket
    bigger than that is template/boilerplate mass-collision whose
    O(bucket²) pair space no plan can bound (the MAX_SHINGLE_DF
    argument); its pairs only surface through the other, non-degenerate
    quarters they share. The quarter table is pinned
    (4 small rows per doc) so the signature aggregation
    runs once, not once per join branch — the components edge-list
    pattern."""
    sig = _simhash_signatures(df, id_col, text_col, portable=portable)
    return hamming_pairs(sig, max_hamming, max_bucket)


def hamming_pairs(
    sig: DataFrame, max_hamming: int, max_bucket: int | None = MAX_LSH_BUCKET
) -> DataFrame:
    """Near-dup pairs by Hamming distance over 64-bit signatures
    (_id, _lo, _hi) — the quarter-block candidate machinery behind
    text SimHash near-dup pairs."""
    quarters = sig.select(
        "_id",
        "_lo",
        "_hi",
        F.posexplode(
            F.array(
                F.col("_lo").bitwiseAND(F.lit(0xFFFF)),
                F.shiftright("_lo", 16).bitwiseAND(F.lit(0xFFFF)),
                F.col("_hi").bitwiseAND(F.lit(0xFFFF)),
                F.shiftright("_hi", 16).bitwiseAND(F.lit(0xFFFF)),
            )
        ).alias("q_idx", "q_val"),
    )
    if max_bucket is not None:
        wq = Window.partitionBy("q_idx", "q_val")
        quarters = (
            quarters.withColumn("_bsz", F.count("*").over(wq))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    quarters = pin(quarters, eager=True)
    a = quarters.alias("a")
    b = quarters.alias("b")
    ham = F.bit_count(F.col("a._lo").bitwiseXOR(F.col("b._lo"))) + F.bit_count(
        F.col("a._hi").bitwiseXOR(F.col("b._hi"))
    )
    return (
        a.join(
            b,
            (F.col("a.q_idx") == F.col("b.q_idx"))
            & (F.col("a.q_val") == F.col("b.q_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """GROUND-TRUTH near-dup pairs: the exact-Jaccard VERIFY half of
    :func:`minhash_dedup_pairs`, fed by an EXHAUSTIVE candidate set
    (every pair sharing ≥1 shingle — any pair with J > 0 shares one, so
    nothing above the threshold can be missed). Fully SQL-expressible,
    hence the oracle-checkable split of the minhash pipeline the r7
    verdict asked for: the LSH candidate step stays rows-only (checked
    by the minhash_recall gate), this half carries the DuckDB oracle.

    Candidate generation is the posting-list expansion (one shuffle on
    the shingle key, per-pair intersection counts from a map-side
    combinable count) — same shape as the n-gram path but WITHOUT the
    document-frequency ceiling, because ground truth must not drop hot
    shingles. That makes it O(Σ df(s)²): a measurement/oracle operator
    for bounded corpora and samples; the production scale paths are
    :func:`minhash_dedup_pairs` / the df-bounded n-gram variant."""
    sh = _shingle_rows(df, id_col, text_col, shingle_n)
    counts = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    inter = (
        sh.groupBy("_s")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.explode(pairs_from_sorted_ids(F.col("ids"))).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("id_a"), F.col("p.doc_b").alias("id_b")
        )
        .agg(F.count("*").alias("_inter"))
    )
    na = counts.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"))
    nb = counts.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"))
    jac = F.col("_inter") / (F.col("n_a") + F.col("n_b") - F.col("_inter"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        # the same size-ratio bound the LSH verify half applies:
        # J <= min/max, so below-ratio pairs can't reach the threshold
        .where(
            F.least("n_a", "n_b")
            >= F.lit(threshold) * F.greatest("n_a", "n_b")
        )
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
