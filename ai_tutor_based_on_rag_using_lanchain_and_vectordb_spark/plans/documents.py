"""Document-pipeline queries over the ``documents`` table: exact dedup
(the reference's UNIQUE(file_hash) gate, backend/db_utils.py:173,221-225),
chunking with ordinals (backend/chroma_utils.py:119-125), previews, and
the training-data text-analysis operators (token counts, quality scores,
language-ID, n-gram Jaccard near-dup, fingerprinting).

Scale notes:

- Everything is expression-only (no Python UDFs): the text statistics
  inline into the parquet scan's codegen stage, so a 100 TB corpus pass
  is one scan + one shuffle (for grouped ops) max.
- The n-gram Jaccard near-dup join blocks on (lang, shingle) — the
  classic inverted-index join — so candidate generation never goes
  quadratic; the final Jaccard check only touches pairs sharing ≥1
  shingle, with a group-count instead of array intersection.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as TX
from ..functions import exact as X
from ..functions import textstats as TS
from ..session import local_table, pin

CHUNK_SIZE = 120
CHUNK_OVERLAP = 24
CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP  # 96

# Document-frequency ceiling for the inverted-index near-dup join: a
# shingle appearing in more than MAX_SHINGLE_DF documents (boilerplate,
# license headers) is dropped from candidate generation — the standard
# MinHash-literature stoplist-by-df. Without it one hot shingle makes an
# O(df²) pair explosion and a skewed pair key at 100 TB scale. |A| and
# |B| (the Jaccard denominators) still count every shingle; only the
# intersection evidence is restricted to informative shingles.
MAX_SHINGLE_DF = 100

# Hot-key ceiling for *duplicate-group* expansion, the group-size analog
# of MAX_SHINGLE_DF: a text replicated g times implies g²/2 output pairs,
# so a boilerplate doc copied 10⁶ times would emit 5·10¹¹ pairs no matter
# how the work is distributed. Groups above this size are truncated to
# their representative for pair expansion (the rep still participates in
# scoring, so cross-group similarity is preserved) — mirroring how
# shingles above MAX_SHINGLE_DF are dropped from candidate generation.
MAX_DUP_GROUP = 100

# Representative-cardinality ceiling for broadcasting the per-doc
# shingle-count side of the Jaccard join: 2 M rows of (doc_id, n) is a
# ~100 MB hash relation — comfortably inside executor memory — while
# anything larger routes to a shuffled-hash join. The gate uses the
# MEASURED distinct-document count (dup_stats preflight), never
# Catalyst's static estimate, which under-reports the aggregated pairs
# side badly enough to statically broadcast the wrong (corpus²) side.
MAX_BROADCAST_COUNTS = 2_000_000


def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one group per sha256(text), keeping
    the smallest doc_id (the UNIQUE(file_hash) ingest gate re-expressed
    as hash-groupBy; reference backend/db_utils.py:221-225)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("content_hash", TX.file_hash(F.col("text")))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


def doc_previews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 preview + catalog-scan shape (frontend/src/App.js:71 +
    backend/db_utils.py:253-257)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.preview(F.col("text")).alias("preview"),
        F.length("text").cast("long").alias("text_len"),
        "lang",
        "source",
    )


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish sub-word tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.token_count(F.col("text")).cast("long").alias("ws_tokens"),
        TS.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: punctuation density, stopword ratio, composite."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.punct_ratio(F.col("text")).alias("punct_ratio"),
        TS.stopword_ratio(F.col("text")).alias("stopword_ratio"),
        TS.quality_score(F.col("text")).alias("quality"),
    )


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic via per-language stopword-marker counts."""
    docs = load_table(spark, sf_dir, "documents")
    scores = TS.lang_scores(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in sorted(scores)],
    )
    # argmax over the materialized score columns (computed once, not
    # re-derived from text per candidate language)
    pairs = [
        F.struct(F.col(f"score_{lang}").alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(scores)
    ]
    best = F.array_max(F.array(*pairs))
    return scored.withColumn(
        "lang_pred",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def doc_fixed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 chunk ordinals over a fixed-stride chunker (size 120 / overlap
    24): every chunk carries (chunk_index, total_chunks) exactly like the
    reference's metadata enrichment (backend/chroma_utils.py:119-125).
    The recursive separator-aware splitter lives in operators/splitter.py
    (non-SQL-expressible; property-tested instead)."""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(
        F.greatest(F.length("text") - CHUNK_OVERLAP, F.lit(1)) / F.lit(float(CHUNK_STRIDE))
    ).cast("long")
    return (
        docs.withColumn("total_chunks", n_chunks)
        .select(
            "doc_id",
            "text",
            "total_chunks",
            F.posexplode(F.sequence(F.lit(0).cast("long"), F.col("total_chunks") - 1)),
        )
        .select(
            "doc_id",
            F.col("col").alias("chunk_index"),
            "total_chunks",
            F.expr(
                f"substring(text, CAST(col * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_SIZE})"
            ).alias("chunk_text"),
        )
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (content signature)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.rolling_fingerprint(F.col("text")).alias("fingerprint"),
    )


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per doc. The explicit repartition
    fans the generation out — a single parquet split would otherwise
    evaluate every doc's shingle expressions in one task."""
    from ..session import default_parallelism

    from ..operators.dedup import shingles_all_col

    grams = shingles_all_col(F.col("text"), n)
    return (
        docs.repartition(default_parallelism())
        .select("doc_id", "lang", F.explode(grams).alias("s"))
        .distinct()
    )


# shared with the LSH candidate steps (operators/dedup.py)
from ..operators.dedup import pairs_from_sorted_ids as _pairs_from_sorted_ids  # noqa: E402


def ngram_jaccard_pairs_df(
    docs: DataFrame,
    threshold: float = 0.05,
    max_df: int = MAX_SHINGLE_DF,
    max_group: int = MAX_DUP_GROUP,
    collapse: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs by 3-gram Jaccard ≥ ``threshold``, blocked on
    (lang, shingle): inverted-index self-join → per-pair intersection
    count → |A∪B| = |A|+|B|−|A∩B|. No quadratic candidate step; shingles
    with document frequency > ``max_df`` are excluded from candidate
    generation (hot-key ceiling).

    **Duplicate collapse**: real corpora are full of byte-identical
    documents, and every duplicate multiplies shingle document frequency
    and pair fan-out (10 copies ⇒ ~100× pair work — measured ×51 wall at
    a 10×-replicated stress scale). So the expensive shingle math runs
    once per DISTINCT (lang, text): exact-duplicate groups are collapsed
    to a representative, representative pairs are scored, and the full
    pair set is expanded back through the groups afterwards. Identical
    texts have Jaccard exactly 1 and identical texts share every score,
    so with ``max_df`` and ``max_group`` non-binding the expansion
    reproduces the naive output exactly; the cost becomes
    O(distinct² + |output|) instead of O(total²).

    Expansion is ROW-based (member joins on the representative id), never
    an in-row g² array — a million-copy group stays a million rows spread
    across partitions, not one million²-element struct array in a single
    row. Groups larger than ``max_group`` are truncated to their
    representative for expansion (see ``MAX_DUP_GROUP``): their g² pair
    output is the one term no physical plan can bound.

    ``collapse=None`` (default) size-gates the rewrite: one cheap
    hash-distinct pre-flight decides whether any (lang, text) repeats at
    all. A duplicate-free corpus (e.g. already exact-deduped upstream)
    skips the collapse window and both expansion joins entirely — on
    such data the two plans are identical by construction (every group
    has size 1), so the gate trades nothing but the pre-flight scan."""
    from ..operators.dedup import dup_stats

    if collapse is None:
        n_docs, n_reps = dup_stats(docs, "lang", "text")
        collapse = n_docs != n_reps
    else:
        n_reps = None  # caller pinned the path; counted below if needed
    if collapse:
        # collapse: one representative (min doc_id) + group size per
        # identical (lang, text), via a window — no collect_list, so a
        # giant duplicate group never materializes as one array
        wg = Window.partitionBy("lang", "text")
        members = docs.select(
            "doc_id",
            "lang",
            "text",
            F.min("doc_id").over(wg).alias("_rep"),
            F.count("*").over(wg).alias("_gsz"),
        )
        reps = members.where(F.col("doc_id") == F.col("_rep")).select(
            "doc_id", "lang", "text"
        )
    else:
        members = None
        reps = docs.select("doc_id", "lang", "text")

    # LAZY pin (optimization r13): the shingle frame feeds BOTH the
    # per-doc counts and the inverted-index pair generation — unpinned,
    # the explode + distinct (a full shuffle of every shingle string)
    # executed once per consumer. A checkpoint pin (not .cache()) so the
    # blocks die with the plan instead of lingering across queries; the
    # pinned rows are (ids, shingle) — no document text.
    sh = pin(_shingles(reps))
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # Inverted-index pair generation (no self-join): group the posting
    # list per (lang, shingle), emit each unordered doc pair inside the
    # list, then count pair occurrences = |A∩B|. One shuffle on the
    # shingle key + one on the pair key; document-frequency bounds the
    # per-group fan-out (df ≤ ~15 here ⇒ ≤ ~100 pairs/shingle). The
    # explicit repartition keeps the explode stage parallel (AQE would
    # coalesce the small grouped output to one partition otherwise).
    from ..session import default_parallelism

    pair_list = _pairs_from_sorted_ids(F.col("ids"))
    pairs = (
        sh.groupBy("lang", "s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        # df ceiling: 2 ≤ |posting list| ≤ max_df — a hot shingle
        # (boilerplate) would otherwise fan out O(df²) pairs on one key
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_df))
        .repartition(default_parallelism())
        .select(F.explode(pair_list).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    # SIZE-GATED hint on the counts joins. counts has one row per
    # DISTINCT document, so a forced broadcast would OOM the driver at
    # the 100 TB design point — but leaving the join unhinted is WORSE:
    # Catalyst's static size estimate for the doubly-aggregated pairs
    # subtree is garbage (far below reality), so the static planner
    # broadcasts the PAIRS side (measured: 28.8 M rows broadcast-built
    # at sf1, 52 s vs 10 s), and AQE cannot demote a statically-planned
    # broadcast. The gate decides from the MEASURED representative
    # cardinality (one extra cheap job at most — the collapse preflight
    # already computed it): small corpus → broadcast counts (the
    # correct small side); big corpus → shuffle_hash on counts, which
    # shuffles both sides and hash-builds the provably-smaller one
    # (|counts| ≤ |docs| ≪ |candidate pairs| by construction).
    if n_reps is None:
        n_reps = reps.count()
    if n_reps <= MAX_BROADCAST_COUNTS:
        ca = F.broadcast(counts.alias("ca"))
        cb = F.broadcast(counts.alias("cb"))
    else:
        ca = counts.alias("ca").hint("shuffle_hash")
        cb = counts.alias("cb").hint("shuffle_hash")
    jac = F.col("inter") / (F.col("ca.n") + F.col("cb.n") - F.col("inter"))
    rep_pairs = (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .where(jac >= threshold)
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            X.pround(jac, 4).alias("jaccard"),
        )
    )
    if not collapse:
        # duplicate-free: representatives ARE the documents; no
        # expansion and no within-group pairs exist
        return rep_pairs.select(
            F.col("rep_a").alias("doc_a"),
            F.col("rep_b").alias("doc_b"),
            "jaccard",
        )

    # expand representative pairs back to every member pair (scores are
    # identical for identical texts, ordering restored via least/greatest).
    # Row-based member joins, shuffled-hash on the rep id: the members
    # side has corpus cardinality — broadcasting it would die at scale,
    # and an array-of-ids expansion would put a whole group in one row.
    # Oversized groups (> max_group) participate as representative only.
    mem = members.where(
        (F.col("_gsz") <= max_group) | (F.col("doc_id") == F.col("_rep"))
    )
    ma = mem.select(F.col("_rep").alias("rep_a"), F.col("doc_id").alias("a_id"))
    mb = mem.select(F.col("_rep").alias("rep_b"), F.col("doc_id").alias("b_id"))
    cross = (
        rep_pairs.join(ma.hint("shuffle_hash"), "rep_a")
        .join(mb.hint("shuffle_hash"), "rep_b")
        .select(
            F.least("a_id", "b_id").alias("doc_a"),
            F.greatest("a_id", "b_id").alias("doc_b"),
            "jaccard",
        )
    )
    # within-group pairs: identical texts ⇒ Jaccard exactly 1 (provided
    # the text has at least one shingle — short docs have no pairs).
    # Self-join on the rep id; per-key fan-out bounded by max_group².
    n_toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    wm = members.where(
        (F.col("_gsz") >= 2) & (F.col("_gsz") <= max_group) & (n_toks >= 3)
    )
    wa = wm.select(F.col("_rep").alias("_g"), F.col("doc_id").alias("a_id"))
    wb = wm.select(F.col("_rep").alias("_g"), F.col("doc_id").alias("b_id"))
    within = (
        wa.hint("shuffle_hash")
        .join(wb, "_g")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            F.col("a_id").alias("doc_a"),
            F.col("b_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
        .where(F.lit(1.0) >= threshold)
    )
    return cross.unionByName(within)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs over the ``documents`` table (see
    :func:`ngram_jaccard_pairs_df`)."""
    return ngram_jaccard_pairs_df(load_table(spark, sf_dir, "documents"))


def _pii_synth_col() -> "F.Column":
    """Deterministic PII-laden text derived from (doc_id, text): the
    fixture corpus is synthetic word soup with no PII, so the scrub
    operator is exercised on injected addresses/ids — the same
    construction on the oracle side makes the regex semantics (not just
    row counts) hash-checked."""
    did = F.col("doc_id").cast("string")
    four = F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0")
    octet = F.pmod(F.col("doc_id"), 256).cast("string")
    return F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), did, F.lit("@example.com"),
        F.lit(" call +1-555-123-"), four,
        F.lit(" ssn 987-65-"), four,
        F.lit(" from 10.0."), octet, F.lit(".7"),
        F.lit(" via https://example.com/doc/"), did,
    )


_PII_SYNTH_SQL = (
    "substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com' || ' call +1-555-123-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    " || ' via https://example.com/doc/' || CAST(doc_id AS VARCHAR)"
)


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation scrub: emails/SSNs/phones/IPs/URLs replaced with typed
    placeholders + per-category counts (the pre-training PII pass)."""
    from ..functions import scrub as SC

    docs = load_table(spark, sf_dir, "documents")
    synth = _pii_synth_col()
    counts = SC.pii_counts(synth)
    return docs.select(
        "doc_id",
        SC.scrub_pii(synth).alias("scrubbed"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
    )


def doc_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization for dedup hashing: lowercase,
    punctuation→space, whitespace collapse; emits the normalized hash
    (the key exact dedup should group on) and length."""
    from ..functions import scrub as SC

    docs = load_table(spark, sf_dir, "documents")
    norm = SC.normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.substring(norm, 1, 80).alias("norm_preview"),
        TX.file_hash(norm).alias("norm_hash"),
        F.length(norm).cast("long").alias("norm_len"),
    )


def minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking recall for the MinHash-LSH near-dup path: ground
    truth = exact shingle-Jaccard pairs (inverted index, uncapped) at
    ≥ 0.8; candidates = LSH-banded MinHash (32 hashes × 8 bands — r=4
    rows/band puts the S-curve's high-recall region at j ≥ 0.8) with the
    same exact-Jaccard verification. One row: recall + pass/fail at 0.9.
    Non-SQL-expressible (LSH) → rows-only driver check; the pass flag
    and a pytest assertion make it a real gate anyway."""
    from ..operators.dedup import minhash_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs_df(
        docs, threshold=0.8, max_df=10**9, max_group=10**9
    ).select("doc_a", "doc_b")
    approx = minhash_dedup_pairs(
        docs, num_hashes=32, bands=8, threshold=0.8
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(1).alias("_hit"),
    )
    joined = exact.join(approx, ["doc_a", "doc_b"], "left")
    agg = joined.agg(
        F.count("*").cast("long").alias("n_exact"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_caught"),
    )
    recall = F.when(F.col("n_exact") == 0, F.lit(1.0)).otherwise(
        F.col("n_caught") / F.col("n_exact")
    )
    return agg.select(
        F.lit("minhash_lsh").alias("strategy"),
        "n_exact",
        "n_caught",
        F.round(recall, 4).alias("recall"),
        (recall >= 0.9).alias("passed"),
    )


QUALITY_SEED_TAU = 0.8  # "known-good" seed bar: top ~5-8% of quality
BFS_MAX_HOPS = 4


def quality_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust propagation through the near-dup graph (operators/bfs.py):
    hop distance from the nearest high-quality seed (quality ≥
    QUALITY_SEED_TAU) within BFS_MAX_HOPS hops — hops 0 = the seeds
    themselves, including isolated ones; documents further than
    max_hops are not emitted (that is the contract, and what makes the
    fixed-depth recursive-CTE oracle exact). Downstream: distance-
    weighted sampling / quarantine rules keyed on graph proximity to
    audited documents."""
    from ..operators.bfs import bfs_hops

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    seeds = (
        doc_quality(spark, sf_dir)
        .where(F.col("quality") >= QUALITY_SEED_TAU)
        .select(F.col("doc_id").alias("node"))
    )
    return bfs_hops(
        pairs,
        seeds,
        BFS_MAX_HOPS,
        src="doc_a",
        dst="doc_b",
    ).select(F.col("node").alias("doc_id"), "hops")


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *clusters*: the Jaccard pair set resolved into
    connected components (transitive closure), giving one deterministic
    cluster id — min doc_id — per group of mutually-similar documents.
    This is the "keep one per cluster" dedup step that pairwise output
    alone can't provide (A~B, B~C ⇒ {A,B,C} one cluster)."""
    from ..operators.components import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )


def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation dedup — the composition a training-data
    pipeline runs nightly: near-dup pairs → connected components →
    keep ONE representative per cluster, chosen by quality score
    (ties → min doc_id), with every un-clustered document kept as its
    own representative.

    Scale shape: components joins are corpus-keyed on doc_id; the
    per-cluster argmax is a row_number()==1 window, which Catalyst
    rewrites to WindowGroupLimit — a partial top-1 per component
    BEFORE the shuffle, so cluster size never inflates shuffle
    volume."""
    comp = neardup_components(spark, sf_dir)
    quality = doc_quality(spark, sf_dir).select("doc_id", "quality")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labeled = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    scored = labeled.join(quality, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "component", "quality")
    )


BM25_QUERIES = [
    ("q_sortmerge", "sort merge join"),
    ("q_scan", "fast table scan"),
    ("q_stream", "stream window agg"),
]


def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/bm25.py): top-5 documents per
    query for three fixed queries. Postings semi-filter on the
    broadcast query-term list before scoring; top-k per query is a
    WindowGroupLimit. Oracle mirrors the exact float association
    (pre-rounded contributions summed in decimal — see the module
    docstring for the deliberate ln() parity note)."""
    from ..operators.bm25 import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(spark, docs, BM25_QUERIES, k=5)


def bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25_search_topk through the PERSISTENT index layout (build →
    open → bucket-pruned search, operators/bm25.py): the oracle checks
    the postings/doclens/stats round trip end-to-end, not just the
    in-plan formulation — the same move as knn_ivfpq_exhaustive for the
    vector index."""
    import tempfile

    from ..operators.bm25 import Bm25Searcher, build_bm25_index

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="bm25_idx_")
    build_bm25_index(docs, path)
    return Bm25Searcher(spark, path).search(BM25_QUERIES, k=5)


def lang_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact n_chars quantiles WITHOUT a per-group sort
    (operators/quantiles.exact_group_quantiles): the count pass is a
    broadcast pivot join + narrow (group, pivot) counter aggregate —
    shuffle carries G·P counter rows, never the corpus; bracket
    collects are bounded by max_bracket with duplicate-heavy groups
    resolved by the strict-count step. Oracle recomputes the same
    type-1 ranks over a per-group windowed row_number."""
    from ..operators.quantiles import exact_group_quantiles

    docs = load_table(spark, sf_dir, "documents")
    rows = exact_group_quantiles(
        docs, "lang", "n_chars",
        [("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10)],
    )
    return local_table(
        spark,
        [(g, lbl, int(k), int(v)) for g, lbl, k, v in rows],
        "lang string, pct string, k long, value long",
    )


def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that can NEVER leak near-duplicates
    across splits: documents are split by their near-dup CLUSTER, not
    individually — the whole connected component (ngram-Jaccard graph,
    operators/components.py) gets one deterministic multiplicative-hash
    coin on its min-doc_id representative, 80/10/10. A doc-level hash
    split puts ~J% of each near-dup pair's members in different splits
    (evaluation contamination); this composition is the standard fix.
    Isolated documents are their own singleton component. Per-doc
    output (doc_id, component, split); the component CTE and the coin
    arithmetic are both SQL-exact, so the oracle checks the whole
    composition."""
    from ..operators.components import connected_components
    from .trainprep import _MIX_A, _MIX_M, _MIX_R

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    labeled = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
    )
    coin = F.pmod(
        F.pmod(F.col("component"), F.lit(_MIX_R)) * F.lit(_MIX_A),
        F.lit(_MIX_M),
    )
    return labeled.select(
        "doc_id",
        "component",
        F.when(coin < int(0.8 * _MIX_M), "train")
        .when(coin < int(0.9 * _MIX_M), "val")
        .otherwise("test")
        .alias("split"),
    )


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate similarity graph: how
    transitively consistent is 3-gram-Jaccard similarity? Edges are the
    oracle-green :func:`ngram_jaccard_pairs` set; the census (exact
    triangle count, wedge count, global clustering coefficient
    3·T/W) runs on the degree-oriented node-iterator in
    operators/components.py:triangle_count — wedge generation is
    bounded O(|E|^1.5) regardless of degree skew, vs Θ(Σdeg²) for the
    naive self-join the oracle uses. Near-dup graphs are exactly the
    skewed case (template boilerplate creates celebrity documents), so
    the orientation is what keeps this runnable at corpus scale.

    Threshold 0.02 (vs the dedup queries' 0.05): the census exists to
    measure transitivity of WEAK similarity — and at the driver-check
    scale the 0.05 graph is all isolated pairs (0 wedges), which would
    make the oracle row vacuous."""
    from ..operators.components import triangle_count

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_df(docs, threshold=0.02).select("doc_a", "doc_b")
    tri = triangle_count(pairs, src="doc_a", dst="doc_b")
    return tri.select(
        "n_triangles",
        "n_wedges",
        X.pround(
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("global_clustering"),
    )


def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 terms by tf·idf
    (Lucene idf, the one deliberate ln — argued in operators/bm25.py),
    ranked (rounded score desc, term asc) so ties are deterministic.
    Reuses the BM25 postings build (one explode + one (doc,term)
    shuffle); the per-doc top-k is a WindowGroupLimit, never a global
    sort. Corpus-level df and N ride the same postings pass — at
    100 TB this is the standard two-aggregate keyword job, no new scan
    shapes."""
    from ..operators.bm25 import bm25_postings

    docs = load_table(spark, sf_dir, "documents")
    post = bm25_postings(docs)
    dfc = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = F.broadcast(docs.agg(F.count("*").cast("long").alias("n_docs")))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    scored = (
        post.join(dfc, "term")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "term",
            X.pround(idf * F.col("tf"), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", F.col("rk").cast("long").alias("rk"), "term", "tfidf")
    )


def neardup_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the weak-similarity graph (same 0.02-threshold edges
    as :func:`neardup_triangles`): documents that survive iterative
    degree-2 peeling — the densely-duplicated backbone, the set a
    template/boilerplate hunter looks at first. The engine peels with
    convergence early-exit (operators/components.py:k_core, which now
    RAISES rather than silently returning a superset if the peel needs
    more rounds than budgeted); the oracle unrolls SIXTEEN fixed peel
    rounds — exact whenever the engine returns at all, because a
    converged peel is a fixpoint and further rounds are identity on
    both sides."""
    from ..operators.components import k_core

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_df(docs, threshold=0.02).select("doc_a", "doc_b")
    return k_core(pairs, k=2, src="doc_a", dst="doc_b", max_iter=16).select(
        F.col("node").alias("doc_id")
    )


def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    signal alongside the quality/entropy/repetition stack: 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words), with sentences =
    max(1, count of [.!?]+ runs) and syllables approximated by vowel
    GROUPS ([aeiouy]+) — the standard heuristic. All three counts are
    exact integers from mirrored regex expressions (map-only, codegen);
    the score is one mirrored double, pround-ed. Zero-word documents
    score null (readability undefined)."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.when(
        F.length(F.trim("text")) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim("text"), r"\s+"))).cast("long")
    n_sent = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")).cast("long"), F.lit(1)
    )
    n_syl = F.expr(
        "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
    ).cast("long")
    w, s, y = F.col("n_words"), F.col("n_sentences"), F.col("n_syllables")
    flesch = F.when(
        w > 0,
        X.pround(
            F.lit(206.835)
            - F.lit(1.015) * (w.cast("double") / s.cast("double"))
            - F.lit(84.6) * (y.cast("double") / w.cast("double")),
            4,
        ),
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    ).select("doc_id", "n_words", "n_sentences", "n_syllables",
             flesch.alias("flesch"))


def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate quality signal (low entropy = repeated
    filler, high = encrypted/binary junk). Explode to (doc, char),
    map-side combine collapses to distinct (doc, char) counts before
    the shuffle (≤ alphabet·docs rows, not characters), then each
    term −p·log₂p is pre-rounded and decimal-summed per doc — the
    BM25 float-parity pattern, so cross-engine ln ulps can't flip the
    hash. ln 2 is a shared literal (JVM Math.log vs libm could differ
    in the last ulp)."""
    docs = load_table(spark, sf_dir, "documents")
    ln2 = 0.6931471805599453
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count("*").cast("long").alias("k")
    )
    totals = counts.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k") / F.col("n")
    term = X.pround(p * F.log(p) / F.lit(ln2), 6)
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars"),
            X.pround(
                -F.sum(term.cast(X.DEC)).cast("double"), 4
            ).alias("char_entropy"),
        )
    )


def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the other classic
    redundancy signal next to :func:`doc_char_entropy` (templates and
    repeated filler compress far below prose; random junk barely
    compresses). zlib level 6 output length is deterministic for a
    given input, but no SQL engine can mirror it, so this is a
    rows-only entry whose invariants (ratio bounds, monotonicity on
    constructed texts) are pinned in tests/test_intervaljoin.py. The
    UDF is an Arrow-batched pandas_udf — per-batch Python, never
    per-row."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def zratio(texts: "pd.Series") -> "pd.Series":
        import zlib

        def one(t):
            if t is None or len(t) == 0:
                return None
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(one)

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "n_chars",
        zratio(F.col("text")).alias("zlib_ratio"),
    )


def neardup_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document local clustering coefficient on the 0.02-threshold
    similarity graph — the node-granular upgrade of
    :func:`neardup_triangles` (2·T_v / deg_v(deg_v−1) flags documents
    whose neighborhoods are tight cliques: template families, mirrored
    boilerplate). Runs the same degree-oriented wedge machinery
    (operators/components.py:local_clustering), so the celebrity-node
    skew bound carries over."""
    from ..operators.components import local_clustering

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_df(docs, threshold=0.02).select("doc_a", "doc_b")
    return local_clustering(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "degree", "n_triangles", "local_cc"
    )


# Retrieval evaluation: k and the metric operator. Ground truth =
# boolean AND retrieval (a document is relevant to a query iff it
# contains EVERY query term) — principled for ranked-vs-boolean
# evaluation and derivable relationally from the same postings the
# ranker uses, so ranker and truth can never drift apart on
# tokenization.
EVAL_K = 10


def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-retrieval quality metrics (operators/retrieval_eval.py)
    for the BM25 ranking on the fixed query set: per query,
    recall@k / precision@k / MRR / nDCG@k at k=10 against the
    contains-all-terms relevance set. The regression gate a RAG team
    runs before shipping a retriever change (the reference has no
    evaluation surface at all — retriever k is hand-tuned,
    backend/langchain_utils.py:13)."""
    from ..operators.bm25 import bm25_search, matched_from_base, tokenized_base
    from ..operators.retrieval_eval import ranking_metrics

    docs = load_table(spark, sf_dir, "documents")
    # .lower() matches the ranker's tokenization (_query_terms_df):
    # relevance truth and ranking must share one tokenizer or they
    # silently diverge the day a query contains uppercase
    qterms = [
        (qid, t)
        for qid, text in BM25_QUERIES
        for t in sorted(set(text.lower().split()))
    ]
    qdf = local_table(spark, qterms, "query_id string, term string")
    # ONE pinned tokenize pass (optimization r13, guide §2.3 —
    # operators/bm25.tokenized_base) feeds the ranker's scoring, the
    # corpus stats AND the relevance truth: the shared-tokenizer
    # invariant, with no corpus-wide postings shuffle anywhere in the
    # plan and no re-tokenization per consumer
    base = pin(tokenized_base(docs, BM25_QUERIES))
    ranked = bm25_search(spark, docs, BM25_QUERIES, k=EVAL_K, base=base)
    nq = qdf.groupBy("query_id").agg(
        F.countDistinct("term").alias("nt")
    )
    matched = (
        matched_from_base(base)
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("c"))
    )
    relevant = (
        matched.join(F.broadcast(nq), "query_id")
        .where(F.col("c") == F.col("nt"))
        .select("query_id", "doc_id")
    )
    return ranking_metrics(ranked, relevant, EVAL_K).orderBy("query_id")


def retrieval_eval_rankers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranked-retrieval regression gate EXTENDED to every ranker
    the engine ships (r12 verdict ask #4): one metric row per (ranker,
    query) for bm25, knn_exact (the cosine vector ranking — the
    reference's actual retriever, backend/chroma_utils.py:237-263) and
    hybrid_rrf — the rankers most likely to drift under quantization /
    nprobe / pool-size changes. All three share ONE relevance
    derivation (contains-all-terms from the same pinned postings the
    BM25 ranker scores with) plus a GRADED truth (grade = number of
    matched query terms, ask #7: binary contains-all saturates; the
    integer grade stays oracle-exact), so drift in any ranker moves
    its row while the truth stays fixed.

    Plan shape: one postings pin feeds the BM25 scoring AND both
    relevance frames; one vector scoring pass at depth RRF_K feeds the
    knn ranker (cut to k) and the RRF fusion's vector arm; the bm25
    ranker is the fusion's lexical arm cut to k — three rankers, zero
    duplicated scoring."""
    from ..operators.bm25 import bm25_search, matched_from_base, tokenized_base
    from ..operators.retrieval_eval import ranking_metrics
    from .vectors import RRF_K, rrf_fuse, vector_ranked_named

    docs = load_table(spark, sf_dir, "documents")
    qterms = [
        (qid, t)
        for qid, text in BM25_QUERIES
        for t in sorted(set(text.lower().split()))
    ]
    qdf = local_table(spark, qterms, "query_id string, term string")
    # ONE pinned tokenize pass (optimization r13, guide §2.3 — see
    # retrieval_eval): shared by the BM25 scoring and both relevance
    # truths, no corpus-wide (doc, term) shuffle in the plan
    base = pin(tokenized_base(docs, BM25_QUERIES))
    # lexical + vector rankings at fusion depth, each pinned: consumed
    # by their own metric chain AND the fusion
    lex = pin(
        bm25_search(spark, docs, BM25_QUERIES, k=RRF_K, base=base)
        .select("query_id", "doc_id", "rank")
    )
    vec = pin(vector_ranked_named(spark, sf_dir, RRF_K))
    fused = rrf_fuse([lex, vec], EVAL_K).select(
        "query_id", "doc_id", "rank"
    )
    rankers = {
        "bm25": lex.where(F.col("rank") <= EVAL_K),
        "knn_exact": vec.where(F.col("rank") <= EVAL_K),
        "hybrid_rrf": fused,
    }
    nq = qdf.groupBy("query_id").agg(F.countDistinct("term").alias("nt"))
    matched = pin(  # feeds binary AND graded truth
        matched_from_base(base)
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("c"))
    )
    relevant = (
        matched.join(F.broadcast(nq), "query_id")
        .where(F.col("c") == F.col("nt"))
        .select("query_id", "doc_id")
    )
    graded = matched.select(
        "query_id", "doc_id", F.col("c").alias("grade")
    )

    out = None
    for name, ranked in rankers.items():
        m = ranking_metrics(
            ranked, relevant, EVAL_K, graded=graded
        ).withColumn("ranker", F.lit(name))
        out = m if out is None else out.unionByName(m)
    return out.orderBy("ranker", "query_id")


# PRF expansion knobs (operators/bm25.bm25_prf_search)
PRF_FB_DOCS = 3
PRF_FB_TERMS = 5
PRF_FB_WEIGHT = 0.4


def bm25_prf_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (RM3/Rocchio): base ranking →
    top-5 new terms from each query's top-3 docs at weight 0.4 →
    weighted re-score, top-5. The classic recall lever for the
    reference's short chat queries; fully oracle-checked including the
    expansion-term selection and the weighted re-score."""
    from ..operators.bm25 import bm25_prf_search

    docs = load_table(spark, sf_dir, "documents")
    return bm25_prf_search(
        spark, docs, BM25_QUERIES, k=5,
        fb_docs=PRF_FB_DOCS, fb_terms=PRF_FB_TERMS, fb_weight=PRF_FB_WEIGHT,
    )


QUERIES = {
    "retrieval_eval": retrieval_eval,
    "retrieval_eval_rankers": retrieval_eval_rankers,
    "bm25_prf_search": bm25_prf_search_q,
    "doc_top_terms": doc_top_terms,
    "neardup_local_clustering": neardup_local_clustering,
    "doc_char_entropy": doc_char_entropy,
    "doc_readability": doc_readability,
    "doc_compression_ratio": doc_compression_ratio,
    "neardup_k_core": neardup_k_core,
    "bm25_search_topk": bm25_search_topk,
    "bm25_index_search": bm25_index_search,
    "lang_length_quantiles": lang_length_quantiles,
    "leakage_safe_splits": leakage_safe_splits,
    "doc_dedup_exact": doc_dedup_exact,
    "neardup_components": neardup_components,
    "quality_bfs_hops": quality_bfs_hops,
    "neardup_keep_best": neardup_keep_best,
    "minhash_recall": minhash_recall,
    "doc_pii_scrub": doc_pii_scrub,
    "doc_normalized": doc_normalized,
    "doc_previews": doc_previews,
    "doc_token_stats": doc_token_stats,
    "doc_quality": doc_quality,
    "doc_lang_id": doc_lang_id,
    "doc_fixed_chunks": doc_fixed_chunks,
    "doc_fingerprints": doc_fingerprints,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "neardup_triangles": neardup_triangles,
}


_STOPLIST_SQL = ", ".join(f"'{w}'" for w in TS.EN_STOPWORDS)

_LANG_SCORE_SQL = {
    lang: " + ".join(
        f"CAST((length(' ' || lower(text) || ' ') - "
        f"length(replace(' ' || lower(text) || ' ', '{m}', ''))) / {len(m)} AS INT)"
        for m in markers
    )
    for lang, markers in TS.LANG_MARKERS.items()
}


ORACLE = {
    "doc_dedup_exact": """
        SELECT sha256(text) AS content_hash,
               min(doc_id) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS dup_count
        FROM documents GROUP BY sha256(text)
    """,
    "doc_previews": """
        SELECT doc_id, substring(text, 1, 50) || '...' AS preview,
               CAST(length(text) AS BIGINT) AS text_len, lang, source
        FROM documents
    """,
    "doc_token_stats": r"""
        SELECT doc_id,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
                   AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                   AS BIGINT) AS bpe_tokens
        FROM documents
    """,
    "doc_quality": r"""
        WITH base AS (
            SELECT doc_id, text,
                   length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS n_punct,
                   greatest(length(text), 1) AS n_chars,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS toks
            FROM documents
        ), ratios AS (
            SELECT doc_id,
                   (floor((n_punct * 1.0 / n_chars) * 10000 + 0.5) / 10000) AS punct_ratio,
                   (floor((len(list_filter(toks, t -> list_contains([{stops}], t))) * 1.0
                         / greatest(len(toks), 1)) * 10000 + 0.5) / 10000) AS stopword_ratio,
                   n_chars, n_punct, toks
            FROM base
        )
        SELECT doc_id, punct_ratio, stopword_ratio,
               (floor(((least(length(text) / 500.0, 1.0)
                      + (1.0 - least((floor((n_punct * 1.0 / greatest(length(text),1)) * 10000 + 0.5) / 10000) * 4, 1.0))
                      + least((floor((len(list_filter(toks, t -> list_contains([{stops}], t))) * 1.0
                              / greatest(len(toks), 1)) * 10000 + 0.5) / 10000) * 5, 1.0)) / 3) * 10000 + 0.5) / 10000) AS quality
        FROM ratios JOIN documents USING (doc_id)
    """.replace("{stops}", _STOPLIST_SQL),
    "doc_lang_id": """
        WITH scored AS (
            SELECT doc_id, lang,
                   {score_exprs}
            FROM documents
        ), best AS (
            SELECT *,
                   list_sort([
                       {{'score': score_de, 'lang': 'de'}},
                       {{'score': score_en, 'lang': 'en'}},
                       {{'score': score_es, 'lang': 'es'}},
                       {{'score': score_fr, 'lang': 'fr'}},
                       {{'score': score_zh, 'lang': 'zh'}}
                   ])[5] AS b
            FROM scored
        )
        SELECT doc_id, lang,
               CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS lang_pred,
               CAST(score_de AS BIGINT) AS score_de,
               CAST(score_en AS BIGINT) AS score_en,
               CAST(score_es AS BIGINT) AS score_es,
               CAST(score_fr AS BIGINT) AS score_fr,
               CAST(score_zh AS BIGINT) AS score_zh
        FROM best
    """.format(
        score_exprs=", ".join(
            f"({_LANG_SCORE_SQL[lang]}) AS score_{lang}" for lang in sorted(_LANG_SCORE_SQL)
        )
    ),
    "doc_fixed_chunks": """
        SELECT doc_id, chunk_index, total_chunks,
               substring(text, CAST(chunk_index * 96 + 1 AS INT), 120) AS chunk_text
        FROM (
            SELECT doc_id, text, total_chunks,
                   unnest(generate_series(0, total_chunks - 1)) AS chunk_index
            FROM (
                SELECT doc_id, text,
                       CAST(ceil(greatest(length(text) - 24, 1) / 96.0) AS BIGINT)
                           AS total_chunks
                FROM documents
            )
        )
    """,
    "doc_fingerprints": """
        SELECT doc_id,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE list_reduce(
                        list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
                        (a, b) -> (a * 31 + b) % 2147483647)
               END AS fingerprint
        FROM documents
    """,
    "ngram_jaccard_pairs": r"""
        WITH """ + "_JACCARD_CTES" + r"""
        SELECT doc_a, doc_b, jaccard FROM all_pairs
    """,
    "doc_readability": r"""
        WITH c AS (
            SELECT doc_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                        END AS BIGINT) AS n_words,
                   GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                                 AS BIGINT), 1) AS n_sentences,
                   CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS BIGINT) AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CASE WHEN n_words > 0 THEN
                   (floor((206.835
                        - 1.015 * (CAST(n_words AS DOUBLE)
                                   / CAST(n_sentences AS DOUBLE))
                        - 84.6 * (CAST(n_syllables AS DOUBLE)
                                  / CAST(n_words AS DOUBLE)))
                       * 10000 + 0.5) / 10000)
               END AS flesch
        FROM c
    """,
    "doc_char_entropy": r"""
        WITH ch AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents
        ), f AS (
            SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS k
            FROM ch WHERE ch <> '' GROUP BY 1, 2
        ), n AS (
            SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM f GROUP BY 1
        ), terms AS (
            SELECT f.doc_id, n.n,
                   (floor(((k * 1.0 / n.n) * ln(k * 1.0 / n.n)
                       / 0.6931471805599453) * 1000000 + 0.5) / 1000000)
                       AS t
            FROM f JOIN n USING (doc_id)
        )
        SELECT doc_id,
               max(n) AS n_chars,
               (floor((-CAST(sum(CAST(t AS DECIMAL(28,6))) AS DOUBLE))
                   * 10000 + 0.5) / 10000) AS char_entropy
        FROM terms GROUP BY doc_id
    """,
    "doc_top_terms": r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS term
            FROM documents
        ), posting AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks WHERE term <> '' GROUP BY 1, 2
        ), dfc AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM posting GROUP BY 1
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
        ), scored AS (
            SELECT doc_id, term,
                   (floor((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf)
                       * 1000000 + 0.5) / 1000000) AS tfidf
            FROM posting JOIN dfc USING (term) CROSS JOIN stats
        ), ranked AS (
            SELECT doc_id, term, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS rk
            FROM scored
        )
        SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tfidf
        FROM ranked WHERE rk <= 3
    """,
    # triangle x<y<z appears exactly once as e1=(x,y), e2=(y,z),
    # e3=(x,z) because all_pairs is canonically doc_a < doc_b
    "neardup_triangles": r"""
        WITH """ + "_JACCARD_CTES" + r""", e AS (
            SELECT DISTINCT doc_a AS a, doc_b AS b FROM all_pairs
        ), deg AS (
            SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
            ) GROUP BY node
        ), tri AS (
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ), w AS (
            SELECT coalesce(CAST(sum((deg * (deg - 1)) // 2) AS BIGINT), 0)
                       AS n_wedges
            FROM deg
        )
        SELECT n_triangles, n_wedges,
               """ + "_GCC_EXPR" + r""" AS global_clustering
        FROM tri, w
    """,
    "neardup_components": r"""
        WITH RECURSIVE """ + "_JACCARD_CTES" + r""", edges AS (
            SELECT doc_a AS a, doc_b AS b FROM all_pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM all_pairs
        ), reach(node, label) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
        )
        SELECT node AS doc_id, min(label) AS component
        FROM reach GROUP BY node
    """,
    # filled in below: needs the doc_quality oracle as a nested CTE
    "neardup_keep_best": "",
}

ORACLE["neardup_keep_best"] = (
    r"""
        WITH RECURSIVE """ + "_JACCARD_CTES" + r""", edges AS (
            SELECT doc_a AS a, doc_b AS b FROM all_pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM all_pairs
        ), reach(node, label) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
        ), comp AS (
            SELECT node AS doc_id, min(label) AS component
            FROM reach GROUP BY node
        ), qual AS (
            SELECT * FROM (""" + "_DOC_QUALITY_SQL" + r""")
        ), labeled AS (
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS component,
                   q.quality
            FROM documents d
            LEFT JOIN comp c ON d.doc_id = c.doc_id
            JOIN qual q ON q.doc_id = d.doc_id
        ), ranked AS (
            SELECT doc_id, component, quality,
                   row_number() OVER (
                       PARTITION BY component
                       ORDER BY quality DESC, doc_id ASC) AS rn
            FROM labeled
        )
        SELECT doc_id, component, quality FROM ranked WHERE rn = 1
    """
)

# Shared pair CTE chain, mirroring the engine's duplicate-collapse
# algorithm (grp → representative shingles → inverted-index rep pairs →
# cross/within expansion); spliced into both oracles above so the pair
# definition can't drift between them.
_JACCARD_CTES_SQL = r"""grp AS (
            SELECT lang, text, min(doc_id) AS rep,
                   list_sort(list(doc_id)) AS ids
            FROM documents GROUP BY lang, text
        ), toks AS (
            SELECT rep AS doc_id, lang,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS t
            FROM grp
        ), idx AS (
            SELECT doc_id, lang, t,
                   unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks
        ), sh AS (
            SELECT DISTINCT doc_id, lang,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
            FROM idx
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), informative AS (
            SELECT lang, s FROM sh GROUP BY lang, s
            HAVING count(*) BETWEEN 2 AND {max_df}
        ), sh2 AS (
            SELECT sh.* FROM sh SEMI JOIN informative
              ON sh.lang = informative.lang AND sh.s = informative.s
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh2 a JOIN sh2 b
              ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), rep_scored AS (
            SELECT doc_a AS rep_a, doc_b AS rep_b,
                   (floor((inter * 1.0 / (ca.n + cb.n - inter)) * 10000 + 0.5)
                       / 10000) AS jaccard
            FROM pairs
            JOIN counts ca ON ca.doc_id = doc_a
            JOIN counts cb ON cb.doc_id = doc_b
            WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.05
        ), c1 AS (
            SELECT r.jaccard, unnest(ga.ids) AS a_id, gb.ids AS ids_b
            FROM rep_scored r
            JOIN grp ga ON ga.rep = r.rep_a
            JOIN grp gb ON gb.rep = r.rep_b
        ), c2 AS (
            SELECT jaccard, a_id, unnest(ids_b) AS b_id FROM c1
        ), w1 AS (
            SELECT ids, unnest(ids) AS a_id
            FROM grp
            WHERE len(ids) >= 2
              AND len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 3
        ), w2 AS (
            SELECT a_id, unnest(ids) AS b_id FROM w1
        ), all_pairs AS (
            SELECT least(a_id, b_id) AS doc_a, greatest(a_id, b_id) AS doc_b,
                   CAST(jaccard AS DOUBLE) AS jaccard
            FROM c2
            UNION ALL
            SELECT a_id AS doc_a, b_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
            FROM w2 WHERE a_id < b_id
        )"""

_JACCARD_CTES_SQL = _JACCARD_CTES_SQL.replace("{max_df}", str(MAX_SHINGLE_DF))

ORACLE["leakage_safe_splits"] = r"""
    WITH RECURSIVE """ + "_JACCARD_CTES" + r""", edges AS (
        SELECT doc_a AS a, doc_b AS b FROM all_pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM all_pairs
    ), reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ), comp AS (
        SELECT node AS doc_id, min(label) AS component
        FROM reach GROUP BY node
    ), labeled AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, component,
           CASE WHEN (component % 2147483648) * 2654435761 % 1000000
                     < 800000 THEN 'train'
                WHEN (component % 2147483648) * 2654435761 % 1000000
                     < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM labeled
"""

ORACLE["neardup_triangles"] = ORACLE["neardup_triangles"].replace(
    "_GCC_EXPR",
    X.pround_sql(
        "CASE WHEN n_wedges > 0 THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END", 6
    ),
)

for _k in ("ngram_jaccard_pairs", "neardup_components", "neardup_keep_best",
           "leakage_safe_splits", "neardup_triangles"):
    ORACLE[_k] = ORACLE[_k].replace("_JACCARD_CTES", _JACCARD_CTES_SQL)
# the census measures WEAK-similarity transitivity: threshold 0.02
# (see neardup_triangles docstring); the CTE text carries 0.05
ORACLE["neardup_triangles"] = ORACLE["neardup_triangles"].replace(
    ">= 0.05", ">= 0.02"
)


def _kcore_rounds_sql(k: int, rounds: int) -> str:
    """Unrolled degree-k peel: e0 = symmetrized pairs; each round keeps
    edges whose BOTH endpoints had degree ≥ k in the previous round."""
    # every e{i} is referenced twice (degree count + next peel), so the
    # CTEs MUST be materialized — inlining doubles the plan per round
    # (2^rounds copies of the whole shingle pipeline; measured: fd
    # exhaustion at 10 rounds)
    parts = [
        "e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM all_pairs"
        " UNION ALL SELECT doc_b AS a, doc_a AS b FROM all_pairs)"
    ]
    for i in range(rounds):
        parts.append(
            f"d{i} AS (SELECT a, count(*) AS c FROM e{i} GROUP BY a)"
        )
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT a FROM d{i} WHERE c >= {k})"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e"
            f" SEMI JOIN k{i} x ON e.a = x.a"
            f" SEMI JOIN k{i} y ON e.b = y.a)"
        )
    return ", ".join(parts)


ORACLE["neardup_k_core"] = (
    "WITH " + _JACCARD_CTES_SQL + ", " + _kcore_rounds_sql(2, 16)
    + " SELECT DISTINCT a AS doc_id FROM e16"
).replace(">= 0.05", ">= 0.02")

ORACLE["neardup_local_clustering"] = (
    "WITH " + _JACCARD_CTES_SQL + r""", e AS MATERIALIZED (
        SELECT DISTINCT doc_a AS a, doc_b AS b FROM all_pairs
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
        ) GROUP BY node
    ), tri AS MATERIALIZED (
        SELECT e1.a AS u, e1.b AS x, e2.b AS y
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), corners AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT u AS node FROM tri
            UNION ALL SELECT x AS node FROM tri
            UNION ALL SELECT y AS node FROM tri
        ) GROUP BY node
    )
    SELECT d.node AS doc_id, d.deg AS degree,
           coalesce(c.n_triangles, 0) AS n_triangles,
           """ + X.pround_sql(
        "2.0 * coalesce(c.n_triangles, 0) / (d.deg * (d.deg - 1))", 6
    ) + r""" AS local_cc
    FROM deg d LEFT JOIN corners c ON c.node = d.node
    WHERE d.deg >= 2
"""
).replace(">= 0.05", ">= 0.02")
# keep-best nests the (oracle-green) quality scorer as its ranking key,
# so the two definitions can't drift
ORACLE["neardup_keep_best"] = ORACLE["neardup_keep_best"].replace(
    "_DOC_QUALITY_SQL", ORACLE["doc_quality"]
)


def _bfs_oracle_sql() -> str:
    # nests the (oracle-green) quality scorer as the seed predicate and
    # the shared Jaccard CTE chain as the edge set, so neither can drift
    from ..operators.bfs import bfs_oracle_sql

    seeds = (
        f"SELECT doc_id AS node FROM ({ORACLE['doc_quality']}) "
        f"WHERE quality >= {QUALITY_SEED_TAU}"
    )
    return (
        "WITH RECURSIVE " + _JACCARD_CTES_SQL + ", "
        + bfs_oracle_sql("all_pairs", seeds, BFS_MAX_HOPS)
        + " SELECT node AS doc_id, hops FROM bfs"
    )


ORACLE["quality_bfs_hops"] = _bfs_oracle_sql()


def _pii_oracle_sql() -> str:
    from ..functions import scrub as SC

    names = ("emails", "ssns", "phones", "ips", "urls")
    count_cols = ", ".join(
        f"CAST(len(regexp_extract_all(s, '{pattern}')) AS BIGINT) AS n_{name}"
        for name, (pattern, _) in zip(names, SC.PII_RULES)
    )
    return (
        f"WITH synth AS (SELECT doc_id, {_PII_SYNTH_SQL} AS s FROM documents) "
        f"SELECT doc_id, {SC.scrub_sql('s')} AS scrubbed, {count_cols} FROM synth"
    )


def _normalized_oracle_sql() -> str:
    from ..functions import scrub as SC

    norm = SC.normalize_sql("text")
    return (
        f"SELECT doc_id, substring({norm}, 1, 80) AS norm_preview, "
        f"sha256({norm}) AS norm_hash, "
        f"CAST(length({norm}) AS BIGINT) AS norm_len FROM documents"
    )


_BM25_Q_SQL = ", ".join(
    f"('{qid}', '{t}')"
    for qid, text in BM25_QUERIES
    for t in dict.fromkeys(text.lower().split())
)


def bm25_ranked_cte_sql() -> str:
    """The BM25 ranking as a WITH-chain ending in ``bm25_ranked``
    (query_id, doc_id, score, rank) — shared by the bm25_search_topk
    oracle and the hybrid-RRF oracle (plans/vectors.py).

    Float association mirrors operators/bm25.py exactly: Python folds
    (k1+1)=2.2 and (1-b)=0.25 into literals, so the SQL uses the same
    folded constants and the same left-assoc (0.75 * dl) / avgdl."""
    return f"""
    toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
        FROM documents
    ),
    posting AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM posting GROUP BY 1),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    q(query_id, term) AS (VALUES {_BM25_Q_SQL}),
    dfc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM posting WHERE term IN (SELECT term FROM q) GROUP BY 1
    ),
    contrib AS (
        SELECT q.query_id, p.doc_id,
               {X.pround_sql(
                   "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
                   " * ((tf * 2.2)"
                   " / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)))", 6)} AS c
        FROM q
        JOIN posting p USING (term)
        JOIN dfc USING (term)
        JOIN dl ON p.doc_id = dl.doc_id
        CROSS JOIN stats
    ),
    bm25_scores AS (
        SELECT query_id, doc_id, {X.dsum_sql("c", 4)} AS score
        FROM contrib GROUP BY 1, 2
    ),
    bm25_ranked AS (
        SELECT query_id, doc_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS BIGINT) AS rank
        FROM bm25_scores
    )"""


ORACLE["bm25_search_topk"] = f"""
    WITH {bm25_ranked_cte_sql()}
    SELECT query_id, doc_id, rank, score FROM bm25_ranked WHERE rank <= 5
"""
# the index path must produce byte-identical results to the direct path
ORACLE["bm25_index_search"] = ORACLE["bm25_search_topk"]

# bm25_prf_search: two-pass chain — base ranking, expansion-term
# harvest (summed tf over the top-fb_docs docs, minus original terms,
# ties term-asc), weighted re-score. Weight multiplies the contribution
# BEFORE the pround/decimal-sum, exactly as operators/bm25._score_topk.
_PRF_CONTRIB = (
    "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    " * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)))"
)


def _bm25_prf_oracle() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
        FROM documents
    ),
    posting AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM posting GROUP BY 1),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    q(query_id, term) AS (VALUES {_BM25_Q_SQL}),
    dfc1 AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM posting WHERE term IN (SELECT term FROM q) GROUP BY 1
    ),
    contrib1 AS (
        SELECT q.query_id, p.doc_id, {X.pround_sql(_PRF_CONTRIB, 6)} AS c
        FROM q JOIN posting p USING (term) JOIN dfc1 USING (term)
        JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN stats
    ),
    s1 AS (
        SELECT query_id, doc_id, {X.dsum_sql("c", 4)} AS score
        FROM contrib1 GROUP BY 1, 2
    ),
    fb AS (
        SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id
            ) AS rn FROM s1
        ) WHERE rn <= {PRF_FB_DOCS}
    ),
    cand AS (
        SELECT fb.query_id, p.term, CAST(sum(p.tf) AS BIGINT) AS w
        FROM fb JOIN posting p USING (doc_id)
        WHERE NOT EXISTS (
            SELECT 1 FROM q
            WHERE q.query_id = fb.query_id AND q.term = p.term
        )
        GROUP BY 1, 2
    ),
    expq AS (
        SELECT query_id, term, {PRF_FB_WEIGHT!r} AS weight FROM (
            SELECT query_id, term, row_number() OVER (
                PARTITION BY query_id ORDER BY w DESC, term ASC
            ) AS rn FROM cand
        ) WHERE rn <= {PRF_FB_TERMS}
    ),
    q2 AS (
        SELECT query_id, term, 1.0 AS weight FROM q
        UNION ALL SELECT query_id, term, weight FROM expq
    ),
    dfc2 AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM posting WHERE term IN (SELECT term FROM q2) GROUP BY 1
    ),
    contrib2 AS (
        SELECT q2.query_id, p.doc_id,
               {X.pround_sql(f"({_PRF_CONTRIB}) * weight", 6)} AS c
        FROM q2 JOIN posting p USING (term) JOIN dfc2 USING (term)
        JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN stats
    ),
    s2 AS (
        SELECT query_id, doc_id, {X.dsum_sql("c", 4)} AS score
        FROM contrib2 GROUP BY 1, 2
    )
    SELECT query_id, doc_id,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
           ) AS BIGINT) AS rank,
           score
    FROM s2
    QUALIFY rank <= 5
"""


ORACLE["bm25_prf_search"] = _bm25_prf_oracle()

# retrieval_eval: the bm25_ranked chain + contains-all-terms relevance
# + the binary-gain metric formulas, log terms pround-quantized before
# exact decimal sums (the one ln libm relaxation, as in BM25 itself)
_EVAL_LN2 = repr(__import__("math").log(2.0))


def _retrieval_eval_oracle() -> str:
    def invlog2(expr: str) -> str:
        return X.pround_sql(f"1.0 / (ln({expr} + 1.0) / {_EVAL_LN2})", 6)

    k = EVAL_K
    return f"""
    WITH {bm25_ranked_cte_sql()},
    nq AS (
        SELECT query_id, CAST(count(DISTINCT term) AS BIGINT) AS nt
        FROM q GROUP BY 1
    ),
    relterm AS (
        SELECT q.query_id, p.doc_id,
               CAST(count(DISTINCT p.term) AS BIGINT) AS c
        FROM q JOIN posting p USING (term) GROUP BY 1, 2
    ),
    relv AS (
        SELECT relterm.query_id, doc_id
        FROM relterm JOIN nq USING (query_id) WHERE c = nt
    ),
    nrel AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        FROM relv GROUP BY 1
    ),
    topk AS (
        SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= {k}
    ),
    hit AS (
        SELECT t.query_id, t.rank
        FROM topk t JOIN relv r
          ON t.query_id = r.query_id AND t.doc_id = r.doc_id
    ),
    perq AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS hits,
               min(rank) AS first_rank,
               {X.dsum_sql(invlog2("CAST(rank AS DOUBLE)"), 6)} AS dcg
        FROM hit GROUP BY 1
    ),
    ideal AS (
        SELECT query_id,
               unnest(generate_series(1, CAST(least(n_rel, {k}) AS BIGINT)))
                   AS i
        FROM nrel
    ),
    idcg AS (
        SELECT query_id,
               {X.dsum_sql(invlog2("CAST(i AS DOUBLE)"), 6)} AS idcg
        FROM ideal GROUP BY 1
    ),
    base AS (SELECT DISTINCT query_id FROM bm25_ranked)
    SELECT base.query_id,
           CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel,
           CAST(coalesce(hits, 0) AS BIGINT) AS hits,
           {X.pround_sql(
               "CASE WHEN coalesce(n_rel, 0) > 0 THEN"
               " CAST(coalesce(hits, 0) AS DOUBLE) / n_rel"
               " ELSE 0.0 END", 6)} AS recall_at_k,
           {X.pround_sql(
               f"CAST(coalesce(hits, 0) AS DOUBLE) / {float(k)!r}", 6
           )} AS precision_at_k,
           {X.pround_sql(
               "coalesce(1.0 / CAST(first_rank AS DOUBLE), 0.0)", 6
           )} AS mrr,
           {X.pround_sql(
               "CASE WHEN idcg IS NOT NULL AND idcg > 0 THEN"
               " coalesce(dcg, 0.0) / idcg ELSE 0.0 END", 6)} AS ndcg_at_k
    FROM base
    LEFT JOIN nrel USING (query_id)
    LEFT JOIN perq USING (query_id)
    LEFT JOIN idcg USING (query_id)
    ORDER BY base.query_id
"""


ORACLE["retrieval_eval"] = _retrieval_eval_oracle()


# retrieval_eval_rankers: three rankings (bm25 chain, cosine vecrank,
# their RRF fusion) × the shared relevance truth, plus the graded-gain
# nDCG (grade = matched query terms; each term pround(grade·invlog2, 6)
# before the exact decimal sum — the PRF weight-multiply convention)
def _retrieval_eval_rankers_oracle() -> str:
    from .vectors import _COS, RRF_C, RRF_K

    def invlog2(expr: str) -> str:
        return X.pround_sql(f"1.0 / (ln({expr} + 1.0) / {_EVAL_LN2})", 6)

    k = EVAL_K
    recip = X.pround_sql(f"1.0 / ({RRF_C} + rank)", 6)
    vq_sql = ", ".join(
        f"('{qid}', {i})" for i, (qid, _) in enumerate(BM25_QUERIES)
    )
    gterm_rank = X.pround_sql(
        f"CAST(grade AS DOUBLE) * ({invlog2('CAST(rank AS DOUBLE)')})", 6
    )
    gterm_pos = X.pround_sql(
        f"CAST(grade AS DOUBLE) * ({invlog2('CAST(pos AS DOUBLE)')})", 6
    )
    return f"""
    WITH {bm25_ranked_cte_sql()},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings
          WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0),
    vq(query_id, qvec) AS (VALUES {vq_sql}),
    vecrank AS (
        SELECT * FROM (
            SELECT vq.query_id, b.vec_id AS doc_id,
                   CAST(row_number() OVER (
                       PARTITION BY vq.query_id
                       ORDER BY {_COS} DESC, b.vec_id ASC
                   ) AS BIGINT) AS rank
            FROM vq JOIN e a ON a.vec_id = vq.qvec
                    JOIN e b ON b.vec_id != vq.qvec
        ) WHERE rank <= {RRF_K}
    ),
    allr AS (
        SELECT query_id, doc_id, {recip} AS c
        FROM bm25_ranked WHERE rank <= {RRF_K}
        UNION ALL
        SELECT query_id, doc_id, {recip} FROM vecrank
    ),
    fusedr AS (
        SELECT query_id, doc_id, {X.dsum_sql("c", 4)} AS rrf_score
        FROM allr GROUP BY 1, 2
    ),
    rrf_ranked AS (
        SELECT query_id, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
               ) AS BIGINT) AS rank
        FROM fusedr
    ),
    rankings AS (
        SELECT 'bm25' AS ranker, query_id, doc_id, rank
        FROM bm25_ranked WHERE rank <= {k}
        UNION ALL
        SELECT 'knn_exact', query_id, doc_id, rank
        FROM vecrank WHERE rank <= {k}
        UNION ALL
        SELECT 'hybrid_rrf', query_id, doc_id, rank
        FROM rrf_ranked WHERE rank <= {k}
    ),
    nq AS (
        SELECT query_id, CAST(count(DISTINCT term) AS BIGINT) AS nt
        FROM q GROUP BY 1
    ),
    relterm AS (
        SELECT q.query_id, p.doc_id,
               CAST(count(DISTINCT p.term) AS BIGINT) AS c
        FROM q JOIN posting p USING (term) GROUP BY 1, 2
    ),
    relv AS (
        SELECT relterm.query_id, doc_id
        FROM relterm JOIN nq USING (query_id) WHERE c = nt
    ),
    graded AS (SELECT query_id, doc_id, c AS grade FROM relterm),
    nrel AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        FROM relv GROUP BY 1
    ),
    hit AS (
        SELECT t.ranker, t.query_id, t.rank
        FROM rankings t JOIN relv r
          ON t.query_id = r.query_id AND t.doc_id = r.doc_id
    ),
    perq AS (
        SELECT ranker, query_id, CAST(count(*) AS BIGINT) AS hits,
               min(rank) AS first_rank,
               {X.dsum_sql(invlog2("CAST(rank AS DOUBLE)"), 6)} AS dcg
        FROM hit GROUP BY 1, 2
    ),
    ideal AS (
        SELECT query_id,
               unnest(generate_series(1, CAST(least(n_rel, {k}) AS BIGINT)))
                   AS i
        FROM nrel
    ),
    idcg AS (
        SELECT query_id,
               {X.dsum_sql(invlog2("CAST(i AS DOUBLE)"), 6)} AS idcg
        FROM ideal GROUP BY 1
    ),
    ghit AS (
        SELECT t.ranker, t.query_id, {X.dsum_sql(gterm_rank, 6)} AS dcg_g
        FROM rankings t JOIN graded g
          ON t.query_id = g.query_id AND t.doc_id = g.doc_id
        GROUP BY 1, 2
    ),
    gpos AS (
        SELECT query_id, grade,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY grade DESC, doc_id ASC
               ) AS pos
        FROM graded
    ),
    gidcg AS (
        SELECT query_id, {X.dsum_sql(gterm_pos, 6)} AS idcg_g
        FROM gpos WHERE pos <= {k} GROUP BY 1
    ),
    base AS (SELECT DISTINCT ranker, query_id FROM rankings)
    SELECT base.ranker, base.query_id,
           CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel,
           CAST(coalesce(hits, 0) AS BIGINT) AS hits,
           {X.pround_sql(
               "CASE WHEN coalesce(n_rel, 0) > 0 THEN"
               " CAST(coalesce(hits, 0) AS DOUBLE) / n_rel"
               " ELSE 0.0 END", 6)} AS recall_at_k,
           {X.pround_sql(
               f"CAST(coalesce(hits, 0) AS DOUBLE) / {float(k)!r}", 6
           )} AS precision_at_k,
           {X.pround_sql(
               "coalesce(1.0 / CAST(first_rank AS DOUBLE), 0.0)", 6
           )} AS mrr,
           {X.pround_sql(
               "CASE WHEN idcg IS NOT NULL AND idcg > 0 THEN"
               " coalesce(dcg, 0.0) / idcg ELSE 0.0 END", 6)} AS ndcg_at_k,
           {X.pround_sql(
               "CASE WHEN idcg_g IS NOT NULL AND idcg_g > 0 THEN"
               " coalesce(dcg_g, 0.0) / idcg_g ELSE 0.0 END", 6
           )} AS ndcg_graded_at_k
    FROM base
    LEFT JOIN nrel USING (query_id)
    LEFT JOIN perq USING (ranker, query_id)
    LEFT JOIN idcg USING (query_id)
    LEFT JOIN ghit USING (ranker, query_id)
    LEFT JOIN gidcg USING (query_id)
    ORDER BY ranker, base.query_id
"""


ORACLE["retrieval_eval_rankers"] = _retrieval_eval_rankers_oracle()

ORACLE["lang_length_quantiles"] = """
    WITH s AS (
        SELECT lang, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents
        WHERE n_chars IS NOT NULL AND lang IS NOT NULL
    ),
    p(pct, num, den) AS (VALUES ('p25', 1, 4), ('p50', 1, 2), ('p90', 9, 10))
    SELECT lang, pct,
           CAST(GREATEST(1, (num * n + den - 1) // den) AS BIGINT) AS k,
           CAST(n_chars AS BIGINT) AS value
    FROM p JOIN s ON s.rn = GREATEST(1, (num * n + den - 1) // den)
"""

ORACLE["doc_pii_scrub"] = _pii_oracle_sql()
ORACLE["doc_normalized"] = _normalized_oracle_sql()
