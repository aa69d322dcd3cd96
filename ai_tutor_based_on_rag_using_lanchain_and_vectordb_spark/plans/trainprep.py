"""Pre-training corpus-preparation queries over ``documents``: the
repetition/boilerplate/contamination/fluency/mixing stages an LLM data
pipeline runs between dedup and tokenization (public recipes:
Gopher/MassiveText repetition rules, C4 boilerplate removal,
benchmark-contamination n-gram checks, CCNet-style LM fluency scoring,
temperature-scaled language mixing).

Scale notes (100 TB design point):

- Every text statistic is expression-only (codegen'd splits/explodes) —
  no Python in any hot path; stats shapes are explode → two-level
  groupBy with map-side partial aggregation, so per-doc state never
  materializes an unbounded array.
- The corpus-frequency joins (``corpus_boilerplate``,
  ``contamination_overlap``) key on the gram string — corpus-scaled on
  BOTH sides, so neither side carries a forced broadcast hint; AQE's
  runtime join selection picks broadcast only when the measured side is
  genuinely small (the repo-wide hint policy, see plans/tpch_extra.py).
- ``lang_temperature_sample`` broadcasts only fixed-cardinality sides
  (per-language rates; a 1-row global max) — the one join shape where a
  forced broadcast is scale-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact as X
from ..operators.dedup import ngrams
from ..session import default_parallelism

# Gopher-style repetition thresholds (flag = likely machine-generated /
# template text). Compared on the ROUNDED fractions so the Spark and
# DuckDB sides agree bit-for-bit at the decision boundary.
DUP_WORD_MAX = 0.60
TOP_2GRAM_MAX = 0.20

# A 3-gram present in at least this many DISTINCT documents counts as
# corpus boilerplate (license headers, navigation chrome).
BOILER_MIN_DF = 4

# Deterministic benchmark split for the contamination check: every
# doc_id divisible by this models the held-out eval set.
BENCH_MOD = 97
CONTAM_MAX = 0.05

# Knuth multiplicative-hash constant for the deterministic sampling
# decision — plain integer arithmetic both engines compute identically
# (never rand(): resampling must be reproducible across runs/engines).
# The id is reduced mod 2^31 BEFORE the multiply so the product stays
# inside int64 for any doc_id (2^31 · A < 2^63; an unreduced multiply
# overflows — and throws under ANSI mode — once ids pass ~3.5e9).
_MIX_A = 2654435761
_MIX_M = 1_000_000
_MIX_R = 2**31


from ..functions.textstats import EN_STOPWORDS
from ..functions.textstats import ws_tokens as _tokens  # shared tokenizer
from ..session import pin


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, ws) with the explicit repartition that fans token
    generation out of a handful of parquet splits (same fix the
    Jaccard/LSH paths carry)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.repartition(default_parallelism()).select(
        "doc_id", "lang", _tokens(F.col("text")).alias("ws")
    )


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition signals per document:
    duplicate-word fraction and the most-frequent-2-gram share, with
    the reject flag. Two explode→groupBy branches (words, 2-grams)
    joined on doc_id — each branch partial-aggregates map-side, so no
    per-doc array survives the shuffle."""
    toks = _tokenized(spark, sf_dir)
    wcount = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    wstat = wcount.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
    )
    gcount = (
        toks.select("doc_id", F.explode(ngrams(F.col("ws"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    gstat = gcount.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("top_gram"),
    )
    dup_frac = X.pround(
        F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 4
    )
    top_frac = X.pround(
        F.coalesce(F.col("top_gram") / F.col("n_grams"), F.lit(0.0)), 4
    )
    return (
        wstat.join(gstat, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            dup_frac.alias("dup_word_frac"),
            top_frac.alias("top_2gram_frac"),
            (
                (dup_frac > F.lit(DUP_WORD_MAX))
                | (top_frac > F.lit(TOP_2GRAM_MAX))
            ).alias("flagged"),
        )
    )


def _distinct_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, g) word-3-grams for the corpus-frequency ops."""
    toks = _tokenized(spark, sf_dir)
    return toks.select(
        "doc_id", F.explode(ngrams(F.col("ws"), 3)).alias("g")
    ).distinct()


def corpus_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level boilerplate measurement: the fraction of
    each document's distinct 3-grams that occur in ≥ BOILER_MIN_DF
    distinct documents corpus-wide. The document-frequency side is
    gram-cardinality (corpus-scaled) so it carries NO broadcast hint —
    the join shuffles on the gram, the same inverted-index key the
    near-dup path uses."""
    dg = _distinct_grams(spark, sf_dir)
    df = dg.groupBy("g").agg(F.count("*").alias("df"))
    boiler = F.sum(
        F.when(F.col("df") >= BOILER_MIN_DF, 1).otherwise(0)
    )
    return (
        dg.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            boiler.cast("long").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            X.pround(F.col("n_boiler") / F.col("n_grams"), 4).alias(
                "boiler_frac"
            ),
        )
    )


def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its distinct 3-grams that also occur in the held-out
    benchmark split (doc_id % BENCH_MOD == 0). The benchmark gram set
    is ~1 % of the corpus — still corpus-scaled, so it shuffles rather
    than broadcasts (AQE may still elect broadcast when it measures the
    side small, which is the right call at bench scale)."""
    dg = _distinct_grams(spark, sf_dir)
    is_bench = F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0
    bench = (
        dg.where(is_bench).select("g").distinct().withColumn("hit", F.lit(1))
    )
    corpus = dg.where(~is_bench)
    frac = X.pround(F.col("n_hit") / F.col("n_grams"), 4)
    return (
        corpus.join(bench, "g", "left")
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


def lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing (α = 0.5): per-language keep
    rate ∝ sqrt(share of the largest language), applied with a
    deterministic multiplicative-hash coin so the sample is reproducible
    across engines and runs. The per-language rate table and the 1-row
    global max are the only broadcast sides — both fixed-cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    max_n = counts.agg(F.max("n").alias("max_n"))
    rates = counts.crossJoin(F.broadcast(max_n)).select(
        "lang", F.sqrt(F.col("n") / F.col("max_n")).alias("rate")
    )
    coin = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(_MIX_R)) * F.lit(_MIX_A), F.lit(_MIX_M)
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(coin < F.floor(F.col("rate") * _MIX_M).cast("long"))
        .select(
            "doc_id",
            "lang",
            X.pround(F.col("rate"), 4).alias("sample_rate"),
        )
    )


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM fluency scoring with the corpus as its own LM:
    score = mean over a document's bigram occurrences of
    P(w2 | w1) = c(w1 w2) / c(w1 ·), estimated from corpus-wide bigram
    counts. Two corpus-vocabulary joins (bigram count, left-context
    mass), both shuffling on their key — vocabulary is corpus-scaled,
    so neither side broadcasts. Probabilities are averaged in linear
    space with each ratio pre-rounded and summed in decimal, keeping
    the mean bit-identical across engines (log-space would hinge on
    libm ulp agreement). Docs with fewer than 2 tokens have no bigrams
    and drop out."""
    toks = _tokenized(spark, sf_dir)
    bi = toks.select(
        "doc_id", F.explode(ngrams(F.col("ws"), 2)).alias("g")
    )
    cb = bi.groupBy("g").agg(F.count("*").alias("cg"))
    cfirst = cb.groupBy(
        F.substring_index("g", " ", 1).alias("w")
    ).agg(F.sum("cg").alias("cw"))
    ratio = X.pround(F.col("cg") / F.col("cw"), 6)
    return (
        bi.join(cb, "g")
        .join(cfirst, F.substring_index(bi["g"], " ", 1) == F.col("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            X.pround(
                F.sum(ratio.cast(X.DEC)).cast("double") / F.count("*"), 6
            ).alias("lm_score"),
        )
    )


def stratified_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified sampling: the k "first" documents per
    language in multiplicative-hash order — a reproducible fixed-budget
    eval split (rate-based sampling can't hit an exact per-stratum
    count). row_number ≤ k is WindowGroupLimit: each map task keeps
    only k rows per language before the shuffle, so the exchange
    carries O(strata·k), not the corpus."""
    from pyspark.sql import Window

    k = 5
    docs = load_table(spark, sf_dir, "documents")
    coin = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(_MIX_R)) * F.lit(_MIX_A), F.lit(_MIX_M)
    )
    w = Window.partitionBy("lang").orderBy(coin.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("pick", F.row_number().over(w))
        .where(F.col("pick") <= k)
        .select("doc_id", "lang", F.col("pick").cast("long").alias("pick"))
    )


# exact-substring span length (chars): long enough that a shared run
# means real duplication, short enough to catch partial overlap — the
# public substring-dedup recipe uses 50 BPE tokens; 40 chars plays the
# same role at this corpus's scale.
SPAN_L = 40
SPAN_FLAG_FRAC = 0.5


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication measurement (the suffix-array dedup
    recipe re-expressed relationally): every length-``SPAN_L`` char
    window that occurs ≥ 2 times corpus-wide marks its positions, and
    per document the marked windows merge into MAXIMAL spans
    (gaps-and-islands over a running-max window). Output per doc:
    span count, duplicated chars, duplicated fraction, flag.

    Scale shape: window generation is an explode off the scan
    (corpus-linear, ~|text| rows per doc); the duplicate-window join
    keys on the 40-char string — corpus-scaled on both sides, so it
    shuffles (no broadcast hint); the islands window partitions by
    doc_id, so per-task state is one document's hit list."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.repartition(default_parallelism()).select(
        "doc_id", F.lower(F.trim("text")).alias("t")
    )
    grams = (
        base.where(F.length("t") >= SPAN_L)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(t) - {SPAN_L - 1}),"
                    f" i -> struct(i as i, substring(t, i, {SPAN_L}) as g))"
                )
            ).alias("x"),
        )
        .select("doc_id", F.col("x.i").alias("i"), F.col("x.g").alias("g"))
    )
    from pyspark.sql import Window

    # TWO-PHASE duplicate-gram detection, not a count window keyed on
    # the gram: `count(*) OVER (PARTITION BY g)` buffers EVERY position
    # of one gram in a single window task, so one corpus-wide
    # boilerplate window (license header, template) becomes a
    # straggler/spill at scale and AQE cannot split it. The groupBy
    # gets map-side partial aggregation (a hot gram contributes at most
    # one partial row per map partition to the shuffle), and the
    # semi-join back is a plain shuffle join AQE's skew splitting CAN
    # handle. Cost: the gram explode is evaluated twice (linear CPU) —
    # the price for removing the unsplittable hot-key window.
    dup_grams = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("g")
    )
    hits = grams.join(dup_grams.hint("shuffle_hash"), "g", "left_semi").select(
        "doc_id", "i", (F.col("i") + (SPAN_L - 1)).alias("e")
    )

    w = Window.partitionBy("doc_id").orderBy("i")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    tagged = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("i") > prev_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = tagged.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"), F.max("e").alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_chars"),
    )
    frac = X.pround(
        F.col("dup_chars") / F.greatest(F.length("t"), F.lit(1)), 4
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias("dup_chars"),
            F.coalesce(frac, F.lit(0.0)).alias("dup_frac"),
            F.coalesce(frac > SPAN_FLAG_FRAC, F.lit(False)).alias("flagged"),
        )
    )


# keep-first packing of (doc_id, position) into one int64 so "the
# corpus-first occurrence of a window" is a plain MIN both engines
# compute identically: key = doc_id·2²⁴ + i. The packing domain
# (documents below 2²⁴ chars, 0 ≤ doc_id < 2³⁹) is GUARDED IN-PLAN
# with per-row assert_true riding expressions the plan already
# consumes — an out-of-domain corpus fails loudly instead of silently
# corrupting the keep-first order (and the guards add exactly 0 to
# in-domain values, so oracle parity is untouched).
_SPAN_POS_SHIFT = 16_777_216  # 2**24
_SPAN_MAX_DOC_ID = 2**39


def span_scrub(docs: DataFrame) -> DataFrame:
    """Exact-substring deduplication with TEXT EMISSION (the Lee et al.
    "Deduplicating Training Data" cut step, re-expressed relationally):
    every length-``SPAN_L`` char window occurring ≥ 2 times corpus-wide
    is removed from every copy EXCEPT the corpus-first one (min
    (doc_id, position) — the pinned keep-first rule), hit windows merge
    into maximal spans per document (the duplicate_spans
    gaps-and-islands merge), and the residual text is reassembled from
    the inter-span segments.

    Input: (doc_id, t) with t already normalized (lower+trim — the
    duplicate_spans convention; the scrub emits residuals of t).
    Output: (doc_id, n_spans, removed_chars, scrubbed) — docs with no
    duplicated spans pass through with scrubbed = t.

    Scale shape: identical to duplicate_spans — window explode off the
    scan, two-phase hot-gram-safe duplicate detection (map-side-combined
    groupBy + shuffle join AQE can skew-split; never a count window
    keyed on the gram), islands + segment windows partitioned by
    doc_id. Reassembly is one groupBy with an in-memory per-doc span
    list — bounded by the document's own length, same state bound the
    islands window already carries."""
    from pyspark.sql import Window

    base = docs
    # domain guards: assert_true yields NULL (coalesced to +0) in
    # domain and RAISES out of it; adding the 0 into expressions the
    # plan consumes keeps the guard un-prunable without changing any
    # in-domain value
    len_ok = F.coalesce(
        F.assert_true(
            F.length("t") < F.lit(_SPAN_POS_SHIFT),
            F.lit(
                "span_scrub: document length >= 2^24 chars breaks the "
                "keep-first key packing (raise _SPAN_POS_SHIFT)"
            ),
        ).cast("int"),
        F.lit(0),
    )
    grams = (
        base.where(F.length("t") >= SPAN_L)
        .withColumn("_lok", len_ok)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(t) - {SPAN_L - 1} + _lok),"
                    f" i -> struct(i as i, substring(t, i, {SPAN_L}) as g))"
                )
            ).alias("x"),
        )
        .select("doc_id", F.col("x.i").alias("i"), F.col("x.g").alias("g"))
    )
    id_ok = F.coalesce(
        F.assert_true(
            (F.col("doc_id") >= 0)
            & (F.col("doc_id") < F.lit(_SPAN_MAX_DOC_ID)),
            F.lit(
                "span_scrub: doc_id outside [0, 2^39) breaks the "
                "keep-first key packing"
            ),
        ).cast("long"),
        F.lit(0),
    )
    key = F.col("doc_id") * F.lit(_SPAN_POS_SHIFT) + F.col("i") + id_ok
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"), F.min(key).alias("first_key"))
        .where(F.col("c") >= 2)
        .select("g", "first_key")
    )
    hits = (
        grams.join(dup.hint("shuffle_hash"), "g")
        .where(key != F.col("first_key"))
        .select("doc_id", "i", (F.col("i") + (SPAN_L - 1)).alias("e"))
    )

    w = Window.partitionBy("doc_id").orderBy("i")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    tagged = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("i") > prev_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = tagged.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"), F.max("e").alias("e")
    )

    # inter-span segments: the text before each span (from the previous
    # span's end), plus one per-doc tail after the last span
    ws = Window.partitionBy("doc_id").orderBy("s")
    prev_e = F.coalesce(F.lag("e").over(ws), F.lit(0))
    segs = (
        spans.withColumn("_pe", prev_e)
        .join(base, "doc_id")
        .select(
            "doc_id",
            "s",
            "e",
            F.expr("substring(t, _pe + 1, s - _pe - 1)").alias("seg"),
        )
    )
    per_doc = segs.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "seg"))),
                lambda x: x["seg"],
            ),
        ).alias("_head"),
        F.max("e").alias("_last_e"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("removed_chars"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed_chars", F.lit(0)).cast("long").alias(
                "removed_chars"
            ),
            F.when(
                F.col("_last_e").isNull(), F.col("t")
            ).otherwise(
                F.concat(
                    F.col("_head"),
                    F.expr("substring(t, _last_e + 1, length(t))"),
                )
            ).alias("scrubbed"),
        )
    )


def doc_span_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q wrapper of :func:`span_scrub` over the normalized corpus:
    duplicated spans measured by Q(duplicate_spans) are actually CUT
    here, keep-first-copy, and the residual text is emitted — the
    missing removal half of the exact-substring dedup recipe. Composes
    into Q(curation_pipeline_gate) as its fifth stage."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.repartition(default_parallelism()).select(
        "doc_id", F.lower(F.trim("text")).alias("t")
    )
    return span_scrub(base)


def _span_islands(hits: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, i, e) intervals into maximal
    disjoint (doc_id, s, e) spans — the duplicate_spans running-max
    recipe, factored for reuse. Per-task state is one document's
    interval list (the islands window partitions by doc_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("i")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    tagged = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("i") > prev_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return tagged.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"), F.max("e").alias("e")
    )


def _reassemble(base: DataFrame, spans: DataFrame) -> DataFrame:
    """(doc_id, n_spans, removed_chars, scrubbed) from disjoint sorted
    cut spans (doc_id, s, e): inter-span segments + per-doc tail, the
    span_scrub reassembly factored for reuse."""
    from pyspark.sql import Window

    ws = Window.partitionBy("doc_id").orderBy("s")
    prev_e = F.coalesce(F.lag("e").over(ws), F.lit(0))
    segs = (
        spans.withColumn("_pe", prev_e)
        .join(base, "doc_id")
        .select(
            "doc_id",
            "s",
            "e",
            F.expr("substring(t, _pe + 1, s - _pe - 1)").alias("seg"),
        )
    )
    per_doc = segs.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "seg"))),
                lambda x: x["seg"],
            ),
        ).alias("_head"),
        F.max("e").alias("_last_e"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("removed_chars"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed_chars", F.lit(0)).cast("long").alias(
                "removed_chars"
            ),
            F.when(
                F.col("_last_e").isNull(), F.col("t")
            ).otherwise(
                F.concat(
                    F.col("_head"),
                    F.expr("substring(t, _last_e + 1, length(t))"),
                )
            ).alias("scrubbed"),
        )
    )


def span_scrub_extents(docs: DataFrame) -> DataFrame:
    """Any-length duplicated-extent scrub with PROTECTED first copies —
    the suffix-array-islands semantics of the Lee et al. recipe, done
    with bucketed gram anchors instead of a monolithic corpus suffix
    array (which does not distribute).

    Defect this fixes over :func:`span_scrub` (the fixed-window form):
    window-granular keep-first can DESTROY the kept copy when duplicate
    occurrences interleave or self-overlap. Periodic text is the sharp
    case: a 4L-char run of one repeated char keeps only window i=1, and
    the hit island [2, 4L] then eats positions 2..L of that kept window
    — the corpus retains a 1-char fragment and the duplicated string
    vanishes everywhere. Extent semantics instead guarantee: **every
    duplicated L-gram's corpus-first occurrence survives intact** (and
    with it, a full copy of every duplicated substring of ANY length ≥
    L, since such a substring's leading gram is duplicated and its
    first copy sits inside the substring's own first occurrence).

    Relational shape: duplicated-gram occurrences split into HIT
    (non-first) and PROTECTED (corpus-first) interval sets; each merges
    into maximal islands per doc (any-length extents emerge here); cut
    = hit-islands MINUS protected-islands, computed as hit ∩
    complement(protected) with a per-doc bounded interval-intersection
    join. Reassembly is the shared segment logic. Same keep-first key
    packing and in-plan domain guards as span_scrub; everything below
    the islands windows is the same corpus-linear explode + map-side-
    combined groupBy, so the 100 TB story is unchanged — the extra
    work is one more islands window and a per-doc interval join, both
    bounded by the document's own interval count."""
    from pyspark.sql import Window

    base = docs
    len_ok = F.coalesce(
        F.assert_true(
            F.length("t") < F.lit(_SPAN_POS_SHIFT),
            F.lit(
                "span_scrub_extents: document length >= 2^24 chars breaks "
                "the keep-first key packing (raise _SPAN_POS_SHIFT)"
            ),
        ).cast("int"),
        F.lit(0),
    )
    grams = (
        base.where(F.length("t") >= SPAN_L)
        .withColumn("_lok", len_ok)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(t) - {SPAN_L - 1} + _lok),"
                    f" i -> struct(i as i, substring(t, i, {SPAN_L}) as g))"
                )
            ).alias("x"),
        )
        .select("doc_id", F.col("x.i").alias("i"), F.col("x.g").alias("g"))
    )
    id_ok = F.coalesce(
        F.assert_true(
            (F.col("doc_id") >= 0)
            & (F.col("doc_id") < F.lit(_SPAN_MAX_DOC_ID)),
            F.lit(
                "span_scrub_extents: doc_id outside [0, 2^39) breaks the "
                "keep-first key packing"
            ),
        ).cast("long"),
        F.lit(0),
    )
    key = F.col("doc_id") * F.lit(_SPAN_POS_SHIFT) + F.col("i") + id_ok
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"), F.min(key).alias("first_key"))
        .where(F.col("c") >= 2)
        .select("g", "first_key")
    )
    # pin the duplicated-occurrence stream: it feeds BOTH the hit and
    # the protected islands (and each of those a window + downstream
    # joins) — without the pin every consumer re-runs the gram explode
    # + duplicate join. The pinned rows are 3 small ints + a bool per
    # DUPLICATED occurrence only (the dup join already filtered).
    marks = pin(grams.join(dup.hint("shuffle_hash"), "g").select(
        "doc_id",
        "i",
        (F.col("i") + (SPAN_L - 1)).alias("e"),
        (key == F.col("first_key")).alias("is_first"),
    ))
    # pin BOTH islands frames (optimization r13): hit islands feed the
    # cut join AND the unprotected-docs anti-join (2 consumers),
    # protected islands feed the inner gaps, the tail gaps and that
    # anti-join (3 consumers) — unpinned, each consumer re-ran its
    # window+groupBy over the pinned marks (5 island computations per
    # run instead of 2). The pinned rows are one (doc_id, 2 ints) per
    # merged island — strictly fewer than the marks already pinned.
    hit_islands = pin(
        _span_islands(
            marks.where(~F.col("is_first")).select("doc_id", "i", "e")
        ).select("doc_id", F.col("s").alias("hs"), F.col("e").alias("he"))
    )
    prot_islands = pin(
        _span_islands(
            marks.where(F.col("is_first")).select("doc_id", "i", "e")
        ).select("doc_id", F.col("s").alias("ps"), F.col("e").alias("pe"))
    )

    # complement of the protected islands over [1, len(t)], only for
    # docs that have hits (others pass through untouched anyway)
    dl = base.select("doc_id", F.length("t").alias("n"))
    wp = Window.partitionBy("doc_id").orderBy("ps")
    inner_gaps = (
        prot_islands.withColumn(
            "gs", F.coalesce(F.lag("pe").over(wp) + 1, F.lit(1))
        )
        .select("doc_id", "gs", (F.col("ps") - 1).alias("ge"))
        .where(F.col("gs") <= F.col("ge"))
    )
    tail_gaps = (
        prot_islands.groupBy("doc_id")
        .agg(F.max("pe").alias("le"))
        .join(dl, "doc_id")
        .select("doc_id", (F.col("le") + 1).alias("gs"), F.col("n").alias("ge"))
        .where(F.col("gs") <= F.col("ge"))
    )
    unprotected_docs = (
        hit_islands.select("doc_id")
        .distinct()
        .join(prot_islands.select("doc_id").distinct(), "doc_id", "left_anti")
        .join(dl, "doc_id")
        .select("doc_id", F.lit(1).alias("gs"), F.col("n").alias("ge"))
    )
    gaps = inner_gaps.unionByName(tail_gaps).unionByName(unprotected_docs)

    # cut = hit ∩ complement(protected): both families are disjoint per
    # doc, so the pairwise intersections are disjoint — no re-merge
    cut = (
        hit_islands.join(
            gaps.hint("shuffle_hash"),
            ["doc_id"],
        )
        .where((F.col("hs") <= F.col("ge")) & (F.col("he") >= F.col("gs")))
        .select(
            "doc_id",
            F.greatest("hs", "gs").alias("s"),
            F.least("he", "ge").alias("e"),
        )
    )
    return _reassemble(base, cut)


def doc_span_scrubbed_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q wrapper of :func:`span_scrub_extents` over the normalized
    corpus — the any-length, protected-first-copy upgrade of
    Q(doc_span_scrubbed). Same output schema; differs exactly where
    interleaved/self-overlapping copies would have destroyed the kept
    copy under the window form."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.repartition(default_parallelism()).select(
        "doc_id", F.lower(F.trim("text")).alias("t")
    )
    return span_scrub_extents(base)


# Offline-trained quality-classifier weights (bias, punct_ratio,
# stopword_ratio, tokens/100): logistic regression fit by seeded
# full-batch gradient descent (500 steps, lr 0.5) against the
# self-supervised proxy label quality_score > corpus median at sf0.01
# (86.6 % agreement). Pinned as literals — the fastText-filter
# deployment shape: training happens offline, INFERENCE ships as pure
# arithmetic inside the scan, so the filter runs at whatever rate the
# scan runs with no model runtime. punct weight is 0.0: this corpus has
# no punctuation signal.
_QC_W = (-3.798609, 0.0, 1.424105, 6.906249)
_QC_KEEP = 0.0  # keep when logit > 0 (p > 0.5)


def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering as pure SQL inference: engineered
    features (punctuation density, stopword ratio, length) dotted with
    the pinned offline-trained weights in one codegen'd expression —
    no UDF, no model server, monotone in the classifier probability
    (the logit is emitted instead of the sigmoid so both engines stay
    in exact arithmetic; libm exp() ulp drift never enters)."""
    from ..functions import textstats as TS

    docs = load_table(spark, sf_dir, "documents")
    w0, w1, w2, w3 = _QC_W
    logit = (
        F.lit(w0)
        + F.lit(w1) * TS.punct_ratio(F.col("text"))
        + F.lit(w2) * TS.stopword_ratio(F.col("text"))
        + F.lit(w3) * (TS.token_count(F.col("text")) / 100.0)
    )
    return docs.select(
        "doc_id",
        X.pround(logit, 6).alias("logit"),
        (X.pround(logit, 6) > F.lit(_QC_KEEP)).alias("keep"),
    )


# concat-and-chunk packing: fixed training-sequence length in
# (whitespace) tokens. Power of two ON PURPOSE — the seq/offset math
# divides by it, and /2^k is exact in IEEE double, so both engines
# floor identical values.
SEQ_LEN = 2048


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the dominant LLM-pretraining
    batching scheme: each language shard's documents are concatenated
    in deterministic (doc_id) order and sliced into fixed
    ``SEQ_LEN``-token training sequences; per document, emit its token
    count, running offset, and the first/last sequence it lands in
    (documents straddle chunk boundaries by design — that is the
    concat-and-chunk contract).

    Scale shape: the running offset is operators/prefix.py's two-phase
    grouped prefix sum — per-(shard, quantile-bucket) partials + a
    window over the SMALL partial table — so a dominant language never
    pins one window task the way
    ``sum() OVER (PARTITION BY lang ORDER BY doc_id)`` would.
    Zero-token documents occupy no tokens but are still assigned the
    sequence at their offset (first_seq = last_seq)."""
    from ..functions import textstats as TS
    from ..operators.prefix import grouped_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        TS.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    cum = grouped_prefix_sum(
        toks, ["lang"], "doc_id", F.col("n_tokens"), out_col="_cum", exact=True
    ).withColumn("cum_before", F.col("_cum").cast("long")).drop("_cum")
    L = F.lit(SEQ_LEN).cast("long")
    last_tok = F.col("cum_before") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    return cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        "cum_before",
        F.floor(F.col("cum_before") / L).cast("long").alias("first_seq"),
        F.floor(last_tok / L).cast("long").alias("last_seq"),
        F.pmod(F.col("cum_before"), L).cast("long").alias("start_off"),
    )


SHUFFLE_SHARDS = 8
SHUFFLE_SEED = 1


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic corpus shuffle (operators/shuffle.py): every
    document gets a seeded multiplicative-mix permutation key, a
    fixed-key-range shard, and its replay position within the shard —
    the training-order randomization a 100 TB corpus needs WITHOUT a
    global sort (no sampling pass, no single-task exchange; the only
    wide op is one hash exchange on ``shard`` — plan-asserted in
    tests/test_shuffle.py). Reading shards 0..n-1 in (pos) order
    replays the full permutation. Composes with Q(sequence_packing):
    shuffle its seq ids the same way to randomize packed batches."""
    from ..operators.shuffle import assign_shards

    docs = load_table(spark, sf_dir, "documents")
    return assign_shards(
        docs.select("doc_id"), "doc_id", SHUFFLE_SHARDS, SHUFFLE_SEED
    ).select("doc_id", "skey", "shard", "pos")


WSAMPLE_K = 100
WSAMPLE_SEED = 7


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, size-proportional
    (Efraimidis–Spirakis A-Res): each document draws a deterministic
    pseudo-uniform u from the multiplicative-mix hash (never rand() —
    the corpus-sampling decision must replay identically across
    runs/engines) and is ranked by the exponential race key
    −ln(u)/w with w = max(n_chars, 1); the K smallest keys are the
    sample. Selecting proportional-to-length approximates a fixed
    TOKEN budget rather than a fixed document count — the mixture-
    subsampling primitive behind data-recipe experiments.

    Scale shape: the rank is a TakeOrdered orderBy+limit (per-partition
    top-K then a K-row merge), never a global sort. ln() parity: the
    key is pround-ed to 6 dp (the operators/bm25.py argument) and ties
    break on doc_id, so the ordering is ulp-stable cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    mix = (
        (F.pmod(F.col("doc_id") + F.lit(WSAMPLE_SEED), F.lit(_MIX_R)))
        * F.lit(_MIX_A)
    ) % F.lit(_MIX_M)
    u = (mix.cast("double") + 1.0) / float(_MIX_M + 1)
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    skey = X.pround(-F.log(u) / w, 6)
    return (
        docs.select("doc_id", "n_chars", skey.alias("skey"))
        .orderBy("skey", "doc_id")
        .limit(WSAMPLE_K)
    )


# DSIR (data selection via importance resampling, Xie et al. 2023):
# hashed-n-gram bag features, target-vs-raw log-likelihood-ratio
# importance weights, weighted reproducible resampling. The fixture's
# "target domain" seed set is the deterministic doc_id % TARGET_MOD
# slice (in production: any curated seed corpus — the reference's
# retrieval-relevance idea, backend/langchain_utils.py:13, lifted from
# per-query ranking to corpus selection).
DSIR_BUCKETS = 512
DSIR_TARGET_MOD = 11
DSIR_K = 100
DSIR_SEED = 13
_LLR_SCALE = 1_000_000  # llr terms quantized to 1e-6: exact integer sums
# smoothing strength λ = 1/DSIR_SMOOTH_INV per bucket, kept integer-
# exact as (S·c + 1)/(S·total + B). Plain add-one (λ = 1) drowns a
# small target seed set — with T gram instances ≪ B buckets the
# smoothed target model is uniform and every genuinely target-like
# gram scores NEGATIVE (the edge-corpus test pinned this); λ = 0.01
# keeps the ratio signal while still bounding empty-bucket ratios.
DSIR_SMOOTH_INV = 100


def _portable_gram_hash(g) -> F.Column:
    """Polynomial char-fold hash of a gram string, mod 2³¹ — chosen over
    xxhash64 because BOTH engines compute it identically (the oracle
    mirrors it with list_reduce), so the hashed feature map itself is
    oracle-checked, not just recall-gated. Codegen'd expression; at the
    100 TB point this is linear per-gram work on the executors (swap in
    xxhash64 via the same column seam when cross-engine parity isn't
    needed)."""
    codes = F.transform(F.split(g, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda a, c: F.pmod(a * F.lit(31) + c, F.lit(2**31)),
    )


def dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling of the raw corpus toward the target
    slice: documents are bag-of-hashed-bigram features (word bigram →
    char-fold hash → ``DSIR_BUCKETS`` buckets), each bucket gets the
    Laplace-smoothed log-likelihood ratio
    ln((ct+1)/(T+B)) − ln((cr+1)/(R+B)) of target vs raw gram mass,
    each raw document's log importance weight is the SUM of its gram
    occurrences' ratios, and the sample is the A-Res exponential race
    (ln(−ln(u)) − ln(w), smallest ``DSIR_K``) with the deterministic
    multiplicative-hash coin — reproducible across engines and runs.

    Exactness: llr terms are quantized to 1e-6 integers (the one ln
    libm relaxation, operators/bm25.py argument), so per-doc weights
    are exact integer sums; ln(w) in the race key is that integer /
    1e6 — no exp() anywhere. Docs with < 2 tokens have no features and
    drop out (the bigram_lm_score contract).

    Scale shape: gram hashing is expression-only off the scan; the
    bucket stats are ONE map-side-combined groupBy onto B rows; the
    per-doc scoring join broadcasts the B-row weight table; the top-K
    is TakeOrdered (per-partition K then a K-row merge) — no global
    sort, nothing corpus-scaled crosses the wire."""
    fbc = dsir_bucket_counts(_tokenized(spark, sf_dir))
    # pin the hashed feature counts: they feed BOTH the bucket-stats
    # aggregate and the per-doc scoring join, and the char-fold hash is
    # an interpreted (CodegenFallback) higher-order expression — the
    # single most expensive map work in the plan. Without the pin the
    # explode + fold runs twice; the pinned stream is ≤ min(grams, B)
    # small-int rows per doc (the 100× probe measured the re-compute
    # at ~2×).
    return dsir_sample_from_counts(pin(fbc, eager=True))


def dsir_bucket_counts(toks: DataFrame) -> DataFrame:
    """(doc_id, b, cnt) hashed-bigram bucket counts per document from a
    (doc_id, ws) tokenized frame — the mergeable DSIR feature sketch:
    counts add across any split of the corpus, which is what the
    streaming twin (streaming/dsir.py, st17) folds per epoch."""
    bi = toks.select(
        "doc_id", F.explode(ngrams(F.col("ws"), 2)).alias("g")
    )
    return (
        bi.select(
            "doc_id",
            F.pmod(
                _portable_gram_hash(F.col("g")), F.lit(DSIR_BUCKETS)
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def dsir_sample_from_counts(fbc: DataFrame) -> DataFrame:
    """The DSIR weight fit + A-Res resample on (doc_id, b, cnt) bucket
    counts — exact integer arithmetic throughout, so the result depends
    only on the SUMMED counts, not how the corpus was split to produce
    them (batch and N-epoch stream fold agree row for row)."""
    is_t = F.pmod(F.col("doc_id"), F.lit(DSIR_TARGET_MOD)) == 0
    bc = fbc.groupBy("b").agg(
        F.sum(F.when(is_t, F.col("cnt")).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_t, F.col("cnt")).otherwise(0)).alias("cr"),
    )
    tot = bc.agg(F.sum("ct").alias("t"), F.sum("cr").alias("r"))  # 1 row
    S = F.lit(DSIR_SMOOTH_INV)
    lq = F.floor(
        (
            F.log((S * F.col("ct") + 1) / (S * F.col("t") + F.lit(DSIR_BUCKETS)))
            - F.log((S * F.col("cr") + 1) / (S * F.col("r") + F.lit(DSIR_BUCKETS)))
        )
        * F.lit(_LLR_SCALE)
        + F.lit(0.5)
    ).cast("long")
    lw = bc.crossJoin(F.broadcast(tot)).select("b", lq.alias("lq"))
    ds = (
        fbc.where(~is_t)
        .join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("lq")).cast("long").alias("_s"),
        )
    )
    mix = (
        F.pmod(F.col("doc_id") + F.lit(DSIR_SEED), F.lit(_MIX_R))
        * F.lit(_MIX_A)
    ) % F.lit(_MIX_M)
    u = (mix.cast("double") + 1.0) / float(_MIX_M + 1)
    score = F.col("_s").cast("double") / float(_LLR_SCALE)
    skey = X.pround(F.log(-F.log(u)), 6) - score
    return (
        ds.select(
            "doc_id",
            "n_grams",
            X.pround(score, 6).alias("llr"),
            skey.alias("skey"),
        )
        .orderBy("skey", "doc_id")
        .limit(DSIR_K)
    )


PMI_VOCAB = 64  # bounded candidate vocabulary: top-T terms by doc freq
PMI_MIN_CO = 2


def term_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information over document
    co-occurrence, PMI(a,b) = ln(N·c_ab / (df_a·df_b)), for pairs of
    the top-``PMI_VOCAB`` document-frequency terms co-occurring in ≥
    ``PMI_MIN_CO`` documents. The standard corpus-statistics signal for
    multi-word-expression detection and tokenizer-merge candidates.

    Scale shape: the candidate vocabulary is hard-bounded (top-T via
    orderBy+limit = distributed TakeOrdered, then a T-row broadcast
    semi-join), so per-document pair fan-out is ≤ C(T,2) regardless of
    document length, and pair generation is MAP-SIDE over per-doc
    sorted term sets (the copurchase_pairs basket pattern) — no
    presence-table self-join. ln() parity: contributions pre-rounded
    to 6 dp (the operators/bm25.py argument)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one exact integer crosses the driver
    pres = (
        _tokenized(spark, sf_dir)
        .select("doc_id", F.explode("ws").alias("term"))
        .distinct()
    )
    dfreq = pres.groupBy("term").agg(F.count("*").alias("df"))
    vocab = dfreq.orderBy(F.desc("df"), F.asc("term")).limit(PMI_VOCAB)
    vp = pres.join(F.broadcast(vocab.select("term")), "term", "left_semi")
    baskets = (
        vp.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("term")).alias("ts"))
        .where(F.size("ts") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (x, i) -> "
                "transform(slice(ts, i + 2, size(ts)), "
                "y -> struct(x AS term_a, y AS term_b))))"
            )
        ).alias("p")
    )
    co = (
        pairs.groupBy(
            F.col("p.term_a").alias("term_a"), F.col("p.term_b").alias("term_b")
        )
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_CO)
    )
    va = vocab.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    ratio = (F.col("c_ab").cast("double") * F.lit(float(n_docs))) / (
        F.col("df_a").cast("double") * F.col("df_b").cast("double")
    )
    return (
        co.join(F.broadcast(va), "term_a")  # ≤ PMI_VOCAB rows each
        .join(F.broadcast(vb), "term_b")
        .select(
            "term_a", "term_b", "df_a", "df_b", "c_ab",
            X.pround(F.log(ratio), 6).alias("pmi"),
        )
    )


QUERIES = {
    "dsir_importance_sample": dsir_importance_sample,
    "doc_span_scrubbed": doc_span_scrubbed,
    "doc_span_scrubbed_sa": doc_span_scrubbed_sa,
    "weighted_doc_sample": weighted_doc_sample,
    "term_pmi_pairs": term_pmi_pairs,
    "corpus_shuffle": corpus_shuffle,
    "sequence_packing": sequence_packing,
    "bigram_lm_score": bigram_lm_score,
    "duplicate_spans": duplicate_spans,
    "quality_classifier_filter": quality_classifier_filter,
    "stratified_exact_sample": stratified_exact_sample,
    "gopher_repetition": gopher_repetition,
    "corpus_boilerplate": corpus_boilerplate,
    "contamination_overlap": contamination_overlap,
    "lang_temperature_sample": lang_temperature_sample,
}

_TOKS_SQL = r"""
    toks AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           t -> t != '') AS ws
        FROM documents
    )
"""

_GRAMS3_SQL = (
    _TOKS_SQL
    + r""", grams AS (
        SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS g
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws)-2)) AS i
              FROM toks WHERE len(ws) >= 3)
    ), dg AS (SELECT DISTINCT doc_id, g FROM grams)
"""
)

ORACLE = {
    "sequence_packing": r"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                        END AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM t
        )
        SELECT doc_id, lang, n_tokens, cum_before,
               cum_before // 2048 AS first_seq,
               (cum_before + greatest(n_tokens, 1) - 1) // 2048 AS last_seq,
               cum_before % 2048 AS start_off
        FROM c
    """,
    "bigram_lm_score": r"""
        WITH {toks}, bi AS (
            SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
            FROM (SELECT doc_id, ws,
                         unnest(generate_series(1, len(ws)-1)) AS i
                  FROM toks WHERE len(ws) >= 2)
        ), cb AS (
            SELECT g, count(*) AS cg FROM bi GROUP BY g
        ), cfirst AS (
            SELECT split_part(g, ' ', 1) AS w, sum(cg) AS cw
            FROM cb GROUP BY split_part(g, ' ', 1)
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               {score} AS lm_score
        FROM bi
        JOIN cb USING (g)
        JOIN cfirst ON split_part(bi.g, ' ', 1) = cfirst.w
        GROUP BY doc_id
    """.format(
        toks=_TOKS_SQL,
        score=X.pround_sql(
            "CAST(sum(CAST({r} AS {dec}) ) AS DOUBLE) / count(*)".format(
                r=X.pround_sql("cg * 1.0 / cw", 6), dec=X.DEC_SQL
            ),
            6,
        ),
    ),
    "gopher_repetition": r"""
        WITH {toks}, words AS (
            SELECT doc_id, unnest(ws) AS w FROM toks
        ), wcount AS (
            SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
        ), wstat AS (
            SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct
            FROM wcount GROUP BY doc_id
        ), grams AS (
            SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
            FROM (SELECT doc_id, ws,
                         unnest(generate_series(1, len(ws)-1)) AS i
                  FROM toks WHERE len(ws) >= 2)
        ), gcount AS (
            SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
        ), gstat AS (
            SELECT doc_id, sum(c) AS n_grams, max(c) AS top_gram
            FROM gcount GROUP BY doc_id
        )
        SELECT wstat.doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               {dup} AS dup_word_frac,
               {top} AS top_2gram_frac,
               ({dup} > {dw} OR {top} > {tg}) AS flagged
        FROM wstat LEFT JOIN gstat ON wstat.doc_id = gstat.doc_id
    """.format(
        toks=_TOKS_SQL,
        dup=X.pround_sql("1.0 - n_distinct * 1.0 / n_words", 4),
        top=X.pround_sql("coalesce(top_gram * 1.0 / n_grams, 0.0)", 4),
        dw=DUP_WORD_MAX,
        tg=TOP_2GRAM_MAX,
    ),
    "corpus_boilerplate": r"""
        WITH {grams}, df AS (
            SELECT g, count(*) AS df FROM dg GROUP BY g
        )
        SELECT dg.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN df.df >= {mindf} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler,
               {frac} AS boiler_frac
        FROM dg JOIN df ON dg.g = df.g
        GROUP BY dg.doc_id
    """.format(
        grams=_GRAMS3_SQL,
        mindf=BOILER_MIN_DF,
        frac=X.pround_sql(
            "sum(CASE WHEN df.df >= %d THEN 1 ELSE 0 END) * 1.0 / count(*)"
            % BOILER_MIN_DF,
            4,
        ),
    ),
    "contamination_overlap": r"""
        WITH {grams}, bench AS (
            SELECT DISTINCT g FROM dg WHERE doc_id % {m} = 0
        ), corpus AS (
            SELECT doc_id, g FROM dg WHERE doc_id % {m} <> 0
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit,
               {frac} AS contam_frac,
               ({frac} > {mx}) AS flagged
        FROM corpus LEFT JOIN bench ON corpus.g = bench.g
        GROUP BY doc_id
    """.format(
        grams=_GRAMS3_SQL,
        m=BENCH_MOD,
        mx=CONTAM_MAX,
        frac=X.pround_sql(
            "sum(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END)"
            " * 1.0 / count(*)",
            4,
        ),
    ),
    "quality_classifier_filter": """
        SELECT doc_id, {lg} AS logit, {lg} > {keep} AS keep
        FROM (
            SELECT doc_id,
                   {w0} + {w1} * {punct} + {w2} * {stop}
                        + {w3} * ({ntok} / 100.0) AS raw_logit
            FROM documents
        )
    """.format(
        lg=X.pround_sql("raw_logit", 6),
        keep=_QC_KEEP,
        w0=_QC_W[0], w1=_QC_W[1], w2=_QC_W[2], w3=_QC_W[3],
        punct=X.pround_sql(
            "length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g'))"
            " * 1.0 / greatest(length(text), 1)", 4
        ),
        stop=X.pround_sql(
            "len(list_filter(regexp_split_to_array(lower(trim(text)),"
            " '\\s+'), t -> list_contains([{stops}], t))) * 1.0"
            " / greatest(len(regexp_split_to_array(lower(trim(text)),"
            " '\\s+')), 1)".format(
                stops=", ".join(f"'{w}'" for w in EN_STOPWORDS)
            ),
            4,
        ),
        ntok="(CASE WHEN length(trim(text)) = 0 THEN 0"
             " ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)",
    ),
    "duplicate_spans": """
        WITH norm AS (
            SELECT doc_id, lower(trim(text)) AS t FROM documents
        ), grams AS (
            SELECT doc_id, i, substr(t, i, {L}) AS g
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, length(t) - {Lm1})) AS i
                  FROM norm WHERE length(t) >= {L})
        ), dupg AS (
            SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
        ), hits AS (
            SELECT doc_id, i, i + {Lm1} AS e FROM grams JOIN dupg USING (g)
        ), tagged AS (
            SELECT doc_id, i, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                        OR i > max(e) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island
            FROM hits
        ), islands AS (
            SELECT doc_id, i, e,
                   sum(new_island) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
            FROM tagged
        ), spans AS (
            SELECT doc_id, island, min(i) AS s, max(e) AS e
            FROM islands GROUP BY doc_id, island
        ), per_doc AS (
            SELECT doc_id, count(*) AS n_spans,
                   sum(e - s + 1) AS dup_chars
            FROM spans GROUP BY doc_id
        )
        SELECT norm.doc_id,
               CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars,
               coalesce({frac}, 0.0) AS dup_frac,
               coalesce({frac} > {flag}, false) AS flagged
        FROM norm LEFT JOIN per_doc ON norm.doc_id = per_doc.doc_id
    """.format(
        L=SPAN_L,
        Lm1=SPAN_L - 1,
        flag=SPAN_FLAG_FRAC,
        frac=X.pround_sql(
            "dup_chars * 1.0 / greatest(length(t), 1)", 4
        ),
    ),
    "stratified_exact_sample": """
        SELECT doc_id, lang, CAST(pick AS BIGINT) AS pick FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ((doc_id % {r}) * {a}) % {m} ASC, doc_id ASC
                   ) AS pick
            FROM documents
        ) WHERE pick <= 5
    """.format(a=_MIX_A, m=_MIX_M, r=_MIX_R),
    "lang_temperature_sample": """
        WITH counts AS (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang
        ), rates AS (
            SELECT lang,
                   sqrt(n * 1.0 / (SELECT max(n) FROM counts)) AS rate
            FROM counts
        )
        SELECT d.doc_id, d.lang, {rate} AS sample_rate
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE ((d.doc_id % {r}) * {a}) % {m}
              < CAST(floor(r.rate * {m}) AS BIGINT)
    """.format(
        rate=X.pround_sql("r.rate", 4), a=_MIX_A, m=_MIX_M, r=_MIX_R
    ),
}


def _corpus_shuffle_oracle() -> str:
    from ..operators.shuffle import assign_shards_sql

    return assign_shards_sql(
        "SELECT doc_id FROM documents", "doc_id", SHUFFLE_SHARDS, SHUFFLE_SEED
    )


ORACLE["corpus_shuffle"] = _corpus_shuffle_oracle()

ORACLE["doc_span_scrubbed"] = """
    WITH norm AS (
        SELECT doc_id, lower(trim(text)) AS t FROM documents
    ), grams AS (
        SELECT doc_id, i, substr(t, i, {L}) AS g
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, length(t) - {Lm1})) AS i
              FROM norm WHERE length(t) >= {L})
    ), dupg AS (
        SELECT g, min(doc_id * {shift} + i) AS first_key
        FROM grams GROUP BY g HAVING count(*) >= 2
    ), hits AS (
        SELECT doc_id, i, i + {Lm1} AS e
        FROM grams JOIN dupg USING (g)
        WHERE doc_id * {shift} + i <> first_key
    ), tagged AS (
        SELECT doc_id, i, e,
               CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                    OR i > max(e) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM hits
    ), islands AS (
        SELECT doc_id, i, e,
               sum(new_island) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM tagged
    ), spans AS (
        SELECT doc_id, island, min(i) AS s, max(e) AS e
        FROM islands GROUP BY doc_id, island
    ), segs AS (
        SELECT doc_id, s, e,
               coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
                   AS pe
        FROM spans
    ), per_doc AS (
        SELECT segs.doc_id,
               string_agg(substr(norm.t, pe + 1, s - pe - 1),
                          '' ORDER BY s) AS head,
               max(segs.e) AS last_e,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(segs.e - segs.s + 1) AS BIGINT) AS removed_chars
        FROM segs JOIN norm ON segs.doc_id = norm.doc_id
        GROUP BY segs.doc_id
    )
    SELECT norm.doc_id,
           CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(removed_chars, 0) AS BIGINT) AS removed_chars,
           CASE WHEN last_e IS NULL THEN norm.t
                ELSE coalesce(head, '') || substr(norm.t, last_e + 1)
                END AS scrubbed
    FROM norm LEFT JOIN per_doc ON norm.doc_id = per_doc.doc_id
""".format(L=SPAN_L, Lm1=SPAN_L - 1, shift=_SPAN_POS_SHIFT)

# the extents variant: same gram/dup/islands machinery, plus the
# PROTECTED first-copy islands and the interval subtraction
# cut = hit-islands ∩ complement(protected-islands)
ORACLE["doc_span_scrubbed_sa"] = """
    WITH norm AS (
        SELECT doc_id, lower(trim(text)) AS t FROM documents
    ), grams AS (
        SELECT doc_id, i, substr(t, i, {L}) AS g
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, length(t) - {Lm1})) AS i
              FROM norm WHERE length(t) >= {L})
    ), dupg AS (
        SELECT g, min(doc_id * {shift} + i) AS first_key
        FROM grams GROUP BY g HAVING count(*) >= 2
    ), marks AS (
        SELECT doc_id, i, i + {Lm1} AS e,
               doc_id * {shift} + i = first_key AS is_first
        FROM grams JOIN dupg USING (g)
    ), hti AS (
        SELECT doc_id, i, e,
               CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                    OR i > max(e) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS ni
        FROM marks WHERE NOT is_first
    ), hisl AS (
        SELECT doc_id, min(i) AS hs, max(e) AS he
        FROM (SELECT doc_id, i, e,
                     sum(ni) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS island
              FROM hti)
        GROUP BY doc_id, island
    ), pti AS (
        SELECT doc_id, i, e,
               CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                    OR i > max(e) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS ni
        FROM marks WHERE is_first
    ), pisl AS (
        SELECT doc_id, min(i) AS ps, max(e) AS pe
        FROM (SELECT doc_id, i, e,
                     sum(ni) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS island
              FROM pti)
        GROUP BY doc_id, island
    ), dl AS (
        SELECT doc_id, length(t) AS n FROM norm
    ), gaps AS (
        SELECT doc_id,
               coalesce(lag(pe) OVER (PARTITION BY doc_id ORDER BY ps) + 1,
                        1) AS gs,
               ps - 1 AS ge
        FROM pisl
        QUALIFY gs <= ge
        UNION ALL
        SELECT pisl.doc_id, max(pe) + 1 AS gs, any_value(n) AS ge
        FROM pisl JOIN dl USING (doc_id)
        GROUP BY pisl.doc_id HAVING max(pe) + 1 <= any_value(n)
        UNION ALL
        SELECT h.doc_id, 1 AS gs, dl.n AS ge
        FROM (SELECT DISTINCT doc_id FROM hisl) h
        JOIN dl USING (doc_id)
        WHERE h.doc_id NOT IN (SELECT doc_id FROM pisl)
    ), spans AS (
        SELECT hisl.doc_id,
               greatest(hs, gs) AS s, least(he, ge) AS e
        FROM hisl JOIN gaps ON hisl.doc_id = gaps.doc_id
                           AND hs <= ge AND he >= gs
    ), segs AS (
        SELECT doc_id, s, e,
               coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
                   AS pe
        FROM spans
    ), per_doc AS (
        SELECT segs.doc_id,
               string_agg(substr(norm.t, pe + 1, s - pe - 1),
                          '' ORDER BY s) AS head,
               max(segs.e) AS last_e,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(segs.e - segs.s + 1) AS BIGINT) AS removed_chars
        FROM segs JOIN norm ON segs.doc_id = norm.doc_id
        GROUP BY segs.doc_id
    )
    SELECT norm.doc_id,
           CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(removed_chars, 0) AS BIGINT) AS removed_chars,
           CASE WHEN last_e IS NULL THEN norm.t
                ELSE coalesce(head, '') || substr(norm.t, last_e + 1)
                END AS scrubbed
    FROM norm LEFT JOIN per_doc ON norm.doc_id = per_doc.doc_id
""".format(L=SPAN_L, Lm1=SPAN_L - 1, shift=_SPAN_POS_SHIFT)

ORACLE["dsir_importance_sample"] = f"""
    WITH {_TOKS_SQL}, bi AS (
        SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws)-1)) AS i
              FROM toks WHERE len(ws) >= 2)
    ), fb AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(g, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % {2**31}
               ) % {DSIR_BUCKETS} AS b
        FROM bi
    ), bc AS (
        SELECT b,
               sum(CASE WHEN doc_id % {DSIR_TARGET_MOD} = 0 THEN 1 ELSE 0 END) AS ct,
               sum(CASE WHEN doc_id % {DSIR_TARGET_MOD} <> 0 THEN 1 ELSE 0 END) AS cr
        FROM fb GROUP BY b
    ), tot AS (
        SELECT sum(ct) AS t, sum(cr) AS r FROM bc
    ), lw AS (
        SELECT b,
               CAST(floor((ln(({DSIR_SMOOTH_INV} * ct + 1) * 1.0
                               / ({DSIR_SMOOTH_INV} * t + {DSIR_BUCKETS}))
                           - ln(({DSIR_SMOOTH_INV} * cr + 1) * 1.0
                               / ({DSIR_SMOOTH_INV} * r + {DSIR_BUCKETS})))
                          * {_LLR_SCALE} + 0.5) AS BIGINT) AS lq
        FROM bc, tot
    ), ds AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(lq) AS BIGINT) AS s
        FROM fb JOIN lw USING (b)
        WHERE doc_id % {DSIR_TARGET_MOD} <> 0
        GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           {X.pround_sql(f"CAST(s AS DOUBLE) / {float(_LLR_SCALE)!r}", 6)} AS llr,
           {X.pround_sql(
               f"ln(-ln((CAST((((doc_id + {DSIR_SEED}) % {_MIX_R})"
               f" * {_MIX_A}) % {_MIX_M} AS DOUBLE) + 1.0)"
               f" / {float(_MIX_M + 1)!r}))", 6)}
           - CAST(s AS DOUBLE) / {float(_LLR_SCALE)!r} AS skey
    FROM ds
    ORDER BY skey, doc_id LIMIT {DSIR_K}
"""

ORACLE["weighted_doc_sample"] = f"""
    WITH k AS (
        SELECT doc_id, n_chars,
               {X.pround_sql(
                   f"-ln((CAST((((doc_id + {WSAMPLE_SEED}) % {_MIX_R})"
                   f" * {_MIX_A}) % {_MIX_M} AS DOUBLE) + 1.0)"
                   f" / {float(_MIX_M + 1)!r})"
                   f" / CAST(GREATEST(n_chars, 1) AS DOUBLE)", 6)} AS skey
        FROM documents
    )
    SELECT doc_id, n_chars, skey FROM k
    ORDER BY skey, doc_id LIMIT {WSAMPLE_K}
"""

ORACLE["term_pmi_pairs"] = f"""
    WITH {_TOKS_SQL}, pres AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest(ws) AS term FROM toks
        )
    ), dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM pres GROUP BY term
    ), vocab AS (
        SELECT term, df FROM dfreq ORDER BY df DESC, term ASC LIMIT {PMI_VOCAB}
    ), vp AS (
        SELECT p.doc_id, p.term FROM pres p SEMI JOIN vocab v ON p.term = v.term
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), co AS (
        SELECT a.term AS term_a, b.term AS term_b,
               CAST(count(*) AS BIGINT) AS c_ab
        FROM vp a JOIN vp b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2
        HAVING count(*) >= {PMI_MIN_CO}
    )
    SELECT term_a, term_b, va.df AS df_a, vb.df AS df_b, c_ab,
           {X.pround_sql(
               "ln((CAST(c_ab AS DOUBLE) * CAST(n.n_docs AS DOUBLE)) / "
               "(CAST(va.df AS DOUBLE) * CAST(vb.df AS DOUBLE)))", 6)} AS pmi
    FROM co
    JOIN vocab va ON va.term = co.term_a
    JOIN vocab vb ON vb.term = co.term_b, n
"""
