"""BM25 ranked lexical retrieval — the classic RAG hybrid-search
counterpart to the vector k-NN stack (operators/knn.py).

Reference parity: the RAG app retrieves by embedding similarity only
(backend/chroma_utils.py); lexical BM25 is the standard companion
retriever in production RAG, so it joins the beyond-reference surface
next to TF-IDF embeddings (operators/embed.py).

Scale shape (100 TB corpus, short queries):

- The postings list (term, doc_id, tf) is ONE explode + groupBy of the
  corpus — the same shuffle any inverted index costs; persisted/
  bucketed by term it is partition-prunable per query term.
- A query touches only its own terms' postings: the plan SEMI-filters
  postings on the (tiny, broadcast) query-term list before anything
  else, so scoring cost is O(matched postings), not O(corpus).
- Document length and corpus stats (N, avgdl) are a groupBy reusing
  the postings shuffle and a 1-row broadcast aggregate.
- Top-k per query is a WindowGroupLimit (row_number <= k): each map
  task keeps k rows per query before the final shuffle.

Score: textbook Robertson/Okapi BM25 with the Lucene idf,

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(t, d) = idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Oracle note: ln() is the one place the repo's float-parity convention
(decimal-exact sums + pround; "log-space hinges on libm ulp agreement",
plans/trainprep.bigram_lm_score) is deliberately relaxed — each term
contribution is pre-rounded to 6 dp, summed in DECIMAL, and the total
re-rounded to 4 dp, so a JVM-vs-libm 1-ulp disagreement in ln flips a
hash only when a contribution lands within ~1e-16 of a 1e-6 rounding
boundary (probability ~1e-10 per matched posting, and frozen for a
fixed dataset). The ranking itself orders by the ROUNDED score with a
doc_id tiebreak, so order is ulp-stable too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import exact as X
from ..session import local_table, pin
from .dedup import tokens_col

K1 = 1.2
B = 0.75


def bm25_postings(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) — one explode + one shuffle on (doc, term).
    Persist bucketed by term for partition-pruned query-time scans."""
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(tokens_col(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def tokenized_base(docs: DataFrame, queries: list,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(doc_id, dl, qtoks): ONE tokenize pass over the corpus giving
    every document's length AND its query-term occurrences — the whole
    per-document input a direct BM25 search needs. ``qtoks`` keeps only
    tokens in the (literal, driver-known) query term set, filtered
    INSIDE the scan projection, so downstream consumers never
    re-tokenize and the only (doc, term) rows that ever shuffle are
    query-term hits (guide §2.3). dl/tf/df values are identical to the
    corpus-wide-postings formulation by construction (the term filter
    commutes with the per-(doc, term) count; dl = Σ tf over ALL terms).
    Docs with no tokens are absent — same as having no postings.

    Callers pin this frame once (it is slim: two ints + the few
    matching tokens per doc) and derive matched postings, doc lengths
    and corpus stats from it without touching the corpus again."""
    terms = sorted({
        t for _, text in queries for t in text.lower().split() if t
    })
    toks = F.filter(
        tokens_col(F.col(text_col)), lambda t: t != F.lit("")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("dl"),
            F.filter("_toks", lambda t: t.isin(terms)).alias("qtoks"),
        )
        .where(F.col("dl") > 0)
    )


def matched_from_base(base: DataFrame) -> DataFrame:
    """(doc_id, dl, term, tf) from a :func:`tokenized_base` frame: one
    explode of the (already query-term-only) token arrays + the
    (doc, term) count. ``dl`` rides the group key (functionally
    dependent on doc_id), so scoring needs NO doc-length join."""
    return (
        base.select("doc_id", "dl", F.explode("qtoks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def _corpus_stats(dl: DataFrame) -> DataFrame:
    return dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl") / F.count("*")).cast("double").alias("avgdl"),
    )


def _query_terms_df(spark: SparkSession, queries: list) -> DataFrame:
    qterms = [
        (qid, t)
        for qid, text in queries
        for t in dict.fromkeys(text.lower().split())  # dedup, keep order
        if t
    ]
    return local_table(spark, qterms, "query_id string, term string")


def _score_topk(
    qdf: DataFrame,
    matched: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared scoring tail for the direct and index paths (one source of
    truth for the float association the oracle mirrors): matched
    postings → df counts → per-(query, doc) BM25 sum → top-k window.

    If ``qdf`` carries a ``weight`` column (the PRF expansion path,
    :func:`bm25_prf_search`), each contribution is scaled by it BEFORE
    the pround/decimal-sum — original terms weight 1.0, expansion
    terms < 1."""
    df_counts = matched.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    scored = (
        F.broadcast(qdf).alias("q")
        .join(matched, "term")
        .join(F.broadcast(df_counts), "term")
    )
    if "dl" not in matched.columns:
        # index path: matched postings come off the persistent layout
        # without a length column — join the doclens frame. The direct
        # paths carry dl inside matched (matched_from_base), so no join.
        scored = scored.join(dl, "doc_id")
    scored = scored.crossJoin(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    if "weight" in qdf.columns:
        contrib = contrib * F.col("weight")
    # pre-round each contribution, sum in decimal (order-independent),
    # re-round the total — the bigram_lm_score float-parity pattern
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        X.pround(
            F.sum(X.pround(contrib, 6).cast(X.DEC)).cast("double"), 4
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("rank").cast("long").alias("rank"),
                "score")
    )


def bm25_search(
    spark: SparkSession,
    docs: DataFrame,
    queries: list,
    k: int = 5,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
    base: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents per query by BM25: (query_id, doc_id, rank,
    score). ``queries`` is a small [(query_id, text)] list — the
    broadcast side, like the k-NN query vectors.

    Physical shape (optimization r13, guide §2.3): the direct path
    never materializes corpus-wide postings — ONE tokenize pass
    (:func:`tokenized_base`) yields per-doc lengths and query-term
    tokens, matched postings aggregate only those hits, dl rides the
    matched rows (no doc-length join), and corpus stats are one
    aggregate of the base. Result rows are identical to the
    corpus-wide-postings formulation (the term filter commutes with
    the per-(doc, term) count; dl = Σ tf by definition); the plan
    drops the full-corpus (doc, term) shuffle that used to run once
    per consumer (dl, stats, matched).

    Pass ``base`` (a pinned :func:`tokenized_base` frame) when the
    caller also consumes it — e.g. Q(retrieval_eval) derives its
    relevance truth from the same tokenization. The persistent layout's
    postings are searched through :class:`Bm25Searcher`."""
    qdf = _query_terms_df(spark, queries)
    if base is None:
        # pinned: matched postings, df counts and corpus stats all read
        # the one tokenize pass instead of re-tokenizing per consumer
        base = tokenized_base(docs, queries, id_col, text_col)
        base = pin(base)
    matched = matched_from_base(base)
    dl = base.select("doc_id", "dl")
    return _score_topk(qdf, matched, None, _corpus_stats(dl), k, k1, b)


def bm25_prf_search(
    spark: SparkSession,
    docs: DataFrame,
    queries: list,
    k: int = 5,
    fb_docs: int = 3,
    fb_terms: int = 5,
    fb_weight: float = 0.4,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 with pseudo-relevance-feedback query expansion (the
    RM3/Rocchio recipe): run the base ranking, harvest the top
    ``fb_terms`` NEW terms (by summed tf, ties term-asc) from each
    query's top ``fb_docs`` documents, and re-score with the expanded
    term set — original terms at weight 1.0, expansion terms at
    ``fb_weight``. Classic recall lever for short queries; fully
    deterministic (integer tf sums pick the expansion, the weighted
    contributions follow the pround/decimal-sum parity convention), so
    the DuckDB oracle hash-matches end to end.

    Scale shape (optimization r13, guide §2.3): no corpus-wide
    postings frame exists anywhere in the plan. Pass 1 reads a pinned
    single-tokenize base (:func:`tokenized_base`: per-doc length +
    query-term tokens; corpus stats are one aggregate of it); the
    feedback docs' term harvest tokenizes only those Q·fb_docs
    documents (broadcast semi-join on doc_id below the explode); pass
    2's matched postings carry dl alongside the explode, semi-filtered
    on the (derived, tiny) expanded term broadcast before the
    (doc, term) aggregation. Nothing doc-length-joins — dl rides the
    matched rows."""
    from pyspark.sql import Window

    qdf = _query_terms_df(spark, queries)
    base = pin(tokenized_base(docs, queries, id_col, text_col))
    stats = _corpus_stats(base.select("doc_id", "dl"))
    # pinned: feedback ids feed the doc semi-filter AND the tf harvest;
    # dl rides the matched rows of both passes
    feedback = pin(_score_topk(
        qdf, matched_from_base(base), None, stats, fb_docs, k1, b
    ).select("query_id", "doc_id"))
    # expansion candidates: terms of the feedback docs, minus the
    # query's own terms, ranked by total tf across the feedback set.
    # Only the Q·fb_docs feedback documents are tokenized here — the
    # semi-join lands below the explode, so no other doc fans out.
    fb_post = (
        docs.join(
            F.broadcast(feedback.select(F.col("doc_id").alias(id_col))
                        .distinct()),
            id_col,
            "left_semi",
        )
        .select(F.col(id_col).alias("doc_id"),
                F.explode(tokens_col(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    cand = (
        feedback.join(fb_post, "doc_id")
        .join(qdf, ["query_id", "term"], "left_anti")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").cast("long").alias("w"))
    )
    we = Window.partitionBy("query_id").orderBy(
        F.desc("w"), F.asc("term")
    )
    expansion = (
        cand.withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") <= fb_terms)
        .select(
            "query_id", "term", F.lit(float(fb_weight)).alias("weight")
        )
    )
    q2 = qdf.withColumn("weight", F.lit(1.0)).unionByName(expansion)
    # pass-2 matched postings with dl riding along: one tokenize
    # pass. The expanded term set is DERIVED (not driver-literal),
    # so the in-scan filter attaches it as a broadcast 1-row
    # collect_set and filters INSIDE the token array (optimization
    # r14) — only expanded-term hits ever leave the projection.
    # The former shape exploded EVERY token of EVERY document and
    # semi-joined above the explode: a corpus-wide row fan-out
    # (plus a join) for a ~Q·(terms+fb_terms)-term filter.
    toks = F.filter(
        tokens_col(F.col(text_col)), lambda t: t != F.lit("")
    )
    q2_terms = q2.select("term").distinct().agg(
        F.collect_set("term").alias("_q2terms")
    )
    matched2 = (
        docs.crossJoin(F.broadcast(q2_terms))
        .select(F.col(id_col).alias("doc_id"), toks.alias("_toks"),
                "_q2terms")
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("dl"),
            F.explode(
                F.filter(
                    "_toks",
                    lambda t: F.array_contains(F.col("_q2terms"), t),
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    return _score_topk(q2, matched2, None, stats, k, k1, b)


# ------------------------------------------------- persistent index
#
# Parquet layout (the IVF/PQ treatment applied to lexical search):
#
#   <path>/postings/bucket=<b>/…   (term, doc_id, tf), bucket =
#                                  pmod(xxhash64(term), n_buckets) —
#                                  a query reads ONLY its terms'
#                                  bucket partitions (partition
#                                  pruning) and pushes term equality
#                                  into the scan
#   <path>/doclens/…               (doc_id, dl) — slim, one row/doc
#   <path>/meta/…                  (n_buckets) — 1 row
#
# Upserts are append-only and exactly correct by construction: a
# document's postings and length are doc-local facts, and the corpus
# stats (N, avgdl) derive from doclens at open — so an index built
# incrementally over any batch split equals the index built in one
# shot, row for row (the streaming-gate equivalence).


def build_bm25_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    spark = docs.sparkSession
    postings = bm25_postings(docs, id_col, text_col).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    postings.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(os.path.join(path, "postings"))
    dl = (
        spark.read.parquet(os.path.join(path, "postings"))
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("dl"))
    )
    dl.write.mode("overwrite").parquet(os.path.join(path, "doclens"))
    local_table(spark, [(n_buckets,)], "n_buckets int").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def delete_bm25_docs(spark: SparkSession, path: str, doc_ids) -> dict:
    """Purge documents from the persistent BM25 layout — the lexical
    index's half of the reference's /delete-doc (which removes a
    document from BOTH stores: backend/main.py:443-486 +
    chroma_utils.py:174). ``doc_ids`` is a list or a 1-column
    DataFrame.

    - postings: a document's terms hash to arbitrary buckets, so the
      locate pass is a column-pruned (doc_id, bucket) probe; only the
      buckets that actually hold a victim's postings rewrite (dynamic
      partition overwrite, operators/partdelete.py);
    - doclens: slim (one (id, long) row per doc) and unpartitioned —
      anti-filter rewrite of the whole table;
    - corpus stats (N, avgdl) and per-term df are DERIVED from the
      surviving rows at open/search time, so correctness after delete
      is free: a searcher opened post-delete is row-identical to one
      over an index built from the surviving corpus
      (Q(purge_document_gate), tests/test_index_delete.py).

    An OPEN Bm25Searcher keeps serving its open-time snapshot's doc set
    but reads postings from disk — re-open after a delete, exactly as
    after an upsert. Idempotent: deleting an absent id is a no-op."""
    from .partdelete import anti_filter, delete_ids_from_layout

    n_postings, touched = delete_ids_from_layout(
        spark, os.path.join(path, "postings"), doc_ids, "doc_id", "bucket"
    )
    dlp = os.path.join(path, "doclens")
    dl = spark.read.parquet(dlp)
    kept = pin(anti_filter(dl, doc_ids, "doc_id"), eager=True)
    deleted_docs = dl.count() - kept.count()
    if deleted_docs:
        kept.write.mode("overwrite").parquet(dlp)
    return {
        "deleted_docs": int(deleted_docs),
        "deleted_postings": int(n_postings),
        "touched_buckets": touched,
    }


def upsert_bm25_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "skip",
) -> dict:
    """Merge a batch of documents into the persistent layout.

    - ``mode="skip"`` (default): documents already in the index are
      skipped — postings are doc-local, so append-only upserts keep the
      index exactly equal to a one-shot build over distinct doc_ids.
      This is the right mode for append-only corpora and replayed
      micro-batches (exactly-once via the doclens-membership anti-join).
    - ``mode="replace"``: a batch id already present is DELETED first
      (delete_bm25_docs — only its buckets rewrite) and its new content
      appended — re-crawl semantics, where a changed page must not keep
      stale postings. Search results after a replace upsert are
      row-identical to an index built fresh from the updated corpus
      (tests/test_index_delete.py). NOT idempotent-by-skip like "skip"
      mode, but idempotent in effect: replaying the same batch deletes
      and re-appends identical content.
    """
    if mode not in ("skip", "replace"):
        raise ValueError(f"mode must be 'skip' or 'replace', got {mode!r}")
    n_buckets = spark.read.parquet(os.path.join(path, "meta")).first()[
        "n_buckets"
    ]
    existing = spark.read.parquet(os.path.join(path, "doclens")).select(
        F.col("doc_id").alias(id_col)
    )
    n_in = docs.count()
    # dedupe WITHIN the batch too: two rows sharing a new doc_id would
    # otherwise merge their term counts into one doubled posting set,
    # breaking the equals-a-one-shot-build invariant (and the skipped
    # count). One arbitrary-but-single row per id survives.
    # PIN the surviving rows: dropDuplicates keeps an arbitrary row per
    # id, and three separate actions (the added-count, the postings
    # write, the doclens write) would each re-evaluate the plan — under
    # AQE/speculation they could keep DIFFERENT rows, leaving doclens
    # inconsistent with the written postings for that doc. The
    # checkpoint also stops the anti-join+dedupe from recomputing 3×.
    replaced = 0
    stale = None
    if mode == "replace":
        fresh = pin(docs.dropDuplicates([id_col]), eager=True)
        stale = pin(fresh.select(id_col).join(
            F.broadcast(existing), id_col, "left_semi"
        ), eager=True)
        replaced = delete_bm25_docs(spark, path, stale)["deleted_docs"]
    else:
        fresh = pin(docs.join(existing, id_col, "left_anti")
                    .dropDuplicates([id_col]), eager=True)
    postings = bm25_postings(fresh, id_col, text_col)
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    added = dl.count()
    if added:
        postings.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        ).repartition("bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(os.path.join(path, "postings"))
        dl.write.mode("append").parquet(os.path.join(path, "doclens"))
    # "added" = genuinely new docs indexed; a replaced doc re-appending
    # counts under "replaced", not "added" (and a replaced doc whose new
    # text has no tokens simply ends deleted — still "replaced")
    n_re = (
        dl.join(
            F.broadcast(stale.withColumnRenamed(id_col, "doc_id")),
            "doc_id",
            "left_semi",
        ).count()
        if stale is not None and replaced
        else 0
    )
    return {
        "added": int(added - n_re),
        "replaced": int(replaced),
        "skipped": int(n_in - added),
    }


def _parquet_file_count(root: str) -> int:
    n = 0
    for _dir, _sub, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_bm25_index(spark: SparkSession, path: str) -> dict:
    """Rewrite the postings and doclens layouts at one file per
    partition. Append-only upserts add a parquet file per touched
    bucket per upsert, so at crawl-scale cadence the query-time scan's
    file listing and task count grow with UPSERT COUNT, not data size —
    the classic small-files problem. Compaction is content-neutral:
    search results are row-identical before and after (asserted in
    tests). Returns {"files_before", "files_after"}."""
    pp = os.path.join(path, "postings")
    dp = os.path.join(path, "doclens")
    before = _parquet_file_count(pp) + _parquet_file_count(dp)
    # materialize BEFORE overwriting the input paths (the pq_index
    # upsert pattern)
    postings = pin(spark.read.parquet(pp), eager=True)
    doclens = pin(spark.read.parquet(dp), eager=True)
    postings.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(pp)
    doclens.coalesce(max(1, doclens.rdd.getNumPartitions() // 8)).write.mode(
        "overwrite"
    ).parquet(dp)
    return {
        "files_before": before,
        "files_after": _parquet_file_count(pp) + _parquet_file_count(dp),
    }


class Bm25Searcher:
    """Search-many handle over a persistent BM25 layout: meta and the
    two corpus stats load ONCE at open (bounded driver state: two
    numbers); every :meth:`search` runs only the bucket-pruned postings
    scan + scoring. The handle is a CONSISTENT snapshot of open time:
    doclens is pinned (checkpointed) at open and search restricts
    matched postings to the snapshot's doc set, so an upsert after open
    changes nothing this handle returns — never a mixed state where new
    postings score against old n_docs/avgdl. Re-open to see upserts."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.n_buckets = spark.read.parquet(os.path.join(path, "meta")).first()[
            "n_buckets"
        ]
        # the SAME 1-row aggregate the direct path cross-joins, kept as
        # a DataFrame so the scoring float association is identical.
        # Both pinned eagerly (doclens is slim: one (id, long) row per
        # doc, distributed in executor storage) — the snapshot contract.
        self._dl = pin(
            spark.read.parquet(os.path.join(path, "doclens")), eager=True
        )
        self._stats = pin(self._dl.agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.sum("dl") / F.count("*")).cast("double").alias("avgdl"),
        ), eager=True)

    def search(self, queries: list, k: int = 5, k1: float = K1,
               b: float = B) -> DataFrame:
        qdf = _query_terms_df(self.spark, queries)
        # bucket ids computed with the engine's own xxhash64 (bounded
        # collect: one row per distinct query term)
        trows = (
            qdf.select("term")
            .distinct()
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(self.n_buckets)).cast("int"),
            )
            .collect()
        )
        terms = [r["term"] for r in trows]
        buckets = sorted({r["bucket"] for r in trows})
        matched = (
            self.spark.read.parquet(os.path.join(self.path, "postings"))
            .where(F.col("bucket").isin(buckets))  # partition pruning
            .where(F.col("term").isin(terms))  # pushed into the scan
            .select("term", "doc_id", "tf")
            # snapshot consistency: postings appended since open must
            # not leak into df counts while their docs are absent from
            # the pinned stats — restrict to open-time docs
            .join(self._dl.select("doc_id"), "doc_id", "left_semi")
        )
        return _score_topk(qdf, matched, self._dl, self._stats, k, k1, b)
