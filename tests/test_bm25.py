"""BM25 retrieval (operators/bm25.py): score-exact vs a local
reference implementation, ranking determinism, and the
query-term-filter plan shape."""

from __future__ import annotations

import math

import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import (
    B,
    K1,
    bm25_postings,
    bm25_search,
)

DOCS = [
    (0, "spark shuffle join join join"),
    (1, "spark broadcast join"),
    (2, "filter scan scan"),
    (3, "window agg window window agg"),
    (4, "join"),
    (5, "totally unrelated words here"),
]


def _ref_bm25(query, k1=K1, b=B):
    toks = {d: t.lower().split() for d, t in DOCS}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    scores = {}
    for term in dict.fromkeys(query.split()):
        df = sum(1 for v in toks.values() if term in v)
        if not df:
            continue
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, v in toks.items():
            tf = v.count(term)
            if tf:
                contrib = idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * len(v) / avgdl)
                )
                scores[d] = scores.get(d, 0.0) + round(contrib, 6)
    return {d: round(s, 4) for d, s in scores.items()}


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_postings(spark, docs_df):
    rows = {(r["doc_id"], r["term"]): r["tf"] for r in bm25_postings(docs_df).collect()}
    assert rows[(0, "join")] == 3 and rows[(3, "window")] == 3
    assert rows[(4, "join")] == 1 and (5, "join") not in rows


@pytest.mark.parametrize("query", ["spark join", "scan", "join window spark"])
def test_scores_match_reference(spark, docs_df, query):
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_search(spark, docs_df, [("q", query)], k=10).collect()
    }
    want = _ref_bm25(query)
    assert got == pytest.approx(want)


def test_ranking_and_ties_deterministic(spark, docs_df):
    # docs 0/1 both match "spark"; equal-score ties break by doc_id
    rows = bm25_search(spark, docs_df, [("q", "spark join")], k=10).collect()
    ranks = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    want = _ref_bm25("spark join")
    assert ranks == sorted(want, key=lambda d: (-want[d], d))


def test_k_limits_and_unknown_terms(spark, docs_df):
    rows = bm25_search(spark, docs_df, [("q", "join zzz-notaterm")], k=2).collect()
    assert len(rows) == 2  # k bound holds; unknown term contributes nothing
    rows = bm25_search(spark, docs_df, [("q", "zzz-notaterm")], k=2).collect()
    assert rows == []  # no matched postings at all


def test_multiple_queries_independent(spark, docs_df):
    rows = bm25_search(
        spark, docs_df, [("a", "scan"), ("b", "window")], k=3
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["doc_id"])
    assert by_q["a"] == [2] and by_q["b"] == [3]


def test_plan_filters_postings_before_scoring(spark, docs_df):
    """The query-term restriction must sit below the (doc, term)
    aggregation so scoring cost is O(matched), not O(corpus). Direct
    path (optimization r13): terms are filtered INSIDE the scan
    projection (the tokenized_base ``qtoks`` array filter) — no
    corpus-wide postings aggregate exists and no doc-length join is
    needed (dl rides the matched rows)."""
    plan = bm25_search(spark, docs_df, [("q", "spark")], k=3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "qtoks" in plan  # in-scan term filter feeds the aggregation
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------- RRF fusion


def test_hybrid_rrf_matches_base_rankers(spark, sf_dir):
    """The fused score of every output row equals the sum of
    pround(1/(C+rank), 6) over the document's ranks in the two base
    rankings, recomputed here from the base operators directly."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.documents import BM25_QUERIES
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans import vectors as PV
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import bm25_search
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    import math

    fused = {
        (r["query_id"], r["doc_id"]): (r["rrf_score"], r["n_rankers"], r["rank"])
        for r in PV.hybrid_rrf_fusion(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = {
        (r["query_id"], r["doc_id"]): r["rank"]
        for r in bm25_search(spark, docs, BM25_QUERIES, k=PV.RRF_K).collect()
    }
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    vec_rows = (
        PV._scored_pairs(emb, same_label_only=False)
        .where(F.col("query_id") < len(BM25_QUERIES))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PV.RRF_K)
        .collect()
    )
    names = {i: qid for i, (qid, _) in enumerate(BM25_QUERIES)}
    vec = {(names[r["query_id"]], r["neighbor_id"]): r["rank"] for r in vec_rows}

    def pround(x, d):
        p = 10 ** d
        return math.floor(x * p + 0.5) / p

    assert len(fused) == len(BM25_QUERIES) * PV.RRF_TOPK
    for (qid, doc), (score, n_rankers, rank) in fused.items():
        ranks = [m[(qid, doc)] for m in (lex, vec) if (qid, doc) in m]
        assert len(ranks) == n_rankers and ranks
        want = pround(sum(pround(1.0 / (PV.RRF_C + r), 6) for r in ranks), 4)
        assert score == want, (qid, doc)
    # per-query: ranks dense 1..TOPK, scores non-increasing
    for qid, _ in BM25_QUERIES:
        rows = sorted(
            (v[2], v[0]) for (q, _d), v in fused.items() if q == qid
        )
        assert [r for r, _ in rows] == list(range(1, PV.RRF_TOPK + 1))
        scores = [s for _, s in rows]
        assert scores == sorted(scores, reverse=True)


# ------------------------------------------------------ persistent index


def test_index_search_equals_direct(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import (
        Bm25Searcher,
        build_bm25_index,
        upsert_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    qs = [("q1", "sort merge join"), ("q2", "fast table scan")]
    direct = sorted(map(tuple, bm25_search(spark, docs, qs, k=5).collect()))

    build_bm25_index(docs, str(tmp_path / "a"))
    s = Bm25Searcher(spark, str(tmp_path / "a"))
    assert sorted(map(tuple, s.search(qs, k=5).collect())) == direct

    # split build + overlapping upsert: dupes skipped, result identical
    half = docs.agg({"doc_id": "max"}).first()[0] // 2
    build_bm25_index(docs.where(f"doc_id < {half}"), str(tmp_path / "b"))
    r = upsert_bm25_index(
        spark, str(tmp_path / "b"), docs.where(f"doc_id >= {half - 10}")
    )
    assert r["skipped"] == 10 and r["added"] > 0
    s2 = Bm25Searcher(spark, str(tmp_path / "b"))
    assert sorted(map(tuple, s2.search(qs, k=5).collect())) == direct

    # the query-time scan is bucket-partition-pruned
    plan = s.search(qs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_compaction_shrinks_files_search_unchanged(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import (
        Bm25Searcher,
        build_bm25_index,
        compact_bm25_index,
        upsert_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "c")
    build_bm25_index(docs.where("doc_id % 4 = 0"), path)
    for m in (1, 2, 3):  # three append upserts → files pile up
        upsert_bm25_index(spark, path, docs.where(f"doc_id % 4 = {m}"))
    qs = [("q1", "sort merge join")]
    before = sorted(map(tuple, Bm25Searcher(spark, path).search(qs, k=5).collect()))
    r = compact_bm25_index(spark, path)
    assert r["files_after"] < r["files_before"]
    after = sorted(map(tuple, Bm25Searcher(spark, path).search(qs, k=5).collect()))
    assert after == before
    # equal to the one-shot direct search too
    direct = sorted(map(tuple, bm25_search(spark, docs, qs, k=5).collect()))
    assert after == direct


def test_upsert_dedupes_within_batch(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import (
        Bm25Searcher,
        build_bm25_index,
        upsert_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "dup")
    build_bm25_index(docs.where("doc_id % 2 = 0"), path)
    # batch carries each new doc TWICE: tf must not double
    odd = docs.where("doc_id % 2 = 1")
    r = upsert_bm25_index(spark, path, odd.unionAll(odd))
    assert r["added"] == odd.count()
    qs = [("q1", "sort merge join"), ("q2", "fast table scan")]
    got = sorted(map(tuple, Bm25Searcher(spark, path).search(qs, k=5).collect()))
    direct = sorted(map(tuple, bm25_search(spark, docs, qs, k=5).collect()))
    assert got == direct


def test_searcher_is_consistent_snapshot(spark, sf_dir, tmp_path):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import (
        Bm25Searcher,
        build_bm25_index,
        upsert_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    half = docs.agg({"doc_id": "max"}).first()[0] // 2
    old = docs.where(f"doc_id < {half}")
    path = str(tmp_path / "snap")
    build_bm25_index(old, path)
    qs = [("q1", "sort merge join")]
    s = Bm25Searcher(spark, path)
    before = sorted(map(tuple, s.search(qs, k=5).collect()))
    # upsert AFTER open: the stale handle must return exactly its
    # open-time snapshot (old docs scored with old stats) — never a mix
    # of new postings with old n_docs/avgdl
    upsert_bm25_index(spark, path, docs.where(f"doc_id >= {half}"))
    after = sorted(map(tuple, s.search(qs, k=5).collect()))
    assert after == before
    want_old = sorted(map(tuple, bm25_search(spark, old, qs, k=5).collect()))
    assert after == want_old
    # a re-opened handle sees the upsert
    fresh = sorted(map(tuple, Bm25Searcher(spark, path).search(qs, k=5).collect()))
    want_all = sorted(map(tuple, bm25_search(spark, docs, qs, k=5).collect()))
    assert fresh == want_all
