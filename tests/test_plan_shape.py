"""Physical-plan regression tests: the scale properties the engine is
designed around — broadcast dims, filter/limit pushdown, column pruning,
JVM-only hot paths — asserted on the actual Catalyst output so a later
edit can't silently trade them away. These are the `.explain` audits of
the build brief, frozen as tests.
"""

from __future__ import annotations

import collections
import io
import re
from contextlib import redirect_stdout

import pytest

import bench
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark import plans


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_BENCH_LOCAL: dict = {}


def _q(name, spark, sf_dir):
    reg = plans.all_queries()
    if name in reg:
        return reg[name](spark, sf_dir)
    # Bench-local queries (not in the registry): reconstruct the same
    # shape bench.py uses so the plan assertions still cover them.
    if name == "knn_ivfpq_search":
        if "ivfpq_searcher" not in _BENCH_LOCAL:
            import tempfile

            from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import (
                load_table,
            )
            from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import (
                pq_index as PI,
            )

            idx_path = tempfile.mkdtemp(prefix="planshape_ivfpq_")
            emb = load_table(spark, sf_dir, "embeddings")
            PI.build_ivfpq_index(emb, idx_path, n_cells=4, m=8, kc=16)
            _BENCH_LOCAL["ivfpq_searcher"] = PI.open_ivfpq_index(
                spark, idx_path, emb
            )
        from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import (
            load_table,
        )

        q = load_table(spark, sf_dir, "embeddings").where("vec_id < 5")
        return _BENCH_LOCAL["ivfpq_searcher"].search(q, k=5)
    raise KeyError(name)


def test_topk_uses_window_group_limit(spark, sf_dir):
    # row_number<=k must rewrite to WindowGroupLimit (partial top-k
    # before the shuffle) — the pattern that keeps "history limit 10"
    # scalable at any cardinality.
    assert "WindowGroupLimit" in _plan(_q("chat_history_topk", spark, sf_dir))


def test_dim_filters_push_to_scan(spark, sf_dir):
    p = _plan(_q("shipping_priority", spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # segment + date predicates must reach the parquet scans
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "LessThan(o_orderdate" in p


def test_small_dims_broadcast_in_multiway_join(spark, sf_dir):
    p = _plan(_q("local_supplier_volume", spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_agg_then_broadcast_join(spark, sf_dir):
    assert "BroadcastHashJoin" in _plan(_q("top_customers", spark, sf_dir))


def test_column_pruning_reaches_scan(spark, sf_dir):
    # documents has 5 columns; doc_previews touches 4 — n_chars must not
    # be read.
    p = _plan(_q("doc_previews", spark, sf_dir))
    reads = [l for l in p.splitlines() if "ReadSchema" in l]
    assert reads and all("n_chars" not in l for l in reads)


def test_string_predicate_pushdown(spark, sf_dir):
    p = _plan(_q("doc_text_search", spark, sf_dir))
    assert "StringContains(text" in p
    assert "EqualTo(lang,en)" in p


def test_knn_broadcasts_and_stays_jvm_side(spark, sf_dir):
    p = _plan(_q("knn_exact", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p  # no row-at-a-time Python
    assert "ArrowEvalPython" not in p  # fully expression-based scoring


def test_neardup_pairs_default_has_no_fulltable_broadcast(spark, sf_dir):
    # The scale-safe plan partitions both sides on (label, salt): the
    # cogrouped numpy kernel shows up as FlatMapCoGroupsInPandas over two
    # hash exchanges. Broadcasting the whole embeddings table as build
    # side dies at 100 TB, so its presence here is a regression, as is a
    # cartesian product.
    p = _plan(_q("embedding_neardup_pairs", spark, sf_dir))
    assert "BroadcastExchange" not in p
    assert (
        "FlatMapCoGroupsInPandas" in p
        or "ShuffledHashJoin" in p
        or "SortMergeJoin" in p
    )
    assert "CartesianProduct" not in p


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_headline_queries_have_no_python_rows_path(spark, sf_dir, name):
    # Every benchmarked query must stay inside the JVM: no row-at-a-time
    # Python UDFs anywhere in the hot set.
    assert "BatchEvalPython" not in _plan(_q(name, spark, sf_dir))


# The r5 verdict flagged forced broadcasts of sf-scaled tables (part,
# supplier, per-part aggregates, counts-per-doc) as the last
# scale-killers: a forced hint bypasses the size threshold, so at the
# 100 TB point the driver would try to collect a multi-GB build side.
# These tests freeze the fix — no broadcast hint may reappear in the
# ANALYZED plan of the affected queries except on fixed-cardinality
# inputs (nation=25, region=5 rows, 1-row scalar aggregates).

SCALED_NO_HINT = [
    "brand_supplier_counts",  # part, bad-supplier list
    "small_qty_avg_revenue",  # part, per-part averages
    "promotable_part_suppliers",  # part semi-join
    "promo_revenue_share",  # part (r8: hint removed)
    "disjunctive_predicate_revenue",  # part (r8: hint removed)
    "shipping_priority",  # segment-filtered customer (r8: hint removed)
]


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("name", SCALED_NO_HINT)
def test_no_forced_broadcast_on_scaled_tables(spark, sf_dir, name):
    a = _analyzed(_q(name, spark, sf_dir))
    assert "strategy=broadcast" not in a, name


def test_ngram_counts_join_is_size_gated(spark, sf_dir, monkeypatch):
    # The per-doc shingle-count side is broadcast only below a MEASURED
    # cardinality bound (Catalyst's static estimate statically
    # broadcasts the corpus² pairs side otherwise — AQE can't demote
    # it). Small corpus: counts broadcast. Above the gate: shuffle_hash
    # on counts, no broadcast hint anywhere.
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans import documents as D

    a_small = _analyzed(_q("ngram_jaccard_pairs", spark, sf_dir))
    assert a_small.count("strategy=broadcast") == 2  # ca + cb only

    monkeypatch.setattr(D, "MAX_BROADCAST_COUNTS", 0)
    a_big = _analyzed(_q("ngram_jaccard_pairs", spark, sf_dir))
    assert "strategy=broadcast" not in a_big
    assert "strategy=shuffle_hash" in a_big


def test_fixed_dims_keep_their_hint(spark, sf_dir):
    # product_type_profit joins part+supplier (scaled, unhinted) and
    # nation (fixed, hinted): exactly the nation hint survives.
    a = _analyzed(_q("product_type_profit", spark, sf_dir))
    assert a.count("strategy=broadcast") == 1


def test_scaled_tables_still_broadcast_at_bench_scale(spark, sf_dir):
    # Dropping the forced hint must not cost the small-scale plan:
    # Catalyst's size estimate (or AQE at runtime) still picks broadcast
    # for part/avg_qty at test scale.
    p = _plan(_q("small_qty_avg_revenue", spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_entire_registry_has_no_cartesian_or_row_python(spark, sf_dir):
    # Registry-wide freeze (one pass, every registered query): no plan
    # may contain a CartesianProduct (unbounded pair blowup at scale) or
    # BatchEvalPython (row-at-a-time Python UDF — the slow path the
    # engine is designed to avoid; Arrow stages show as *InPandas
    # nodes, which are allowed). A query with an *EvalPython node must
    # be listed in PYTHON_NODE_QUERIES, where the executed-plan UDF
    # guard below runs it, and may not evaluate a UDF twice.
    flagged = []
    for name, fn in plans.all_queries().items():
        p = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in p:
            flagged.append((name, "CartesianProduct"))
        if "BatchEvalPython" in p:
            flagged.append((name, "BatchEvalPython"))
        udfs = _eval_python_udfs(p)
        if udfs and name not in PYTHON_NODE_QUERIES:
            flagged.append((name, "unlisted EvalPython"))
        if any(n > 1 for n in udfs.values()):
            flagged.append((name, dict(udfs)))
    assert not flagged, flagged


# Evaluate once: a Python UDF in two *EvalPython nodes of one plan runs
# twice per row. Catalyst makes such copies when it substitutes a UDF
# column into a pushed-down or inferred filter (e.g. the size(x) > 0 it
# infers under a plain posexplode).

# The registered queries whose plans hold an *EvalPython node (the
# registry sweep above keeps this list complete). rag_chat_answers
# reads its splitter output through a pin, so its plan has none.
PYTHON_NODE_QUERIES = [
    "doc_compression_ratio",
    "recursive_chunks",
    "splitter_invariants",
]


def _split_top(args: str) -> list[str]:
    """Split ``a(x, y)#1, b(z)#2`` on its top-level commas."""
    out, depth, cur = [], 0, ""
    for ch in args:
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return out + [cur.strip()] if cur.strip() else out


def _eval_python_udfs(plan: str) -> collections.Counter:
    """UDF name → number of *EvalPython nodes evaluating it, in a
    formatted plan. Of an adaptive plan only the final (or current)
    tree counts; its initial plan repeats the same nodes."""
    tree, _, details = plan.partition("\n\n\n")
    tree = tree.split("== Initial Plan ==")[0]
    ids = set(re.findall(r"\w*EvalPython \((\d+)\)", tree))
    got: collections.Counter = collections.Counter()
    for node_id, args in re.findall(
        r"^\((\d+)\) \w*EvalPython\n(?:.*\n)*?Arguments: \[(.*)\], \[", details, re.M
    ):
        if node_id in ids:
            got.update({u.split("(", 1)[0] for u in _split_top(args)})
    return got


def _executed_plans(spark, action) -> list[str]:
    """Runs ``action`` and returns the formatted physical plan of each
    SQL execution it started, as Spark's SQL status store keeps it
    (AQE's final plan once the execution ends)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    seen = {e.executionId() for e in executions()}
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]


def test_udf_counter_reads_final_plan_only():
    plan = (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
        "   ArrowEvalPython (3)\n   +- ArrowEvalPython (2)\n"
        "+- == Initial Plan ==\n   ArrowEvalPython (5)\n   +- ArrowEvalPython (2)\n\n\n"
        "(2) ArrowEvalPython\nInput [1]: [a#1]\nArguments: [f(substring(a#1, 1, 4))#7, g(a#1)#8], [pythonUDF0#9], 200\n\n"
        "(3) ArrowEvalPython\nArguments: [f(substring(a#1, 1, 4))#7], [pythonUDF0#10], 200\n\n"
        "(5) ArrowEvalPython\nArguments: [f(substring(a#1, 1, 4))#7], [pythonUDF0#11], 200\n"
    )
    assert _eval_python_udfs(plan) == {"f": 2, "g": 1}


@pytest.fixture(scope="module")
def ingest_run(spark, tmp_path_factory):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import ingest as ING

    d = tmp_path_factory.mktemp("plan_uploads")
    page = "<!DOCTYPE html><html><body><p>" + "plan guard paragraph text. " * 90 + "</p></body></html>"
    (d / "a.html").write_text(page)
    (d / "b.html").write_text(page.replace("guard", "shape"))
    (d / "copy_of_a.html").write_text(page)
    (d / "fake.pdf").write_bytes(b"NOTAPDF" + b"x" * 100)
    (d / "notes.exe").write_bytes(b"MZ\x90\x00")
    glob = str(d) + "/*"
    return ING, glob, ING.ingest(spark, glob), str(tmp_path_factory.mktemp("plan_chunks"))


@pytest.mark.parametrize("output", ["rejected", "accepted", "chunk_write"])
def test_ingest_evaluates_each_udf_once(spark, ingest_run, output):
    _, _, res, out = ingest_run
    action = {
        "rejected": res.rejected.collect,
        "accepted": res.accepted.collect,
        "chunk_write": lambda: res.chunks.write.mode("overwrite").parquet(out),
    }[output]
    plans_run = _executed_plans(spark, action)
    assert plans_run, "no SQL execution recorded"
    for p in plans_run:
        udfs = _eval_python_udfs(p)
        assert all(n == 1 for n in udfs.values()), f"{output}: {dict(udfs)}"
        if output == "chunk_write":
            assert set(udfs) == {"decode_pages_udf", "split_udf"}, dict(udfs)
        else:  # both read the pinned classification, no Python
            assert not udfs, f"{output}: {dict(udfs)}"


def test_ingest_classification_sniffs_once(spark, ingest_run):
    ING, glob, res, _ = ingest_run
    assert _eval_python_udfs(_plan(res.files)) == {}  # a pin: no Python
    udfs = _eval_python_udfs(_plan(ING._classify(spark, glob, None)))
    assert udfs == {"sniff_mime_udf": 1}, dict(udfs)


@pytest.mark.parametrize("name", PYTHON_NODE_QUERIES)
def test_registered_query_evaluates_each_udf_once(spark, sf_dir, name):
    df = _q(name, spark, sf_dir)
    plans_run = _executed_plans(spark, df.collect)
    assert plans_run, "no SQL execution recorded"
    for p in plans_run:
        udfs = _eval_python_udfs(p)
        assert all(n == 1 for n in udfs.values()), f"{name}: {dict(udfs)}"


def test_keep_best_uses_window_group_limit(spark, sf_dir):
    # The per-cluster argmax must rewrite to WindowGroupLimit so a
    # million-doc near-dup cluster contributes one row to the final
    # shuffle, not a million.
    p = _plan(_q("neardup_keep_best", spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_minhash_candidates_are_join_free(spark, sf_dir):
    # The r6 sweep fix: candidate pairs come from per-bucket posting
    # lists (groupBy + capped explode), never a banded self-join — a
    # join here reintroduces the O(bucket²) build the 992 s regression
    # came from.
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.dedup import (
        minhash_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    p = _plan(minhash_candidates(docs))
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in p, node


def test_quartiles_has_no_unpartitioned_window(spark, sf_dir):
    # customer_spend_quartiles formerly ran ntile(4) over a global
    # (unpartitioned) sort — the single-task straggler at 100×. The
    # bucketed rewrite must leave no window without a partition spec
    # and no ntile at all.
    p = _plan(_q("customer_spend_quartiles", spark, sf_dir))
    assert "ntile" not in p
    for line in p.splitlines():
        if "windowspecdefinition(" in line:
            assert "_gbkt" in line  # every window partitioned by bucket


def test_duplicate_spans_window_only_keys_on_doc(spark, sf_dir):
    # the duplicate-gram count must be a two-phase groupBy + semi-join
    # (map-side combinable, AQE-splittable), never a count window
    # partitioned by the corpus-cardinality gram key
    p = _plan(_q("duplicate_spans", spark, sf_dir))
    for line in p.splitlines():
        if "windowspecdefinition(" in line:
            assert "doc_id" in line and " g#" not in line


def test_no_global_window_over_scaled_input_in_sources():
    # static guard: an unpartitioned Window.orderBy over corpus-scaled
    # input must not reappear anywhere in plans/. The two whitelisted
    # sites are windows over BOUNDED inputs (a ≤256-row merged quantile
    # sketch; a calendar-bounded daily aggregate).
    import glob
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(bench.__file__),
        "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark",
    )
    allowed = {
        ("plans/pipeline.py", "quantile sketch"),
        ("plans/misc.py", "daily revenue"),
        # neardup_pagerank's rank ordinals: the window input is the
        # 20-row output of a TakeOrdered limit, not a scaled table
        ("plans/vectors.py", "pagerank top-20 over limit(20)"),
        # pca_projection_gate's non-increasing check: the window input
        # is the PCA_COMPONENTS-row (=8) per-component aggregate, a
        # constant bound independent of corpus size
        ("plans/vectors.py", "pca gate over <=8 component rows"),
    }
    hits = []
    for f in glob.glob(os.path.join(pkg, "plans", "*.py")):
        for i, line in enumerate(open(f).read().splitlines(), 1):
            if re.search(r"Window\.orderBy\(", line):
                hits.append((os.path.relpath(f, pkg), i))
    assert {h[0] for h in hits} <= {a[0] for a in allowed}, hits
    assert len(hits) <= 4, hits


def test_brand_supplier_counts_dedupes_pairs_before_joins(spark, sf_dir):
    # the (partkey, suppkey) pair distinct must sit BELOW the part join
    # in the plan: the aggregate that feeds the join reads only the two
    # lineitem link keys (partial map-side agg collapses the fact table
    # to partsupp cardinality before any join shuffles it)
    p = _plan(_q("brand_supplier_counts", spark, sf_dir))
    agg_keys = [
        l for l in p.splitlines()
        if "Keys" in l and "l_partkey" in l and "l_suppkey" in l
        and "p_brand" not in l
    ]
    assert agg_keys, "pair-level distinct missing from plan"
