"""SemDeDup (operators/semdedup.py): brute-force parity of the
upper-triangular prune rule, both priority orders, domain contract,
and the registered gate/exhaustive plan queries."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.semdedup import (
    assign_cells,
    semdedup,
)

TAU = 0.5


def _brute_kept(ids, vecs, cells, tau, order_key=None):
    """Reference triu rule: prune i iff some same-cell j with higher
    priority (smaller order key; default = id) has cos(i,j) >= tau."""
    vecs = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    keys = order_key if order_key is not None else list(ids)
    kept = {}
    for i, vid in enumerate(ids):
        pruned = False
        for j, wid in enumerate(ids):
            if cells[i] != cells[j] or i == j:
                continue
            if (keys[j], wid) >= (keys[i], vid):
                continue
            cos = float(vecs[i] @ vecs[j]) / (norms[i] * norms[j])
            if cos >= tau:
                pruned = True
                break
        kept[vid] = not pruned
    return kept


def _mkvec(base, noise, rng, dim=64):
    v = np.zeros(dim)
    v[base] = 1.0
    v += noise * rng.standard_normal(dim)
    return [float(x) for x in v]


@pytest.fixture(scope="module")
def corpus(spark):
    """3 well-separated direction families with near-dup members —
    decisions are robust to float wiggle (margins ~0.9 vs ~0.1)."""
    rng = np.random.default_rng(7)
    rows = []
    for vid in range(60):
        fam = vid % 3
        rows.append((vid, _mkvec(fam, 0.05, rng)))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_exhaustive_matches_brute_force(spark, corpus):
    got = {
        r.vec_id: r.kept
        for r in semdedup(corpus, n_cells=1, threshold=TAU).collect()
    }
    pdf = corpus.orderBy("vec_id").collect()
    ids = [r.vec_id for r in pdf]
    vecs = [r.embedding for r in pdf]
    want = _brute_kept(ids, vecs, [0] * len(ids), TAU)
    assert got == want
    # the three families each keep exactly one representative
    assert sum(got.values()) == 3


def test_multi_cell_decisions_are_cell_local(spark, corpus):
    assigned = assign_cells(corpus, n_cells=3).collect()
    ids = [r.vec_id for r in assigned]
    vecs = [r.embedding for r in assigned]
    cells = [r.cell for r in assigned]
    want = _brute_kept(ids, vecs, cells, TAU)
    got = {
        r.vec_id: r.kept
        for r in semdedup(corpus, n_cells=3, threshold=TAU).collect()
    }
    assert got == want


def test_numpy_assignment_path_matches_brute_force(spark, corpus):
    # 40 cells, most of them empty: decisions must still match the
    # triu rule under the assignment kernel's own cells
    import numpy as np

    rng = np.random.default_rng(11)
    cents = rng.standard_normal((40, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    assigned = assign_cells(corpus, 40, centroids=cents).collect()
    ids = [r.vec_id for r in assigned]
    vecs = [r.embedding for r in assigned]
    cells = [r.cell for r in assigned]
    want = _brute_kept(ids, vecs, cells, TAU)
    got = {
        r.vec_id: r.kept
        for r in semdedup(
            corpus, n_cells=40, threshold=TAU, centroids=cents
        ).collect()
    }
    assert got == want


def test_engines_agree(spark, corpus):
    # one pair kernel: both plans over it (the duplicate-collapse
    # rewrite and the direct scoring) give the triu rule's decisions
    rows = assign_cells(corpus, n_cells=3).collect()
    kept = _brute_kept(
        [r.vec_id for r in rows], [r.embedding for r in rows],
        [r.cell for r in rows], TAU,
    )
    want = {(r.vec_id, r.cell, kept[r.vec_id]) for r in rows}
    for collapse in (True, False):
        got = {
            (r.vec_id, r.cell, r.kept)
            for r in semdedup(
                corpus, n_cells=3, threshold=TAU, collapse=collapse
            ).collect()
        }
        assert got == want, collapse


def test_centroid_order_keeps_least_typical(spark):
    # one tight family: member 2 is pushed furthest from the centroid,
    # so centroid order must keep exactly it; id order keeps member 0
    base = np.zeros(64)
    base[0] = 1.0
    off = np.zeros(64)
    off[1] = 0.45  # far from centroid but still cos >= TAU with family
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 1.01]),
        (2, [float(x) for x in base + off]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    by_id = {r.vec_id: r.kept for r in semdedup(df, threshold=TAU).collect()}
    assert by_id == {0: True, 1: False, 2: False}
    by_c = {
        r.vec_id: r.kept
        for r in semdedup(df, threshold=TAU, order="centroid").collect()
    }
    assert by_c == {0: False, 1: False, 2: True}


def test_identical_vectors_keep_smallest_id(spark):
    v = [1.0] + [0.0] * 63
    rows = [(i, v) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for collapse in (True, False):
        got = {
            r.vec_id: r.kept
            for r in semdedup(df, threshold=TAU, collapse=collapse).collect()
        }
        assert got == {0: True, 1: False, 2: False, 3: False, 4: False}


def test_zero_norm_and_null_outside_domain(spark):
    rows = [
        (0, [1.0] + [0.0] * 63),
        (1, [0.0] * 64),  # zero norm
        (2, None),  # null embedding
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = semdedup(df, threshold=TAU).collect()
    assert {r.vec_id for r in got} == {0}
    assert got[0].kept


def test_order_validation(spark, corpus):
    with pytest.raises(ValueError, match="order"):
        semdedup(corpus, order="random")


def test_registered_queries(spark, sf_dir):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.vectors import (
        semdedup_exhaustive,
        semdedup_production,
        semdedup_prune_gate,
    )

    ex = semdedup_exhaustive(spark, sf_dir)
    assert ex.columns == ["vec_id", "kept"]
    n = ex.count()
    assert n > 0
    gate = semdedup_prune_gate(spark, sf_dir).collect()
    assert len(gate) == 1
    assert gate[0].passed, gate[0]
    prod = semdedup_production(spark, sf_dir).collect()
    assert len(prod) == n  # same domain: every non-null vector decided
    kept = sum(1 for r in prod if r.kept)
    assert 0 < kept <= n


@pytest.mark.parametrize("order", ["descending", "ascending"])
def test_streaming_fold_equals_batch(spark, sf_dir, tmp_path, monkeypatch, order):
    """Two epochs of SemDedupState.apply_batch on a frozen quantizer give
    the one-shot batch decisions. Descending ids: the second epoch's
    new vectors must demote history vectors. Ascending ids: every new
    vector has a larger id than all history, so the fold must score
    the new × history pairs whose new side has the larger id."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.knn import (
        fit_centroids,
    )
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming import (
        semdedup as SS,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = fit_centroids(emb, 4, "embedding")
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    mid = ids[len(ids) // 2]
    low = emb.where(F.col("vec_id") < mid).localCheckpoint(eager=True)
    high = emb.where(F.col("vec_id") >= mid).localCheckpoint(eager=True)
    descending = order == "descending"
    first, second = (high, low) if descending else (low, high)

    scored = []
    kernel = SS.cosine_pairs
    monkeypatch.setattr(
        SS, "cosine_pairs", lambda *a: scored.append(kernel(*a)) or scored[-1]
    )
    st = SS.SemDedupState(str(tmp_path / "sd"), cents, 0.3)
    assert st.apply_batch(first, 0) is True
    after_first = {r.vec_id: r.kept for r in st.decisions(spark).collect()}
    assert st.apply_batch(second, 1) is True
    got = {(r.vec_id, r.cell, r.kept) for r in st.decisions(spark).collect()}
    want = {
        (r.vec_id, r.cell, r.kept)
        for r in semdedup(
            emb, n_cells=4, threshold=0.3, order="id", centroids=cents
        ).collect()
    }
    assert got == want
    flipped = {v for v, _, kept in got if not kept and after_first.get(v)}
    fresh_pruned = {v for v, _, kept in got if not kept and v not in after_first}
    # the case each order exists for actually occurs
    assert flipped if descending else fresh_pruned

    # each fold scores its pairs in one cogroup, no other pair join
    plan = scored[-1]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert "Join" not in plan


def test_one_pair_scorer_in_the_package():
    """One exact cosine pair scorer: the only ``.cogroup(`` and the only
    salt replication (``F.sequence(F.lit(0), …salts…)``) in the package
    live in operators/semdedup.cosine_pairs, and no pair entry point
    takes an engine or salting option."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark"
    kernel_py = os.path.join(pkg, "operators", "semdedup.py")
    found = []
    for dp, _dirs, files in os.walk(os.path.join(root, pkg)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            rel = os.path.relpath(path, root)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            tree = ast.parse(src, path)
            kernel = set()
            if rel == kernel_py:
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name == "cosine_pairs":
                        kernel = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name in (
                    "embedding_neardup_pairs_df", "semdedup"
                ):
                    args = node.args.args + node.args.kwonlyargs
                    for a in args:
                        if a.arg in ("engine", "broadcast_build", "salts"):
                            found.append(f"{rel}:{node.lineno}: {node.name}({a.arg}=)")
                if not isinstance(node, ast.Call) or id(node) in kernel:
                    continue
                fn = node.func
                if isinstance(fn, ast.Attribute) and fn.attr == "cogroup":
                    found.append(f"{rel}:{node.lineno}: .cogroup(")
                if (
                    isinstance(fn, ast.Attribute) and fn.attr == "sequence"
                    and len(node.args) == 2
                    and isinstance(node.args[0], ast.Call)
                    and isinstance(node.args[0].func, ast.Attribute)
                    and node.args[0].func.attr == "lit"
                    and len(node.args[0].args) == 1
                    and isinstance(node.args[0].args[0], ast.Constant)
                    and node.args[0].args[0].value == 0
                    and "salt" in ast.get_source_segment(src, node.args[1]).lower()
                ):
                    found.append(f"{rel}:{node.lineno}: salt replication")
    assert not found, "second pair scorer in the package:\n" + "\n".join(found)
