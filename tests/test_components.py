"""Connected components: transitive closure of near-dup pairs."""

from __future__ import annotations

import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.components import (
    connected_components,
)


def _resolve(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df, **kw).collect()
    return {r["node"]: r["component"] for r in rows}


def test_chain_merges_transitively(spark):
    # A~B, B~C, C~D: one component rooted at the min id, despite no
    # direct A~D edge — the property pairwise dedup output lacks.
    got = _resolve(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_merge_of_two_clusters_via_bridge(spark):
    got = _resolve(spark, [(5, 6), (8, 9), (6, 8)])
    assert got == {5: 5, 6: 5, 8: 5, 9: 5}


def test_edge_direction_irrelevant(spark):
    assert _resolve(spark, [(7, 2)]) == _resolve(spark, [(2, 7)]) == {2: 2, 7: 2}


def test_long_path_converges(spark):
    # force the DISTRIBUTED propagation path (the driver fast path
    # would trivially pass): O(log diameter) pointer jumping
    n = 25
    got = _resolve(spark, [(i, i + 1) for i in range(n)],
                   max_driver_edges=0)
    assert set(got.values()) == {0}


def test_driver_fast_path_equals_distributed(spark):
    # the size-gated union-find must agree with label propagation on
    # an adversarial mix: chains, bridges, self-loops, singleton pairs
    import random

    rng = random.Random(0)
    edges = [(i, i + 1) for i in range(0, 40, 2)]
    edges += [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    fast = _resolve(spark, edges)  # small graph -> driver path
    slow = _resolve(spark, edges, max_driver_edges=0)
    assert fast == slow


def _rows_digest(df) -> str:
    import hashlib

    rows = sorted(tuple(r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _pin_paths(spark, sf_dir, work, ckpt=None) -> dict:
    """Answers of four paths that pin: the distributed components and
    BFS loops (lazy pins), the neardup plan entry, and one eager
    pin-before-overwrite write path. With ``ckpt``, each answer is
    followed by the number of files the checkpoint dir then holds.
    Runs unchanged in the test session and in a child process whose
    session sets ``spark.checkpoint.dir``."""
    import os

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bfs import bfs_hops
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bm25 import (
        build_bm25_index,
        compact_bm25_index,
        upsert_bm25_index,
    )
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.documents import (
        neardup_components,
    )

    out: dict = {}

    def record(name, value):
        out[name] = value
        if ckpt is not None:
            out[name + ".files"] = sum(len(fs) for _, _, fs in os.walk(ckpt))

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    cc = connected_components(edges, max_driver_edges=0)
    record("components", sorted(map(list, cc.collect())))
    seeds = spark.createDataFrame([(1,), (10,)], "node long")
    hops = bfs_hops(edges, seeds, 2, max_driver_edges=0)
    record("bfs", sorted(map(list, hops.collect())))
    record("neardup", _rows_digest(neardup_components(spark, sf_dir)))
    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(work, "bm25")
    build_bm25_index(docs.where("doc_id % 2 = 0"), path)
    upsert_bm25_index(spark, path, docs.where("doc_id % 2 = 1"))
    compact_bm25_index(spark, path)
    record("bm25", [
        _rows_digest(spark.read.parquet(os.path.join(path, part)))
        for part in ("postings", "doclens")
    ])
    return out


_RELIABLE_CHILD = """
import json, sys
from pyspark.sql import SparkSession
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import tune_for_oracle
from tests.test_components import _pin_paths

sf_dir, work, ckpt = sys.argv[1:4]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.checkpoint.dir", ckpt)
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
tune_for_oracle(spark)
assert spark.sparkContext.getCheckpointDir() is not None
print(json.dumps(_pin_paths(spark, sf_dir, work, ckpt)))
spark.stop()
"""


@pytest.fixture(scope="module")
def pin_runs(spark, sf_dir, tmp_path_factory):
    """``(local, reliable)`` answers of ``_pin_paths``: once in the test
    session (no checkpoint dir, so local pins) and once in a child
    process whose session sets ``spark.checkpoint.dir``. The reliable
    session is a child process: a checkpoint dir on the shared test
    SparkContext would switch every later test to reliable pins."""
    import json
    import os
    import subprocess
    import sys

    tmp = tmp_path_factory.mktemp("pins")
    assert spark.sparkContext.getCheckpointDir() is None
    local = _pin_paths(spark, sf_dir, str(tmp / "local"))

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [root, os.environ.get("PYTHONPATH", "")]
    ))
    proc = subprocess.run(
        [sys.executable, "-c", _RELIABLE_CHILD, sf_dir,
         str(tmp / "reliable"), str(tmp / "ckpt")],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return local, json.loads(proc.stdout.strip().splitlines()[-1])


def test_checkpoint_mode_forces_distributed(pin_runs):
    # sanity: the reliable-mode coverage must actually exercise the
    # distributed rounds, not the driver shortcut — with
    # max_driver_edges=0 the components loop pins, so files land
    _, reliable = pin_runs
    assert reliable["components.files"] > 0


def test_reliable_checkpoint_mode(pin_runs):
    """spark.checkpoint.dir engages reliable checkpoint() in
    connected_components: same answer as local pins, and RDD checkpoint
    files actually land in the directory (the cluster-fault-tolerant
    mode the 100 TB deployment uses)."""
    local, reliable = pin_runs
    assert reliable["components"] == local["components"] == [
        [1, 1], [2, 1], [3, 1], [4, 1], [10, 10], [11, 10]
    ]
    assert reliable["components.files"] > 0, "reliable checkpoint wrote no files"


def test_env_knob_drives_plan_entry_checkpointing(pin_runs):
    """The spark.checkpoint.dir conf routes the neardup plan entry onto
    reliable checkpoint() without code edits (cluster deployment knob);
    unset, the default localCheckpoint path gives the same answer."""
    local, reliable = pin_runs
    assert reliable["neardup"] == local["neardup"]
    assert reliable["neardup.files"] > reliable["bfs.files"], (
        "conf-driven reliable checkpoint wrote no files"
    )


def test_reliable_pins_land_in_checkpoint_dir(pin_runs):
    """A session with ``spark.checkpoint.dir`` set turns every pin into a
    reliable checkpoint: each path writes files into the dir, and its
    answers equal the local-checkpoint answers."""
    local, reliable = pin_runs
    files = 0
    for name, answer in local.items():
        assert reliable[name] == answer, name
        assert reliable[name + ".files"] > files, f"{name} wrote no checkpoint files"
        files = reliable[name + ".files"]


# --- k-core peeling ------------------------------------------------------


def _brute_k_core(edges, k):
    adj: dict = {}
    es = set()
    for a, b in edges:
        if a == b:
            continue
        a, b = min(a, b), max(a, b)
        if (a, b) not in es:
            es.add((a, b))
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return set(adj)


def _spark_k_core(spark, edges, k):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.components import (
        k_core,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"] for r in k_core(df, k=k).collect()}


def test_k_core_triangle_survives_tail_peeled(spark):
    # triangle + pendant chain: 2-core is exactly the triangle
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    assert _spark_k_core(spark, edges, 2) == {1, 2, 3}


def test_k_core_cascading_peel(spark):
    # peeling 5 exposes 4, which exposes 3: multi-round cascade ending
    # at the square
    edges = [(1, 2), (2, 6), (6, 7), (7, 1), (1, 3), (3, 4), (4, 5)]
    assert _spark_k_core(spark, edges, 2) == _brute_k_core(edges, 2)
    assert _spark_k_core(spark, edges, 2) == {1, 2, 6, 7}


def test_k_core_empty_when_tree(spark):
    edges = [(1, 2), (1, 3), (1, 4), (4, 5)]
    assert _spark_k_core(spark, edges, 2) == set()


def test_k_core_k3_randomized(spark):
    import random

    rng = random.Random(31)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(80)]
    for k in (2, 3, 4):
        assert _spark_k_core(spark, edges, k) == _brute_k_core(edges, k), k
