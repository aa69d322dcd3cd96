from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Long-running suites deselected from a plain ``pytest tests/`` run so
# the default gate finishes inside a CI/driver window (the r13 driver's
# pytest run was cut off at ~22% of the full suite — an
# invisible-failure risk), measured with per-test --durations: the RAG
# chat end-to-end and stream-gate modules, and the single tests below.
# The persistent-index tier (BM25 and IVF-PQ build-upsert-delete-stream
# cycles: test_filtered_ann, test_index_delete, test_pq_index,
# test_stream_exactly_once) runs in the default tier: measured 33, 70,
# 32 and 29 s per module on a 4-core host, no single test over 14 s.
# Coverage is NOT deleted: run the slow set with ``-m slow``, or
# everything with SPARK_GRAFT_FULL_TESTS=1 (or any explicit -m
# expression, which disables this default entirely).
SLOW_MODULES = {
    "test_chat",
    "test_streamgate",
}

# Individual long-running tests inside otherwise-fast modules
# (measured 12-281 s each): the registry-wide plan sweep builds every
# registered query plan, two parity tests are themselves index/stream
# integration cycles, and the AES-256 (PDF 2.0) password test runs the
# R6 hardened hash's pure-Python AES-CBC rounds many times over. Every
# entry must name a test of its module: a stale one fails collection.
SLOW_TESTS = {
    "test_plan_shape.py::test_entire_registry_has_no_cartesian_or_row_python",
    "test_oracle_parity.py::test_query_matches_oracle[purge_document_gate]",
    "test_oracle_parity.py::test_query_matches_oracle[streaming_equivalence_gate]",
    "test_minidecode.py::test_pdf_aesv3_nonblank_password_stubs",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running index-maintenance suites and tests, deselected from "
        'plain runs (select with -m slow, or run all with -m "slow or '
        'not slow" / SPARK_GRAFT_FULL_TESTS=1)',
    )


def pytest_collection_modifyitems(config, items):
    tails = set()
    for it in items:
        mod = it.nodeid.split("::", 1)[0].rsplit("/", 1)[-1].removesuffix(".py")
        tail = "::".join(
            [it.nodeid.split("::", 1)[0].rsplit("/", 1)[-1]]
            + it.nodeid.split("::")[1:]
        )
        tails.add(tail)
        if mod in SLOW_MODULES or tail in SLOW_TESTS:
            it.add_marker(pytest.mark.slow)
    # a stale entry (its test renamed or deleted) would silently stop
    # marking anything slow; checked in every module collected whole,
    # not picked by node id
    picked = {a.split("::", 1)[0].rsplit("/", 1)[-1] for a in config.args if "::" in a}
    files = {t.split("::", 1)[0] for t in tails} - picked
    stale = sorted(t for t in SLOW_TESTS if t.split("::", 1)[0] in files and t not in tails)
    if stale:
        raise pytest.UsageError(f"SLOW_TESTS names no collected test: {stale}")
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    if config.getoption("-m"):
        return  # an explicit -m expression takes full control
    selected = [it for it in items if "slow" not in it.keywords]
    deselected = [it for it in items if "slow" in it.keywords]
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ai-tutor-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
