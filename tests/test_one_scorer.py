"""One exact scorer and one persistent vector index: every exact
query-candidate cosine in operators/ and plans/ is built by
``knn.cosine_scored`` (semdedup's within-group self-score aside), and
nothing imports the retired IVF-flat layout module."""

from __future__ import annotations

import ast
import os

PACKAGE = "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (file, function) whose body may call ``V.dot(``
DOT_ALLOWED = {
    (f"{PACKAGE}/operators/knn.py", "cosine_scored"),
    (f"{PACKAGE}/operators/semdedup.py", "embedding_neardup_pairs_df"),
}
SCORER = (f"{PACKAGE}/operators/knn.py", "cosine_scored")
NORM_PRODUCT = 'F.col("qnorm") * F.col("cnorm")'
#: the retired IVF-flat layout module, operators/<RETIRED>.py; spelled in
#: two pieces so a text search for the retired name finds only live code
RETIRED = "ann" "_index"


def _py_files(*dirs):
    for d in dirs:
        top = os.path.join(ROOT, d)
        if os.path.isfile(top):
            yield d
            continue
        for dp, _dirs, files in os.walk(top):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.relpath(os.path.join(dp, f), ROOT)


def _parse(rel):
    with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
        src = fh.read()
    return src, ast.parse(src, rel)


def _function_lines(tree, name):
    """Line span of every top-level or nested function ``name``."""
    return {
        ln
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and node.name == name
        for ln in range(node.lineno, node.end_lineno + 1)
    }


def test_one_exact_cosine_scorer():
    found = []
    for rel in _py_files(PACKAGE):
        src, tree = _parse(rel)
        dot_ok = set()
        for f, fn in DOT_ALLOWED:
            if rel == f:
                dot_ok |= _function_lines(tree, fn)
        scorer = _function_lines(tree, SCORER[1]) if rel == SCORER[0] else set()
        sub = rel.split("/")[1] if rel.count("/") > 1 else ""
        if sub in ("operators", "plans"):
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "dot"
                        and isinstance(node.func.value, ast.Name)
                        and node.func.value.id == "V"
                        and node.lineno not in dot_ok):
                    found.append(f"{rel}:{node.lineno}: V.dot( outside the scorer")
        for i, line in enumerate(src.splitlines(), 1):
            if NORM_PRODUCT in line and i not in scorer:
                found.append(f"{rel}:{i}: {NORM_PRODUCT} outside the scorer")
    assert not found, (
        "an exact cosine built outside knn.cosine_scored:\n" + "\n".join(found)
    )


def test_no_import_of_the_retired_ivf_flat_module():
    found = []
    for rel in _py_files(PACKAGE, "tests", "tools", "bench.py", "perfbench"):
        _src, tree = _parse(rel)
        for node in ast.walk(tree):
            names = []
            if isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [
                    f"{node.module}.{a.name}" for a in node.names
                ]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            if any(n.split(".")[-1] == RETIRED for n in names):
                found.append(f"{rel}:{node.lineno}")
    assert not found, f"import of operators.{RETIRED}:\n" + "\n".join(found)
