"""One exactly-once stream path: no module of the package starts a
``foreachBatch`` query, waits on a query, or names the committed-epoch
marker, except streaming/epochs.py."""

from __future__ import annotations

import ast
import os

PACKAGE = "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark"
HOME = os.path.join(PACKAGE, "streaming", "epochs.py")
CALLS = {"foreachBatch", "awaitTermination"}
MARKER = "last_committed_epoch.txt"


def _stream_uses(root: str) -> tuple[list[str], list[str]]:
    """(``file:line`` of every use outside epochs.py, uses inside it)."""
    outside, inside = [], []
    for dp, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            rel = os.path.relpath(path, os.path.dirname(root))
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in CALLS):
                    use = f".{node.func.attr}("
                elif isinstance(node, ast.Constant) and node.value == MARKER:
                    use = repr(MARKER)
                else:
                    continue
                if rel == HOME:
                    inside.append(use)
                else:
                    outside.append(f"{rel}:{node.lineno}: {use}")
    return outside, inside


def test_streams_start_drain_and_commit_only_in_epochs():
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PACKAGE)
    outside, inside = _stream_uses(root)
    assert not outside, "stream starts/drains/markers outside streaming/epochs.py:\n" + "\n".join(outside)
    assert sorted(inside) == sorted([".foreachBatch(", ".awaitTermination(", repr(MARKER)]), (
        "streaming/epochs.py no longer holds the one start, drain and marker"
    )
