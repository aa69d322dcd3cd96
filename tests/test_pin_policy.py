"""One pin policy: no module of the package pins a frame, or sets a
checkpoint dir, except through ``session.pin``."""

from __future__ import annotations

import ast
import os

PACKAGE = "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark"
PIN_CALLS = {"localCheckpoint", "checkpoint", "setCheckpointDir"}


def _pin_calls(root: str) -> tuple[list[str], int]:
    """(``file:line`` of every pin call outside ``session.pin``, number
    of pin calls inside it)."""
    outside, inside = [], 0
    for dp, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            rel = os.path.relpath(path, os.path.dirname(root))
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            allowed: set[int] = set()
            if rel == os.path.join(PACKAGE, "session.py"):
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name == "pin":
                        allowed = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in PIN_CALLS):
                    if id(node) in allowed:
                        inside += 1
                    else:
                        outside.append(f"{rel}:{node.lineno}: .{node.func.attr}(")
    return outside, inside


def test_every_pin_goes_through_session_pin():
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PACKAGE)
    outside, inside = _pin_calls(root)
    assert not outside, "pin calls outside session.pin:\n" + "\n".join(outside)
    assert inside == 2, "session.pin no longer holds the localCheckpoint/checkpoint pair"
