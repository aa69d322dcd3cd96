"""One way in for document files: pages come only from the binaryFile
scan, ``loaders.decode_pages_udf`` and the stdlib extractors in
``sources/minidecode.py``. Nothing imports pypdf or docx2txt (an
installed package would change every page, chunk and vector), the WARC
reader is the only registered Python DataSource, no Python UDTF is
registered, and the PDF decoder tries the blank password only."""

from __future__ import annotations

import ast
import inspect

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import loaders, minidecode

from .test_one_scorer import PACKAGE, _parse, _py_files

SCOPE = (PACKAGE, "tests", "tools", "bench.py", "perfbench")
FORBIDDEN_IMPORTS = {"pypdf", "docx2txt"}
DATASOURCE_HOME = f"{PACKAGE}/sources/warc.py"


def _register_calls(tree, registry):
    """Line numbers of ``<x>.<registry>.register(...)`` calls."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "register"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == registry
    ]


def test_no_pypdf_or_docx2txt_import():
    found = []
    for rel in _py_files(*SCOPE):
        _src, tree = _parse(rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            if any(n.split(".")[0] in FORBIDDEN_IMPORTS for n in names):
                found.append(f"{rel}:{node.lineno}")
    assert not found, "import of pypdf/docx2txt:\n" + "\n".join(found)


def test_warc_is_the_only_python_datasource_and_no_udtf():
    found = []
    for rel in _py_files(*SCOPE):
        _src, tree = _parse(rel)
        if rel != DATASOURCE_HOME:
            found += [f"{rel}:{ln}: dataSource.register" for ln in _register_calls(tree, "dataSource")]
        found += [f"{rel}:{ln}: udtf.register" for ln in _register_calls(tree, "udtf")]
    assert not found, "a second way in:\n" + "\n".join(found)


def test_pdf_decoders_take_no_password():
    for fn in (loaders.decode_pdf, minidecode.pdf_pages):
        assert list(inspect.signature(fn).parameters) == ["data"], fn.__name__
