"""Document loaders (SURVEY.md §2.1 S1-S3): binary files → text pages.

The reference uses PyPDFLoader / Docx2txtLoader / UnstructuredHTMLLoader
(backend/chroma_utils.py:60-71). Spark-first shape:

    spark.read.format("binaryFile") → decode pandas_udf → posexplode pages

This is the package's one path from file bytes to page text: the
binaryFile scan (``read_binary_documents``) feeds ``decode_pages_udf``,
which dispatches on the suffix. HTML and plain text are decoded here
(regex strip-tags); PDF and DOCX go to the pure-stdlib extractors in
``minidecode.py`` and nothing else, so no installed package changes a
page, chunk or vector. A PDF or DOCX neither extractor can read decodes
to ``[]``: the file stays accepted and yields no chunks, as an empty
HTML page does.

MIME sniffing (P8, backend/file_utils.py:73-121) checks magic bytes on
the binary head — fail-open like the reference.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_TYPE = T.ArrayType(T.StringType())

# magic-number → mime (reference backend/file_utils.py:91-100)
MAGIC_MIME = {
    b"%PDF": "application/pdf",
    b"PK\x03\x04": "application/zip",  # docx is a zip container
    b"<!DO": "text/html",
    b"<htm": "text/html",
    b"fLaC": "audio/flac",
    b"\x1f\x8b": "application/gzip",
}

# the sniffed mime a suffix must match; suffixes not listed (.html) are
# not MIME-checked, fail-open like the reference
EXPECTED_MIME = {
    ".pdf": "application/pdf",
    ".docx": "application/zip",  # docx is a zip container
}


def sniff_mime(head: bytes | None) -> str:
    if not head:
        return "application/octet-stream"
    for magic, mime in MAGIC_MIME.items():
        if head.startswith(magic):
            return mime
    lowered = head[:64].lstrip().lower()
    if lowered.startswith(b"<html") or lowered.startswith(b"<!doctype"):
        return "text/html"
    return "text/plain"


def _html_to_text(data: bytes) -> list[str]:
    text = data.decode("utf-8", errors="replace")
    text = re.sub(r"(?is)<(script|style)[^>]*>.*?</\1>", " ", text)
    text = re.sub(r"(?s)<[^>]+>", " ", text)
    text = re.sub(r"\s+", " ", text).strip()
    return [text] if text else []


def _text_passthrough(data: bytes) -> list[str]:
    text = data.decode("utf-8", errors="replace").strip()
    return [text] if text else []


def decode_pdf(data: bytes) -> list[str]:
    """One entry per page; an encrypted document opens with the blank
    password only, as PyPDFLoader's does (backend/chroma_utils.py:61-63)."""
    # imported on first use: minidecode takes ~20 ms to import, which
    # an HTML-only worker or a process that never decodes would pay
    from .minidecode import pdf_pages

    return pdf_pages(data)


def decode_docx(data: bytes) -> list[str]:
    from .minidecode import docx_pages

    return docx_pages(data)


DECODERS = {
    ".pdf": decode_pdf,
    ".docx": decode_docx,
    ".html": _html_to_text,
    ".txt": _text_passthrough,
}


def _gunzip_transparent(path: str, data: bytes) -> tuple:
    """Crawl corpora ship documents gzip-member-compressed (.pdf.gz,
    .html.gz): peel the gzip layer and the .gz suffix so the inner
    decoder dispatches on the real type. Lax: corrupt gzip keeps the
    original bytes (the fail-closed decoder contract)."""
    if len(data) >= 2 and data[:2] == b"\x1f\x8b":
        import gzip

        try:
            data = gzip.decompress(data)
            if path.lower().endswith(".gz"):
                path = path[:-3]
        except Exception:
            pass
    return path, data


@F.pandas_udf(PAGES_TYPE)
def decode_pages_udf(paths: pd.Series, contents: pd.Series) -> pd.Series:
    """S1-S3 as one Arrow-batched UDTF-shaped decoder: suffix-dispatched
    binary → list of page texts (one Document per page for PDFs, single
    blob for DOCX/HTML — matching backend/chroma_utils.py:61-69).
    Gzip-compressed payloads (.txt.gz etc.) are peeled transparently."""
    out = []
    for path, data in zip(paths, contents):
        path, data = _gunzip_transparent(
            path, bytes(data) if data is not None else b""
        )
        suffix = ("." + path.rsplit(".", 1)[-1].lower()) if "." in path else ""
        decoder = DECODERS.get(suffix, _text_passthrough)
        out.append(decoder(data))
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def sniff_mime_udf(heads: pd.Series) -> pd.Series:
    return heads.map(lambda h: sniff_mime(bytes(h) if h is not None else None))


def read_binary_documents(spark: SparkSession, path_glob: str) -> DataFrame:
    """S8 front end: binaryFile scan. At scale, pathGlobFilter +
    modifiedAfter handle incremental pickup; content stays off-heap in
    Arrow until the decode UDF touches it."""
    return (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select(
            F.col("path"),
            F.col("length").alias("file_size"),
            F.col("modificationTime").alias("upload_timestamp"),
            F.col("content"),
        )
    )
