"""Ingest pipeline (S8): validation reasons, dedup gate, chunk/vector
fan-out, delete flow."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import ingest as ING

from .test_minidecode import make_pdf, text_stream


@pytest.fixture(scope="module")
def upload_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("uploads")
    (d / "notes.html").write_text(
        "<!DOCTYPE html><html><body><h1>Title</h1><p>"
        + "useful paragraph content here. " * 80
        + "</p><script>ignored()</script></body></html>"
    )
    (d / "dup_of_notes.html").write_bytes((d / "notes.html").read_bytes())
    (d / "report.pdf").write_bytes(make_pdf([text_stream([b"(quarterly report page text)"])]))
    # right magic, nothing decodable: accepted, and yields no chunks
    (d / "unreadable.pdf").write_bytes(b"%PDF-1.4 " + b"garbage bytes " * 300)
    (d / "bad_magic.pdf").write_bytes(b"NOTAPDF" + b"x" * 100)
    (d / "malware.exe").write_bytes(b"MZ\x90\x00")
    (d / "huge.html").write_bytes(b"<html>" + b"A" * (11 * 1024 * 1024))
    (d / "empty.html").write_bytes(b"")
    return str(d)


def test_validation_reasons(spark, upload_dir):
    res = ING.ingest(spark, upload_dir + "/*")
    rej = {r["path"].rsplit("/", 1)[-1]: r["reason"] for r in res.rejected.collect()}
    assert rej["malware.exe"] == "unsupported_extension"
    assert rej["huge.html"] == "file_too_large"
    # binaryFile skips zero-length files at the source, so empty.html
    # never reaches validation (the empty_file filter still guards other
    # sources); it must not be accepted either way
    assert "empty.html" not in rej
    assert rej["bad_magic.pdf"] == "mime_mismatch"
    accepted = {r["path"].rsplit("/", 1)[-1] for r in res.accepted.collect()}
    # identical-content pair: exactly one survives in-batch dedup (the
    # lexicographically-first path wins), the other is flagged
    html_pair = {"notes.html", "dup_of_notes.html"}
    kept = accepted & html_pair
    assert kept == {"dup_of_notes.html"}  # sorts before notes.html
    assert rej["notes.html"] == "duplicate_in_batch"
    assert accepted == kept | {"report.pdf", "unreadable.pdf"}


def test_catalog_anti_join_gate(spark, upload_dir):
    first = ING.ingest(spark, upload_dir + "/*")
    catalog = first.catalog_rows
    second = ING.ingest(spark, upload_dir + "/*", catalog=catalog)
    reasons = {r["reason"] for r in second.rejected.collect()}
    assert "already_uploaded" in reasons
    assert second.accepted.count() == 0  # everything already cataloged


def test_chunks_and_vectors_shapes(spark, upload_dir):
    res = ING.ingest(spark, upload_dir + "/*", chunk_size=200, chunk_overlap=40)
    chunks = res.chunks.toPandas()
    assert len(chunks) > 0
    assert (chunks["page_content"].str.len() <= 200).all()
    vecs = res.vectors.toPandas()
    assert len(vecs) == len(chunks)
    assert vecs["embedding"].map(len).eq(64).all()
    # html text must be tag-free
    html_chunks = chunks[chunks["page_content"].str.contains("paragraph", na=False)]
    assert len(html_chunks) > 0
    assert not chunks["page_content"].str.contains("<h1>|<script>", regex=True).any()
    # one chunk per PDF page of real text; an unreadable PDF adds none
    by_file = chunks.groupby("source_file")["page_content"].apply(list).to_dict()
    assert by_file["report.pdf"] == ["quarterly report page text"]
    assert "unreadable.pdf" not in by_file
    assert res.catalog_rows.where(F.col("filename") == "unreadable.pdf").count() == 1


def test_delete_document_flow(spark, upload_dir):
    res = ING.ingest(spark, upload_dir + "/*")
    cat = res.catalog_rows
    doc = cat.where(F.col("filename") == "report.pdf").collect()[0]
    # chunks carry the file-level doc_id directly — no rename needed
    chunks = res.chunks
    victim_chunks = chunks.where(F.col("doc_id") == doc["id"]).count()
    assert victim_chunks > 0
    new_cat, new_chunks = ING.delete_document(cat, chunks, doc["id"])
    assert new_cat.where(F.col("id") == doc["id"]).count() == 0
    assert new_cat.count() == cat.count() - 1
    assert new_chunks.where(F.col("doc_id") == doc["id"]).count() == 0
    assert new_chunks.count() == chunks.count() - victim_chunks


def test_delete_document_null_safe(spark):
    cat = spark.createDataFrame(
        [(1, "a.html"), (None, "orphan.html")], "id long, filename string"
    )
    chunks = spark.createDataFrame(
        [(1, 10), (None, 11)], "doc_id long, chunk_id long"
    )
    new_cat, new_chunks = ING.delete_document(cat, chunks, 1)
    # NULL-keyed rows must survive the delete, not vanish via 3VL
    assert [r["filename"] for r in new_cat.collect()] == ["orphan.html"]
    assert [r["chunk_id"] for r in new_chunks.collect()] == [11]


def test_reason_precedence_and_pinned_payloads(spark, tmp_path):
    page = b"<!DOCTYPE html><html><body><p>" + b"known lecture notes. " * 60 + b"</p></body></html>"
    (tmp_path / "a_known.html").write_bytes(page)
    (tmp_path / "b_known_copy.html").write_bytes(page)
    (tmp_path / "c_new.html").write_bytes(page.replace(b"known", b"fresh"))
    (tmp_path / "d_bad.pdf").write_bytes(b"NOTAPDF" + b"y" * 50)
    (tmp_path / "e_script.exe").write_bytes(page)  # same bytes, wrong type
    # the catalog lists the known hash twice: a catalog row set, not a key
    catalog = spark.createDataFrame(
        [(hashlib.sha256(page).hexdigest(),)] * 2, "file_hash string"
    )
    res = ING.ingest(spark, str(tmp_path) + "/*", catalog=catalog)
    rej = {r["path"].rsplit("/", 1)[-1]: r["reason"] for r in res.rejected.collect()}
    # a copy that is both a batch duplicate and cataloged reports the
    # batch duplicate; the lexicographically-first copy the catalog hit;
    # validation outranks both
    assert rej == {
        "a_known.html": "already_uploaded",
        "b_known_copy.html": "duplicate_in_batch",
        "d_bad.pdf": "mime_mismatch",
        "e_script.exe": "unsupported_extension",
    }
    accepted = [r["path"].rsplit("/", 1)[-1] for r in res.accepted.collect()]
    assert accepted == ["c_new.html"]
    # rejected ∪ accepted is the input file set, each file once
    assert sorted(list(rej) + accepted) == sorted(p.name for p in tmp_path.iterdir())
    # the pinned classification keeps a payload only for accepted files
    kept = {r["filename"] for r in res.files.where(F.col("content").isNotNull()).collect()}
    assert kept == {"c_new.html"}
    assert res.files.count() == 5
