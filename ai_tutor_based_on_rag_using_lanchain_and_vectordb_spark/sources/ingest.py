"""Batch ingest pipeline — the reference's POST /upload-doc flow
(backend/main.py:305-427) as one declarative dataflow:

    binaryFile scan
      → validation (extension P5, size P6, MIME P8, name F2)
      → sha-256 content hash (F1)
      → in-batch dedup window + catalog gate (J2 — the UNIQUE(file_hash) gate)
      → one pinned per-file classification frame
      → page decode (S1-S3) → recursive split (F18) + ordinals (W4)
      → deterministic embed → chunk + vector tables

Differences from the reference, by design (SURVEY.md §4.5):
- per-row ValueError on duplicate → a per-file ``reason`` column and a
  ``rejected`` side-output carrying it (batch semantics),
- manual rollback (main.py:399-405) → single-job atomicity: outputs
  are only written after the whole plan succeeds.

Evaluate once: every file is scanned, MIME-sniffed and hashed in one
classification frame, pinned once through ``session.pin``; ``rejected``,
``accepted``, ``catalog_rows`` and the chunks all read that pin, so no
action re-runs the scan or the sniff UDF, and the decode and split UDFs
each see a fresh file (page) once. The pin keeps ``content`` only for
accepted files, so a rejected payload (an oversize upload, say) is read
by the scan and never stored. The pin is lazy, but under AQE its RDD is
planned when ``ingest()`` is called, which runs the in-batch window's
shuffle stage (scan, sniff, hash) right then, as one Spark job.

At scale: the scan, sniff and hash are map-side; the in-batch dedup
window is one hash shuffle on ``file_hash``; the catalog gate
broadcasts the catalog's distinct hash column; after the pin,
everything up to the vector write is map-only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import embed as EMB
from ..operators import splitter as SPL
from ..session import pin
from .loaders import EXPECTED_MIME, decode_pages_udf, read_binary_documents, sniff_mime_udf

MAX_FILE_SIZE_MB = 10  # reference backend/config.py:26


@dataclass
class IngestResult:
    accepted: DataFrame
    rejected: DataFrame  # (path, reason)
    catalog_rows: DataFrame
    chunks: DataFrame
    vectors: DataFrame
    files: DataFrame  # the pinned per-file classification the others read
    summaries: dict = field(default_factory=dict)


def _expected_mime(suffix: F.Column) -> F.Column:
    """The one MIME a suffix must sniff as, NULL where none is checked."""
    out = F.lit(None).cast("string")
    for ext, mime in EXPECTED_MIME.items():
        out = F.when(suffix == ext, F.lit(mime)).otherwise(out)
    return out


def _classify(spark: SparkSession, path_glob: str, catalog: DataFrame | None) -> DataFrame:
    """One row per file: path, filename, suffix, file_size,
    upload_timestamp, file_hash, reason (NULL = accepted) and content
    (accepted files only). Reasons in precedence order: the validation
    reasons, then ``duplicate_in_batch`` (every copy of a hash but the
    lexicographically first path), then ``already_uploaded`` (the first
    copy, when the catalog holds its hash)."""
    files = read_binary_documents(spark, path_glob)
    named = files.withColumn("filename", TX.sanitize_filename(F.col("path"))).withColumn(
        "suffix", TX.file_suffix(F.col("filename"))
    )
    mime = sniff_mime_udf(F.substring(F.col("content"), 1, 64))
    invalid = (
        F.when(~TX.has_allowed_extension(F.col("filename")), F.lit("unsupported_extension"))
        .when(F.col("file_size") > MAX_FILE_SIZE_MB * 1024 * 1024, F.lit("file_too_large"))
        .when(F.col("file_size") == 0, F.lit("empty_file"))
        # MIME check is fail-open like the reference
        # (backend/file_utils.py:115-121): reject only a positive
        # mismatch between sniffed mime and extension expectation
        .when(mime != _expected_mime(F.col("suffix")), F.lit("mime_mismatch"))
    )
    # an invalid file drops its payload here, before the dedup shuffle,
    # and carries no hash
    valid = F.col("reason").isNull()
    checked = (
        named.withColumn("reason", invalid)
        .withColumn("content", F.when(valid, F.col("content")))
        .withColumn("file_hash", F.when(valid, TX.file_hash(F.col("content"))))
    )
    # in-batch dedup keeps the lexicographically-first path; an invalid
    # file is its own window partition (keyed by path), so rejects do
    # not pile into one NULL-hash task
    copy_no = F.row_number().over(
        Window.partitionBy(F.coalesce("file_hash", "path")).orderBy("path")
    )
    reason = F.coalesce(F.col("reason"), F.when(copy_no > 1, F.lit("duplicate_in_batch")))
    if catalog is not None:
        known = catalog.select("file_hash").distinct().withColumn("_known", F.lit(True))
        checked = checked.join(F.broadcast(known), "file_hash", "left")
        reason = F.coalesce(reason, F.when(F.col("_known"), F.lit("already_uploaded")))
    return checked.withColumn("reason", reason).select(
        "path",
        "filename",
        "suffix",
        "file_size",
        "upload_timestamp",
        "file_hash",
        "reason",
        F.when(F.col("reason").isNull(), F.col("content")).alias("content"),
    )


def ingest(
    spark: SparkSession,
    path_glob: str,
    catalog: DataFrame | None = None,
    chunk_size: int = 1000,
    chunk_overlap: int = 200,
    embedding_dim: int = EMB.DEFAULT_DIM,
) -> IngestResult:
    files = pin(_classify(spark, path_glob, catalog))
    fresh = files.where(F.col("reason").isNull())

    catalog_rows = fresh.select(
        F.xxhash64("file_hash").alias("id"),
        "filename",
        "file_size",
        F.col("suffix").alias("file_type"),
        "file_hash",
        "upload_timestamp",
    )

    # posexplode_outer + a NOT NULL position keeps exactly the rows
    # posexplode would, without the non-empty filter Catalyst infers
    # under a plain posexplode (a second copy of the decode UDF)
    pages = (
        fresh.select(
            F.xxhash64("file_hash").alias("file_doc_id"),
            F.col("filename").alias("source_file"),
            F.posexplode_outer(decode_pages_udf(F.col("path"), F.col("content"))).alias(
                "page_no", "page_text"
            ),
        )
        .where(F.col("page_no").isNotNull())
        .withColumn("page_doc_id", F.xxhash64(F.col("file_doc_id"), F.col("page_no")))
    )
    chunks = (
        SPL.split_documents(
            pages,
            text_col="page_text",
            id_col="page_doc_id",
            size=chunk_size,
            overlap=chunk_overlap,
            # lineage: the file-level doc id rides along so delete/list
            # flows can address chunks by catalog id directly
            keep_cols=("file_doc_id", "source_file", "page_no"),
        )
        .withColumnRenamed("doc_id", "page_doc_id")
        .withColumnRenamed("file_doc_id", "doc_id")
        .withColumn("chunk_id", F.xxhash64("page_doc_id", "chunk_index"))
    )
    vectors = EMB.embed_documents(
        chunks, text_col="page_content", id_col="chunk_id", dim=embedding_dim
    )
    return IngestResult(
        accepted=fresh.select("path", "filename", "file_hash", "file_size"),
        rejected=files.where(F.col("reason").isNotNull()).select("path", "reason"),
        catalog_rows=catalog_rows,
        chunks=chunks,
        vectors=vectors,
        files=files,
    )


def delete_document(
    catalog: DataFrame, chunks: DataFrame, doc_id: int
) -> tuple[DataFrame, DataFrame]:
    """POST /delete-doc (backend/main.py:443-486): anti-join rewrite of
    both tables — the Spark-native metadata-predicate delete. Chunks are
    addressed by the file-level ``doc_id`` that ``ingest()`` carries on
    every chunk row. Null-safe: a NULL id compares as "not the victim"
    and survives (``~(col == x)`` would silently delete NULL-keyed rows
    because three-valued logic filters them out)."""
    new_catalog = catalog.where(F.col("id").isNull() | (F.col("id") != doc_id))
    new_chunks = chunks.where(F.col("doc_id").isNull() | (F.col("doc_id") != doc_id))
    return new_catalog, new_chunks
