"""Sources & sinks. File bytes become page text one way: the
binaryFile scan and ``decode_pages_udf`` in loaders.py (S1-S3, with
the PDF/DOCX extractor in minidecode.py), driven by the batch ingest
pipeline (S8). Also: multimodal columns (multimodal.py: PNG, WAV/FLAC
and MP4 header and pixel parsing into typed metadata) and the WARC
DataSource. Parquet is the canonical store (S4-S7 become plain
reads/writes over it)."""
