"""Sources & sinks: binary-file document loaders (S1-S3, with the
PDF/DOCX extractor in minidecode.py), the batch ingest pipeline (S8),
and multimodal columns (multimodal.py: PNG, WAV/FLAC and MP4 header
and pixel parsing into typed metadata). Parquet is the canonical store
(S4-S7 become plain reads/writes over it)."""
