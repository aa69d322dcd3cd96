"""Rows-only queries() entries for operators whose semantics aren't
ANSI-SQL-expressible (custom splitter, LSH/IVF approximate search,
signature-based dedup, the stubbed-LLM chat pipeline, multimodal
stages). The driver records a rows-only check for these; their real
correctness coverage lives in tests/ (property tests, recall-vs-exact,
batch-vs-streaming equivalence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact as X
from ..operators import dedup as DD
from ..operators import embed as EMB
from ..operators import knn as KNN
from ..operators import splitter as SPL
from ..session import local_table, pin
from . import chat


PIPE_QUALITY_TAU = 0.5


def curation_pipeline_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE composition — the nightly training-data pipeline
    run end-to-end as ONE plan, with an in-plan invariant row per
    stage: exact dedup (min doc_id per normalized hash) → near-dup
    survivorship (connected components + quality keep-best, from
    Q(neardup_keep_best)) → quality floor (≥ PIPE_QUALITY_TAU) →
    exact-substring span scrub (trainprep.span_scrub, keep-first-copy,
    from Q(doc_span_scrubbed)) → token counting + per-language packing
    offsets (bucketed prefix sums). Every stage is individually
    oracle-checked elsewhere; this gate pins that the COMPOSITION
    holds: no duplicate normalized hashes survive, no two survivors
    share a near-dup cluster, no survivor is below the quality floor,
    every scrubbed survivor conserves length (|scrubbed| +
    removed_chars = |text| exactly), and each language's final packing
    offset + its last doc's tokens equals its total token count
    exactly. Rows-only (the stages are, together, far beyond one SQL
    statement); emits (check, observed, expected, passed)."""
    from ..functions import textstats as TS
    from ..operators.prefix import grouped_prefix_sum
    from .documents import doc_normalized, neardup_keep_best
    from .trainprep import span_scrub

    docs = load_table(spark, sf_dir, "documents")
    norm = doc_normalized(spark, sf_dir).select("doc_id", "norm_hash")
    keep1 = (
        norm.groupBy("norm_hash").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "norm_hash")
    )
    kb = neardup_keep_best(spark, sf_dir)  # (doc_id, component, quality)
    survivors = (
        keep1.join(kb, "doc_id")
        .where(F.col("quality") >= PIPE_QUALITY_TAU)
        .select("doc_id", "norm_hash", "component", "quality")
    )
    # stage 4: exact-substring span scrub over the SURVIVOR corpus
    # (keep-first-copy) — downstream token counts run on the residual
    # text, so packing budgets reflect what would actually train
    surv_docs = survivors.join(
        docs.select("doc_id", "lang", "text"), "doc_id"
    )
    scrubbed = span_scrub(
        surv_docs.select("doc_id", F.lower(F.trim("text")).alias("t"))
    )
    with_text = surv_docs.join(
        scrubbed.withColumnRenamed("n_spans", "_n_spans"), "doc_id"
    )
    packed = pin(grouped_prefix_sum(  # consumed by four check aggregates
        with_text.select(
            "doc_id", "lang", "component", "norm_hash", "quality",
            "text", "removed_chars", "scrubbed",
            TS.token_count(F.col("scrubbed")).cast("long").alias("n_tokens"),
        ),
        ["lang"],
        "doc_id",
        F.col("n_tokens"),
        out_col="_cum",
        exact=True,
    ), eager=True)

    c_hash = packed.agg(
        F.count("*").alias("obs"), F.countDistinct("norm_hash").alias("exp")
    ).select(
        F.lit("unique_norm_hash").alias("check"),
        F.col("obs").cast("long").alias("observed"),
        F.col("exp").cast("long").alias("expected"),
        (F.col("obs") == F.col("exp")).alias("passed"),
    )
    c_comp = packed.agg(
        F.count("*").alias("obs"), F.countDistinct("component").alias("exp")
    ).select(
        F.lit("one_survivor_per_cluster").alias("check"),
        F.col("obs").cast("long").alias("observed"),
        F.col("exp").cast("long").alias("expected"),
        (F.col("obs") == F.col("exp")).alias("passed"),
    )
    c_quality = packed.agg(
        F.sum(
            F.when(F.col("quality") < PIPE_QUALITY_TAU, 1).otherwise(0)
        ).alias("obs"),
        F.count("*").alias("n"),
    ).select(
        F.lit("quality_floor").alias("check"),
        F.col("obs").cast("long").alias("observed"),
        F.lit(0).cast("long").alias("expected"),
        (F.col("obs") == 0).alias("passed"),
    )
    c_scrub = packed.agg(
        F.sum(
            F.when(
                F.length("scrubbed") + F.col("removed_chars")
                != F.length(F.lower(F.trim("text"))),
                1,
            ).otherwise(0)
        ).alias("obs"),
        F.count("*").alias("n"),
    ).select(
        F.lit("scrub_length_conserved").alias("check"),
        F.col("obs").cast("long").alias("observed"),
        F.lit(0).cast("long").alias("expected"),
        (F.col("obs") == 0).alias("passed"),
    )
    per_lang = packed.groupBy("lang").agg(
        F.max(F.col("_cum").cast("long") + F.col("n_tokens")).alias("final_off"),
        F.sum("n_tokens").alias("total"),
    )
    c_pack = per_lang.agg(
        F.sum(
            F.when(F.col("final_off") != F.col("total"), 1).otherwise(0)
        ).alias("obs"),
        F.count("*").alias("n_langs"),
    ).select(
        F.lit("packing_offsets_consistent").alias("check"),
        F.col("obs").cast("long").alias("observed"),
        F.lit(0).cast("long").alias("expected"),
        (F.col("obs") == 0).alias("passed"),
    )
    return (
        c_hash.unionByName(c_comp)
        .unionByName(c_quality)
        .unionByName(c_scrub)
        .unionByName(c_pack)
    )


def recursive_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 — recursive character splitter with ordinals (size 300 /
    overlap 60 over the fixture corpus; production defaults are the
    reference's 1000/200)."""
    docs = load_table(spark, sf_dir, "documents")
    return SPL.split_documents(docs, text_col="text", id_col="doc_id", size=300, overlap=60)


def splitter_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 self-check (same pattern as the recall gates): evaluates the
    splitter's pinned invariants (SURVEY.md §5.3) over the whole corpus
    inside the engine and returns ONE row with a pass flag — so the
    driver artifact records an asserted gate, not just "ran". Checked,
    per chunk of recursive_chunks (size=300, overlap=60):

    - substring fidelity: page_content == text[char_start:char_end]
    - size bound: 0 < len ≤ size (len > size only for a single
      unsplittable atom, which size=300 over word text never produces)
    - coverage: first chunk starts at 0, last ends at len(text),
      consecutive chunks leave no gap (next.start ≤ prev.end)
    - overlap bound: prev.end − next.start ∈ [0, overlap]
    - ordinals: chunk_index is 0..total_chunks−1 dense per doc

    pytest asserts the flag (tests/test_splitter.py)."""
    from pyspark.sql import Window

    size, overlap = 300, 60
    docs = load_table(spark, sf_dir, "documents")
    chunks = SPL.split_documents(docs, text_col="text", id_col="doc_id",
                                 size=size, overlap=overlap)
    joined = chunks.join(docs.select("doc_id", "text", "n_chars"), "doc_id")
    w = Window.partitionBy("doc_id").orderBy("chunk_index")
    prev_end = F.lag("char_end").over(w)
    clen = F.col("char_end") - F.col("char_start")
    per_chunk = joined.select(
        "doc_id",
        (F.col("page_content")
         == F.expr("substring(text, char_start + 1, char_end - char_start)")
         ).alias("ok_substr"),
        ((clen > 0) & (clen <= size)).alias("ok_size"),
        (F.length("page_content") == clen).alias("ok_len"),
        F.when(prev_end.isNull(), F.col("char_start") == 0)
         .otherwise((F.col("char_start") <= prev_end)
                    & (prev_end - F.col("char_start") <= overlap)
                    & (F.col("char_start") > F.lag("char_start").over(w)))
         .alias("ok_chain"),
        (F.row_number().over(w) - 1 == F.col("chunk_index")).alias("ok_ordinal"),
        (F.max(F.col("char_end")).over(Window.partitionBy("doc_id"))
         == F.col("n_chars")).alias("ok_tail"),
        (F.max("total_chunks").over(Window.partitionBy("doc_id"))
         == F.count("*").over(Window.partitionBy("doc_id"))).alias("ok_total"),
    )
    flags = ["ok_substr", "ok_size", "ok_len", "ok_chain", "ok_ordinal",
             "ok_tail", "ok_total"]
    agg = per_chunk.agg(
        F.count("*").cast("long").alias("n_chunks"),
        *[F.sum(F.when(F.col(c), 0).otherwise(1)).cast("long").alias(f"bad_{c[3:]}")
          for c in flags],
    )
    bad_total = sum(F.col(f"bad_{c[3:]}") for c in flags)
    return agg.select(
        F.lit("recursive_splitter").alias("strategy"),
        "n_chunks",
        *[f"bad_{c[3:]}" for c in flags],
        (bad_total == 0).alias("passed"),
    )


def _synth_media_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL PNG / WAV / FLAC / MP4 payloads in-engine, one of
    each per doc_id < 64, with every header parameter a fixed arithmetic
    function of doc_id (width = 8 + id % 32, sample rate =
    8000 + (id % 3)·4000, duration = 500 + 10·id ms, ...). Because the
    parameters are pure SQL arithmetic, a DuckDB oracle can recompute
    the EXPECTED metadata independently — which turns the media decoders
    from a self-referential gate into an oracle-checked query
    (media_metadata below). The FLAC asset (asset_id = doc_id + 100) is
    stereo with a doc-dependent sample count, so the compressed-audio
    decode (sources/flac.py: frame walk, LPC/fixed subframes, stereo
    reconstruction) is what produces the oracle-checked fields."""
    import io
    import math
    import struct
    import wave
    import zlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..sources import multimodal as MM
    from ..sources.flac import encode_flac

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def png(w, h):
            def chunk(ctype, body):
                return (
                    struct.pack(">I", len(body)) + ctype + body
                    + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
                )

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            raw = b"".join(b"\x00" + b"\x7f" * (w * 3) for _ in range(h))
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

        def wav(rate, n):
            buf = io.BytesIO()
            with wave.open(buf, "wb") as f:
                f.setnchannels(1)
                f.setsampwidth(2)
                f.setframerate(rate)
                f.writeframes(
                    b"".join(
                        struct.pack("<h", int(16383 * math.sin(2 * math.pi * 440 * i / rate)))
                        for i in range(n)
                    )
                )
            return buf.getvalue()

        def box(btype, payload):
            return struct.pack(">I", 8 + len(payload)) + btype + payload

        def mp4(duration_ms, w, h):
            mvhd = box(b"mvhd", b"\x00" * 4 + struct.pack(">II", 0, 0)
                       + struct.pack(">II", 1000, duration_ms) + b"\x00" * 80)
            tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + struct.pack(">II", 0, 0)
                       + struct.pack(">I", 1) + b"\x00" * 4
                       + struct.pack(">I", duration_ms) + b"\x00" * 52
                       + struct.pack(">II", w << 16, h << 16))
            return (box(b"ftyp", b"isom\x00\x00\x02\x00")
                    + box(b"moov", mvhd + box(b"trak", tkhd))
                    + box(b"mdat", b"\x00" * 32))

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 32, 8 + (did * 7) % 32
                rows.append({"asset_id": did, "owner_id": 0, "media_type": "image",
                             "content": png(w, h), "meta": {"ext": "png"}})
                rate = 8000 + (did % 3) * 4000
                rows.append({"asset_id": did, "owner_id": 0, "media_type": "audio",
                             "content": wav(rate, rate // 10), "meta": {"ext": "wav"}})
                nf = rate // 10 + did
                tt = np.arange(nf)
                fs = np.stack(
                    [
                        (2000 * np.sin(tt / (7 + did % 5))).astype(np.int64),
                        (1500 * np.sin(tt / (9 + did % 3))).astype(np.int64),
                    ],
                    axis=1,
                )
                rows.append({"asset_id": did + 100, "owner_id": 0,
                             "media_type": "audio",
                             "content": encode_flac(
                                 fs, sample_rate=rate, bits_per_sample=16,
                                 block_size=256, lpc_order=4),
                             "meta": {"ext": "flac"}})
                rows.append({"asset_id": did, "owner_id": 0, "media_type": "video",
                             "content": mp4(500 + did * 10, 64 + did, 36 + did),
                             "meta": {"ext": "mp4"}})
            yield pd.DataFrame(rows, columns=[f.name for f in MM.MEDIA_ASSETS.fields])

    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 64
    )
    return docs.mapInPandas(synth, MM.MEDIA_ASSETS)


def media_decode_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal self-check (driver-visible gate for the mediadecode
    kernels): synthesize REAL PNG and WAV payloads in-engine with
    dimensions/rates derived from doc_id, run them through the strict
    (no-stub) image/audio feature stages, and compare decoded metadata
    against the expected values. One row, pass flag; pytest asserts it
    (tests/test_mediadecode.py covers the kernels directly). The
    non-self-referential variant is media_metadata (DuckDB recomputes
    the expectations); this gate additionally covers the float audio
    stats (rms/peak bounds) the oracle can't express exactly."""
    from ..sources import multimodal as MM

    assets = _synth_media_assets(spark, sf_dir)
    img = MM.image_features(assets, strict=True).select(
        "asset_id",
        ((F.col("format") == "png")
         & (F.col("width") == 8 + F.col("asset_id") % 32)
         & (F.col("height") == 8 + (F.col("asset_id") * 7) % 32)
         & (F.col("channels") == 3)
         # real pixel decode: the synthesized PNG is uniform 0x7f, so
         # per-channel mean is exactly 127 and stddev exactly 0
         & F.col("pixels_real")
         & (F.col("pixel_mean") == F.array(F.lit(127.0), F.lit(127.0), F.lit(127.0)))
         & (F.col("pixel_std") == F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0)))
         ).alias("ok"),
    )
    aud = MM.audio_features(assets, strict=True).select(
        "asset_id",
        F.when(
            F.col("asset_id") >= 100,
            # FLAC asset (asset_id = doc_id + 100): stereo, amplitude
            # 2000/1500 over 32768 → rms/peak bounds scale accordingly
            (F.col("format") == "flac")
            & (F.col("channels") == 2)
            & (F.col("sample_rate") == 8000 + ((F.col("asset_id") - 100) % 3) * 4000)
            & (F.col("n_samples") == F.col("sample_rate") / 10 + F.col("asset_id") - 100)
            & (F.col("rms") > 0.02) & (F.col("rms") < 0.07)
            & (F.col("peak") > 0.045) & (F.col("peak") <= 0.062),
        ).otherwise(
            (F.col("format") == "wav")
            & (F.col("sample_rate") == 8000 + (F.col("asset_id") % 3) * 4000)
            & (F.col("n_samples") == F.col("sample_rate") / 10)
            & (F.col("duration_ms") == 100)
            & (F.col("rms") > 0.2) & (F.col("rms") < 0.5)
            & (F.col("peak") > 0.4) & (F.col("peak") <= 0.51)
        ).alias("ok"),
    )
    vid = MM.video_metadata(assets, strict=True).select(
        "asset_id",
        ((F.col("format") == "mp4")
         & (F.col("duration_ms") == 500 + F.col("asset_id") * 10)
         & (F.col("width") == 64 + F.col("asset_id"))
         & (F.col("height") == 36 + F.col("asset_id"))
         & (F.col("n_tracks") == 1)).alias("ok"),
    )
    both = img.unionByName(aud).unionByName(vid)
    agg = both.agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("n_bad"),
    )
    return agg.select(
        F.lit("media_decode").alias("strategy"),
        "n_assets",
        "n_bad",
        ((F.col("n_bad") == 0) & (F.col("n_assets") > 0)).alias("passed"),
    )


def multimodal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible self-check for the CONTENT stages of the
    multimodal pipeline (frame extraction + windowed audio): per
    doc_id < 16, synthesize in-engine

    - an MJPEG MP4 (3 uniform-gray JPEG frames, levels 40·(f+1) +
      doc_id, 500 ms apart — two-chunk stsc layout) and assert
      frame_features yields exactly 3 pixels_real JPEG frames at the
      stored timestamps whose decoded per-channel mean is within 2 of
      the encoded level;
    - a WAV whose first 100 ms is a 0.5-amplitude sine and second
      100 ms silence, and assert audio_segments(window=100 ms) yields
      a loud window (|rms − 0.5/√2| ≤ 0.02) then a silent one
      (rms ≤ 1e-6);
    - the SAME signal as a FLAC stream (LPC-predicted, Rice-coded —
      sources/flac.py), which must produce identical windows: lossless
      decode means the FLAC rows satisfy the same rms bounds.

    One row, pass flag (rows-only: frame/window decode isn't
    SQL-expressible); pytest asserts it too."""
    import io
    import math
    import struct
    import wave
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..sources import multimodal as MM
    from ..sources.flac import encode_flac
    from ..sources.mediaencode import encode_jpeg, encode_mjpeg_mp4
    from ..sources.mpeg1 import encode_m1v
    from ..sources.mpegps import encode_mpeg_ps

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def half_loud_samples(rate=8000):
            return [
                int(16383 * math.sin(2 * math.pi * 440 * i / rate))
                for i in range(rate // 10)
            ] + [0] * (rate // 10)

        def wav_half_loud(rate=8000):
            buf = io.BytesIO()
            with wave.open(buf, "wb") as f:
                f.setnchannels(1)
                f.setsampwidth(2)
                f.setframerate(rate)
                f.writeframes(
                    b"".join(struct.pack("<h", v) for v in half_loud_samples(rate))
                )
            return buf.getvalue()

        def flac_half_loud(rate=8000):
            return encode_flac(
                np.array(half_loud_samples(rate), dtype=np.int64),
                sample_rate=rate,
                bits_per_sample=16,
                block_size=256,
                lpc_order=8,
            )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                # rotate the entropy coder per doc so the gate covers
                # all three sequential frame flavors: Huffman baseline,
                # progressive, and arithmetic (SOF9)
                frames = [
                    encode_jpeg(
                        np.full((16, 24), 40 * (f + 1) + did, dtype=np.uint8),
                        progressive=(did % 3 == 1),
                        arithmetic=(did % 3 == 2),
                    )
                    for f in range(3)
                ]
                rows.append({"asset_id": did, "owner_id": 0,
                             "media_type": "video",
                             "content": encode_mjpeg_mp4(frames, frame_ms=500),
                             "meta": {"ext": "mp4"}})
                rows.append({"asset_id": did, "owner_id": 0,
                             "media_type": "audio",
                             "content": wav_half_loud(),
                             "meta": {"ext": "wav"}})
                rows.append({"asset_id": did + 200, "owner_id": 0,
                             "media_type": "audio",
                             "content": flac_half_loud(),
                             "meta": {"ext": "flac"}})
                # MPEG-1 ES (asset_id offset +100): 2 uniform-gray
                # pictures, level 50+did then +20 — the I picture and a
                # residual-coded P picture both must pixel-decode
                v = 50 + did
                m1, _ = encode_m1v(
                    [
                        np.full((16, 24, 3), v, dtype=np.uint8),
                        np.full((16, 24, 3), v + 20, dtype=np.uint8),
                    ]
                )
                rows.append({"asset_id": did + 100, "owner_id": 0,
                             "media_type": "video",
                             "content": m1,
                             "meta": {"ext": "m1v"}})
                # the same ES wrapped in an ISO 11172-1 program stream
                # (asset_id +300): the PES demux must reassemble it and
                # the pictures must decode identically
                rows.append({"asset_id": did + 300, "owner_id": 0,
                             "media_type": "video",
                             "content": encode_mpeg_ps(m1, pes_size=200),
                             "meta": {"ext": "mpg"}})
            yield pd.DataFrame(
                rows, columns=[f.name for f in MM.MEDIA_ASSETS.fields]
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 16
    )
    assets = docs.mapInPandas(synth, MM.MEDIA_ASSETS)

    frames = MM.frame_features(assets, every_ms=500).select(
        "asset_id",
        F.when(
            F.col("asset_id") >= 300,
            # program-stream path: PES demux + the same MPEG-1 decode
            (F.col("format") == "bmp")
            & F.col("pixels_real")
            & (F.col("width") == 24) & (F.col("height") == 16)
            & (F.abs(
                F.element_at("pixel_mean", 1)
                - (50 + (F.col("asset_id") - 300) + 20 * F.col("frame_no"))
            ) <= 2),
        ).when(
            F.col("asset_id") >= 100,
            # MPEG-1 path: decoded pictures arrive as BMP payloads
            (F.col("format") == "bmp")
            & F.col("pixels_real")
            & (F.col("width") == 24) & (F.col("height") == 16)
            & (F.abs(
                F.element_at("pixel_mean", 1)
                - (50 + (F.col("asset_id") - 100) + 20 * F.col("frame_no"))
            ) <= 2),
        ).otherwise(
            (F.col("format") == "jpeg")
            & F.col("pixels_real")
            & (F.col("width") == 24) & (F.col("height") == 16)
            & (F.abs(
                F.element_at("pixel_mean", 1)
                - (40 * (F.col("frame_no") + 1) + F.col("asset_id"))
            ) <= 2)
        ).alias("ok"),
    )
    segs = MM.audio_segments(assets, window_ms=100, strict=True).select(
        "asset_id",
        F.when(F.col("segment_no") == 0,
               F.abs(F.col("rms") - 0.5 / math.sqrt(2)) <= 0.02)
         .when(F.col("segment_no") == 1, F.col("rms") <= 1e-6)
         .otherwise(F.lit(False)).alias("ok"),
    )
    both = frames.unionByName(segs)
    agg = both.agg(
        F.count("*").cast("long").alias("n_checks"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("n_bad"),
    )
    # 16 docs × (3 MJPEG frames + 2 MPEG-1 pictures + 2 program-stream
    # pictures + 2 WAV windows + 2 FLAC windows) = 176 expected checks
    return agg.select(
        F.lit("multimodal_pipeline").alias("strategy"),
        "n_checks",
        "n_bad",
        ((F.col("n_bad") == 0) & (F.col("n_checks") == 176)).alias("passed"),
    )


def audio_spectral_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible self-check for the SPECTRAL audio stage
    (multimodal.audio_spectrogram): per doc_id < 16, synthesize the
    half-loud signal (100 ms of a 0.5-amplitude 440 Hz sine at 8 kHz,
    then 100 ms silence) as BOTH a WAV and a FLAC stream and assert,
    per 100 ms window:

    - loud window: dominant_hz == 440 exactly (440 sits on a bin at
      8 kHz / 800-sample windows), band energies sum to the sine's
      mean power 0.125 (Parseval) within 2e-3, centroid within 1 Hz;
    - silent window: zero energy;
    - WAV ≡ FLAC rows element-exact (lossless decode ⇒ identical
      samples ⇒ identical spectra — the FLAC codec re-checked through
      real DSP, not just headers).

    One row, pass flag (rows-only: FFTs aren't SQL-expressible)."""
    import io
    import math
    import struct
    import wave
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..sources import multimodal as MM
    from ..sources.flac import encode_flac

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rate = 8000

        def samples():
            return [
                int(16383 * math.sin(2 * math.pi * 440 * i / rate))
                for i in range(rate // 10)
            ] + [0] * (rate // 10)

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as f:
                    f.setnchannels(1)
                    f.setsampwidth(2)
                    f.setframerate(rate)
                    f.writeframes(
                        b"".join(struct.pack("<h", v) for v in samples())
                    )
                rows.append({"asset_id": did, "owner_id": 0,
                             "media_type": "audio",
                             "content": buf.getvalue(),
                             "meta": {"ext": "wav"}})
                rows.append({"asset_id": did + 200, "owner_id": 0,
                             "media_type": "audio",
                             "content": encode_flac(
                                 np.array(samples(), dtype=np.int64),
                                 sample_rate=rate, bits_per_sample=16,
                                 block_size=256, lpc_order=8),
                             "meta": {"ext": "flac"}})
            yield pd.DataFrame(
                rows, columns=[f.name for f in MM.MEDIA_ASSETS.fields]
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 16
    )
    assets = docs.mapInPandas(synth, MM.MEDIA_ASSETS)
    spec = MM.audio_spectrogram(assets, window_ms=100, n_bands=8, strict=True)
    total = F.aggregate("band_energy", F.lit(0.0), lambda a, x: a + x)
    per_window = spec.select(
        "asset_id",
        F.when(
            F.col("segment_no") == 0,
            (F.col("dominant_hz") == 440.0)
            & (F.abs(total - 0.125) < 2e-3)
            & (F.abs(F.col("spectral_centroid_hz") - 440.0) < 1.0),
        ).when(F.col("segment_no") == 1, total == 0.0)
         .otherwise(F.lit(False)).alias("ok"),
    )
    wav = spec.where(F.col("asset_id") < 200).alias("w")
    flc = spec.where(F.col("asset_id") >= 200).alias("f")
    parity = wav.join(
        flc,
        (F.col("w.asset_id") == F.col("f.asset_id") - 200)
        & (F.col("w.segment_no") == F.col("f.segment_no")),
    ).select(
        F.col("w.asset_id").alias("asset_id"),
        ((F.col("w.band_energy") == F.col("f.band_energy"))
         & (F.col("w.dominant_hz") == F.col("f.dominant_hz"))
         & (F.col("w.spectral_centroid_hz")
            == F.col("f.spectral_centroid_hz"))).alias("ok"),
    )
    both = per_window.unionByName(parity)
    agg = both.agg(
        F.count("*").cast("long").alias("n_checks"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("n_bad"),
    )
    # 16 docs × (2 wav windows + 2 flac windows + 2 parity rows) = 96
    return agg.select(
        F.lit("audio_spectral").alias("strategy"),
        "n_checks",
        "n_bad",
        ((F.col("n_bad") == 0) & (F.col("n_checks") == 96)).alias("passed"),
    )


def image_phash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible self-check for perceptual image dedup
    (multimodal.image_phash + the shared Hamming-pair machinery): per
    doc_id < 16, synthesize a smoothed random image (seeded by doc_id)
    as a lossless BMP (asset d), a JPEG recompression (d+100) and an
    exact BMP copy (d+200). The pair set must contain, per doc:

    - (d, d+200) with Hamming 0 — identical pixels, identical hash;
    - (d, d+100) and (d+100, d+200) with Hamming ≤ 8 — JPEG loss
      perturbs low-frequency DCT signs only slightly;
    - and NO pair across different docs (independent random content
      collides at ~32/64 bits).

    One row, pass flag (rows-only: pixel DSP isn't SQL-expressible)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..sources import multimodal as MM
    from ..sources.mediaencode import encode_bmp, encode_jpeg

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rng = np.random.default_rng(1000 + did)
                img = rng.integers(0, 256, (48, 64, 3)).astype(np.int32)
                img = (
                    img + np.roll(img, 1, 0) + np.roll(img, 1, 1)
                    + np.roll(img, 2, 0)
                ) // 4
                img = img.astype(np.uint8)
                rows.append({"asset_id": did, "owner_id": 0,
                             "media_type": "image",
                             "content": encode_bmp(img),
                             "meta": {"ext": "bmp"}})
                rows.append({"asset_id": did + 100, "owner_id": 0,
                             "media_type": "image",
                             "content": encode_jpeg(img),
                             "meta": {"ext": "jpg"}})
                rows.append({"asset_id": did + 200, "owner_id": 0,
                             "media_type": "image",
                             "content": encode_bmp(img),
                             "meta": {"ext": "bmp"}})
            yield pd.DataFrame(
                rows, columns=[f.name for f in MM.MEDIA_ASSETS.fields]
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 16
    )
    assets = docs.mapInPandas(synth, MM.MEDIA_ASSETS)
    pairs = MM.image_phash_pairs(assets, max_hamming=16, strict=True)
    doc_a = F.pmod(F.col("id_a"), F.lit(100))
    doc_b = F.pmod(F.col("id_b"), F.lit(100))
    kind_a = (F.col("id_a") / 100).cast("int")
    kind_b = (F.col("id_b") / 100).cast("int")
    per_pair = pairs.select(
        F.when(doc_a != doc_b, F.lit(False))  # cross-doc pair: a failure
        .when((kind_a == 0) & (kind_b == 2), F.col("hamming") == 0)
        .otherwise(F.col("hamming") <= 8)
        .alias("ok"),
    )
    agg = per_pair.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("n_bad"),
    )
    # 16 docs × 3 within-doc pairs, zero cross-doc pairs
    return agg.select(
        F.lit("image_phash").alias("strategy"),
        "n_pairs",
        "n_bad",
        ((F.col("n_bad") == 0) & (F.col("n_pairs") == 48)).alias("passed"),
    )


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked media decode: the engine synthesizes real
    PNG/WAV/FLAC/MP4 payloads (parameters = arithmetic on doc_id,
    _synth_media_assets) and DECODES them back through the strict
    image/audio/video stages; DuckDB independently recomputes the
    expected metadata from the same arithmetic — so a decoder that
    misreads any header field hash-mismatches. Unlike media_decode_gate
    this is engine-vs-oracle, not engine-vs-engine. N/A fields are 0
    (not null) so both sides canonicalize identically."""
    from ..sources import multimodal as MM

    assets = _synth_media_assets(spark, sf_dir)
    zero = F.lit(0).cast("long")
    img = MM.image_features(assets, strict=True).select(
        F.col("asset_id").cast("long").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        zero.alias("sample_rate"),
        zero.alias("n_samples"),
        zero.alias("duration_ms"),
        zero.alias("n_tracks"),
        # uniform-0x7f PNG: per-channel mean is exactly 127.0
        F.round(
            F.aggregate(F.col("pixel_mean"), F.lit(0.0), lambda a, x: a + x)
            / F.size("pixel_mean"),
            4,
        ).alias("pixel_mean_avg"),
    )
    aud = MM.audio_features(assets, strict=True).select(
        F.col("asset_id").cast("long").alias("asset_id"),
        F.lit("audio").alias("media_type"),
        zero.alias("width"),
        zero.alias("height"),
        F.col("channels").cast("long").alias("channels"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        zero.alias("n_tracks"),
        F.lit(0.0).alias("pixel_mean_avg"),
    )
    vid = MM.video_metadata(assets, strict=True).select(
        F.col("asset_id").cast("long").alias("asset_id"),
        F.lit("video").alias("media_type"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        zero.alias("channels"),
        zero.alias("sample_rate"),
        zero.alias("n_samples"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        F.col("n_tracks").cast("long").alias("n_tracks"),
        F.lit(0.0).alias("pixel_mean_avg"),
    )
    return img.unionByName(aud).unionByName(vid)


MEDIA_METADATA_ORACLE = """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64)
SELECT doc_id AS asset_id, 'image' AS media_type,
       CAST(8 + doc_id % 32 AS BIGINT) AS width,
       CAST(8 + (doc_id * 7) % 32 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(0 AS BIGINT) AS sample_rate,
       CAST(0 AS BIGINT) AS n_samples,
       CAST(0 AS BIGINT) AS duration_ms,
       CAST(0 AS BIGINT) AS n_tracks,
       127.0 AS pixel_mean_avg
FROM ids
UNION ALL
SELECT doc_id, 'audio',
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT),
       CAST(8000 + (doc_id % 3) * 4000 AS BIGINT),
       CAST((8000 + (doc_id % 3) * 4000) // 10 AS BIGINT),
       CAST(100 AS BIGINT), CAST(0 AS BIGINT), 0.0
FROM ids
UNION ALL
-- the FLAC asset: stereo, doc-dependent sample count (+100 asset ids)
SELECT doc_id + 100, 'audio',
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT),
       CAST(8000 + (doc_id % 3) * 4000 AS BIGINT),
       CAST((8000 + (doc_id % 3) * 4000) // 10 + doc_id AS BIGINT),
       CAST(((8000 + (doc_id % 3) * 4000) // 10 + doc_id) * 1000
            // (8000 + (doc_id % 3) * 4000) AS BIGINT),
       CAST(0 AS BIGINT), 0.0
FROM ids
UNION ALL
SELECT doc_id, 'video',
       CAST(64 + doc_id AS BIGINT), CAST(36 + doc_id AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(500 + doc_id * 10 AS BIGINT), CAST(1 AS BIGINT), 0.0
FROM ids
"""


def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs verified with exact Jaccard ≥ 0.5.

    No longer a registry row of its own (r8): the pipeline is split so
    the driver checks each half at its strongest gate — the LSH
    candidate step through Q(minhash_recall) (recall vs exact ground
    truth; rows-only, probabilistic by nature: (16,4) banding misses a
    0.9-Jaccard pair with p≈0.014, and sf0.01 contains exactly one
    such miss), and the exact-Jaccard verify half through the
    oracle-hash-checked Q(neardup_verified_pairs) below. The composed
    operator stays pytest-covered (tests/test_dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_dedup_pairs(docs, threshold=0.5)


def neardup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-Jaccard verify half of the minhash pipeline over an
    exhaustive (shingle-sharing) candidate set — SQL-expressible, so it
    carries a DuckDB oracle (operators/dedup.exact_jaccard_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.exact_jaccard_pairs(docs, threshold=0.5)


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 12 on 64-bit signatures)."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_pairs(docs, max_hamming=12)


def simhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash pipeline in its EXACT, SQL-mirrorable configuration
    (the knn_ivf_exhaustive move): Hamming ≤ 3 — where the 16-bit
    quarter blocking is pigeonhole-EXACT — with the hot-bucket cap off
    and the portable md5-derived token hash, so a DuckDB oracle can
    recompute every signature bit, every candidate, every Hamming
    distance. This promotes the simhash MATH (bit votes, sign packing,
    quarter blocking, XOR popcount) to oracle-hash-checked; the
    production path (Q(simhash_neardup): xxhash64, Hamming ≤ 12,
    bounded buckets) stays the scale configuration."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.simhash_pairs(
        docs, max_hamming=3, max_bucket=None, portable=True
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _simhash_verified_oracle() -> str:
    """DuckDB mirror of the portable simhash configuration: 60-bit
    md5 token hash → per-bit ±1 vote sums → sign packing into (lo, hi)
    longs → exhaustive pairs at Hamming ≤ 3 (the blocking is exact
    there, so the oracle may skip it and join all pairs)."""
    votes = ",\n      ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(60)
    )
    lo = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << (i - 32)} ELSE 0 END)"
        for i in range(32, 60)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
  FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks
), votes AS (
  SELECT doc_id,
      {votes}
  FROM hashed GROUP BY doc_id
), sigs0 AS (
  SELECT doc_id, CAST({lo} AS BIGINT) AS lo, CAST({hi} AS BIGINT) AS hi
  FROM votes
), sigs AS (
  SELECT d.doc_id, COALESCE(s.lo, 0) AS lo, COALESCE(s.hi, 0) AS hi
  FROM documents d LEFT JOIN sigs0 s ON d.doc_id = s.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
"""


def _embedding_scalars(docs: DataFrame) -> DataFrame:
    """Project the ArrayType embedding down to driver-hashable scalars:
    per-doc dimension, rounded L2 norm, and an order-sensitive xxhash64
    fingerprint of the (rounded) coordinates. The raw-array API stays at
    operators/embed.py for in-engine consumers."""
    base = docs.select(
        "doc_id", EMB.hashing_embedding(F.col("text")).alias("embedding")
    )
    norm = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    fingerprint = F.xxhash64(
        F.to_json(
            F.transform(F.col("embedding"), lambda x: F.round(x * 1e4, 0))
        )
    )
    return base.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(norm), 4).alias("norm"),
        fingerprint.alias("vec_hash"),
    )


def doc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hashing-trick embeddings for the documents table,
    projected to scalar columns (dim / norm / coordinate fingerprint) so
    the driver's pandas canonicalizer can sort and hash the result —
    raw array<float> columns are unhashable there."""
    docs = load_table(spark, sf_dir, "documents")
    return _embedding_scalars(docs)


def embedding_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 embedding self-check (splitter_invariants pattern): ONE row
    with a pass flag asserting, over the whole documents table,

    - determinism: two independently-constructed evaluations of the
      embedding produce identical coordinate fingerprints per doc
    - dim == 64 for every row
    - unit norm (|norm − 1| ≤ 1e-3) for every non-blank text; zero
      vector only for blank text
    - non-constant: distinct fingerprints ≥ half the docs (hashing
      embeddings of distinct texts must not collapse)

    pytest asserts the flag (tests/test_embed.py)."""
    docs = load_table(spark, sf_dir, "documents")
    a = _embedding_scalars(docs)
    b = _embedding_scalars(docs).withColumnsRenamed(
        {"dim": "dim_b", "norm": "norm_b", "vec_hash": "vec_hash_b"}
    )
    joined = a.join(b, "doc_id").join(
        docs.select("doc_id", F.trim(F.col("text")).alias("_t")), "doc_id"
    )
    per_doc = joined.select(
        (F.col("vec_hash") == F.col("vec_hash_b")).alias("ok_det"),
        (F.col("dim") == EMB.DEFAULT_DIM).alias("ok_dim"),
        F.when(
            F.length("_t") > 0, F.abs(F.col("norm") - 1.0) <= 1e-3
        ).otherwise(F.col("norm") == 0.0).alias("ok_norm"),
        "vec_hash",
    )
    agg = per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(~F.col("ok_det"), 1).otherwise(0)).cast("long").alias("n_nondet"),
        F.sum(F.when(~F.col("ok_dim"), 1).otherwise(0)).cast("long").alias("n_bad_dim"),
        F.sum(F.when(~F.col("ok_norm"), 1).otherwise(0)).cast("long").alias("n_bad_norm"),
        F.countDistinct("vec_hash").cast("long").alias("n_distinct"),
    )
    passed = (
        (F.col("n_docs") > 0)
        & (F.col("n_nondet") == 0)
        & (F.col("n_bad_dim") == 0)
        & (F.col("n_bad_norm") == 0)
        & (F.col("n_distinct") * 2 >= F.col("n_docs"))
    )
    return agg.select(
        F.lit("hashing_embedding").alias("strategy"),
        "n_docs",
        "n_nondet",
        "n_bad_dim",
        "n_bad_norm",
        "n_distinct",
        passed.alias("passed"),
    )


def knn_ivf_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means-cell) approximate k-NN for the 5 query vectors —
    recall-vs-exact asserted in tests/test_knn.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return KNN.knn_ivf(emb, queries, k=5, n_clusters=8, nprobe=3)


def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking recall for the IVF approximate k-NN path (same
    pattern as the minhash/LSH recall gates): ground truth = exact
    broadcast top-k, candidates = k-means-cell IVF with nprobe=6 of 8
    cells. One row with mean recall + pass flag at ≥ 0.7 — measured
    0.96 (sf0.001) / 1.0 (sf0.01) with nprobe=6, so the gate clears
    with margin yet would catch a recall collapse (tests/test_recall.py
    asserts the measured value too). Rows-only: the k-means fit is not
    SQL-expressible."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    k = 5
    exact = KNN.knn_exact_expr(emb, queries, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = KNN.knn_ivf(emb, queries, k=k, n_clusters=8, nprobe=6).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    per_q = joined.groupBy("query_id").agg(
        (F.coalesce(F.sum("_hit"), F.lit(0)) / F.count("*")).alias("recall_q")
    )
    agg = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.avg("recall_q"), 4).alias("mean_recall"),
    )
    return agg.select(
        F.lit("ivf_kmeans").alias("strategy"),
        "n_queries",
        "mean_recall",
        (F.col("mean_recall") >= 0.7).alias("passed"),
    )


def knn_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF path in its exhaustive configuration (nprobe = all 8
    cells): every vector is a candidate, so the cell machinery — k-means
    fit and cell assignment, probe-table join, partition pruning — runs end-to-end
    yet the result is EXACT and carries knn_exact's DuckDB oracle.
    This oracle-checks the IVF plumbing itself (tests/test_ann_index.py
    proves nprobe=all ≡ exact in-repo; this row makes the driver see
    it). Zero-norm vectors are excluded up front on both sides, the
    shared contract with knn_exact and its oracle."""
    from ..functions import vector as V

    emb = load_table(spark, sf_dir, "embeddings").where(
        V.norm("embedding") > 0
    )
    queries = emb.where(F.col("vec_id") < 5)
    out = KNN.knn_ivf(emb, queries, k=5, n_clusters=8, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


def _query_matrix(emb):
    """The 5 fixed query vectors as (matrix, ids) — bounded collect."""
    import numpy as np

    q = emb.where(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    qm = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in q])
    return qm, np.asarray([r["vec_id"] for r in q], dtype=np.int64)


def knn_pq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization k-NN (operators/pq.py): corpus encoded to
    8×32 subspace codes (16× smaller than raw float32 at dim 64), ADC
    shortlist from the codes, exact re-rank of the shortlist. Rows-only:
    k-means codebooks are not SQL-expressible."""
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    cb = PQ.fit_pq_codebooks(emb, m=8, k=32)
    qm, qids = _query_matrix(emb)
    out = PQ.knn_pq_adc(
        PQ.encode_pq(emb, cb), cb, qm, qids, k=5, shortlist=100,
        rerank_vectors=emb,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


def knn_pq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ path in its exhaustive configuration (shortlist ≥ corpus):
    the ADC stage shortlists EVERYTHING, so the exact re-rank scores
    every candidate and the result is knn_exact — with its DuckDB
    oracle. This oracle-checks the PQ plumbing end-to-end (encode →
    ADC partial top-k → re-rank join) the way knn_ivf_exhaustive
    checks the IVF machinery: a correctness configuration, not a scale
    path (production shortlists are bounded; see knn_pq_approx)."""
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    cb = PQ.fit_pq_codebooks(emb, m=8, k=32)
    qm, qids = _query_matrix(emb)
    out = PQ.knn_pq_adc(
        PQ.encode_pq(emb, cb), cb, qm, qids, k=5, shortlist=1_000_000,
        rerank_vectors=emb,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


def knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking recall gate for the PQ path (same pattern as
    knn_ivf_recall): ground truth = exact broadcast top-k, candidates =
    ADC shortlist 100 + exact re-rank. Pass at mean recall ≥ 0.7 —
    measured 0.92 (sf0.001) / 0.96 (sf0.01), so the gate clears with
    margin; ADC-only ranking on these unstructured synthetic vectors
    measures ~0.16, which is WHY the re-rank stage is part of the
    production arrangement. Rows-only: k-means is not SQL-expressible."""
    from ..operators import pq as PQ
    from ..operators import knn as KNN

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    k = 5
    exact = KNN.knn_exact_expr(emb, queries, k=k).select(
        "query_id", "neighbor_id"
    )
    cb = PQ.fit_pq_codebooks(emb, m=8, k=32)
    qm, qids = _query_matrix(emb)
    approx = PQ.knn_pq_adc(
        PQ.encode_pq(emb, cb), cb, qm, qids, k=k, shortlist=100,
        rerank_vectors=emb,
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    per_q = joined.groupBy("query_id").agg(
        (F.coalesce(F.sum("_hit"), F.lit(0)) / F.count("*")).alias("recall_q")
    )
    agg = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.avg("recall_q"), 4).alias("mean_recall"),
    )
    return agg.select(
        F.lit("pq_adc_rerank").alias("strategy"),
        "n_queries",
        "mean_recall",
        (F.col("mean_recall") >= 0.7).alias("passed"),
    )


_QBIN_W = 2.0  # static bin bounds: a STREAMING sketch cannot re-bin,
_QBIN_N = 256  # so [0, 512) is pinned (events.value sits in [0, 491))


def quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch rollup — the percentile analog of the
    HLL rollup: one fixed-bin histogram row set per day (additive
    (day, bin, n) longs, so ANY date range's quantiles come from
    group-summing bins — no raw re-scan, and a stream maintains it
    with plain additive upserts via the rollup.py machinery). The
    median estimate linearly interpolates inside the covering bin.
    The provable bound is against the DISCRETE median (the smallest
    data value whose CDF ≥ 0.5 — it always lies in the covering bin,
    so |est − disc| < bin width holds unconditionally); the CONTINUOUS
    median can sit outside the covering bin when the two middle order
    statistics straddle a value gap, so it is emitted as telemetry,
    not gated. Both ranges (full, partial) are checked. Fully
    SQL-expressible, so the whole sketch pipeline is oracle-checked."""
    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    clamped = F.least(
        F.greatest(F.col("value"), F.lit(0.0)), F.lit(_QBIN_W * _QBIN_N - 1e-9)
    )
    bin_ = F.floor(clamped / _QBIN_W).cast("int")
    hist = events.select(
        day.alias("day"), bin_.alias("bin"), "value"
    )
    # the stored rollup table: one additive (day, bin, n) row set per day
    daily = hist.groupBy("day", "bin").agg(F.count("*").alias("dn"))

    def one_range(tag: str, upto: str | None) -> DataFrame:
        h = hist if upto is None else hist.where(F.col("day") <= upto)
        d = daily if upto is None else daily.where(F.col("day") <= upto)
        merged = d.groupBy("bin").agg(F.sum("dn").alias("n"))
        from pyspark.sql import Window

        # unpartitioned window on the MERGED SKETCH only: ≤ 256 rows by
        # construction at any corpus size, so the single-partition sort
        # Spark warns about is a fixed-size driver-ish step, not a scale
        # hazard (the corpus-sized work all happened in the groupBys)
        w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        cum = merged.select(
            "bin", "n", F.sum("n").over(w).alias("cum")
        ).crossJoin(
            F.broadcast(merged.agg(F.sum("n").alias("total")))
        )
        target = F.col("total") * 0.5
        est_in_bin = (
            F.col("bin") * _QBIN_W
            + _QBIN_W
            * (target - (F.col("cum") - F.col("n")))
            / F.col("n")
        )
        est = (
            cum.where(F.col("cum") >= target)
            .orderBy("bin")
            .limit(1)
            .select(est_in_bin.alias("est"))
        )
        exact = h.agg(
            F.expr("percentile(value, 0.5)").alias("cont"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"
            ).alias("disc"),
        )
        return est.crossJoin(F.broadcast(exact)).select(
            F.lit(tag).alias("range_tag"),
            X.pround(F.col("est"), 4).alias("median_est"),
            X.pround(F.col("cont"), 4).alias("median_cont"),
            X.pround(F.col("disc"), 4).alias("median_disc"),
            X.pround(F.abs(F.col("est") - F.col("disc")), 4).alias("abs_err_disc"),
            (F.abs(F.col("est") - F.col("disc")) <= _QBIN_W).alias("passed"),
        )

    return one_range("all_days", None).unionByName(
        one_range("first_10_days", "2024-01-10")
    )


def knn_ivfpq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical IVF+PQ composition (operators/pq.knn_ivfpq):
    k-means cells prune the corpus per query, PQ codes ADC-score the
    survivors, the shortlist re-ranks exactly. Rows-only: k-means is
    not SQL-expressible."""
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    out = PQ.knn_ivfpq(
        emb, emb.where(F.col("vec_id") < 5), k=5,
        n_clusters=8, nprobe=6, shortlist=150,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


def knn_ivfpq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ in its exhaustive configuration (nprobe = all cells AND
    shortlist ≥ corpus): cell pruning admits everything, the ADC stage
    shortlists everything, and the exact re-rank reduces the whole
    composition to knn_exact — so the full FAISS-style arrangement
    (assign → encode → probe → ADC → re-rank) is driver-oracle-checked
    end-to-end with knn_exact's DuckDB SQL. Correctness configuration,
    not a scale path."""
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    out = PQ.knn_ivfpq(
        emb, emb.where(F.col("vec_id") < 5), k=5,
        n_clusters=8, nprobe=8, shortlist=1_000_000,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


def knn_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the IVF+PQ path: both approximations compound
    (cell pruning AND code quantization), so the gate sits at ≥ 0.7 —
    measured 0.92 (sf0.001) / 1.0 (sf0.01) at nprobe=6 of 8 cells,
    shortlist 150. Rows-only: k-means is not SQL-expressible."""
    from ..operators import knn as KNN
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    k = 5
    exact = KNN.knn_exact_expr(emb, queries, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = PQ.knn_ivfpq(
        emb, queries, k=k, n_clusters=8, nprobe=6, shortlist=150
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    per_q = joined.groupBy("query_id").agg(
        (F.coalesce(F.sum("_hit"), F.lit(0)) / F.count("*")).alias("recall_q")
    )
    agg = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.avg("recall_q"), 4).alias("mean_recall"),
    )
    return agg.select(
        F.lit("ivfpq_adc_rerank").alias("strategy"),
        "n_queries",
        "mean_recall",
        (F.col("mean_recall") >= 0.7).alias("passed"),
    )


def knn_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 on the PRODUCTION index path: metadata-filtered k-NN through
    the persistent IVF layout (reference: Chroma ``where={"file_id":
    …}``, backend/chroma_utils.py:250-253). The layout carries ``label``
    as a typed metadata column (build meta_cols), and the per-query
    equality (``match_cols``) lands in the partition-pruned scan BELOW
    scoring — previously only the exact broadcast path
    Q(knn_label_filtered) could filter; the IVF/PQ searchers had no
    predicate parameter and a filtered query fell back to brute force
    (r12 verdict ask #3). Exhaustive configuration (nprobe = all
    cells), so the result is the EXACT label-filtered top-k and the
    whole filtered-index composition (build → meta-carrying layout →
    probe → filter → score) carries Q(knn_label_filtered)'s DuckDB
    oracle verbatim. Pruned+filtered recall is gated separately in
    Q(knn_ivf_filtered_recall)."""
    import tempfile

    from ..functions import vector as V
    from ..operators.ann_index import build_ivf_index, search_ivf_index

    emb = load_table(spark, sf_dir, "embeddings").where(
        V.norm("embedding") > 0
    )
    path = tempfile.mkdtemp(prefix="ivf_filtered_")
    build_ivf_index(emb, path, n_cells=8, meta_cols=("label",))
    queries = emb.where(F.col("vec_id") < 5)
    out = search_ivf_index(
        spark, path, queries, k=5, nprobe=8, match_cols=("label",)
    )
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


# the static-filter demo label for the IVF+PQ path (any in-domain value
# works; 3 is populated at every sf)
IVFPQ_FILTER_LABEL = 3


def knn_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Chroma-shaped STATIC filter on the compressed production
    path: ``where="label = 3"`` threaded into the persistent IVF+PQ
    searcher, applied to the partition-pruned code scan BEFORE ADC —
    the shortlist and exact re-rank only ever see passing candidates,
    so the semantics are top-k AMONG the filtered set (not a filtered
    top-k). Exhaustive configuration (nprobe = all cells, shortlist ≥
    corpus) reduces the composition to the exact filtered ranking, so
    the filter+probe+ADC+re-rank chain is driver-oracle-checked end to
    end."""
    import tempfile

    from ..functions import vector as V
    from ..operators.pq_index import build_ivfpq_index, search_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings").where(
        V.norm("embedding") > 0
    )
    path = tempfile.mkdtemp(prefix="ivfpq_filtered_")
    build_ivfpq_index(emb, path, n_cells=4, m=8, kc=16, meta_cols=("label",))
    queries = emb.where(F.col("vec_id") < 5)
    n = emb.count()  # bounded collect: one scalar, exhaustive shortlist
    out = search_ivfpq_index(
        spark, path, queries, emb, k=5, nprobe=4, shortlist=n,
        where=f"label = {IVFPQ_FILTER_LABEL}",
    )
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


def knn_ivf_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtered search in its PRUNED production configuration
    (nprobe=6 of 8 cells + per-query label equality): recall vs the
    exact filtered ranking (Q(knn_label_filtered), oracle-green) must
    stay ≥ 0.7 — the filter shrinks each query's candidate pool ~10×,
    which is exactly when cell pruning could silently collapse a
    filtered result. Measured 0.96 (sf0.001) / 1.0 (sf0.01), so the
    gate clears with margin yet catches a collapse. In-plan-guarded;
    rows-only (k-means cells aren't SQL-expressible)."""
    import tempfile

    from ..functions import vector as V
    from ..operators.ann_index import build_ivf_index, search_ivf_index
    from .vectors import knn_label_filtered

    emb = load_table(spark, sf_dir, "embeddings").where(
        V.norm("embedding") > 0
    )
    path = tempfile.mkdtemp(prefix="ivf_filtered_rc_")
    build_ivf_index(emb, path, n_cells=8, meta_cols=("label",))
    queries = emb.where(F.col("vec_id") < 5)
    approx = search_ivf_index(
        spark, path, queries, k=5, nprobe=6, match_cols=("label",)
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    exact = knn_label_filtered(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    per_q = joined.groupBy("query_id").agg(
        (F.coalesce(F.sum("_hit"), F.lit(0)) / F.count("*")).alias("recall_q")
    )
    agg = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.avg("recall_q"), 4).alias("mean_recall"),
    )
    return agg.select(
        F.lit("ivf_filtered_pruned").alias("strategy"),
        "n_queries",
        "mean_recall",
        (F.col("mean_recall") >= 0.7).alias("passed"),
    )


def bpe_train_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py) checked
    merge-for-merge against the in-repo pure-Python reference on the
    same word-frequency table. The corpus collapses to (word, count)
    first — vocabulary cardinality, the table production BPE trainers
    operate on — so each merge round scans rows proportional to the
    vocabulary, not the corpus. The reference side collects that same
    bounded table (31 types at test scale; bounded by |vocab| always).
    Rows-only: 20 rounds of iterative argmax is not one SQL query."""
    from ..operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    wc = B.word_counts(docs)
    spark_merges = B.bpe_train(wc, n_merges=20)
    counts = {r["word"]: r["n"] for r in wc.collect()}
    ref_merges = B.bpe_reference(counts, n_merges=20)
    n_match = sum(1 for a, b in zip(spark_merges, ref_merges) if a == b)
    return local_table(
        spark,
        [
            (
                "bpe_wordfreq",
                len(spark_merges),
                len(ref_merges),
                n_match,
                spark_merges == ref_merges and len(spark_merges) > 0,
            )
        ],
        "strategy string, n_merges long, n_ref long, n_match long, passed boolean",
    )


def knn_numpy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy brute-force k-NN (partition-local partial top-k) —
    the throughput path. Exact: same (query, k, tie-break) contract as
    ``knn_exact``, so it carries the same DuckDB oracle (scores pround'd
    to 4; zero-norm candidates drop out of both engines — NaN scores
    never enter a top-k)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    qm = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in q])
    qids = np.asarray([r["vec_id"] for r in q], dtype=np.int64)
    out = KNN.knn_bruteforce_numpy(emb, qm, qids, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        X.pround(F.col("score"), 4).alias("score"),
    )


def hll_rollup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (the re-aggregatable distinct-count
    pattern a 100 TB rollup table needs): per-day HLL sketches of
    user_id (`hll_sketch_agg`) merged across days (`hll_union_agg`)
    into a total distinct estimate. At scale, storing the per-day
    sketch column lets ANY date range's distinct count be answered by
    merging sketches — no re-scan of raw events, which a plain
    count-distinct rollup cannot do (distincts don't add). One row:
    estimate vs exact, relative error, pass flag at ≤ 5 % (HLL with
    default lgConfigK=12 is ~1.6 % standard error). Rows-only: DuckDB
    cannot evaluate Spark's sketch binary."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("estimate"),
        F.count("*").cast("long").alias("n_days"),
    )
    exact = events.agg(F.countDistinct("user_id").alias("exact"))
    joined = merged.crossJoin(F.broadcast(exact))
    rel_err = F.abs(F.col("estimate") - F.col("exact")) / F.col("exact")
    return joined.select(
        F.lit("hll_rollup").alias("strategy"),
        "n_days",
        F.col("estimate").cast("long").alias("estimate"),
        "exact",
        F.round(rel_err, 4).alias("rel_err"),
        (rel_err <= 0.05).alias("passed"),
    )


def gk_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable ε-quantile summary (operators/gk.py) with an in-plan
    error CERTIFICATE: sketch l_extendedprice at ε = 0.01, query seven
    quantiles off the summary alone, then verify each answer's true
    rank against the data — |rank(answer) − ⌈q·n⌉| must be ≤ ε·n.
    Complements quantile_rollup (percentile_approx re-aggregation):
    the GK summary is a persistable VALUE — per-shard/per-day partials
    merge later without re-scanning, which percentile_approx cannot
    do. One row (n, max_rank_err, bound, passed); rows-only — DuckDB
    has no mergeable-summary equivalent, and the pytest suite
    (tests/test_gk.py) pins the bound across distributions, merges,
    and skewed/null partitions."""
    import pandas as pd

    from ..operators import gk

    eps = 0.01
    probs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    sk = gk.gk_sketch(li, "x", eps)

    def answers(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("v", kind="mergesort")
        entries = list(zip(pdf["v"], pdf["g"], pdf["delta"]))
        n = gk.total_count(entries)
        return pd.DataFrame(
            {
                "q": probs,
                "est": [gk.query(entries, q) for q in probs],
                "n": [n] * len(probs),
            }
        )

    est = sk.groupBy(F.lit(0).alias("_k")).applyInPandas(
        answers, "q double, est double, n long"
    )
    ranked = (
        li.crossJoin(F.broadcast(est))
        .groupBy("q", "est", "n")
        .agg(
            F.sum((F.col("x") < F.col("est")).cast("long")).alias("r_lo"),
            F.sum((F.col("x") <= F.col("est")).cast("long")).alias("r_hi"),
        )
    )
    target = F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n")).cast("long"))
    err = F.greatest(
        F.col("r_lo") + 1 - target, target - F.col("r_hi"), F.lit(0)
    )
    return ranked.agg(
        F.max("n").alias("n"),
        F.count("*").alias("n_probs"),
        F.max(err).alias("max_rank_err"),
        F.ceil(F.max("n") * eps).cast("long").alias("bound"),
        (F.max(err) <= F.ceil(F.max("n") * eps)).alias("passed"),
    )


def gk_grouped_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mergeable quantile summaries
    (operators/gk.py:gk_sketch_grouped) with the same in-plan error
    certificate as gk_quantile_gate, per LANGUAGE: sketch documents'
    n_chars per lang at ε = 0.02, answer three quantiles per group off
    the summaries alone, re-check every answer's true within-group
    rank against the data. One row per lang
    (lang, n, max_rank_err, bound, passed); rows-only."""
    import pandas as pd

    from ..operators import gk

    eps = 0.02
    probs = [0.25, 0.5, 0.9]
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").cast("double").alias("x")
    )
    sk = gk.gk_sketch_grouped(docs, "lang", "x", eps)

    def answers(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("v", kind="mergesort")
        entries = list(zip(pdf["v"], pdf["g"], pdf["delta"]))
        n = gk.total_count(entries)
        return pd.DataFrame(
            {
                "lang": [key[0]] * len(probs),
                "q": probs,
                "est": [gk.query(entries, p) for p in probs],
                "n": [n] * len(probs),
            }
        )

    est = sk.groupBy("lang").applyInPandas(
        answers, "lang string, q double, est double, n long"
    )
    ranked = (
        docs.join(F.broadcast(est), "lang")
        .groupBy("lang", "q", "est", "n")
        .agg(
            F.sum((F.col("x") < F.col("est")).cast("long")).alias("r_lo"),
            F.sum((F.col("x") <= F.col("est")).cast("long")).alias("r_hi"),
        )
    )
    target = F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n")).cast("long"))
    err = F.greatest(
        F.col("r_lo") + 1 - target, target - F.col("r_hi"), F.lit(0)
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.max("n").alias("n"),
            F.max(err).alias("max_rank_err"),
            F.ceil(F.max("n") * eps).cast("long").alias("bound"),
            (F.max(err) <= F.ceil(F.max("n") * eps)).alias("passed"),
        )
    )


def rag_chat_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 end-to-end chat dataflow with the deterministic LLM stub."""
    return chat.rag_answers(spark, sf_dir)


def warc_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET source+sink end-to-end (sources/warc.py): the documents
    table is re-sharded by the executors into 4 per-record-gzip WET
    segment files (write_warc_shards — the Common Crawl layout), then
    read back through the `warc` Python DataSource (one task per
    segment, record_type filter pushed into the parse) and landed on
    the canonical document columns. The oracle reads the ORIGINAL
    parquet: every doc_id/lang/text must survive the
    encode→gzip→parse→decode trip byte-exactly, so this is a true
    non-self-referential check of both the writer and the parser."""
    import atexit
    import shutil
    import tempfile

    from ..sources import warc as W

    docs = load_table(spark, sf_dir, "documents")
    # The gate stages the corpus as real WET files in local tmp — a
    # correctness fixture sized to the driver-check SF, not a production
    # path (production reads crawl segments in place). Removed at
    # process exit so the returned lazy frame stays valid.
    out_dir = tempfile.mkdtemp(prefix="warc_rt_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    W.write_warc_shards(docs, out_dir, n_shards=4, shard_key="doc_id")
    return W.wet_documents(spark, out_dir).select("doc_id", "lang", "text")


# --- domain-level corpus curation over WARC -------------------------------

#: deterministic crawl-origin synthesis: doc_id % 8 picks the host
#: (mixed single- and multi-label public suffixes), doc_id % 10 == 0
#: adds a port, doc_id % 13 == 0 adds userinfo — the URI shapes the
#: host parser must strip.
CURATION_HOSTS = (
    "news.example.com",
    "blog.example.co.uk",
    "cdn.tracker-net.com",
    "docs.example.org",
    "media.example.co.uk",
    "example.net",
    "www.spamfarm.biz",
    "archive.example.com",
)
CURATION_BLOCKLIST = ("tracker-net.com", "spamfarm.biz")
DOMAIN_CAP = 25  # max documents kept per registrable domain


def _curation_url_col():
    host = F.element_at(
        F.array(*[F.lit(h) for h in CURATION_HOSTS]),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    return F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 13 == 0, F.lit("crawler@")).otherwise(F.lit("")),
        host,
        F.when(F.col("doc_id") % 10 == 0, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
    )


def domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level corpus curation — the first pass of a Common Crawl
    pipeline — composed WITH the WARC source/sink: documents get a
    deterministic crawl-origin URI, are re-sharded into real WET
    segment files (sources/warc.py, url_col provenance), read back
    through the `warc` DataSource, and then curated by origin:

    - host extraction from the survived WARC-Target-URI (functions/
      url.py — codegen regexp; strips scheme, userinfo, port),
    - registrable-domain (eTLD+1) rollup with multi-label public
      suffixes (``blog.example.co.uk`` → ``example.co.uk``),
    - blocklist ANTI-JOIN on the registrable domain (broadcast — a
      blocklist is a bounded policy table),
    - per-domain document cap via row_number ≤ N (WindowGroupLimit:
      partial top-N per map task before the exchange, so a domain with
      10⁹ pages ships N rows, not 10⁹, to the reducer).

    The oracle recomputes host/domain/cap from the ORIGINAL parquet +
    the same URI synthesis in pure SQL — so the WARC round-trip, the
    URI plumbing, and the curation expressions are all under test."""
    import atexit
    import shutil
    import tempfile

    from ..functions.url import registrable_domain, url_host
    from ..sources import warc as W

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", _curation_url_col()
    )
    out_dir = tempfile.mkdtemp(prefix="warc_cur_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    W.write_warc_shards(docs, out_dir, n_shards=4, shard_key="doc_id",
                        url_col="url")
    landed = W.wet_documents(spark, out_dir, with_uri=True)

    # eTLD+1 as the INLINE EXPRESSION (the PSL snapshot as literal IN
    # lists inside one codegen span) — measured 4-5x faster than the
    # broadcast-join form at sf0.1 AND sf1 (BENCH_PSL_FORMS_r12.json:
    # the join form pays a ~2.6 s plan constant, one exchange + build
    # per rule tier, that the data never amortizes; the expression adds
    # zero plan nodes). registrable_domain_join remains the scale path
    # for a full ~10k-rule PSL refresh, where IN lists would blow up
    # codegen — equivalence-tested in tests/test_url.py.
    parsed = landed.select(
        "doc_id", url_host(F.col("url")).alias("host")
    ).withColumn("domain", registrable_domain(F.col("host")))
    blocklist = local_table(spark, [(d,) for d in CURATION_BLOCKLIST], "domain string")
    allowed = parsed.join(F.broadcast(blocklist), "domain", "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy("doc_id")
    return (
        allowed.withColumn("dom_rank", F.row_number().over(w).cast("long"))
        .where(F.col("dom_rank") <= DOMAIN_CAP)
        .select("doc_id", "host", "domain", "dom_rank")
    )


# --- bloom-filter incremental dedup ----------------------------------------

BLOOM_FPP = 0.03  # small enough to bound verify work, big enough that
# the false-positive → exact-verify path actually fires at driver SF


def bloom_novel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup via the bloom membership gate
    (operators/bloom.py): even doc_ids model the HISTORICAL corpus
    (summarized once into a bit-OR-mergeable bloom bitmap), odd doc_ids
    the incoming crawl batch; output = the batch rows whose text does
    not occur in history. Bloom misses pass without touching history;
    only the ε-bounded false-positive candidates pay the exact verify
    anti-join — yet the result is row-identical to the plain anti-join,
    which is exactly what the oracle runs. The scale point: per
    incoming batch, history is NEVER re-scanned for the miss majority
    (the reference's per-row UNIQUE probe, backend/db_utils.py:221-225,
    restated as batch-over-summary)."""
    from ..operators.bloom import bloom_incremental_dedup, bloom_params

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    # sizing preflight: one bounded scalar (the history cardinality),
    # the standard cost of constructing any bloom filter
    m, k = bloom_params(max(history.count(), 1), fpp=BLOOM_FPP)
    out = bloom_incremental_dedup(
        new, history, F.col("text"), F.col("text"), m, k
    )
    return out.select("doc_id").orderBy("doc_id")


def bloom_fpp_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter quality gate, one row: (a) NO false negatives —
    probing the summarized set itself hits on every key (the property
    the dedup correctness rests on); (b) the measured false-positive
    rate on guaranteed-absent keys stays ≤ 3× the design target; (c)
    merge(build(A), build(B)) ≡ build(A ∪ B) bit for bit (the rollup
    mergeability contract). Rows-only: bitmap internals aren't SQL."""
    from ..operators.bloom import bloom_build, bloom_merge, bloom_params, bloom_probe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = max(docs.count(), 1)
    m, k = bloom_params(n, fpp=BLOOM_FPP)
    key = F.col("text")
    sk = bloom_build(docs, key, m, k)

    self_probe = bloom_probe(docs, key, sk, m, k)
    fn = self_probe.where(~F.col("bloom_hit")).count()

    absent = spark.range(n * 4).select(
        F.concat(F.lit("::absent-key::"), F.col("id").cast("string")).alias("text")
    )
    fp = bloom_probe(absent, F.col("text"), sk, m, k).where(
        F.col("bloom_hit")
    ).count()
    fpp = fp / (n * 4)

    halves = [docs.where(F.col("doc_id") % 2 == i) for i in (0, 1)]
    merged = bloom_merge(
        bloom_build(halves[0], key, m, k), bloom_build(halves[1], key, m, k)
    )
    merge_diff = (
        merged.unionByName(sk)
        .groupBy("word", "bits")
        .count()
        .where(F.col("count") != 2)
        .count()
    )
    return local_table(
        spark,
        [
            (
                int(n),
                int(m),
                int(k),
                int(fn),
                float(round(fpp, 5)),
                int(merge_diff),
                bool(fn == 0 and fpp <= 3 * BLOOM_FPP and merge_diff == 0),
            )
        ],
        "n_keys long, m_bits long, k_hashes long, false_negatives long, "
        "measured_fpp double, merge_mismatch_words long, passed boolean",
    )


def purge_document_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete/purge propagation across the three persistent retrieval
    layouts — reference parity for POST /delete-doc, which removes a
    document from BOTH stores (backend/main.py:443-486 SQLite +
    backend/chroma_utils.py:174 Chroma `_collection.delete(where=
    {"file_id": …})`). The engine's ingest.delete_document covers
    catalog+chunks; this gate pins that the PERSISTENT indexes can
    forget too: ingest → index (BM25 postings, IVF vectors, IVF+PQ
    codes) → delete one *result-bearing* document from each → every
    search is row-identical to an index built fresh from the surviving
    corpus, and no stale posting/vector/code survives anywhere.

    Victims are chosen to MATTER: the top-1 hit of a live query in
    each layout, so the delete must shift ranks, df, N, avgdl — not
    just drop a row nobody returns. Equality configurations are the
    exact ones (BM25 is always exact; IVF probes all cells; IVF+PQ
    re-ranks a full shortlist), so quantizer differences between the
    deleted and fresh-built indexes cannot mask — or fake — a
    mismatch. Rows-only (index builds aren't SQL), with every pass
    flag in-plan-guarded via plans/guards.py.

    Driver-side collects are all bounded: the 1-row victim picks and
    the Q·k ≤ 30-row search results being compared."""
    import tempfile

    from ..operators.ann_index import (
        build_ivf_index,
        delete_ivf_ids,
        read_stats,
        search_ivf_index,
    )
    from ..operators.knn import read_centroids
    from ..operators.bm25 import (
        Bm25Searcher,
        build_bm25_index,
        delete_bm25_docs,
    )
    from ..operators.pq_index import (
        build_ivfpq_index,
        delete_ivfpq_ids,
        search_ivfpq_index,
    )
    from .documents import BM25_QUERIES

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    rows: list[tuple[str, int, int]] = []

    def _rowset(df):
        return {tuple(str(v) for v in r) for r in df.collect()}

    # ---------------- BM25 postings/doclens ----------------
    bp = tempfile.mkdtemp(prefix="purge_bm25_")
    build_bm25_index(docs, bp, n_buckets=8)
    victim = int(
        Bm25Searcher(spark, bp)
        .search(BM25_QUERIES[:1], k=1)
        .collect()[0]["doc_id"]
    )
    info = delete_bm25_docs(spark, bp, [victim])
    rows.append(("bm25_victim_deleted", info["deleted_docs"], 1))
    bf = tempfile.mkdtemp(prefix="purge_bm25f_")
    build_bm25_index(docs.where(F.col("doc_id") != victim), bf, n_buckets=8)
    got = _rowset(Bm25Searcher(spark, bp).search(BM25_QUERIES, k=10))
    want = _rowset(Bm25Searcher(spark, bf).search(BM25_QUERIES, k=10))
    rows.append(("bm25_search_equals_fresh_build", len(got ^ want), 0))
    leftovers = (
        spark.read.parquet(f"{bp}/postings")
        .where(F.col("doc_id") == victim)
        .count()
        + spark.read.parquet(f"{bp}/doclens")
        .where(F.col("doc_id") == victim)
        .count()
    )
    rows.append(("bm25_victim_forgotten", int(leftovers), 0))

    # ---------------- IVF vectors ----------------
    ip = tempfile.mkdtemp(prefix="purge_ivf_")
    build_ivf_index(emb, ip, n_cells=4)
    n_cells = len(read_centroids(spark, ip))
    n0 = int(read_stats(spark, ip)["cur_n"])
    queries = pin(emb.where(F.col("vec_id") < 3), eager=True)
    v_ivf = int(
        search_ivf_index(spark, ip, queries, k=1, nprobe=n_cells)
        .collect()[0]["neighbor_id"]
    )
    dinfo = delete_ivf_ids(spark, ip, [v_ivf])
    rows.append(("ivf_victim_deleted", dinfo["deleted"], 1))
    rows.append(("ivf_stats_decremented", int(dinfo["cur_n"]), n0 - 1))
    fp = tempfile.mkdtemp(prefix="purge_ivff_")
    surv_emb = emb.where(F.col("vec_id") != v_ivf)
    build_ivf_index(surv_emb, fp, n_cells=4)
    got = _rowset(search_ivf_index(spark, ip, queries, k=5, nprobe=n_cells))
    want = _rowset(search_ivf_index(spark, fp, queries, k=5, nprobe=n_cells))
    rows.append(("ivf_search_equals_fresh_build", len(got ^ want), 0))
    rows.append((
        "ivf_victim_forgotten",
        spark.read.parquet(f"{ip}/vectors")
        .where(F.col("vec_id") == v_ivf)
        .count(),
        0,
    ))

    # ---------------- IVF+PQ codes ----------------
    pp = tempfile.mkdtemp(prefix="purge_pq_")
    build_ivfpq_index(emb, pp, n_cells=4, m=8, kc=16)
    n_emb = emb.count()
    v_pq = int(
        search_ivfpq_index(
            spark, pp, queries, emb, k=1, nprobe=4, shortlist=n_emb
        ).collect()[0]["neighbor_id"]
    )
    pinfo = delete_ivfpq_ids(spark, pp, [v_pq])
    rows.append(("ivfpq_victim_deleted", pinfo["deleted"], 1))
    pf = tempfile.mkdtemp(prefix="purge_pqf_")
    surv2 = pin(emb.where(F.col("vec_id") != v_pq), eager=True)
    build_ivfpq_index(surv2, pf, n_cells=4, m=8, kc=16)
    got = _rowset(
        search_ivfpq_index(
            spark, pp, queries, surv2, k=5, nprobe=4, shortlist=n_emb
        )
    )
    want = _rowset(
        search_ivfpq_index(
            spark, pf, queries, surv2, k=5, nprobe=4, shortlist=n_emb
        )
    )
    rows.append(("ivfpq_search_equals_fresh_build", len(got ^ want), 0))
    rows.append((
        "ivfpq_victim_forgotten",
        spark.read.parquet(f"{pp}/codes")
        .where(F.col("vec_id") == v_pq)
        .count(),
        0,
    ))

    out = local_table(
        spark,
        [(c, int(o), int(e)) for c, o, e in rows],
        "check string, observed long, expected long",
    )
    return out.select(
        "check", "observed", "expected",
        (F.col("observed") == F.col("expected")).alias("passed"),
    )


QUERIES = {
    "purge_document_gate": purge_document_gate,
    "curation_pipeline_gate": curation_pipeline_gate,
    "recursive_chunks": recursive_chunks,
    "bloom_novel_docs": bloom_novel_docs,
    "bloom_fpp_gate": bloom_fpp_gate,
    "splitter_invariants": splitter_invariants,
    "media_decode_gate": media_decode_gate,
    "media_metadata": media_metadata,
    "multimodal_gate": multimodal_gate,
    "audio_spectral_gate": audio_spectral_gate,
    "image_phash_gate": image_phash_gate,
    "neardup_verified_pairs": neardup_verified_pairs,
    "simhash_neardup": simhash_neardup,
    "simhash_verified_pairs": simhash_verified_pairs,
    "doc_embeddings": doc_embeddings,
    "embedding_gate": embedding_gate,
    "knn_ivf_approx": knn_ivf_approx,
    "knn_ivf_recall": knn_ivf_recall,
    "knn_ivf_exhaustive": knn_ivf_exhaustive,
    "knn_pq_approx": knn_pq_approx,
    "knn_pq_exhaustive": knn_pq_exhaustive,
    "knn_pq_recall": knn_pq_recall,
    "bpe_train_gate": bpe_train_gate,
    "quantile_rollup": quantile_rollup,
    "knn_ivfpq_approx": knn_ivfpq_approx,
    "knn_ivfpq_exhaustive": knn_ivfpq_exhaustive,
    "knn_ivfpq_recall": knn_ivfpq_recall,
    "knn_ivf_filtered": knn_ivf_filtered,
    "knn_ivfpq_filtered": knn_ivfpq_filtered,
    "knn_ivf_filtered_recall": knn_ivf_filtered_recall,
    "hll_rollup_gate": hll_rollup_gate,
    "gk_quantile_gate": gk_quantile_gate,
    "gk_grouped_quantile_gate": gk_grouped_quantile_gate,
    "knn_numpy_topk": knn_numpy_topk,
    "rag_chat_answers": rag_chat_answers,
    "warc_roundtrip_docs": warc_roundtrip_docs,
    "domain_curation": domain_curation,
}

# Rows-only for the non-SQL-expressible operators; media_metadata is the
# exception — its synthesized payload parameters ARE SQL arithmetic, so
# the decode round-trip gets a real DuckDB oracle.
ORACLE: dict[str, str] = {"media_metadata": MEDIA_METADATA_ORACLE}

# WET round-trip: the Spark side re-reads the documents through real
# WARC bytes; the oracle reads the original parquet directly.
ORACLE["warc_roundtrip_docs"] = (
    "SELECT doc_id, lang, text FROM documents"
)


def _domain_curation_oracle() -> str:
    """Recompute URI synthesis + host parse + eTLD+1 + blocklist + cap
    from the ORIGINAL parquet in pure SQL (the Spark side reads the
    URIs back out of real WARC bytes)."""
    from ..functions.url import registrable_domain_sql, url_host_sql

    hosts = ", ".join(f"'{h}'" for h in CURATION_HOSTS)
    blocked = ", ".join(f"'{d}'" for d in CURATION_BLOCKLIST)
    return f"""
        WITH u AS (
            SELECT doc_id,
                   'https://'
                   || CASE WHEN doc_id % 13 = 0 THEN 'crawler@' ELSE '' END
                   || ([{hosts}])[CAST(doc_id % 8 AS INT) + 1]
                   || CASE WHEN doc_id % 10 = 0 THEN ':8443' ELSE '' END
                   || '/doc/' || CAST(doc_id AS VARCHAR) AS url
            FROM documents
        ), parsed AS (
            SELECT doc_id, {url_host_sql("url")} AS host FROM u
        ), dom AS (
            SELECT doc_id, host, {registrable_domain_sql("host")} AS domain
            FROM parsed
        ), allowed AS (
            SELECT * FROM dom WHERE domain NOT IN ({blocked})
        )
        SELECT doc_id, host, domain, dom_rank FROM (
            SELECT doc_id, host, domain,
                   CAST(row_number() OVER (
                       PARTITION BY domain ORDER BY doc_id
                   ) AS BIGINT) AS dom_rank
            FROM allowed
        ) WHERE dom_rank <= {DOMAIN_CAP}
    """


ORACLE["domain_curation"] = _domain_curation_oracle()

# Bloom gate ≡ exact anti-join (no false negatives; false positives
# are pruned by the verify join) — the oracle IS the exact anti-join.
ORACLE["bloom_novel_docs"] = """
    SELECT n.doc_id FROM documents n
    WHERE n.doc_id % 2 = 1
      AND NOT EXISTS (
          SELECT 1 FROM documents h
          WHERE h.doc_id % 2 = 0 AND h.text = n.text
      )
"""

# The exhaustive exact-Jaccard verify half of the minhash pipeline:
# shingle sets, per-pair intersection via a shingle self-join, size
# counts, threshold 0.5 — mirrors operators/dedup.exact_jaccard_pairs
# (rounding via floor(x*1e4 + 0.5)/1e4 ≡ Spark's HALF_UP round(…, 4)).
ORACLE["simhash_verified_pairs"] = _simhash_verified_oracle()

ORACLE["neardup_verified_pairs"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM idx
), counts AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(floor((inter*1.0/(ca.n+cb.n-inter))*10000 + 0.5)/10000
            AS DOUBLE) AS jaccard
FROM pairs
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE least(ca.n, cb.n) >= 0.5 * greatest(ca.n, cb.n)
  AND inter*1.0/(ca.n+cb.n-inter) >= 0.5
"""

# knn_numpy_topk is EXACT brute-force with knn_exact's (queries, k,
# tie-break) contract, only the physical engine differs (Arrow/numpy
# partial top-k vs codegen'd expressions) — so it shares knn_exact's
# DuckDB oracle verbatim. Drift between the two engines now fails the
# driver gate, not just the in-repo equivalence test.
from .vectors import ORACLE as _VEC_ORACLE  # noqa: E402

ORACLE["knn_numpy_topk"] = _VEC_ORACLE["knn_exact"]

# knn_ivf_exhaustive probes every cell, and knn_pq_exhaustive
# shortlists the whole corpus into the exact re-rank — both machines
# produce the exact result in these configurations, so both carry
# knn_exact's oracle.
ORACLE["knn_ivf_exhaustive"] = _VEC_ORACLE["knn_exact"]
ORACLE["knn_pq_exhaustive"] = _VEC_ORACLE["knn_exact"]
ORACLE["knn_ivfpq_exhaustive"] = _VEC_ORACLE["knn_exact"]

# the filtered PERSISTENT-index search in its exhaustive configuration
# is the exact label-filtered k-NN, so it shares Q(knn_label_filtered)'s
# oracle verbatim — the metadata-carrying layout, the probe table, and
# the below-scoring filter are all on the hook for the hash
ORACLE["knn_ivf_filtered"] = _VEC_ORACLE["knn_label_filtered"]

# static where-filter on the IVF+PQ path, exhaustive configuration:
# exact top-k among label = IVFPQ_FILTER_LABEL candidates (self
# excluded), same float association as knn_exact's oracle
from .vectors import _COS as _COS_SQL  # noqa: E402

ORACLE["knn_ivfpq_filtered"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings
               WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0)
    SELECT query_id, neighbor_id, rank, {X.pround_sql("score", 4)} AS score
    FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS score,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
        FROM e a JOIN e b
          ON a.vec_id < 5 AND a.vec_id != b.vec_id
         AND b.label = {IVFPQ_FILTER_LABEL}
    ) WHERE rank <= 5
"""

# the mergeable-histogram quantile pipeline is plain SQL — replicate the
# daily-sketch → range-merge → interpolate math bin-for-bin in DuckDB
_QROLLUP_ONE = """
    SELECT '{tag}' AS range_tag,
           {est} AS median_est,
           {cont} AS median_cont,
           {disc} AS median_disc,
           {err} AS abs_err_disc,
           abs(est - disc) <= {w} AS passed
    FROM (
        SELECT
            (SELECT min(bin * {w} + {w} * ((total * 0.5) - (cum - n)) / n)
             FROM (
                 SELECT bin, n,
                        sum(n) OVER (ORDER BY bin) AS cum,
                        sum(n) OVER () AS total
                 FROM (
                     SELECT bin, sum(dn) AS n FROM (
                         SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                                CAST(floor(least(greatest(value, 0.0),
                                     {top}) / {w}) AS INT) AS bin,
                                count(*) AS dn
                         FROM events {cond}
                         GROUP BY 1, 2
                     ) GROUP BY bin
                 )
             ) WHERE cum >= total * 0.5 AND bin = (
                 SELECT min(bin) FROM (
                     SELECT bin, sum(n) OVER (ORDER BY bin) AS cum,
                            sum(n) OVER () AS total
                     FROM (
                         SELECT bin, count(*) AS n FROM (
                             SELECT CAST(floor(least(greatest(value, 0.0),
                                    {top}) / {w}) AS INT) AS bin
                             FROM events {cond}
                         ) GROUP BY bin
                     )
                 ) WHERE cum >= total * 0.5
             )) AS est,
            (SELECT quantile_cont(value, 0.5) FROM events {cond}) AS cont,
            (SELECT quantile_disc(value, 0.5) FROM events {cond}) AS disc
    )
"""


def _qrollup_sql(tag: str, cond: str) -> str:
    from ..functions.exact import pround_sql

    return _QROLLUP_ONE.format(
        tag=tag,
        cond=cond,
        w=_QBIN_W,
        top=_QBIN_W * _QBIN_N - 1e-9,
        est=pround_sql("est", 4),
        cont=pround_sql("cont", 4),
        disc=pround_sql("disc", 4),
        err=pround_sql("abs(est - disc)", 4),
    )


ORACLE["quantile_rollup"] = (
    _qrollup_sql("all_days", "")
    + " UNION ALL "
    + _qrollup_sql(
        "first_10_days",
        "WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-10'",
    )
)
