"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched stages over
``mapInPandas``.

Each stage parses its container directly with stdlib + numpy (no
PIL/cv2/librosa in this environment) — the same move as minidecode.py
for PDF/DOCX:

- ``image_features``: PNG IHDR plus full pixel decode (IDAT inflate,
  all five scanline filters, every legal bit depth, Adam7, palette);
- ``audio_features``: RIFF/WAV fmt + data walk with PCM loudness stats
  at every integer/float width, and FLAC STREAMINFO header fields;
- ``video_metadata``: ISO BMFF (MP4/MOV) box walk — mvhd duration,
  first video track's tkhd dimensions, track count.

The per-row parsers return None for anything they cannot parse and
never raise (tests/test_decoder_fuzz.py); a stage that meets such a
payload raises ``NotImplementedError`` naming the asset instead of
emitting a made-up row.

Design for 100 TB: binary payloads stay in Arrow record batches
end-to-end (no per-row Python in any Spark expression), and metadata
lives in a MAP column so pruning ``meta`` never drags ``content`` into
memory.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import MEDIA_ASSETS  # noqa: F401  (canonical schema)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        # per-channel stats from the decoded pixel array
        T.StructField("pixel_mean", T.ArrayType(T.DoubleType())),
        T.StructField("pixel_std", T.ArrayType(T.DoubleType())),
        T.StructField("pixels_real", T.BooleanType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

VIDEO_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_tracks", T.IntegerType()),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


class ImageInfo(NamedTuple):
    format: str  # "png"
    width: int
    height: int
    channels: int


class AudioInfo(NamedTuple):
    format: str  # "wav" | "flac"
    channels: int
    sample_rate: int
    bits_per_sample: int
    n_samples: int  # per channel
    duration_ms: int
    rms: float  # 0..1 normalized; 0.0 when samples aren't decoded
    peak: float


class VideoInfo(NamedTuple):
    format: str  # "mp4"
    duration_ms: int
    width: int  # 0 when no video track header found
    height: int
    n_tracks: int


# ------------------------------------------------------------------ images

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (palette indexes at 1 byte count as 1)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(data: bytes) -> ImageInfo | None:
    if len(data) < 33 or not data.startswith(_PNG_SIG):
        return None
    # first chunk must be IHDR: length(4) type(4) data(13)
    if data[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", data[16:24])
    color_type = data[25]
    channels = _PNG_CHANNELS.get(color_type)
    if channels is None or not (0 < width and 0 < height):
        return None
    return ImageInfo("png", width, height, channels)


# Adam7 interlace passes: (row_start, row_step, col_start, col_step)
_PNG_ADAM7 = (
    (0, 8, 0, 8), (0, 8, 4, 8), (4, 8, 0, 4), (0, 4, 2, 4),
    (2, 4, 0, 2), (0, 2, 1, 2), (1, 2, 0, 1),
)


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reconstruct ``h`` scanlines of ``stride`` bytes from the
    filtered stream (filter byte + data per line, filters 0-4, RFC 2083
    §6). ``bpp`` is the filter distance in bytes. Returns the
    (h, stride) uint8 array or None. Filters None/Sub/Up are whole-row
    numpy ops (Sub is a cumsum over bpp-strided groups mod 256);
    Average/Paeth loop over pixel groups within the row only."""
    if len(raw) != h * (stride + 1) or stride % bpp:
        return None
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, lines = rows[:, 0], rows[:, 1:].astype(np.int32)
    recon = np.zeros((h, stride), dtype=np.uint8)
    zero = np.zeros(stride, dtype=np.int32)
    groups = stride // bpp
    for y in range(h):
        f, line = filters[y], lines[y]
        prev = recon[y - 1].astype(np.int32) if y else zero
        if f == 0:
            out = line % 256
        elif f == 1:  # Sub: recon[x] = line[x] + recon[x-bpp]
            out = (np.cumsum(line.reshape(groups, bpp), axis=0) % 256).reshape(stride)
        elif f == 2:  # Up
            out = (line + prev) % 256
        elif f in (3, 4):  # Average / Paeth: left-neighbor dependency
            out = np.zeros(stride, dtype=np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            upleft = np.zeros(bpp, dtype=np.int32)
            for x in range(groups):
                seg = slice(x * bpp, (x + 1) * bpp)
                up = prev[seg]
                if f == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - upleft
                    pa, pb, pc = (
                        np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
                    )
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
                    )
                out[seg] = (line[seg] + pred) % 256
                left, upleft = out[seg], up
        else:
            return None
        recon[y] = out.astype(np.uint8)
    return recon


def _png_samples(recon, w: int, h: int, ch: int, depth: int):
    """(h, stride) filtered-out bytes -> (h, w, ch) uint8 samples.
    16-bit takes the high byte (the standard 8-bit downscale); 1/2/4-bit
    unpack MSB-first within each scanline."""
    if depth == 8:
        return recon.reshape(h, w, ch)
    if depth == 16:
        return recon.reshape(h, w, ch, 2)[:, :, :, 0].copy()
    bits = np.unpackbits(recon, axis=1)[:, : w * ch * depth]
    vals = bits.reshape(h, w * ch, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8).reshape(
        h, w, ch
    )


def decode_png_pixels(data: bytes):
    """Full PNG pixel decode, pure stdlib (zlib) + numpy: concatenated
    IDAT inflate, per-scanline unfilter (all five filter types 0-4),
    every legal bit depth (1/2/4/8/16 — 16-bit downscales to 8), Adam7
    interlace, palette expansion via PLTE. Returns a (height, width,
    channels) uint8 ndarray, or None for corrupt streams."""
    info = decode_png(data)
    if info is None:
        return None
    if info.width * info.height > 64_000_000:  # untrusted header bound
        return None
    depth, color_type, interlace = data[24], data[25], data[28]
    if depth not in (1, 2, 4, 8, 16) or interlace not in (0, 1):
        return None
    if depth < 8 and color_type not in (0, 3):
        return None  # sub-byte depths are gray/palette only (spec)
    if depth == 16 and color_type == 3:
        return None

    idat = bytearray()
    plte = None
    pos = 8
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if ctype == b"IDAT":
            idat += body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    w, h, ch = info.width, info.height, info.channels
    bpp = max(1, ch * depth // 8)

    def pass_stride(pw: int) -> int:
        return (pw * ch * depth + 7) // 8

    # exact expected filtered size bounds the inflate — a tiny
    # zip-bomb IDAT must not balloon memory past what the (already
    # pixel-capped) header promises
    if interlace == 0:
        expected = h * (pass_stride(w) + 1)
    else:
        expected = sum(
            ph * (pass_stride(pw) + 1)
            for y0, dy, x0, dx in _PNG_ADAM7
            for pw in [(w - x0 + dx - 1) // dx]
            for ph in [(h - y0 + dy - 1) // dy]
            if pw and ph
        )
    try:
        raw = zlib.decompressobj().decompress(bytes(idat), expected + 1)
    except zlib.error:
        return None
    if len(raw) > expected:
        return None

    if interlace == 0:
        recon = _png_unfilter(raw, h, pass_stride(w), bpp)
        if recon is None:
            return None
        img = _png_samples(recon, w, h, ch, depth)
    else:  # Adam7: seven independently-filtered sub-images
        img = np.zeros((h, w, ch), dtype=np.uint8)
        off = 0
        for y0, dy, x0, dx in _PNG_ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if not pw or not ph:
                continue
            stride = pass_stride(pw)
            seg = raw[off : off + ph * (stride + 1)]
            off += ph * (stride + 1)
            recon = _png_unfilter(seg, ph, stride, bpp)
            if recon is None:
                return None
            img[y0::dy, x0::dx] = _png_samples(recon, pw, ph, ch, depth)
        if off != len(raw):
            return None

    if color_type == 3:  # palette indexes -> RGB
        if plte is None or len(plte) < 3:
            return None
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        idx = img[:, :, 0]
        if idx.max() >= len(pal):
            return None
        return pal[idx]
    if depth < 8:  # grayscale at sub-byte depth: scale to full range
        return (img.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    return img


# ------------------------------------------------------------------- audio


def decode_wav(data: bytes) -> AudioInfo | None:
    """RIFF/WAVE fmt + data chunk walk. Stats (rms/peak, normalized to
    [0,1]) are computed for integer PCM at 8 (unsigned), 16, 24 and 32
    bits and IEEE-float at 32/64 bits; other encodings (ADPCM, µ-law)
    return header fields with zero stats rather than failing."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, n = 12, len(data)
    channels = rate = bits = None
    audio_fmt = None
    pcm = None
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if not (channels and rate and bits is not None) or pcm is None:
        return None
    bytes_per_frame = channels * max(bits, 8) // 8
    n_samples = len(pcm) // bytes_per_frame if bytes_per_frame else 0
    duration_ms = int(n_samples * 1000 // rate) if rate else 0
    rms = peak = 0.0
    if n_samples:
        x = _pcm_to_float(pcm[: n_samples * bytes_per_frame], audio_fmt, bits)
        if x is not None and len(x) and np.isfinite(x).all():
            rms = float(np.sqrt(np.mean(x * x)))
            peak = float(np.max(np.abs(x)))
    return AudioInfo("wav", channels, rate, bits, n_samples, duration_ms, rms, peak)


def _pcm_to_float(buf: bytes, audio_fmt: int, bits: int):
    """Raw PCM frames -> float64 samples in [-1, 1] (interleaved across
    channels); None for encodings outside integer/float PCM."""
    if audio_fmt == 1 and bits == 16:
        return np.frombuffer(buf, dtype="<i2").astype(np.float64) / 32768.0
    if audio_fmt == 1 and bits == 8:  # 8-bit PCM is unsigned
        return (np.frombuffer(buf, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    if audio_fmt == 1 and bits == 24:
        b = np.frombuffer(buf, dtype=np.uint8)
        b = b[: len(b) // 3 * 3].reshape(-1, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        return v.astype(np.float64) / float(1 << 23)
    if audio_fmt == 1 and bits == 32:
        return np.frombuffer(buf, dtype="<i4").astype(np.float64) / float(1 << 31)
    if audio_fmt == 3 and bits == 32:  # IEEE float
        return np.frombuffer(buf, dtype="<f4").astype(np.float64)
    if audio_fmt == 3 and bits == 64:
        return np.frombuffer(buf, dtype="<f8")
    return None


def decode_flac(data: bytes) -> AudioInfo | None:
    """FLAC header fields from STREAMINFO, the mandatory first metadata
    block (RFC 9639 §8.2): sample rate (20 bits), channels − 1 (3 bits),
    bits per sample − 1 (5 bits) and the total per-channel sample count
    (36 bits). Frames are not decoded, so rms and peak are 0.0."""
    if len(data) < 42 or data[:4] != b"fLaC" or data[4] & 0x7F != 0:
        return None
    if int.from_bytes(data[5:8], "big") != 34:
        return None
    (packed,) = struct.unpack(">Q", data[18:26])
    rate = packed >> 44
    if not rate:
        return None
    n = packed & ((1 << 36) - 1)
    return AudioInfo(
        "flac", ((packed >> 41) & 0x7) + 1, rate, ((packed >> 36) & 0x1F) + 1,
        n, n * 1000 // rate, 0.0, 0.0,
    )


# ------------------------------------------------------------------- video


def _mp4_boxes(data: bytes, lo: int, hi: int):
    """Yield (type, body_lo, body_hi) for the boxes in data[lo:hi]."""
    pos = lo
    while pos + 8 <= hi:
        size = struct.unpack(">I", data[pos : pos + 4])[0]
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > hi:
                return
            size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
            body = pos + 16
        elif size == 0:  # box extends to end
            size = hi - pos
        if size < 8 or pos + size > hi:
            return
        yield btype, body, pos + size
        pos += size


def decode_mp4(data: bytes) -> VideoInfo | None:
    """ISO BMFF (MP4/MOV) metadata: mvhd timescale+duration and the
    first video track's tkhd 16.16-fixed width/height. Box walk only —
    no sample/codec decode."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        return None
    duration_ms = width = height = n_tracks = 0
    found_moov = False
    for btype, lo, hi in _mp4_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        found_moov = True
        for ctype, clo, chi in _mp4_boxes(data, lo, hi):
            if ctype == b"mvhd" and chi - clo >= 20:
                version = data[clo]
                if version == 1 and chi - clo >= 32:
                    timescale = struct.unpack(">I", data[clo + 20 : clo + 24])[0]
                    duration = struct.unpack(">Q", data[clo + 24 : clo + 32])[0]
                else:
                    timescale = struct.unpack(">I", data[clo + 12 : clo + 16])[0]
                    duration = struct.unpack(">I", data[clo + 16 : clo + 20])[0]
                if timescale:
                    duration_ms = int(duration * 1000 // timescale)
            elif ctype == b"trak":
                n_tracks += 1
                for ttype, tlo, thi in _mp4_boxes(data, clo, chi):
                    if ttype == b"tkhd" and thi - tlo >= 84:
                        w = struct.unpack(">I", data[thi - 8 : thi - 4])[0] >> 16
                        h = struct.unpack(">I", data[thi - 4 : thi])[0] >> 16
                        if w and h and not width:
                            width, height = w, h
    if not found_moov:
        return None
    return VideoInfo("mp4", duration_ms, width, height, n_tracks)


# ------------------------------------------------------------------ stages


def _pixel_embedding(img: np.ndarray, dim: int = 16) -> list[float]:
    """Content feature from the decoded pixel array: ``dim``-bin
    grayscale intensity histogram, L2-normalized. Deterministic and a
    genuine function of pixel content (two images with different pixels
    get different embeddings; re-encodings of the same pixels get the
    same). A learned vision encoder would slot in with the identical
    (H,W,C uint8 → float[dim]) signature."""
    gray = img.astype(np.float64).mean(axis=2) if img.ndim == 3 else img
    hist, _ = np.histogram(gray, bins=dim, range=(0, 256))
    v = hist.astype(np.float64)
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float32).tolist()


def _per_asset(assets: DataFrame, media_type: str, schema, row_fn) -> DataFrame:
    """One ``mapInPandas`` pass over the ``media_type`` rows: ``row_fn
    (asset_id, content bytes)`` returns one output tuple in ``schema``
    order."""
    cols = [f.name for f in schema]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    row_fn(r.asset_id, bytes(r.content) if r.content is not None else b"")
                    for r in pdf.itertuples(index=False)
                ],
                columns=cols,
            )

    return assets.where(F.col("media_type") == media_type).select(
        "asset_id", "content"
    ).mapInPandas(run, schema)


def _unsupported(kind: str, asset_id, expected: str):
    return NotImplementedError(
        f"unsupported {kind} payload for asset {asset_id} "
        f"(expected {expected}; unrecognized or corrupt bytes)"
    )


def _image_row(asset_id, data: bytes) -> tuple:
    img = decode_png_pixels(data)
    if img is None:
        raise _unsupported("image", asset_id, "PNG")
    # the decoded channel count: palette indexes expand to RGB, so a
    # palette PNG's header channel count (1) would disagree with its stats
    info = decode_png(data)._replace(channels=img.shape[2])
    flat = img.reshape(-1, img.shape[2])
    return (
        asset_id, *info, flat.mean(axis=0).tolist(), flat.std(axis=0).tolist(),
        True, _pixel_embedding(img),
    )


def _audio_row(asset_id, data: bytes) -> tuple:
    info = decode_flac(data) or decode_wav(data)
    if info is None:
        raise _unsupported("audio", asset_id, "RIFF/WAV or FLAC")
    return (asset_id, *info)


def _video_row(asset_id, data: bytes) -> tuple:
    info = decode_mp4(data)
    if info is None:
        raise _unsupported("video", asset_id, "ISO BMFF / MP4")
    return (asset_id, *info)


def image_features(assets: DataFrame) -> DataFrame:
    """Decode + feature-extract stage: PNG bytes → (format, dims,
    per-channel pixel mean/std, histogram embedding). Every row's
    pixels are decoded, so ``pixels_real`` is always true."""
    return _per_asset(assets, "image", IMAGE_FEATURES_SCHEMA, _image_row)


def audio_features(assets: DataFrame) -> DataFrame:
    """Audio metadata + loudness stage: WAV → header fields and PCM
    rms/peak; FLAC → STREAMINFO header fields with zero rms/peak."""
    return _per_asset(assets, "audio", AUDIO_FEATURES_SCHEMA, _audio_row)


def video_metadata(assets: DataFrame) -> DataFrame:
    """Video container metadata from the MP4 box walk (duration, first
    video track's dimensions, track count)."""
    return _per_asset(assets, "video", VIDEO_METADATA_SCHEMA, _video_row)
