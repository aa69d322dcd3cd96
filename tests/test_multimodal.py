"""Multimodal columns: the PNG / WAV / FLAC / MP4 parsers behind the
image/audio/video stages, on real byte streams built in-test (no binary
fixtures in the repo), called directly and through the Spark
``mapInPandas`` stages."""

from __future__ import annotations

import io
import math
import struct
import wave
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark import schemas
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import multimodal as MM

# --------------------------------------------------------------- builders


def _chunk(ctype, body):
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def make_png(width=5, height=3, color_type=2):
    """Fully valid PNG (IHDR + IDAT + IEND, correct CRCs), uniform 0x7f."""
    channels = {0: 1, 2: 3, 6: 4}[color_type]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x7f" * (width * channels) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def _encode_png(img, color_type, filters, palette=None):
    """Encode an (H,W,C) uint8 array as a PNG using the given per-row
    filter types — exercises every filter path in decode_png_pixels."""
    h, w, ch = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    flat = img.reshape(h, w * ch).astype(np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        line = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * ch, dtype=np.int32)
        left = np.roll(line, ch)
        left[:ch] = 0
        upleft = np.roll(prev, ch)
        upleft[:ch] = 0
        if f == 0:
            filt = line
        elif f == 1:
            filt = line - left
        elif f == 2:
            filt = line - prev
        elif f == 3:
            filt = line - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            filt = line - pred
        raw += bytes([f]) + bytes((filt % 256).astype(np.uint8))
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", palette)
    return out + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")


def _png_chunks(ihdr_fields, idat_raw, palette=None):
    """Assemble a PNG from raw (already filtered) scanline bytes."""
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr_fields))
    if palette is not None:
        out += _chunk(b"PLTE", bytes(palette))
    return out + _chunk(b"IDAT", zlib.compress(idat_raw)) + _chunk(b"IEND", b"")


def make_wav(rate=8000, freq=440.0, duration_s=0.25, channels=1, amp=0.5):
    buf = io.BytesIO()
    n = int(rate * duration_s)
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack(
                "<" + "h" * channels,
                *([int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))] * channels),
            )
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue(), n


def make_flac(rate=44100, channels=2, bits=16, n=0):
    """STREAMINFO-only FLAC: marker, last-block header, 34-byte body."""
    return (
        b"fLaC\x80" + (34).to_bytes(3, "big") + b"\x00" * 10
        + struct.pack(">Q", rate << 44 | (channels - 1) << 41 | (bits - 1) << 36 | n)
        + b"\x00" * 16
    )


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def make_mp4(duration_s=2.5, timescale=1000, width=320, height=240):
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version+flags
        + struct.pack(">II", 0, 0)  # ctime mtime
        + struct.pack(">II", timescale, int(duration_s * timescale))
        + b"\x00" * 80,
    )
    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)  # track id
        + b"\x00" * 4
        + struct.pack(">I", int(duration_s * timescale))
        + b"\x00" * 8
        + b"\x00" * 8  # layer/alt/volume/reserved
        + b"\x00" * 36  # matrix
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd)
    moov = _box(b"moov", mvhd + trak)
    mdat = _box(b"mdat", b"\x00" * 64)
    return ftyp + moov + mdat


# ------------------------------------------------------------ PNG header


def test_png_header():
    assert MM.decode_png(make_png(5, 3, color_type=2)) == ("png", 5, 3, 3)
    assert MM.decode_png(make_png(7, 9, color_type=6)) == ("png", 7, 9, 4)
    assert MM.decode_png(make_png(2, 2, color_type=0)) == ("png", 2, 2, 1)


def test_garbage_returns_none():
    assert MM.decode_png(b"") is None
    assert MM.decode_png(b"\x89PNG fake") is None
    assert MM.decode_png(b"RIFF not an image") is None
    assert MM.decode_wav(b"\xff\xd8 not audio") is None
    assert MM.decode_flac(b"RIFF not flac") is None
    assert MM.decode_mp4(b"\x89PNG not video") is None


# ------------------------------------------------------ PNG pixel decode


def test_png_pixels_roundtrip_all_filters():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(11, 9, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        data = _encode_png(img, 2, filters)
        dec = MM.decode_png_pixels(data)
        assert dec is not None, f"filters {filters}"
        assert dec.shape == img.shape
        assert (dec == img).all(), f"filters {filters}"


def test_png_pixels_grayscale_and_rgba():
    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(6, 5, 1), dtype=np.uint8)
    dec = MM.decode_png_pixels(_encode_png(gray, 0, [0, 1, 2, 3, 4]))
    assert dec is not None and (dec == gray).all()
    rgba = rng.integers(0, 256, size=(4, 7, 4), dtype=np.uint8)
    dec = MM.decode_png_pixels(_encode_png(rgba, 6, [4, 3, 2, 1, 0]))
    assert dec is not None and (dec == rgba).all()


def test_png_pixels_palette():
    pal = bytes(range(48))  # 16 RGB entries
    idx = (np.arange(20, dtype=np.uint8) % 16).reshape(4, 5, 1)
    png = _encode_png(idx, 3, [0], palette=pal)
    dec = MM.decode_png_pixels(png)
    assert dec is not None and dec.shape == (4, 5, 3)
    expect = np.frombuffer(pal, dtype=np.uint8).reshape(16, 3)[idx[:, :, 0]]
    assert (dec == expect).all()
    # the feature row reports the decoded channels, matching its stats
    row = dict(zip(MM.IMAGE_FEATURES_SCHEMA.names, MM._image_row(1, png)))
    assert row["channels"] == 3
    assert len(row["pixel_mean"]) == len(row["pixel_std"]) == 3


def test_png_pixels_rejects_corrupt_and_16bit():
    data = make_png(5, 3)
    # truncate the IDAT payload -> zlib error -> None, not an exception
    assert MM.decode_png_pixels(data[:40] + data[44:]) is None
    ihdr16 = bytearray(make_png(5, 3))
    ihdr16[24] = 16  # 16-bit header over an 8-bit-sized IDAT
    # (CRC now wrong too, but the decoder must return None either way)
    assert MM.decode_png_pixels(bytes(ihdr16)) is None


def test_png_pixels_16bit_rgb():
    """16-bit samples downscale to their high byte."""
    rng = np.random.default_rng(5)
    hi = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    lo = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    raw = b"".join(
        b"\x00" + bytes(
            b for px in range(4) for c in range(3)
            for b in (int(hi[y, px, c]), int(lo[y, px, c]))
        )
        for y in range(5)
    )
    data = _png_chunks((4, 5, 16, 2, 0, 0, 0), raw)
    img = MM.decode_png_pixels(data)
    assert img is not None and img.shape == (5, 4, 3)
    assert (img == hi).all()


def test_png_pixels_1bit_gray():
    # 10px-wide checkerboard, 3 rows: bits pack MSB-first
    rows = [0b10101010, 0b01010101, 0b11110000]
    raw = b"".join(bytes([0, r, (r << 6) & 0xFF]) for r in rows)
    data = _png_chunks((10, 3, 1, 0, 0, 0, 0), raw)
    img = MM.decode_png_pixels(data)
    assert img is not None and img.shape == (3, 10, 1)
    for y, r in enumerate(rows):
        # second byte carries (r << 6): pixels 8,9 are r's low two bits
        bits = [(r >> (7 - i)) & 1 for i in range(8)] + [(r >> 1) & 1, r & 1]
        assert (img[y, :, 0] == np.array(bits) * 255).all()


def test_png_pixels_4bit_palette():
    pal = [10, 20, 30, 200, 100, 0, 0, 0, 255, 7, 7, 7]  # 4 RGB entries
    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)
    raw = b"".join(
        bytes([0, (int(r[0]) << 4) | int(r[1]), int(r[2]) << 4]) for r in idx
    )
    data = _png_chunks((3, 2, 4, 3, 0, 0, 0), raw, palette=pal)
    img = MM.decode_png_pixels(data)
    assert img is not None and img.shape == (2, 3, 3)
    expect = np.array(pal, dtype=np.uint8).reshape(4, 3)[idx]
    assert (img == expect).all()


def test_png_pixels_adam7_interlaced():
    """Adam7: seven independently filtered sub-images (filter 0 on the
    first row of each pass, Up on the rest) reassemble to the original."""
    rng = np.random.default_rng(9)
    w, h, ch = 10, 9, 3
    img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    passes = [(0, 8, 0, 8), (0, 8, 4, 8), (4, 8, 0, 4), (0, 4, 2, 4),
              (2, 4, 0, 2), (0, 2, 1, 2), (1, 2, 0, 1)]
    raw = bytearray()
    for y0, dy, x0, dx in passes:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        ph = sub.shape[0]
        flat = sub.reshape(ph, -1).astype(np.int32)
        for y in range(ph):
            if y == 0:
                raw += b"\x00" + bytes((flat[0] % 256).astype(np.uint8).tolist())
            else:  # Up filter: stored = cur - prev
                raw += b"\x02" + bytes(
                    ((flat[y] - flat[y - 1]) % 256).astype(np.uint8).tolist()
                )
    data = _png_chunks((w, h, 8, 2, 0, 0, 1), bytes(raw))
    out = MM.decode_png_pixels(data)
    assert out is not None and out.shape == (h, w, ch)
    assert (out == img).all()


def test_png_zip_bomb_header_bounded():
    """A tiny PNG claiming 50000x50000 must reject before allocating."""
    big = bytearray(make_png(5, 3))
    big[16:24] = struct.pack(">II", 50000, 50000)
    assert MM.decode_png_pixels(bytes(big)) is None


# ------------------------------------------------------------------- WAV


def test_wav_header_and_stats():
    data, n = make_wav(rate=8000, duration_s=0.25, amp=0.5)
    info = MM.decode_wav(data)
    assert info.format == "wav"
    assert info.channels == 1 and info.sample_rate == 8000
    assert info.bits_per_sample == 16
    assert info.n_samples == n
    assert info.duration_ms == n * 1000 // 8000
    # 0.5-amplitude sine: rms ≈ 0.5/√2, peak ≈ 0.5
    assert abs(info.rms - 0.5 / math.sqrt(2)) < 0.01
    assert abs(info.peak - 0.5) < 0.01


def test_wav_stereo():
    data, n = make_wav(rate=16000, duration_s=0.1, channels=2)
    info = MM.decode_wav(data)
    assert info.channels == 2 and info.sample_rate == 16000
    assert info.n_samples == n


def test_wav_stats_sample_formats():
    """rms/peak agree across 8/16/24/32-bit int and 32/64-bit float
    encodings of the same sine."""
    rate, n = 8000, 800
    x = 0.5 * np.sin(2 * np.pi * 440 * np.arange(n) / rate)

    def wav_file(fmt, bits, payload):
        hdr = (b"fmt " + struct.pack("<I", 16)
               + struct.pack("<HHIIHH", fmt, 1, rate, rate * bits // 8, bits // 8, bits))
        dat = b"data" + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", 4 + len(hdr) + len(dat)) + b"WAVE" + hdr + dat

    variants = {
        8: wav_file(1, 8, bytes((np.round(x * 127) + 128).astype(np.uint8).tolist())),
        16: wav_file(1, 16, (np.round(x * 32767)).astype("<i2").tobytes()),
        24: wav_file(1, 24, b"".join(
            int(v).to_bytes(3, "little", signed=True)
            for v in np.round(x * ((1 << 23) - 1)).astype(np.int64).tolist()
        )),
        32: wav_file(1, 32, np.round(x * ((1 << 31) - 1)).astype("<i4").tobytes()),
        -32: wav_file(3, 32, x.astype("<f4").tobytes()),
        -64: wav_file(3, 64, x.astype("<f8").tobytes()),
    }
    expect_rms = float(np.sqrt(np.mean(x * x)))
    for key, data in variants.items():
        info = MM.decode_wav(data)
        assert info is not None and info.n_samples == n, key
        assert abs(info.rms - expect_rms) < 0.01, (key, info.rms, expect_rms)
        assert abs(info.peak - 0.5) < 0.01, (key, info.peak)


def test_wav_trailing_bare_fmt_chunk():
    """A trailing 'fmt ' chunk with a zero-size or short body must not
    crash the chunk walk, and must not override the real fmt chunk's
    encoding (a 2-byte body announcing float would break PCM stats)."""
    data, n = make_wav(rate=8000, duration_s=0.1, channels=1, amp=0.5)
    for tail in (b"fmt " + struct.pack("<I", 0),
                 b"fmt " + struct.pack("<I", 2) + b"\x03\x00"):
        hostile = bytearray(data + tail)
        # keep RIFF size consistent with the appended chunk
        hostile[4:8] = struct.pack("<I", len(hostile) - 8)
        info = MM.decode_wav(bytes(hostile))
        assert info is not None and info.n_samples == n
        assert abs(info.peak - 0.5) < 0.01


# ------------------------------------------------------------------ FLAC


def test_flac_streaminfo_fields():
    info = MM.decode_flac(make_flac(rate=44100, channels=6, bits=24, n=(1 << 36) - 1))
    assert info == (
        "flac", 6, 44100, 24, (1 << 36) - 1, ((1 << 36) - 1) * 1000 // 44100, 0.0, 0.0
    )
    good = make_flac(n=10)
    assert MM.decode_flac(good[:41]) is None  # truncated STREAMINFO
    assert MM.decode_flac(good[:4] + b"\x81" + good[5:]) is None  # not STREAMINFO
    assert MM.decode_flac(good[:7] + b"\x21" + good[8:]) is None  # bad length
    assert MM.decode_flac(make_flac(rate=0)) is None


# ------------------------------------------------------------------- MP4


def test_mp4_metadata():
    info = MM.decode_mp4(make_mp4(2.5, 1000, 320, 240))
    assert info.format == "mp4"
    assert info.duration_ms == 2500
    assert (info.width, info.height) == (320, 240)
    assert info.n_tracks == 1
    assert MM.decode_mp4(b"\x00\x00ftyp fake video") is None
    assert MM.decode_mp4(b"RIFF not video") is None


def test_mp4_truncated_v1_mvhd_returns_gracefully():
    """A version-1 mvhd cut off mid-duration must not raise."""
    mvhd_body = b"\x01\x00\x00\x00" + b"\x00" * 24  # v1, body ends before the u64 duration
    mvhd = _box(b"mvhd", mvhd_body)
    data = _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(b"moov", mvhd)
    info = MM.decode_mp4(data)
    assert info is not None and info.duration_ms == 0  # header skipped, no crash


# ------------------------------------------------------------ the stages


@pytest.fixture(scope="module")
def real_assets(spark):
    rows = [
        (1, 20, "image", make_png(5, 3), {"ext": "png"}),
        (5, 21, "audio", make_wav()[0], {"ext": "wav"}),
        (6, 21, "audio", make_flac(rate=22050, channels=1, bits=8, n=4410),
         {"ext": "flac"}),
        (7, 30, "video", make_mp4(1.25, 600, 640, 360), {"ext": "mp4"}),
    ]
    return spark.createDataFrame(rows, schemas.MEDIA_ASSETS)


def test_image_features_pixel_stats(spark, real_assets):
    out = MM.image_features(real_assets).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert [r["format"], r["width"], r["height"], r["channels"]] == ["png", 5, 3, 3]
    # uniform 0x7f: exact per-channel stats
    assert r["pixels_real"]
    assert list(r["pixel_mean"]) == [127.0, 127.0, 127.0]
    assert list(r["pixel_std"]) == [0.0, 0.0, 0.0]
    # histogram embedding: all mass in the 127//16 = 7th of 16 bins
    emb = list(r["embedding"])
    assert len(emb) == 16 and abs(emb[7] - 1.0) < 1e-6


def test_audio_features_stage(spark, real_assets):
    out = MM.audio_features(real_assets).toPandas().set_index("asset_id")
    assert sorted(out.index) == [5, 6]
    wav = out.loc[5]
    assert wav["format"] == "wav" and wav["sample_rate"] == 8000
    assert abs(wav["rms"] - 0.5 / math.sqrt(2)) < 0.01
    flac = out.loc[6]
    assert [flac["format"], flac["channels"], flac["sample_rate"],
            flac["bits_per_sample"], flac["n_samples"], flac["duration_ms"]] == [
        "flac", 1, 22050, 8, 4410, 200]
    assert flac["rms"] == 0.0 and flac["peak"] == 0.0


def test_video_metadata_stage(spark, real_assets):
    out = MM.video_metadata(real_assets).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["format"] == "mp4" and r["duration_ms"] == 1250
    assert [r["width"], r["height"], r["n_tracks"]] == [640, 360, 1]


_CORRUPT_PNG = make_png(5, 3)[:40] + make_png(5, 3)[44:]


@pytest.mark.parametrize(
    "media_type,stage,payload",
    [("image", MM.image_features, b"\x00\x00ftyp fake payload" * 50),
     ("image", MM.image_features, _CORRUPT_PNG),
     ("audio", MM.audio_features, b"RIFF fake wav" * 10),
     ("video", MM.video_metadata, b"\x00\x00ftyp fake payload" * 50)],
    ids=["image", "corrupt_png", "audio", "video"],
)
def test_unrecognized_bytes_raise(spark, media_type, stage, payload):
    assets = spark.createDataFrame(
        [(1, 10, media_type, payload, {})], schemas.MEDIA_ASSETS
    )
    with pytest.raises(Exception) as exc:
        stage(assets).collect()
    assert "NotImplementedError" in str(exc.value)
    assert f"unsupported {media_type} payload for asset 1" in str(exc.value)


def test_metadata_prunes_without_touching_content(spark, real_assets):
    df = real_assets.select("asset_id", F.map_values("meta").alias("vals"))
    assert df.count() == 4


def test_synthesized_media_decode(spark, sf_dir):
    """The media_metadata fixture's decoded values beyond the oracle's
    columns: real pixel stats, WAV loudness bounds and MP4 track
    metadata, per asset."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.pipeline import (
        _synth_media_assets,
    )

    assets = _synth_media_assets(spark, sf_dir)
    img = MM.image_features(assets).toPandas()
    assert len(img) > 0
    for r in img.itertuples():
        assert (r.format, r.width, r.height, r.channels) == (
            "png", 8 + r.asset_id % 32, 8 + (r.asset_id * 7) % 32, 3)
        # the synthesized PNG is uniform 0x7f
        assert r.pixels_real
        assert list(r.pixel_mean) == [127.0] * 3 and list(r.pixel_std) == [0.0] * 3
    wav = MM.audio_features(assets).where(F.col("format") == "wav").toPandas()
    assert len(wav) == len(img)
    for r in wav.itertuples():
        assert r.sample_rate == 8000 + (r.asset_id % 3) * 4000
        assert r.n_samples == r.sample_rate // 10 and r.duration_ms == 100
        assert 0.2 < r.rms < 0.5 and 0.4 < r.peak <= 0.51
    vid = MM.video_metadata(assets).toPandas()
    assert len(vid) == len(img)
    for r in vid.itertuples():
        assert (r.format, r.duration_ms, r.width, r.height, r.n_tracks) == (
            "mp4", 500 + r.asset_id * 10, 64 + r.asset_id, 36 + r.asset_id, 1)


def test_synthesized_flac_matches_oracle_fields(spark, sf_dir):
    """The STREAMINFO parse returns exactly the FLAC fields the
    media_metadata oracle recomputes from doc_id."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.pipeline import (
        _synth_media_assets,
    )

    out = (
        MM.audio_features(_synth_media_assets(spark, sf_dir))
        .where(F.col("format") == "flac")
        .toPandas()
    )
    assert len(out) > 0
    for r in out.itertuples():
        did = r.asset_id - 100
        rate = 8000 + (did % 3) * 4000
        n = rate // 10 + did
        assert (r.channels, r.sample_rate, r.n_samples, r.duration_ms) == (
            2, rate, n, n * 1000 // rate)
