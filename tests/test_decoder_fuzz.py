"""Fail-closed fuzzing for every binary decoder: at crawl scale the
payload column is adversarial by default, and a decoder that THROWS on
byte garbage kills the whole Spark task (and with it the batch's other
rows). Contract: return None/[] for anything unparseable, never raise.

Three byte families: pure random, format-magic + random tail (defeats
the signature check and exercises the structure parsers), and truncated
valid files (every prefix of a real file)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import multimodal as MM
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.minidecode import (
    docx_pages,
    pdf_pages,
)

_MAGICS = [
    b"",
    b"\x89PNG\r\n\x1a\n",
    b"RIFF",
    b"RIFF\x00\x00\x00\x00WAVE",
    b"%PDF-1.4\n",
    b"PK\x03\x04",
    b"\x00\x00\x00\x18ftypisom",
    b"fLaC",
    b"fLaC\x80\x00\x00\x22",
]

_DECODERS = [
    MM.decode_png,
    MM.decode_png_pixels,
    MM.decode_wav,
    MM.decode_flac,
    MM.decode_mp4,
    pdf_pages,
    docx_pages,
]


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.sampled_from(_MAGICS), st.binary(min_size=0, max_size=512))
def test_decoders_never_raise_on_garbage(magic, tail):
    data = magic + tail
    for dec in _DECODERS:
        out = dec(data)  # must not raise
        assert out is None or isinstance(out, (list, tuple, dict)) or hasattr(out, "shape")


def _valid_payloads():
    # built here (not at module import) so test collection stays cheap
    from tests.test_minidecode import make_cid_pdf, make_encrypted_pdf, make_pdf, _CMAP
    from tests.test_multimodal import _encode_png, make_flac, make_mp4, make_png, make_wav

    import numpy as np

    img = np.arange(60, dtype=np.uint8).reshape(5, 4, 3)
    return [
        make_png(5, 3),
        _encode_png(img, 2, [0, 1, 2, 3, 4]),
        make_wav()[0],
        make_flac(n=700),
        make_mp4(),
        make_pdf([b"BT (hello) Tj ET"]),
        make_cid_pdf(_CMAP, b"BT /F1 12 Tf <0003> Tj ET"),
        make_encrypted_pdf(b"x"),
    ]


def test_decoders_never_raise_on_truncation():
    payloads = _valid_payloads()
    for data in payloads:
        step = max(1, len(data) // 97)  # ~100 prefixes incl. awkward offsets
        for cut in range(0, len(data), step):
            prefix = data[:cut]
            for dec in _DECODERS:
                dec(prefix)  # must not raise; value is irrelevant


def test_decoders_never_raise_on_bitflips():
    import numpy as np

    rng = np.random.default_rng(13)
    for data in _valid_payloads():
        arr = np.frombuffer(data, dtype=np.uint8).copy()
        for _ in range(25):
            mut = arr.copy()
            for pos in rng.integers(0, len(mut), size=3):
                mut[pos] ^= 1 << rng.integers(0, 8)
            blob = bytes(mut)
            for dec in _DECODERS:
                dec(blob)  # must not raise
