"""Minimal pure-stdlib PDF and DOCX text extractors.

The reference's primary ingest path is PyPDFLoader / Docx2txtLoader
(backend/chroma_utils.py:60-74). These small extractors are the
package's only PDF and DOCX decoders (``loaders.decode_pdf`` /
``decode_docx`` call them and nothing else):

- DOCX is a zip container (ECMA-376): ``word/document.xml`` holds the
  body; text lives in ``<w:t>`` runs, paragraphs in ``<w:p>`` elements.
  ``zipfile`` + ``xml.etree`` cover it completely — this is the same
  approach docx2txt takes.
- PDF (ISO 32000): page text is drawn by ``Tj`` / ``'`` / ``"`` / ``TJ``
  operators inside (usually Flate-compressed) content streams. The
  extractor scans ``<<dict>> stream…endstream`` objects, inflates
  ``/FlateDecode`` streams with ``zlib``, and collects the literal
  strings shown by text operators. Handled: escape sequences
  (``\\n \\( \\) \\\\``, octal), line continuations, hex strings
  ``<…> Tj``, uncompressed streams, object streams (``/ObjStm`` are
  inflated and their packed objects merged into the object table), and
  REAL page segmentation: the ``/Root → /Pages → /Kids`` tree is walked
  and each ``/Type/Page``'s ``/Contents`` refs (single or array) are
  concatenated into that page's text — PyPDFLoader's page-per-Document
  semantics (reference backend/chroma_utils.py:61-63). CID/Type0
  composite fonts are decoded through their ``/ToUnicode`` CMaps: the
  page's ``/Resources → /Font`` dict is resolved, ``bfchar``/``bfrange``
  sections parsed, and the content-stream scan tracks the active font
  via ``Tf`` so CID-coded shows (hex or literal, including hex strings
  inside ``TJ`` arrays) map code-by-code to Unicode — the path common
  digitally-produced PDFs (Word/LaTeX/Chrome exports) take. When no
  page tree resolves (damaged xref, exotic layouts) the extractor falls
  back to the previous stream heuristic: each content stream with a
  ``BT`` block is one pseudo-page. Encrypted PDFs (standard security
  handler) decrypt with the blank password, tried as the user password
  and then as the owner password (Algorithm 7 recovers the user
  password from /O; V5 authorizes against /O+/OE directly), as pypdf's
  ``decrypt("")`` does — the usual owner-restricted case — across all
  the standard cipher generations: RC4 (V 1/2 R 2/3), AESV2 (V 4 R 3/4,
  AES-128-CBC per-object keys) and AESV3 (V 5 R 5/6, AES-256 with the
  R6 hardened hash), via pure hashlib MD5/SHA-2 key derivation plus an
  in-repo FIPS-197 AES (known-answer-vector tested); the /U entry is
  verified first so a document locked by a non-blank password never
  yields garbage text. Not handled (the document decodes to ``[]``):
  non-blank passwords, non-standard security handlers, and Type0 fonts
  that ship no ToUnicode map (unrecoverable without external CMap
  tables).

Both return ``[]`` when the payload yields nothing: the file is
ingested with no pages, so it yields no chunks.
"""

from __future__ import annotations

import io
import re
import zipfile
import zlib
from xml.etree import ElementTree

# ------------------------------------------------------------------ DOCX

_W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"


def _docx_paragraphs(root) -> list[str]:
    paragraphs: list[str] = []
    for p in root.iter(f"{_W_NS}p"):
        runs: list[str] = []
        for node in p.iter():
            if node.tag == f"{_W_NS}t" and node.text:
                runs.append(node.text)
            elif node.tag in (f"{_W_NS}tab",):
                runs.append("\t")
            elif node.tag in (f"{_W_NS}br", f"{_W_NS}cr"):
                runs.append("\n")
        paragraphs.append("".join(runs))
    return paragraphs


def docx_pages(data: bytes) -> list[str]:
    """DOCX text: one pseudo-page (the whole document) like
    Docx2txtLoader (reference backend/chroma_utils.py) — headers, then
    the body, then footers, paragraphs separated by newlines. A part
    that fails to parse is skipped (the body alone still extracts from
    a docx with a corrupt header part)."""
    parts: list[str] = []
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = set(zf.namelist())
            headers = sorted(
                n for n in names if re.match(r"word/header\d*\.xml$", n)
            )
            footers = sorted(
                n for n in names if re.match(r"word/footer\d*\.xml$", n)
            )
            for name in [*headers, "word/document.xml", *footers]:
                if name not in names:
                    continue
                try:
                    with zf.open(name) as fh:
                        root = ElementTree.parse(fh).getroot()
                except (KeyError, ElementTree.ParseError, OSError):
                    continue
                parts.extend(_docx_paragraphs(root))
    except (zipfile.BadZipFile, OSError):
        return []
    text = "\n".join(parts).strip()
    return [text] if text else []


# ------------------------------------------------------------------- PDF

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)\s*endstream", re.S)
# literal string (escaped chars allowed) followed by a show operator
_TJ_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*(?:Tj|')")
# hex string shown directly
_HEX_TJ_RE = re.compile(rb"<([0-9A-Fa-f\s]+)>\s*(?:Tj|')")
# array-of-strings show operator: [(a) -120 (b)] TJ
_TJ_ARRAY_RE = re.compile(rb"\[((?:\((?:\\.|[^\\()])*\)|[^\]])*)\]\s*TJ")
_STR_IN_ARRAY_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)")

_ESCAPES = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
}


def _decode_pdf_bytes(raw: bytes) -> bytes:
    """Unescape a PDF literal string to its raw byte content."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == 0x5C and i + 1 < len(raw):  # backslash escape
            e = raw[i + 1]
            if e in _ESCAPES:
                out.append(ord(_ESCAPES[e]))
                i += 2
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                j = i + 1
                while j < min(i + 4, len(raw)) and 0x30 <= raw[j] <= 0x37:
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)  # spec: overflow wraps
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 2
            else:  # \( \) \\ and any other escaped literal
                out.append(e)
                i += 2
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _hex_bytes(hx: bytes) -> bytes:
    hx = re.sub(rb"\s", b"", hx)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


# font selection operator: /F1 12 Tf
_TF_RE = re.compile(rb"/([A-Za-z0-9_.+-]+)\s+[-\d.]+\s+Tf")
# hex string inside a TJ array
_HEX_IN_ARRAY_RE = re.compile(rb"<([0-9A-Fa-f\s]+)>")


def _apply_cmap(bs: bytes, cmap: dict[int, str], width: int) -> str:
    """Map a CID-coded byte string through a ToUnicode CMap (codes are
    ``width`` bytes, big-endian; unmapped codes are dropped like pypdf
    does rather than emitting U+FFFD noise)."""
    return "".join(
        cmap.get(int.from_bytes(bs[i : i + width], "big"), "")
        for i in range(0, len(bs) - width + 1, width)
    )


def _stream_text(content: bytes, fonts: dict[bytes, tuple[dict[int, str], int]] | None = None) -> str:
    """Shown strings of one content stream, in operator order.

    ``fonts`` maps font resource names (e.g. ``b"F1"``) to parsed
    ToUnicode CMaps. The scan tracks the active font through ``Tf``
    operators; shows under a CMapped (Type0/CID) font decode their
    bytes as big-endian codes through the CMap, everything else keeps
    the latin-1 simple-font path."""
    fonts = fonts or {}
    events: list[tuple[int, str, object]] = []
    if fonts:
        for m in _TF_RE.finditer(content):
            events.append((m.start(), "font", m.group(1)))
    for m in _TJ_RE.finditer(content):
        events.append((m.start(), "show", _decode_pdf_bytes(m.group(1))))
    for m in _HEX_TJ_RE.finditer(content):
        events.append((m.start(), "show", _hex_bytes(m.group(1))))
    for m in _TJ_ARRAY_RE.finditer(content):
        parts: list[tuple[int, bytes]] = []
        body = m.group(1)
        for s in _STR_IN_ARRAY_RE.finditer(body):
            parts.append((s.start(), _decode_pdf_bytes(s.group(1))))
        for s in _HEX_IN_ARRAY_RE.finditer(body):
            parts.append((s.start(), _hex_bytes(s.group(1))))
        parts.sort(key=lambda t: t[0])
        events.append((m.start(), "show", b"".join(b for _, b in parts)))
    events.sort(key=lambda t: t[0])

    out: list[str] = []
    cmap: tuple[dict[int, str], int] | None = None
    for _, kind, payload in events:
        if kind == "font":
            cmap = fonts.get(payload)
        else:
            bs = payload  # type: ignore[assignment]
            if cmap is not None:
                out.append(_apply_cmap(bs, cmap[0], cmap[1]))
            else:
                out.append(bs.decode("latin-1"))
    return "\n".join(s for s in out if s)


# --------------------------------------- standard security handler (RC4)

# 32-byte password padding constant, ISO 32000-1 Algorithm 2
_PW_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _dict_string(body: bytes, name: bytes) -> bytes | None:
    """A dict entry's string value — literal ``(…)`` or hex ``<…>``."""
    m = re.search(rb"/" + name + rb"\s*\(((?:\\.|[^\\()])*)\)", body, re.S)
    if m:
        return _decode_pdf_bytes(m.group(1))
    m = re.search(rb"/" + name + rb"\s*<([0-9A-Fa-f\s]*)>", body)
    if m:
        return _hex_bytes(m.group(1))
    return None


def _std_encryption_key(
    o: bytes,
    p: int,
    id1: bytes,
    r: int,
    n: int,
    encrypt_metadata: bool = True,
    password: bytes = b"",
) -> bytes:
    """ISO 32000-1 Algorithm 2: file key from the (possibly empty) user
    password, padded/truncated to 32 bytes with the spec's constant
    pad. The empty default is the blank user password; the owner
    branch passes the padded user password Algorithm 7 recovers."""
    import hashlib
    import struct as _s

    padded = (password + _PW_PAD)[:32]
    tail = b"" if encrypt_metadata or r < 4 else b"\xff\xff\xff\xff"
    p &= 0xFFFFFFFF  # some producers write /P in unsigned form
    md = hashlib.md5(padded + o[:32] + _s.pack("<I", p) + id1 + tail)
    key = md.digest()[:n]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()[:n]
    return key


def _owner_rc4_key(owner_pw: bytes, r: int, n: int) -> bytes:
    """ISO 32000-1 Algorithm 3's RC4 key from the owner password (50
    truncated-MD5 rounds for R ≥ 3, mirroring Algorithm 2)."""
    import hashlib

    md = hashlib.md5((owner_pw + _PW_PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            md = hashlib.md5(md[:n]).digest()
    return md[:n]


def _owner_recover_user_pw(owner_pw: bytes, o: bytes, r: int, n: int) -> bytes:
    """Algorithm 7 (decryption side): unwrap the PADDED user password
    from /O with the owner-derived RC4 key (19 XORed rounds for R ≥ 3
    run in reverse)."""
    okey = _owner_rc4_key(owner_pw, r, n)
    if r == 2:
        return _rc4(okey, o[:32])
    data = o[:32]
    for i in range(19, -1, -1):
        data = _rc4(bytes(b ^ i for b in okey), data)
    return data


def _std_user_check(key: bytes, id1: bytes, r: int) -> bytes:
    """Expected /U for the file key (Algorithms 4/5) — verifies the
    supplied user password (the password only enters via the key; the
    digest input is the spec's constant pad, not the password)."""
    import hashlib

    if r == 2:
        return _rc4(key, _PW_PAD)
    digest = hashlib.md5(_PW_PAD + id1).digest()
    out = _rc4(key, digest)
    for i in range(1, 20):
        out = _rc4(bytes(b ^ i for b in key), out)
    return out


class _Rc4Decryptor:
    """Per-object RC4 decryption (Algorithm 1): object key =
    MD5(file key + objnum[0:3] LE + gen[0:2] LE), truncated."""

    def __init__(self, key: bytes):
        self.key = key

    def __call__(self, objnum: int, data: bytes) -> bytes:
        import hashlib
        import struct as _s

        ok = hashlib.md5(
            self.key + _s.pack("<I", objnum)[:3] + b"\x00\x00"
        ).digest()[: min(len(self.key) + 5, 16)]
        return _rc4(ok, data)


# ------------------------------------------- AES (FIPS-197, pure Python)
#
# Needed for AESV2/AESV3 PDFs (and the R6 password hash, which runs
# AES-128-CBC inside its digest loop). Table-driven; the S-box and GF
# log/exp tables are generated from the spec's definitions rather than
# pasted, so there's nothing to mistype.


def _aes_xtime(a: int) -> int:
    return ((a << 1) ^ 0x1B if a & 0x80 else a << 1) & 0xFF


def _aes_make_tables():
    exp = [0] * 510
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= _aes_xtime(x)  # x *= 3 (generator)
    for i in range(255, 510):
        exp[i] = exp[i - 255]
    sbox = [0] * 256
    inv_sbox = [0] * 256
    for a in range(256):
        s = exp[255 - log[a]] if a else 0
        b = 0x63
        for k in range(5):  # affine transform: s ^ rotl(s,1..4) ^ 0x63
            b ^= ((s << k) | (s >> (8 - k))) & 0xFF
        sbox[a] = b
        inv_sbox[b] = a
    return exp, log, sbox, inv_sbox


_AES_EXP, _AES_LOG, _AES_SBOX, _AES_INV_SBOX = _aes_make_tables()


def _gmul(a: int, b: int) -> int:
    if not a or not b:
        return 0
    return _AES_EXP[_AES_LOG[a] + _AES_LOG[b]]


def _aes_expand_key(key: bytes):
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = [_AES_SBOX[b] for b in t[1:] + t[:1]]
            t[0] ^= rcon
            rcon = _aes_xtime(rcon)
        elif nk > 6 and i % nk == 4:
            t = [_AES_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return w, nr


def _aes_ark(s: list[int], w, rnd: int) -> None:
    for c in range(4):
        wk = w[4 * rnd + c]
        for r in range(4):
            s[4 * c + r] ^= wk[r]


def _aes_encrypt_block(w, nr: int, block: bytes) -> bytes:
    s = list(block)
    _aes_ark(s, w, 0)
    for rnd in range(1, nr + 1):
        s = [_AES_SBOX[b] for b in s]
        s = [s[4 * ((c + r) % 4) + r] for c in range(4) for r in range(4)]
        if rnd < nr:
            m = [0] * 16
            for c in range(4):
                a0, a1, a2, a3 = s[4 * c : 4 * c + 4]
                m[4 * c] = _gmul(a0, 2) ^ _gmul(a1, 3) ^ a2 ^ a3
                m[4 * c + 1] = a0 ^ _gmul(a1, 2) ^ _gmul(a2, 3) ^ a3
                m[4 * c + 2] = a0 ^ a1 ^ _gmul(a2, 2) ^ _gmul(a3, 3)
                m[4 * c + 3] = _gmul(a0, 3) ^ a1 ^ a2 ^ _gmul(a3, 2)
            s = m
        _aes_ark(s, w, rnd)
    return bytes(s)


def _aes_decrypt_block(w, nr: int, block: bytes) -> bytes:
    s = list(block)
    _aes_ark(s, w, nr)
    for rnd in range(nr - 1, -1, -1):
        s = [s[4 * ((c - r) % 4) + r] for c in range(4) for r in range(4)]
        s = [_AES_INV_SBOX[b] for b in s]
        _aes_ark(s, w, rnd)
        if rnd:
            m = [0] * 16
            for c in range(4):
                a0, a1, a2, a3 = s[4 * c : 4 * c + 4]
                m[4 * c] = (
                    _gmul(a0, 14) ^ _gmul(a1, 11) ^ _gmul(a2, 13) ^ _gmul(a3, 9)
                )
                m[4 * c + 1] = (
                    _gmul(a0, 9) ^ _gmul(a1, 14) ^ _gmul(a2, 11) ^ _gmul(a3, 13)
                )
                m[4 * c + 2] = (
                    _gmul(a0, 13) ^ _gmul(a1, 9) ^ _gmul(a2, 14) ^ _gmul(a3, 11)
                )
                m[4 * c + 3] = (
                    _gmul(a0, 11) ^ _gmul(a1, 13) ^ _gmul(a2, 9) ^ _gmul(a3, 14)
                )
            s = m
    return bytes(s)


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """No padding (caller aligns) — used by the R6 hash and the test
    fixtures' encrypt side."""
    w, nr = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data) // 16 * 16, 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _aes_encrypt_block(w, nr, blk)
        out += prev
    return bytes(out)


def _aes_cbc_decrypt(key: bytes, iv: bytes, ct: bytes, strip_pad: bool) -> bytes:
    w, nr = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(ct) // 16 * 16, 16):
        blk = ct[i : i + 16]
        pt = _aes_decrypt_block(w, nr, blk)
        out += bytes(a ^ b for a, b in zip(pt, prev))
        prev = blk
    if strip_pad and out and 1 <= out[-1] <= 16 and len(out) >= out[-1]:
        del out[-out[-1] :]
    return bytes(out)


class _AesDecryptor:
    """Per-object AES-CBC decryption: stream payload = 16-byte IV +
    ciphertext, PKCS#7-style padding. V4/AESV2 derives a per-object key
    (Algorithm 1 with the 'sAlT' suffix); V5/AESV3 uses the file key
    directly."""

    def __init__(self, key: bytes, per_object: bool):
        self.key = key
        self.per_object = per_object

    def __call__(self, objnum: int, data: bytes) -> bytes:
        import hashlib
        import struct as _s

        if len(data) < 16:
            return b""
        if self.per_object:
            ok = hashlib.md5(
                self.key + _s.pack("<I", objnum)[:3] + b"\x00\x00" + b"sAlT"
            ).digest()[: min(len(self.key) + 5, 16)]
        else:
            ok = self.key
        return _aes_cbc_decrypt(ok, data[:16], data[16:], strip_pad=True)


def _hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 hardened hash): SHA-256 seed,
    then rounds of AES-128-CBC over 64 repetitions of (password ‖ K ‖
    udata) with the digest function chosen by the ciphertext mod 3,
    until round ≥ 64 and last byte ≤ round − 32."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_encrypt(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _build_v5_decryptor(enc: bytes, r: int):
    """AESV3 (V5, R5/R6): authorize the blank password as the USER
    password (validation hash over /U's salts → file key from /UE) or,
    failing that, as the OWNER password (hash over /O's salts keyed with
    the first 48 bytes of /U → file key from /OE) — the either-password
    behavior pypdf's ``decrypt("")`` has."""
    import hashlib

    password = b""

    u = _dict_string(enc, b"U")
    ue = _dict_string(enc, b"UE")
    if u is None or len(u) < 48 or ue is None or len(ue) < 32:
        raise ValueError("malformed V5 /Encrypt dictionary")
    vsalt, ksalt = u[32:40], u[40:48]
    if r == 6:
        check = _hash_r6(password, vsalt)
        inter = _hash_r6(password, ksalt)
    else:  # R5 (deprecated Adobe extension): plain SHA-256
        check = hashlib.sha256(password + vsalt).digest()
        inter = hashlib.sha256(password + ksalt).digest()
    if check == u[:32]:
        file_key = _aes_cbc_decrypt(inter, b"\x00" * 16, ue[:32], strip_pad=False)
        return _AesDecryptor(file_key, per_object=False)
    # owner-password attempt: same scheme over /O, salted with U[0:48]
    o = _dict_string(enc, b"O")
    oe = _dict_string(enc, b"OE")
    if o is not None and len(o) >= 48 and oe is not None and len(oe) >= 32:
        ovsalt, oksalt = o[32:40], o[40:48]
        if r == 6:
            ocheck = _hash_r6(password, ovsalt, u[:48])
            ointer = _hash_r6(password, oksalt, u[:48])
        else:
            ocheck = hashlib.sha256(password + ovsalt + u[:48]).digest()
            ointer = hashlib.sha256(password + oksalt + u[:48]).digest()
        if ocheck == o[:32]:
            file_key = _aes_cbc_decrypt(
                ointer, b"\x00" * 16, oe[:32], strip_pad=False
            )
            return _AesDecryptor(file_key, per_object=False)
    raise ValueError("wrong or missing password")


def _build_decryptor(data: bytes, table: dict[int, bytes]):
    """None when the document isn't encrypted; a decryptor callable for
    the standard handler — RC4 (V 1/2, R 2/3), AESV2 (V 4, R 4) and
    AESV3 (V 5, R 5/6) — authorized by the blank password as the user or
    the owner password (the common owner-restricted case). Raises
    ValueError for a non-blank password, custom security handlers, or
    crypt filters other than StdCF, so the document decodes to ``[]``
    instead of garbage."""
    em = None
    for m in re.finditer(rb"/Encrypt\s+(\d+)\s+\d+\s+R", data):
        em = m  # last trailer wins (incremental updates)
    if em is None:
        return None
    enc = table.get(int(em.group(1)))
    if enc is None or b"/Standard" not in enc:
        raise ValueError("unsupported security handler")
    vm = re.search(rb"/V\s+(\d+)", enc)
    rm = re.search(rb"/R\s+(\d+)", enc)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else 2
    if v == 5 and r in (5, 6):
        return _build_v5_decryptor(enc, r)
    aes = False
    if v == 4:
        # V4 wraps the cipher choice in crypt filters; only the default
        # /StdCF stream filter is supported (that's what Acrobat writes)
        cfm = re.search(rb"/StdCF\s*<<[^>]*?/CFM\s*/(\w+)", enc, re.S)
        stmf = re.search(rb"/StmF\s*/(\w+)", enc)
        if stmf is not None and stmf.group(1) != b"StdCF":
            raise ValueError("unsupported V4 stream crypt filter")
        cfm_name = cfm.group(1) if cfm else b""
        if cfm_name == b"AESV2":
            aes = True
        elif cfm_name != b"V2":  # V2 = RC4 in a V4 container
            raise ValueError(f"unsupported V4 CFM {cfm_name!r}")
        if r not in (3, 4):
            raise ValueError(f"unsupported encryption V=4 R={r}")
    elif v not in (1, 2) or r not in (2, 3):
        raise ValueError(f"unsupported encryption V={v} R={r}")
    o = _dict_string(enc, b"O")
    u = _dict_string(enc, b"U")
    pm = re.search(rb"/P\s+(-?\d+)", enc)
    if o is None or u is None or pm is None:
        raise ValueError("malformed /Encrypt dictionary")
    # the key /Length must come from the TOP level of the /Encrypt dict
    # — a V4 crypt-filter sub-dict carries its own '/Length 16' (bytes,
    # not bits), and producers that sort keys put /CF first. Drop the
    # outer << >> delimiters, then strip nested groups to a fixpoint
    # (hex strings' single angle brackets keep mixed groups unmatched,
    # which only means extra junk survives — never a lost top level).
    lo, hi = enc.find(b"<<"), enc.rfind(b">>")
    top = enc[lo + 2 : hi] if 0 <= lo < hi else enc
    while True:
        stripped = re.sub(rb"<<[^<>]*>>", b"", top)
        if stripped == top:
            break
        top = stripped
    lm = re.search(rb"/Length\s+(\d+)", top)
    n = (int(lm.group(1)) // 8) if (lm and r >= 3) else 5
    id_m = None
    for m in re.finditer(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>", data):
        id_m = m
    id1 = _hex_bytes(id_m.group(1)) if id_m else b""
    encrypt_metadata = re.search(rb"/EncryptMetadata\s+false", enc) is None
    key = _std_encryption_key(o, int(pm.group(1)), id1, r, n, encrypt_metadata)
    expect = _std_user_check(key, id1, r)
    got = u[:16] if r >= 3 else u[:32]
    if got != expect[: len(got)]:
        # blank owner password (Algorithm 7): recover the padded user
        # password from /O and authorize with it — pypdf's
        # either-password behavior
        userpw = _owner_recover_user_pw(b"", o, r, n)
        key = _std_encryption_key(
            o, int(pm.group(1)), id1, r, n, encrypt_metadata, password=userpw
        )
        expect = _std_user_check(key, id1, r)
        if got != expect[: len(got)]:
            raise ValueError("wrong or missing password")
    return _AesDecryptor(key, per_object=True) if aes else _Rc4Decryptor(key)


# indirect objects: "N G obj ... endobj". Non-greedy body; stream
# payloads containing the literal "endobj" would truncate — acceptable
# for the text-bearing documents this targets (pypdf handles the rest).
_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_OBJ_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)\s*endstream", re.S)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")
_NUM_VAL_RE = {
    name: re.compile(rb"/" + name + rb"\s+(\d+)\b") for name in (b"N", b"First")
}


def _inflate(params: bytes, body: bytes) -> bytes | None:
    if b"/FlateDecode" in params:
        try:
            return zlib.decompress(body)
        except zlib.error:
            return None
    if b"/Filter" in params:
        return None  # unsupported filter (DCT, LZW, ...)
    return body


def _object_table(data: bytes, decrypt=None) -> dict[int, bytes]:
    """objnum → object body, with /ObjStm packed objects inflated and
    merged in (their bodies are plain dicts — never nested streams).
    ``decrypt(objnum, payload)`` is applied to stream payloads before
    inflation when the document is RC4-encrypted."""
    table: dict[int, bytes] = {}
    objstms: list[tuple[int, int, bytes]] = []
    for m in _OBJ_RE.finditer(data):
        num, body = int(m.group(1)), m.group(2)
        table[num] = body
        sm = _OBJ_STREAM_RE.search(body)
        if sm and b"/ObjStm" in sm.group(1):
            payload = decrypt(num, sm.group(2)) if decrypt else sm.group(2)
            inflated = _inflate(sm.group(1), payload)
            if inflated is not None:
                n_m = _NUM_VAL_RE[b"N"].search(sm.group(1))
                first_m = _NUM_VAL_RE[b"First"].search(sm.group(1))
                if n_m and first_m:
                    objstms.append((int(n_m.group(1)), int(first_m.group(1)), inflated))
    for n, first, payload in objstms:
        header = payload[:first].split()
        # header: N pairs of "objnum offset" (offsets relative to First)
        pairs = [
            (int(header[i]), int(header[i + 1]))
            for i in range(0, min(len(header), 2 * n), 2)
        ]
        for idx, (objnum, off) in enumerate(pairs):
            end = pairs[idx + 1][1] if idx + 1 < len(pairs) else len(payload) - first
            table.setdefault(objnum, payload[first + off : first + end])
    return table


def _page_content_objs(
    table: dict[int, bytes],
) -> list[tuple[list[int], bytes]] | None:
    """Depth-first /Pages-tree walk → per-page (list of /Contents object
    numbers, page dict body — kept for /Resources font resolution), or
    None when no catalog/page tree resolves."""
    pages_root = None
    for body in table.values():
        if b"/Type" in body and b"/Catalog" in body:
            root_m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", body)
            if root_m:
                pages_root = int(root_m.group(1))
                break
    if pages_root is None or pages_root not in table:
        return None
    out: list[tuple[list[int], bytes]] = []
    seen: set[int] = set()

    def walk(num: int) -> None:
        if num in seen or num not in table:  # cycles / dangling refs
            return
        seen.add(num)
        body = table[num]
        if b"/Page" in body and b"/Pages" not in body:
            cm = re.search(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)", body)
            if cm:
                refs = [int(r.group(1)) for r in _REF_RE.finditer(cm.group(1))]
                # indirect array: /Contents N 0 R where object N is
                # itself `[a 0 R b 0 R]` (no stream) — expand it
                if (
                    len(refs) == 1
                    and refs[0] in table
                    and b"stream" not in table[refs[0]]
                ):
                    arr = re.search(rb"\[([^\]]*)\]", table[refs[0]])
                    if arr:
                        refs = [int(r.group(1)) for r in _REF_RE.finditer(arr.group(1))]
                out.append((refs, body))
            else:
                out.append(([], body))
            return
        kids_m = re.search(rb"/Kids\s*\[([^\]]*)\]", body)
        if kids_m:
            for r in _REF_RE.finditer(kids_m.group(1)):
                walk(int(r.group(1)))

    walk(pages_root)
    return out if out else None


def _content_stream(body: bytes, objnum: int = 0, decrypt=None) -> bytes | None:
    sm = _OBJ_STREAM_RE.search(body)
    if sm is None:
        return None
    payload = decrypt(objnum, sm.group(2)) if decrypt else sm.group(2)
    return _inflate(sm.group(1), payload)


# ------------------------------------------------ ToUnicode CMaps (CID)

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CODESPACE_RE = re.compile(
    rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", re.S
)
_BF_PAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_BF_RANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[[^\]]*\]|<[0-9A-Fa-f]+>)"
)
_MAX_RANGE = 65_536  # cap per bfrange: headers are untrusted input


def _utf16be_hex(hx: bytes) -> str:
    txt = "".join(hx.decode("ascii", "ignore").split())
    if len(txt) % 2:  # PDF hex strings pad a missing last digit with 0
        txt += "0"
    try:
        return bytes.fromhex(txt).decode("utf-16-be", "replace")
    except ValueError:
        return ""  # non-hex garbage in a CMap: drop the mapping


def _parse_tounicode(cmap: bytes) -> tuple[dict[int, str], int]:
    """ToUnicode CMap → (code → unicode string, code byte width).

    Handles ``bfchar`` pairs, ``bfrange`` with either an incrementing
    ``<dstStart>`` (the last UTF-16 code unit increments per the CMap
    spec) or an explicit ``[<d1> <d2> …]`` array, and takes the code
    width from the first codespacerange (Identity-H CMaps use 2)."""
    width = 2
    cs = _CODESPACE_RE.search(cmap)
    if cs:
        width = max(1, len(cs.group(1)) // 2)
    mapping: dict[int, str] = {}
    for sec in _BFCHAR_RE.finditer(cmap):
        for pair in _BF_PAIR_RE.finditer(sec.group(1)):
            mapping[int(pair.group(1), 16)] = _utf16be_hex(pair.group(2))
    for sec in _BFRANGE_RE.finditer(cmap):
        for r in _BF_RANGE_RE.finditer(sec.group(1)):
            lo, hi = int(r.group(1), 16), int(r.group(2), 16)
            if hi < lo or hi - lo >= _MAX_RANGE:
                continue
            tgt = r.group(3)
            if tgt.startswith(b"["):
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", tgt)
                for i, d in enumerate(dsts[: hi - lo + 1]):
                    mapping[lo + i] = _utf16be_hex(d)
            else:
                base_hex = tgt[1:-1]
                base = int(base_hex, 16)
                n_digits = len(base_hex)
                for c in range(lo, hi + 1):
                    val = base + (c - lo)
                    mapping[c] = _utf16be_hex(
                        b"%0*X" % (n_digits, val)
                    )
    return mapping, width


# ---------------- embedded TrueType cmap fallback (Type0, no ToUnicode)
#
# Digitally-produced CJK PDFs sometimes ship an Identity-H Type0 font
# with NO /ToUnicode CMap: the code points ARE the glyph ids, and the
# only glyph→unicode evidence is the embedded font program's own 'cmap'
# table (what pypdf's text extractor falls back to). Parsing formats 4
# (segmented BMP) and 12 (grouped full-Unicode) covers what real
# subsetters emit. All offsets are bounds-checked — font programs are
# untrusted input, so any malformation returns None (fail closed).

_TTF_MAX_CMAP = 1_000_000  # mapping-entry ceiling against hostile fonts


def _ttf_unicode_cmap(font: bytes) -> dict[int, int] | None:
    """unicode codepoint → glyph id from a TrueType/OpenType program's
    'cmap' table (best Unicode subtable: format 12 preferred over 4)."""
    import struct as _s

    if len(font) < 12:
        return None
    num_tables = _s.unpack(">H", font[4:6])[0]
    cmap_off = None
    for i in range(min(num_tables, 512)):
        o = 12 + 16 * i
        if o + 16 > len(font):
            return None
        if font[o : o + 4] == b"cmap":
            cmap_off = _s.unpack(">I", font[o + 8 : o + 12])[0]
            break
    if cmap_off is None or cmap_off + 4 > len(font):
        return None
    n_sub = _s.unpack(">H", font[cmap_off + 2 : cmap_off + 4])[0]
    best = None  # (priority, absolute offset)
    for i in range(min(n_sub, 64)):
        o = cmap_off + 4 + 8 * i
        if o + 8 > len(font):
            return None
        plat, enc = _s.unpack(">HH", font[o : o + 4])
        sub = cmap_off + _s.unpack(">I", font[o + 4 : o + 8])[0]
        if sub + 2 > len(font):
            continue
        fmt = _s.unpack(">H", font[sub : sub + 2])[0]
        unicode_sub = plat == 0 or (plat == 3 and enc in (1, 10))
        if not unicode_sub:
            continue
        prio = 2 if fmt == 12 else 1 if fmt == 4 else 0
        if prio and (best is None or prio > best[0]):
            best = (prio, sub, fmt)
    if best is None:
        return None
    _, sub, fmt = best
    out: dict[int, int] = {}
    if fmt == 4:
        if sub + 14 > len(font):
            return None
        seg2 = _s.unpack(">H", font[sub + 6 : sub + 8])[0]
        segs = seg2 // 2
        ends = sub + 14
        starts = ends + seg2 + 2  # +2 reservedPad
        deltas = starts + seg2
        ranges = deltas + seg2
        if ranges + seg2 > len(font):
            return None
        for s in range(segs):
            end = _s.unpack(">H", font[ends + 2 * s : ends + 2 * s + 2])[0]
            start = _s.unpack(">H", font[starts + 2 * s : starts + 2 * s + 2])[0]
            if start > end or (start == 0xFFFF and end == 0xFFFF):
                continue
            delta = _s.unpack(">h", font[deltas + 2 * s : deltas + 2 * s + 2])[0]
            roff = _s.unpack(">H", font[ranges + 2 * s : ranges + 2 * s + 2])[0]
            for c in range(start, end + 1):
                if roff == 0:
                    gid = (c + delta) & 0xFFFF
                else:
                    ga = ranges + 2 * s + roff + 2 * (c - start)
                    if ga + 2 > len(font):
                        return None
                    gid = _s.unpack(">H", font[ga : ga + 2])[0]
                    if gid:
                        gid = (gid + delta) & 0xFFFF
                if gid:
                    out[c] = gid
                if len(out) > _TTF_MAX_CMAP:
                    return None
    else:  # format 12
        if sub + 16 > len(font):
            return None
        n_groups = _s.unpack(">I", font[sub + 12 : sub + 16])[0]
        if n_groups > _TTF_MAX_CMAP or sub + 16 + 12 * n_groups > len(font):
            return None
        for g in range(n_groups):
            o = sub + 16 + 12 * g
            lo, hi, gid0 = _s.unpack(">III", font[o : o + 12])
            if hi < lo or hi - lo > _TTF_MAX_CMAP or hi > 0x10FFFF:
                return None
            for c in range(lo, hi + 1):
                out[c] = gid0 + (c - lo)
                if len(out) > _TTF_MAX_CMAP:
                    return None
    return out or None


def _type0_ttf_fallback(
    table: dict[int, bytes], fbody: bytes, decrypt=None
) -> tuple[dict[int, str], int] | None:
    """CID → unicode map for an Identity-H /Type0 font with no
    /ToUnicode, recovered by inverting the embedded TrueType program's
    own 'cmap' (pypdf's fallback path). Handles both /CIDToGIDMap
    /Identity (CID == GID) and a stream-based map (big-endian u16 GID
    per CID, ISO 32000-1 §9.7.4.3). None unless the font is
    Identity-encoded with a parseable /FontFile2 — anything else fails
    closed to the latin-1 path."""
    if not re.search(rb"/Subtype\s*/Type0\b", fbody):
        return None
    if not re.search(rb"/Encoding\s*/Identity-[HV]\b", fbody):
        return None
    dm = re.search(rb"/DescendantFonts\s*\[\s*(\d+)\s+\d+\s+R", fbody)
    if not dm:
        dm = re.search(rb"/DescendantFonts\s+(\d+)\s+\d+\s+R", fbody)
        if dm:  # indirect array object: [ N 0 R ]
            arr = table.get(int(dm.group(1)), b"")
            dm = re.search(rb"(\d+)\s+\d+\s+R", arr)
    if not dm:
        return None
    desc = table.get(int(dm.group(1)))
    if not desc:
        return None
    c2g = re.search(rb"/CIDToGIDMap\s*(/\w+|\d+\s+\d+\s+R)", desc)
    gid_map: bytes | None = None  # None = /Identity (CID == GID)
    if c2g and c2g.group(1).strip() != b"/Identity":
        sm = re.match(rb"(\d+)\s+\d+\s+R", c2g.group(1).strip())
        if not sm:
            return None  # unknown named map — fail closed
        map_body = table.get(int(sm.group(1)))
        if not map_body:
            return None
        gid_map = _content_stream(map_body, int(sm.group(1)), decrypt)
        # u16 per CID; Identity-H CIDs are 2 bytes, so 65536 entries max
        if not gid_map or len(gid_map) % 2 or len(gid_map) > 2 * 65536:
            return None
    fd = re.search(rb"/FontDescriptor\s+(\d+)\s+\d+\s+R", desc)
    if not fd:
        return None
    fd_body = table.get(int(fd.group(1)), b"")
    ff = re.search(rb"/FontFile2\s+(\d+)\s+\d+\s+R", fd_body)
    if not ff:
        return None
    ff_body = table.get(int(ff.group(1)))
    if not ff_body:
        return None
    font = _content_stream(ff_body, int(ff.group(1)), decrypt)
    if not font:
        return None
    uni2gid = _ttf_unicode_cmap(font)
    if not uni2gid:
        return None
    # invert: smallest codepoint wins per glyph (deterministic when a
    # glyph serves several codepoints)
    gid2uni: dict[int, str] = {}
    for cp in sorted(uni2gid, reverse=True):
        gid2uni[uni2gid[cp]] = chr(cp)
    if gid_map is None:
        return gid2uni, 2
    # stream map: route each CID through its GID before the inversion
    cid2uni: dict[int, str] = {}
    for cid in range(len(gid_map) // 2):
        gid = (gid_map[2 * cid] << 8) | gid_map[2 * cid + 1]
        u = gid2uni.get(gid)
        if u is not None:
            cid2uni[cid] = u
    return (cid2uni, 2) if cid2uni else None


def _page_fonts(
    table: dict[int, bytes], page_body: bytes, decrypt=None
) -> dict[bytes, tuple[dict[int, str], int]]:
    """Resolve the page's /Resources → /Font dict and parse each font's
    /ToUnicode CMap stream; Identity-H Type0 fonts WITHOUT a ToUnicode
    fall back to the embedded TrueType program's own 'cmap' table
    (:func:`_type0_ttf_fallback`). Simple fonts keep the latin-1 path
    in _stream_text."""
    res = page_body
    rm = re.search(rb"/Resources\s+(\d+)\s+\d+\s+R", page_body)
    if rm:
        res = table.get(int(rm.group(1)), b"")
    font_body = None
    fm = re.search(rb"/Font\s*<<(.*?)>>", res, re.S)
    if fm:
        font_body = fm.group(1)
    else:
        fr = re.search(rb"/Font\s+(\d+)\s+\d+\s+R", res)
        if fr:
            font_body = table.get(int(fr.group(1)), b"")
    if not font_body:
        return {}
    fonts: dict[bytes, tuple[dict[int, str], int]] = {}
    for m in re.finditer(rb"/([A-Za-z0-9_.+-]+)\s+(\d+)\s+\d+\s+R", font_body):
        fbody = table.get(int(m.group(2)))
        if not fbody:
            continue
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", fbody)
        if not tm:
            ttf = _type0_ttf_fallback(table, fbody, decrypt)
            if ttf:
                fonts[m.group(1)] = ttf
            continue
        tbody = table.get(int(tm.group(1)))
        if not tbody:
            continue
        stream = _content_stream(tbody, int(tm.group(1)), decrypt)
        if stream:
            fonts[m.group(1)] = _parse_tounicode(stream)
    return fonts


def pdf_pages(data: bytes) -> list[str]:
    """Page texts. Primary path: walk the /Pages tree and concatenate
    each page's /Contents streams (one output entry per real page, in
    tree order — empty pages stay as empty strings so page numbering
    matches the document). Fallback when no tree resolves: one entry
    per content stream containing a BT text block. ``[]`` when the
    document has no parseable text streams, or is encrypted under a
    non-blank password (the blank one is all PyPDFLoader tries,
    reference backend/chroma_utils.py:61-63)."""
    if not data.startswith(b"%PDF"):
        return []
    table = _object_table(data)
    try:
        decrypt = _build_decryptor(data, table)
    except ValueError:
        return []  # non-blank password / exotic handler: no pages
    if decrypt is not None:
        # rebuild so ObjStm payloads inflate through RC4 (the /Encrypt
        # dict itself is never inside an ObjStm, so pass 1 found it)
        table = _object_table(data, decrypt)
    page_refs = _page_content_objs(table)
    if page_refs is not None:
        pages: list[str] = []
        any_stream = False
        for refs, page_body in page_refs:
            fonts = _page_fonts(table, page_body, decrypt)
            # a page's content streams concatenate into ONE stream per
            # the spec — decoding them together keeps the Tf font state
            # (and any active CID CMap) across stream boundaries
            chunks: list[bytes] = []
            for num in refs:
                body = table.get(num)
                if body is None:
                    continue
                content = _content_stream(body, num, decrypt)
                if content is None:
                    continue
                any_stream = True
                chunks.append(content)
            joined = b"\n".join(chunks)
            pages.append(_stream_text(joined, fonts) if b"BT" in joined else "")
        if any_stream:
            return pages
    # heuristic fallback: stream-per-page
    pages = []
    for m in _STREAM_RE.finditer(data):
        body = _inflate(m.group(1), m.group(2))
        if body is None or b"BT" not in body:
            continue
        pages.append(_stream_text(body))
    return pages
