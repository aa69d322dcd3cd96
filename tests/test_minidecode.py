"""Golden-fixture tests for the PDF/DOCX decode path: hand-assembled,
structurally valid files exercised through minidecode.pdf_pages /
docx_pages and loaders.decode_pdf / decode_docx, which call them and
nothing else (reference ingest path backend/chroma_utils.py:60-74)."""

from __future__ import annotations

import io
import zipfile
import zlib

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import loaders
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.minidecode import (
    docx_pages,
    pdf_pages,
)

# --------------------------------------------------------------- builders


def make_pdf(page_streams: list[bytes], compress: bool = True) -> bytes:
    """Assemble a minimal valid PDF: catalog → pages → one page + one
    content stream per entry, offsets and xref computed properly."""
    n_pages = len(page_streams)
    objs: dict[int, bytes] = {}
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    font_num = 3 + 2 * n_pages
    for i, stream in enumerate(page_streams):
        page_num, cont_num = 3 + 2 * i, 4 + 2 * i
        objs[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {cont_num} 0 R "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
        ).encode()
        body = zlib.compress(stream) if compress else stream
        filt = b"/Filter /FlateDecode " if compress else b""
        objs[cont_num] = (
            b"<< " + filt + f"/Length {len(body)} >>".encode()
            + b"\nstream\n" + body + b"\nendstream"
        )
    objs[font_num] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = out.tell()
        out.write(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    xref_at = out.tell()
    out.write(f"xref\n0 {len(objs) + 1}\n".encode())
    out.write(b"0000000000 65535 f \n")
    for num in sorted(objs):
        out.write(f"{offsets[num]:010d} 00000 n \n".encode())
    out.write(
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n".encode()
    )
    return out.getvalue()


def text_stream(lines: list[bytes]) -> bytes:
    ops = b" ".join(l + b" Tj 0 -14 Td" for l in lines)
    return b"BT /F1 12 Tf 72 720 Td " + ops + b" ET"


def make_docx(paragraphs: list[str]) -> bytes:
    ns = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
    body = "".join(f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in paragraphs)
    document = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<w:document {ns}><w:body>{body}</w:body></w:document>"
    )
    types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" '
        'ContentType="application/vnd.openxmlformats-officedocument'
        '.wordprocessingml.document.main+xml"/></Types>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", types)
        zf.writestr("word/document.xml", document)
    return buf.getvalue()


# ------------------------------------------------------------------ PDF


def test_pdf_two_pages_flate():
    pdf = make_pdf(
        [
            text_stream([b"(Hello Spark PDF)"]),
            text_stream([b"(Second page text)"]),
        ]
    )
    pages = pdf_pages(pdf)
    assert pages == ["Hello Spark PDF", "Second page text"]


def test_pdf_uncompressed_stream():
    pdf = make_pdf([text_stream([b"(plain stream)"])], compress=False)
    assert pdf_pages(pdf) == ["plain stream"]


def test_pdf_escapes_and_octal():
    pdf = make_pdf([text_stream([rb"(paren \( close \) back\\ oct \101)"])])
    assert pdf_pages(pdf) == ["paren ( close ) back\\ oct A"]


def test_pdf_tj_array_kerning():
    stream = b"BT /F1 12 Tf [(Hel) -20 (lo) 5 ( world)] TJ ET"
    pdf = make_pdf([stream])
    assert pdf_pages(pdf) == ["Hello world"]


def test_pdf_hex_string():
    # "Hi!" = 48 69 21
    stream = b"BT /F1 12 Tf <486921> Tj ET"
    pdf = make_pdf([stream])
    assert pdf_pages(pdf) == ["Hi!"]


def test_pdf_garbage_returns_empty():
    assert pdf_pages(b"%PDF-1.4 not really a pdf") == []
    assert pdf_pages(b"plain text, no pdf magic") == []


def test_decode_pdf_routes_to_real_extractor():
    pdf = make_pdf([text_stream([b"(real branch)"])])
    assert loaders.decode_pdf(pdf) == ["real branch"]


def test_decode_pdf_falls_back_to_stub_on_unreadable():
    """No fallback text: an unreadable PDF decodes to no pages."""
    assert loaders.decode_pdf(b"%PDF-1.4 " + b"garbage " * 50) == []


# ----------------------------------------------------------------- DOCX


def test_docx_paragraphs():
    docx = make_docx(["First paragraph.", "Second one."])
    assert docx_pages(docx) == ["First paragraph.\nSecond one."]


def test_decode_docx_routes_to_real_extractor():
    docx = make_docx(["Real docx body text"])
    pages = loaders.decode_docx(docx)
    assert pages == ["Real docx body text"]


def test_decode_docx_falls_back_to_stub():
    """No fallback text: an unreadable DOCX decodes to no pages."""
    assert loaders.decode_docx(b"PK\x03\x04 not a zip at all") == []


# ------------------------------------------------------- Spark pipeline


def test_ingest_real_pdf_and_docx(spark, tmp_path):
    (tmp_path / "real.pdf").write_bytes(
        make_pdf([text_stream([b"(ingested pdf sentence one)"]),
                  text_stream([b"(ingested pdf sentence two)"])])
    )
    (tmp_path / "real.docx").write_bytes(make_docx(["ingested docx body"]))
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import (
        ingest as ING,
    )

    res = ING.ingest(spark, str(tmp_path) + "/*")
    assert res.rejected.count() == 0
    chunks = res.chunks.toPandas()
    text = " ".join(chunks["page_content"])
    assert "ingested pdf sentence one" in text
    assert "ingested pdf sentence two" in text
    assert "ingested docx body" in text
    # per-page fan-out: the 2-stream pdf became 2 page rows
    pdf_pages_seen = chunks[chunks["source_file"] == "real.pdf"]["page_no"].nunique()
    assert pdf_pages_seen == 2


def make_pdf_multistream(pages: list[list[bytes]]) -> bytes:
    """PDF where each page's /Contents is an ARRAY of stream refs —
    exercises the page-tree walk (the stream heuristic would emit one
    pseudo-page per stream)."""
    objs: dict[int, bytes] = {}
    n_pages = len(pages)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    next_num = 3
    page_nums = []
    for streams in pages:
        page_num = next_num
        cont_nums = list(range(next_num + 1, next_num + 1 + len(streams)))
        next_num += 1 + len(streams)
        page_nums.append(page_num)
        arr = " ".join(f"{c} 0 R" for c in cont_nums).encode()
        objs[page_num] = (
            b"<< /Type /Page /Parent 2 0 R /Contents [" + arr + b"] >>"
        )
        for c, s in zip(cont_nums, streams):
            body = zlib.compress(s)
            objs[c] = (
                b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
                + b" >>\nstream\n" + body + b"\nendstream"
            )
    kids = " ".join(f"{p} 0 R" for p in page_nums).encode()
    objs[2] = (
        b"<< /Type /Pages /Kids [" + kids + b"] /Count "
        + str(n_pages).encode() + b" >>"
    )
    out = io.BytesIO()
    out.write(b"%PDF-1.5\n")
    for num in sorted(objs):
        out.write(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    out.write(b"trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    return out.getvalue()


def make_pdf_objstm(page_texts: list[bytes]) -> bytes:
    """PDF whose catalog/pages/page dicts are packed inside a
    /Type/ObjStm object stream (PDF 1.5 compressed-xref layout);
    content streams stay as regular objects."""
    n = len(page_texts)
    page_nums = [10 + i for i in range(n)]
    cont_nums = [20 + i for i in range(n)]
    packed_objs: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (
            2,
            b"<< /Type /Pages /Kids ["
            + " ".join(f"{p} 0 R" for p in page_nums).encode()
            + b"] /Count " + str(n).encode() + b" >>",
        ),
    ]
    for p, c in zip(page_nums, cont_nums):
        packed_objs.append(
            (p, b"<< /Type /Page /Parent 2 0 R /Contents "
             + str(c).encode() + b" 0 R >>")
        )
    bodies = [b for _, b in packed_objs]
    offsets, cur = [], 0
    for b in bodies:
        offsets.append(cur)
        cur += len(b) + 1
    header = " ".join(
        f"{num} {off}" for (num, _), off in zip(packed_objs, offsets)
    ).encode() + b" "
    payload = header + b"".join(b + b" " for b in bodies)
    compressed = zlib.compress(payload)
    out = io.BytesIO()
    out.write(b"%PDF-1.5\n")
    out.write(
        b"5 0 obj\n<< /Type /ObjStm /N " + str(len(packed_objs)).encode()
        + b" /First " + str(len(header)).encode()
        + b" /Filter /FlateDecode /Length " + str(len(compressed)).encode()
        + b" >>\nstream\n" + compressed + b"\nendstream\nendobj\n"
    )
    for c, t in zip(cont_nums, page_texts):
        body = zlib.compress(text_stream([t]))
        out.write(
            f"{c} 0 obj\n".encode()
            + b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream\nendobj\n"
        )
    out.write(b"trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    return out.getvalue()


def test_pdf_multistream_page_merged_by_page_tree():
    pdf = make_pdf_multistream(
        [
            [text_stream([b"(page one part A)"]), text_stream([b"(page one part B)"])],
            [text_stream([b"(page two)"])],
        ]
    )
    pages = pdf_pages(pdf)
    assert len(pages) == 2  # NOT 3: two streams merged into page 1
    assert pages[0] == "page one part A\npage one part B"
    assert pages[1] == "page two"


def test_pdf_empty_page_keeps_page_numbering():
    pdf = make_pdf_multistream(
        [
            [text_stream([b"(first)"])],
            [b"BT ET"],  # text block with nothing shown
            [text_stream([b"(third)"])],
        ]
    )
    pages = pdf_pages(pdf)
    assert pages == ["first", "", "third"]


def test_pdf_objstm_packed_page_tree():
    pdf = make_pdf_objstm([b"(packed page 1)", b"(packed page 2)"])
    pages = pdf_pages(pdf)
    assert pages == ["packed page 1", "packed page 2"]


def test_pdf_compact_contents_array_and_indirect_array():
    """Writer variants: /Contents[3 0 R] with no whitespace, and
    /Contents N 0 R where N resolves to a bare ref array."""
    s1 = zlib.compress(text_stream([b"(compact array)"]))
    s2 = zlib.compress(text_stream([b"(indirect part A)"]))
    s3 = zlib.compress(text_stream([b"(indirect part B)"]))

    def stream_obj(body):
        return (b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
                + b" >>\nstream\n" + body + b"\nendstream")

    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [10 0 R 11 0 R] /Count 2 >>",
        10: b"<</Type/Page/Parent 2 0 R/Contents[3 0 R]>>",  # no whitespace
        11: b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",  # indirect array
        3: stream_obj(s1),
        6: b"[4 0 R 5 0 R]",
        4: stream_obj(s2),
        5: stream_obj(s3),
    }
    out = io.BytesIO()
    out.write(b"%PDF-1.5\n")
    for num in sorted(objs):
        out.write(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    out.write(b"trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    pages = pdf_pages(out.getvalue())
    assert pages == ["compact array", "indirect part A\nindirect part B"]


# ------------------------------------------------- CID / ToUnicode fonts

def make_cid_pdf(cmap: bytes, content: bytes) -> bytes:
    """One-page PDF whose /F1 is a Type0 (CID) font with a Flate
    ToUnicode CMap — the layout Word/LaTeX/Chrome exports produce."""
    body = zlib.compress(content)
    tou = zlib.compress(cmap)
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
        4: (b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream"),
        5: (b"<< /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+Mock "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >>"),
        6: (b"<< /Filter /FlateDecode /Length " + str(len(tou)).encode()
            + b" >>\nstream\n" + tou + b"\nendstream"),
    }
    out = io.BytesIO()
    out.write(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = out.tell()
        out.write(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    xref_at = out.tell()
    out.write(f"xref\n0 {len(objs) + 1}\n".encode())
    out.write(b"0000000000 65535 f \n")
    for num in sorted(objs):
        out.write(f"{offsets[num]:010d} 00000 n \n".encode())
    out.write(f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n".encode())
    out.write(f"startxref\n{xref_at}\n%%EOF".encode())
    return out.getvalue()


_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin begincmap
1 begincodespacerange <0000> <FFFF> endcodespacerange
3 beginbfchar
<0003> <0048>
<0004> <0065>
<0011> <0021>
endbfchar
2 beginbfrange
<0020> <0025> <006C>
<0030> <0031> [<0057> <006F>]
endbfrange
endcmap CMapName currentdict /CMap defineresource pop end end"""
# bfchar: 03->H 04->e 11->!    bfrange: 20..25 -> l,m,n,o,p,q ; 30->W 31->o


def test_pdf_cid_tounicode_hex_show():
    content = b"BT /F1 12 Tf <0003 0004 0020 0020 0023> Tj ET"
    pages = pdf_pages(make_cid_pdf(_CMAP, content))
    assert pages == ["Hello"]


def test_pdf_cid_tj_array_and_bfrange_list():
    content = b"BT /F1 10 Tf [<00300031> -30 <00210022>] TJ ET"
    pages = pdf_pages(make_cid_pdf(_CMAP, content))
    # 0030->W 0031->o (explicit list), 0021->m 0022->n (incrementing)
    assert pages == ["Womn"]


def test_pdf_cid_literal_string_two_byte_codes():
    # literal string under a CID font: bytes pair up into codes
    content = b"BT /F1 9 Tf (\x00\x03\x00\x04) Tj ET"
    pages = pdf_pages(make_cid_pdf(_CMAP, content))
    assert pages == ["He"]


def test_pdf_cid_font_switch_mid_page():
    """Simple font then CID font on one page: latin-1 and CMap decode
    coexist, switched by Tf."""
    cmap = _CMAP
    body = zlib.compress(b"BT /F2 12 Tf (plain ) Tj /F1 12 Tf <0003 0004> Tj ET")
    tou = zlib.compress(cmap)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> >>"),
        4: (b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream"),
        5: (b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H "
            b"/ToUnicode 6 0 R >>"),
        6: (b"<< /Filter /FlateDecode /Length " + str(len(tou)).encode()
            + b" >>\nstream\n" + tou + b"\nendstream"),
        7: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    out = io.BytesIO()
    out.write(b"%PDF-1.5\n")
    for num in sorted(objs):
        out.write(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    out.write(b"trailer\n<< /Root 1 0 R >>\n%%EOF")
    pages = pdf_pages(out.getvalue())
    assert pages == ["plain \nHe"]


def test_pdf_unmapped_cid_codes_dropped():
    content = b"BT /F1 12 Tf <0003 FFFE 0004> Tj ET"
    pages = pdf_pages(make_cid_pdf(_CMAP, content))
    assert pages == ["He"]  # FFFE has no mapping: dropped, not U+FFFD


def test_pdf_simple_fonts_unaffected_by_cid_path():
    """Regression: documents with only simple fonts decode exactly as
    before the CID support."""
    pages = pdf_pages(make_pdf([b"BT (Same as ever) Tj ET"]))
    assert pages == ["Same as ever"]


# ------------------------------------------------ RC4-encrypted PDFs

def make_encrypted_pdf(text: bytes, r=3, length=128, p=-44, wrong_pw=False,
                       password=b"", owner_password=None):
    """One-page PDF encrypted with the standard security handler
    (RC4, user password ``password`` — blank by default): key via
    Algorithm 2, /U via Algorithm 4/5, streams RC4-encrypted per
    object (Algorithm 1). ``owner_password`` computes a REAL /O via
    Algorithm 3 (else a fixed placeholder)."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.minidecode import (
        _PW_PAD,
        _Rc4Decryptor,
        _owner_rc4_key,
        _rc4,
        _std_encryption_key,
        _std_user_check,
    )

    if owner_password is not None:  # Algorithm 3 (encryption side)
        n_ok = length // 8 if r >= 3 else 5
        okey = _owner_rc4_key(owner_password, r, n_ok)
        data = _rc4(okey, (password + _PW_PAD)[:32])
        if r >= 3:
            for i in range(1, 20):
                data = _rc4(bytes(b ^ i for b in okey), data)
        o_entry = data
    else:
        o_entry = bytes(range(32))
    id1 = bytes.fromhex("00112233445566778899aabbccddeeff")
    n = length // 8 if r >= 3 else 5
    key = _std_encryption_key(o_entry, p, id1, r, n, password=password)
    u_entry = _std_user_check(key, id1, r)
    if r >= 3:
        u_entry = u_entry + b"\x00" * 16
    if wrong_pw:
        u_entry = bytes(32)  # mismatching /U: must refuse to decrypt
    enc = _Rc4Decryptor(key)  # RC4 is symmetric: encryptor too

    content = b"BT (" + text + b") Tj ET"
    body = enc(4, zlib.compress(content))
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 6 0 R >> >> >>"),
        4: (b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream"),
        5: (b"<< /Filter /Standard /V 2 /R " + str(r).encode()
            + b" /Length " + str(length).encode()
            + b" /P " + str(p).encode()
            + b" /O <" + o_entry.hex().encode() + b">"
            + b" /U <" + u_entry.hex().encode() + b"> >>"),
        6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    for num in sorted(objs):
        out.write(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    out.write(b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R /ID [<"
              + id1.hex().encode() + b"> <" + id1.hex().encode() + b">] >>\n%%EOF")
    return out.getvalue()


def test_pdf_rc4_encrypted_blank_password():
    pages = pdf_pages(make_encrypted_pdf(b"Sekrit clear text", r=3))
    assert pages == ["Sekrit clear text"]


def test_pdf_rc4_r2_40bit():
    pages = pdf_pages(make_encrypted_pdf(b"old style", r=2, length=40))
    assert pages == ["old style"]


def test_pdf_encrypted_wrong_password_stubs():
    """/U mismatch (non-blank user password): refuse, never emit
    RC4-garbage text."""
    assert pdf_pages(make_encrypted_pdf(b"secret", wrong_pw=True)) == []


def test_pdf_aes_encrypted_stubs():
    data = make_encrypted_pdf(b"secret")
    assert pdf_pages(data.replace(b"/V 2", b"/V 4")) == []


def test_pdf_unencrypted_path_untouched():
    pages = pdf_pages(make_pdf([b"BT (no crypto here) Tj ET"]))
    assert pages == ["no crypto here"]


# ---------------------------------------------------- AES-encrypted PDFs


def test_aes_fips197_vectors():
    """FIPS-197 appendix C known-answer tests pin the cipher itself."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import (
        minidecode as M,
    )

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for key, want in [
        (bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),
        (bytes(range(24)), "dda97ca4864cdfe06eaf70a0ec0d7191"),
        (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089"),
    ]:
        w, nr = M._aes_expand_key(key)
        ct = M._aes_encrypt_block(w, nr, pt)
        assert ct.hex() == want
        assert M._aes_decrypt_block(w, nr, ct) == pt


def _aes_pad(data: bytes) -> bytes:
    n = 16 - len(data) % 16
    return data + bytes([n]) * n


def _assemble_pdf(objs: dict[int, bytes], trailer_extra: bytes) -> bytes:
    out = io.BytesIO()
    out.write(b"%PDF-1.6\n")
    for num in sorted(objs):
        out.write(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    out.write(b"trailer\n<< /Root 1 0 R " + trailer_extra + b" >>\n%%EOF")
    return out.getvalue()


def _page_objs(body: bytes) -> dict[int, bytes]:
    return {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 6 0 R >> >> >>"),
        4: (b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream"),
        6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }


def make_aesv2_pdf(text: bytes, p=-44, encrypt_metadata=True, cf_first=False,
                   password=b"", owner_password=None):
    """AESV2 (V4 R4, AES-128-CBC, StdCF) with user password
    ``password`` (blank by default); ``owner_password`` computes a real
    /O via Algorithm 3."""
    import hashlib
    import struct as _s

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.minidecode import (
        _PW_PAD,
        _aes_cbc_encrypt,
        _owner_rc4_key,
        _rc4,
        _std_encryption_key,
        _std_user_check,
    )

    if owner_password is not None:
        okey = _owner_rc4_key(owner_password, 4, 16)
        data = _rc4(okey, (password + _PW_PAD)[:32])
        for i in range(1, 20):
            data = _rc4(bytes(b ^ i for b in okey), data)
        o_entry = data
    else:
        o_entry = bytes(range(32))
    id1 = bytes.fromhex("00112233445566778899aabbccddeeff")
    key = _std_encryption_key(o_entry, p, id1, 4, 16, encrypt_metadata,
                              password=password)
    u_entry = _std_user_check(key, id1, 4) + b"\x00" * 16

    objnum = 4
    ok = hashlib.md5(
        key + _s.pack("<I", objnum)[:3] + b"\x00\x00" + b"sAlT"
    ).digest()[:16]
    iv = bytes(range(16))
    body = iv + _aes_cbc_encrypt(ok, iv, _aes_pad(zlib.compress(
        b"BT (" + text + b") Tj ET"
    )))

    objs = _page_objs(body)
    em = b"" if encrypt_metadata else b" /EncryptMetadata false"
    cf = b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
    head = (b"<< " + (cf if cf_first else b"")
            + b" /Filter /Standard /V 4 /R 4 /Length 128"
            + (b"" if cf_first else cf))
    objs[5] = (
        head
        + b" /StmF /StdCF /StrF /StdCF"
        + em
        + b" /P " + str(p).encode()
        + b" /O <" + o_entry.hex().encode() + b">"
        + b" /U <" + u_entry.hex().encode() + b"> >>"
    )
    return _assemble_pdf(
        objs,
        b"/Encrypt 5 0 R /ID [<" + id1.hex().encode() + b"> <"
        + id1.hex().encode() + b">]",
    )


def make_aesv3_pdf(text: bytes, r=6, password=b"", owner_password=None):
    """AESV3 (V5 R5/R6, AES-256-CBC) protected by user password
    ``password`` (blank by default) — /U validation hash and /UE key
    wrap both derive from it. ``owner_password`` additionally writes a
    real /O + /OE keyed over U[0:48]."""
    import hashlib

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.minidecode import (
        _aes_cbc_encrypt,
        _hash_r6,
    )

    file_key = bytes(range(100, 132))
    vsalt, ksalt = bytes(range(8)), bytes(range(8, 16))
    if r == 6:
        check = _hash_r6(password, vsalt)
        inter = _hash_r6(password, ksalt)
    else:
        check = hashlib.sha256(password + vsalt).digest()
        inter = hashlib.sha256(password + ksalt).digest()
    u_entry = check + vsalt + ksalt
    ue_entry = _aes_cbc_encrypt(inter, b"\x00" * 16, file_key)
    if owner_password is not None:
        ovsalt, oksalt = bytes(range(16, 24)), bytes(range(24, 32))
        if r == 6:
            ocheck = _hash_r6(owner_password, ovsalt, u_entry[:48])
            ointer = _hash_r6(owner_password, oksalt, u_entry[:48])
        else:
            ocheck = hashlib.sha256(owner_password + ovsalt + u_entry[:48]).digest()
            ointer = hashlib.sha256(owner_password + oksalt + u_entry[:48]).digest()
        o_entry = ocheck + ovsalt + oksalt
        oe_entry = _aes_cbc_encrypt(ointer, b"\x00" * 16, file_key)
    else:
        o_entry, oe_entry = bytes(48), bytes(32)

    iv = bytes(range(16, 32))
    body = iv + _aes_cbc_encrypt(file_key, iv, _aes_pad(zlib.compress(
        b"BT (" + text + b") Tj ET"
    )))

    objs = _page_objs(body)
    objs[5] = (
        b"<< /Filter /Standard /V 5 /R " + str(r).encode()
        + b" /Length 256"
        + b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
        + b" /StmF /StdCF /StrF /StdCF /P -44"
        + b" /O <" + o_entry.hex().encode() + b">"
        + b" /OE <" + oe_entry.hex().encode() + b">"
        + b" /U <" + u_entry.hex().encode() + b">"
        + b" /UE <" + ue_entry.hex().encode() + b"> >>"
    )
    return _assemble_pdf(objs, b"/Encrypt 5 0 R")


def test_pdf_aesv2_blank_password():
    assert pdf_pages(make_aesv2_pdf(b"AES hidden text")) == ["AES hidden text"]


def test_pdf_aesv2_encrypt_metadata_false():
    """/EncryptMetadata false changes the key derivation (extra FFFFFFFF
    in the MD5) — both sides must agree."""
    pages = pdf_pages(make_aesv2_pdf(b"meta false", encrypt_metadata=False))
    assert pages == ["meta false"]


def test_pdf_aesv3_r6_blank_password():
    assert pdf_pages(make_aesv3_pdf(b"AES256 text", r=6)) == ["AES256 text"]


def test_pdf_aesv3_r5_blank_password():
    assert pdf_pages(make_aesv3_pdf(b"old R5", r=5)) == ["old R5"]


def test_pdf_aesv3_nonblank_password_stubs():
    """A real password means the validation hash can't match blank:
    refuse rather than emit garbage."""
    assert pdf_pages(make_aesv3_pdf(b"secret", password=b"hunter2")) == []


# ------------------------------------------- non-blank user passwords
# Only the blank password is tried (PyPDFLoader's default): a document
# locked by a real user password decodes to no pages in every handler
# family, never to garbage text.


def test_pdf_rc4_user_password():
    data = make_encrypted_pdf(b"locked rc4", r=3, password=b"hunter2")
    assert pdf_pages(data) == []
    assert loaders.decode_pdf(data) == []


def test_pdf_rc4_r2_user_password():
    data = make_encrypted_pdf(b"old locked", r=2, length=40, password=b"pw")
    assert pdf_pages(data) == []


def test_pdf_aesv2_user_password():
    assert pdf_pages(make_aesv2_pdf(b"AES locked", password=b"s3cret")) == []


def test_pdf_aesv3_r5_user_password():
    assert pdf_pages(make_aesv3_pdf(b"R5 locked", r=5, password=b"pw5")) == []


def test_docx_headers_and_footers():
    """Docx2txt semantics: headers first, then the body, then footers."""
    ns = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'

    def part(tag, texts):
        body = "".join(f"<w:p><w:r><w:t>{t}</w:t></w:r></w:p>" for t in texts)
        return (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f"<w:{tag} {ns}>{body}</w:{tag}>")

    base = make_docx(["Body text."])
    buf = io.BytesIO(base)
    with zipfile.ZipFile(buf, "a", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("word/header1.xml", part("hdr", ["Running header"]))
        zf.writestr("word/footer1.xml", part("ftr", ["Page footer"]))
    pages = docx_pages(buf.getvalue())
    assert pages == ["Running header\nBody text.\nPage footer"]


def test_docx_corrupt_header_part_keeps_body():
    base = make_docx(["Still extracts."])
    buf = io.BytesIO(base)
    with zipfile.ZipFile(buf, "a", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("word/header1.xml", "<not-xml <<<")
    assert docx_pages(buf.getvalue()) == ["Still extracts."]


def test_pdf_aesv2_cf_dict_before_length():
    """Alphabetically-sorted producers (qpdf/pikepdf) put /CF — with its
    own '/Length 16' crypt-filter byte count — before the top-level
    /Length 128; the key derivation must use the top-level value."""
    pages = pdf_pages(make_aesv2_pdf(b"sorted keys", cf_first=True))
    assert pages == ["sorted keys"]


def test_pdf_encrypted_unsigned_p_entry():
    """Some producers write /P in its unsigned 32-bit form; the key
    derivation packs it modulo 2^32 either way."""
    pages = pdf_pages(make_encrypted_pdf(b"unsigned P", p=4294963392 - (1 << 32)))
    unsigned = make_encrypted_pdf(b"unsigned P", p=4294963392 - (1 << 32)).replace(
        b"/P -3904", b"/P 4294963392"
    )
    assert pdf_pages(unsigned) == ["unsigned P"] == pages


def test_tounicode_odd_hex_digits_no_crash():
    """Odd-digit hex in a ToUnicode CMap (e.g. <FFF>, or a bfrange
    increment overflowing its digit width) pads like a PDF hex string
    instead of raising out of the extractor."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.minidecode import (
        _utf16be_hex,
    )

    assert _utf16be_hex(b"0041") == "A"
    assert _utf16be_hex(b"FFF") == "￰"  # padded trailing zero
    assert _utf16be_hex(b"zz") == ""  # non-hex garbage drops
    cmap = _CMAP.replace(b"<0041>", b"<041>")  # odd-width dst
    assert pdf_pages(make_cid_pdf(cmap, b"BT /F1 12 Tf <0003> Tj ET")) is not None


# ------------------- Type0 without ToUnicode: embedded-TTF-cmap fallback


def _ttf_with_cmap(uni2gid: dict[int, int], fmt: int = 4) -> bytes:
    """Minimal sfnt with a single 'cmap' table (format 4 or 12)."""
    import struct as _s

    cps = sorted(uni2gid)
    if fmt == 4:
        seg2 = 2 * (len(cps) + 1)
        ends = b"".join(_s.pack(">H", c) for c in cps) + b"\xff\xff"
        starts = b"".join(_s.pack(">H", c) for c in cps) + b"\xff\xff"
        deltas = b"".join(
            _s.pack(">h", (uni2gid[c] - c) % 65536 - (65536 if (uni2gid[c] - c) % 65536 > 32767 else 0))
            for c in cps
        ) + _s.pack(">h", 1)
        roffs = b"\x00\x00" * (len(cps) + 1)
        sub = (_s.pack(">HHHHHHH", 4, 16 + 4 * seg2, 0, seg2, 0, 0, 0)
               + ends + b"\x00\x00" + starts + deltas + roffs)
    else:  # format 12: one group per codepoint
        groups = b"".join(
            _s.pack(">III", c, c, uni2gid[c]) for c in cps
        )
        sub = _s.pack(">HHIII", 12, 0, 16 + len(groups), 0, len(cps)) + groups
    cmap = _s.pack(">HH", 0, 1) + _s.pack(">HHI", 3, 10 if fmt == 12 else 1, 12) + sub
    header = _s.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
    record = b"cmap" + _s.pack(">II", 0, 28) + _s.pack(">I", len(cmap))
    return header + record + cmap


def make_type0_nounicode_pdf(font: bytes, content: bytes,
                             cid2gid: bytes = b"/Identity",
                             extra_objs: dict[int, bytes] | None = None) -> bytes:
    """Type0/Identity-H PDF with NO /ToUnicode; glyph→unicode only via
    the embedded /FontFile2 program (the digitally-produced CJK shape)."""
    body = zlib.compress(content)
    ff = zlib.compress(font)
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
        4: (b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream"),
        5: (b"<< /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+Mock "
            b"/Encoding /Identity-H /DescendantFonts [7 0 R] >>"),
        7: (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /ABCDEF+Mock "
            b"/CIDToGIDMap " + cid2gid + b" /FontDescriptor 8 0 R >>"),
        8: (b"<< /Type /FontDescriptor /FontName /ABCDEF+Mock "
            b"/FontFile2 9 0 R >>"),
        9: (b"<< /Filter /FlateDecode /Length " + str(len(ff)).encode()
            + b" >>\nstream\n" + ff + b"\nendstream"),
    }
    objs.update(extra_objs or {})
    out = io.BytesIO()
    out.write(b"%PDF-1.5\n")
    for num in sorted(objs):
        out.write(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    out.write(b"trailer\n<< /Root 1 0 R >>\n%%EOF")
    return out.getvalue()


_T0_MAP = {0x48: 3, 0xE9: 4, 0x6C: 5, 0x6F: 6}  # H é l o


def test_pdf_type0_ttf_cmap_format4():
    font = _ttf_with_cmap(_T0_MAP, fmt=4)
    content = b"BT /F1 12 Tf <0003 0004 0005 0005 0006> Tj ET"
    assert pdf_pages(make_type0_nounicode_pdf(font, content)) == ["H\xe9llo"]


def test_pdf_type0_ttf_cmap_format12():
    font = _ttf_with_cmap(_T0_MAP, fmt=12)
    content = b"BT /F1 12 Tf <0003 0004 0005 0005 0006> Tj ET"
    assert pdf_pages(make_type0_nounicode_pdf(font, content)) == ["H\xe9llo"]


def test_pdf_type0_ttf_cmap_cjk_format12():
    """Codepoints beyond the BMP boundary path: CJK via format 12."""
    m = {0x4F60: 10, 0x597D: 11}  # 你 好
    font = _ttf_with_cmap(m, fmt=12)
    content = b"BT /F1 12 Tf <000A 000B> Tj ET"
    assert pdf_pages(make_type0_nounicode_pdf(font, content)) == ["你好"]


def test_pdf_type0_truncated_font_fails_closed():
    """A truncated/hostile font program must never crash — the font is
    skipped and the show falls back to the latin-1 path."""
    font = _ttf_with_cmap(_T0_MAP, fmt=4)
    content = b"BT /F1 12 Tf <0003> Tj ET"
    for cut in (4, 13, 30, len(font) - 3):
        data = make_type0_nounicode_pdf(font[:cut], content)
        pages = pdf_pages(data)  # must not raise
        assert isinstance(pages, list)


def _cid2gid_stream_obj(gids: list[int]) -> bytes:
    """A /CIDToGIDMap stream object body: big-endian u16 GID per CID."""
    raw = b"".join(g.to_bytes(2, "big") for g in gids)
    body = zlib.compress(raw)
    return (b"<< /Filter /FlateDecode /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream")


def test_pdf_type0_stream_cidtogid():
    """A stream-based /CIDToGIDMap (u16 GID per CID) routes each CID
    through its glyph before the TTF-cmap inversion — the
    non-identity-subset shape font subsetters emit."""
    font = _ttf_with_cmap(_T0_MAP, fmt=4)  # gids 3..6 = H é l o
    # CIDs 1..4 → gids 3..6 (a shifted, non-identity map)
    extra = {10: _cid2gid_stream_obj([0, 3, 4, 5, 6])}
    content = b"BT /F1 12 Tf <0001 0002 0003 0003 0004> Tj ET"
    data = make_type0_nounicode_pdf(font, content, cid2gid=b"10 0 R",
                                    extra_objs=extra)
    assert pdf_pages(data) == ["H\xe9llo"]


def test_pdf_type0_stream_cidtogid_hostile_fails_closed():
    """Odd-length, oversized, or missing map streams fail closed to the
    latin-1 path instead of mis-attributing glyphs."""
    font = _ttf_with_cmap(_T0_MAP, fmt=4)
    content = b"BT /F1 12 Tf <0001> Tj ET"
    # missing object
    data = make_type0_nounicode_pdf(font, content, cid2gid=b"99 0 R")
    assert pdf_pages(data) != ["H"]
    # odd length
    odd = b"<< /Length 3 >>\nstream\n\x00\x03\x00\nendstream"
    data = make_type0_nounicode_pdf(font, content, cid2gid=b"10 0 R",
                                    extra_objs={10: odd})
    assert pdf_pages(data) != ["H"]
    # oversized (more than 65536 CIDs)
    extra = {10: _cid2gid_stream_obj([0] * 65537)}
    data = make_type0_nounicode_pdf(font, content, cid2gid=b"10 0 R",
                                    extra_objs=extra)
    assert pdf_pages(data) != ["H"]


# ------------------------------------------- blank owner password
# A document with a real user password but a blank OWNER password opens
# through the owner branch, as pypdf's decrypt("") does: Algorithm 7
# (RC4, AESV2) recovers the user password from /O, V5 authorizes
# against /O+/OE. A non-blank owner password still fails closed.


def test_pdf_rc4_owner_password():
    data = make_encrypted_pdf(b"owner locked", r=3, password=b"usr",
                              owner_password=b"")
    assert pdf_pages(data) == ["owner locked"]
    locked = make_encrypted_pdf(b"owner locked", r=3, password=b"usr",
                                owner_password=b"admin")
    assert pdf_pages(locked) == []


def test_pdf_rc4_r2_owner_password():
    data = make_encrypted_pdf(b"r2 owner", r=2, length=40, password=b"u",
                              owner_password=b"")
    assert pdf_pages(data) == ["r2 owner"]


def test_pdf_rc4_blank_user_owner_restricted():
    """The common owner-restricted shape: blank user password opens it
    with NO password, whatever the owner password."""
    data = make_encrypted_pdf(b"restricted", r=3, password=b"",
                              owner_password=b"corpadmin")
    assert pdf_pages(data) == ["restricted"]


def test_pdf_aesv3_owner_password():
    data = make_aesv3_pdf(b"v5 owner", r=5, password=b"usr", owner_password=b"")
    assert pdf_pages(data) == ["v5 owner"]
    locked = make_aesv3_pdf(b"v5 owner", r=5, password=b"usr",
                            owner_password=b"boss")
    assert pdf_pages(locked) == []


def test_pdf_aesv2_owner_password():
    data = make_aesv2_pdf(b"aes owner", password=b"u2", owner_password=b"")
    assert pdf_pages(data) == ["aes owner"]
    locked = make_aesv2_pdf(b"aes owner", password=b"u2", owner_password=b"admin2")
    assert pdf_pages(locked) == []


def test_gzip_transparent_document_decode():
    import gzip

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.loaders import (
        _gunzip_transparent,
        sniff_mime,
    )

    path, data = _gunzip_transparent("a/doc.txt.gz", gzip.compress(b"hello spark"))
    assert path == "a/doc.txt" and data == b"hello spark"
    # corrupt gzip: fail-closed, keep original bytes
    path, data = _gunzip_transparent("x.gz", b"\x1f\x8b broken")
    assert data == b"\x1f\x8b broken"
    # non-gzip passthrough
    assert _gunzip_transparent("a.txt", b"plain") == ("a.txt", b"plain")
    assert sniff_mime(b"\x1f\x8b\x08") == "application/gzip"
