"""Foreign-producer PDF fixtures — hand-authored bytes, NOT pdfgen.

The parser's other tests round-trip through the package's own writer;
writer and reader being co-designed, they cannot catch conventions the
pair drifted away from together.  Every fixture here is assembled from
literal object bytes (tests/pdfraw.py only computes xref offsets) in
the shapes the reference's real corpus — arXiv pdfTeX/dvips output
(``intervention_graph_creation/.../inputdata_development_paper_set/directory.txt``)
— actually uses: ``/Encoding /Differences`` glyph names with no
/ToUnicode, Identity-H CID fonts, inline images interleaved with text,
hybrid-reference files (``/XRefStm``), CR-only EOLs, indirect
``/Length``, and incremental updates that free objects.
"""

from __future__ import annotations

import re

from aisafetyintervention_literatureextraction_spark.operators.pdf import (
    PdfDocument,
    extract_pdf_text,
)

from pdfraw import (
    append_update,
    encrypt_pdf_fixture,
    rc4,
    build_classic,
    simple_doc_objects,
    wrap_obj,
    xref_section,
)

TRAILER = b"<< /Size %d /Root 1 0 R >>"


def _startxref(data: bytes) -> int:
    m = re.search(rb"startxref\s+(\d+)", data[data.rfind(b"startxref"):])
    return int(m.group(1))


def test_differences_encoding_no_tounicode():
    """pdfTeX Type1 subset font: string bytes are re-mapped through an
    /Encoding /Differences array of glyph names, with NO /ToUnicode
    anywhere (the common case for older latex papers).  Codes 1 and 2
    map to the fi ligature and the right quote; ASCII codes keep their
    base meaning."""
    font = (b"<< /Type /Font /Subtype /Type1 "
            b"/BaseFont /TUSMZF+NimbusRomNo9L-Regu "
            b"/Encoding << /Type /Encoding "
            b"/Differences [ 1 /fi /quoteright 8 /emdash /uni2207 ] >> >>")
    cs = (b"BT /F1 10 Tf (\\001nding physics\\002 law "
          b"\\010 \\011) Tj ET")
    data = build_classic(
        simple_doc_objects(cs, font_body=font), TRAILER % 6)
    assert extract_pdf_text(data) == (
        "ﬁnding physics’ law — ∇")


def test_winansi_base_encoding():
    """/Encoding /WinAnsiEncoding as a bare name: bytes 0x93/0x94 are
    cp1252 smart quotes, not Latin-1 C1 controls."""
    font = (b"<< /Type /Font /Subtype /TrueType /BaseFont /Arial "
            b"/Encoding /WinAnsiEncoding >>")
    cs = b"BT /F1 10 Tf (\\223scaling laws\\224 \\226 refs) Tj ET"
    data = build_classic(
        simple_doc_objects(cs, font_body=font), TRAILER % 6)
    assert extract_pdf_text(data) == "“scaling laws” – refs"


def test_surrogate_glyph_names_rejected():
    """A malformed /Differences name like /uniD800 (a lone UTF-16
    surrogate — AGL excludes the range) must decode to NOTHING, never
    to chr(0xD800): a lone surrogate in doc_text crashes the Arrow
    conversion of the whole mapInPandas batch downstream, turning one
    bad PDF into a failed ingest job instead of a quarantine row."""
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Broken "
            b"/Encoding << /Type /Encoding "
            b"/Differences [ 1 /uniD800 /uDFFF /uni0041D800 ] >> >>")
    cs = b"BT /F1 10 Tf (\\001\\002\\003 ok) Tj ET"
    data = build_classic(
        simple_doc_objects(cs, font_body=font), TRAILER % 6)
    text = extract_pdf_text(data)
    assert text == "\x01\x02\x03 ok"  # base meaning kept, no surrogates
    text.encode("utf-8")  # must be Arrow/UTF-8-serializable


def test_macroman_base_encoding_with_differences():
    """Mac-producer font: /BaseEncoding /MacRomanEncoding inside an
    encoding dict, with a /Differences overlay — byte 0xA5 is a bullet
    in MacRoman (vs yen in Latin-1), and the override still wins where
    the array says so."""
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Times "
            b"/Encoding << /Type /Encoding "
            b"/BaseEncoding /MacRomanEncoding "
            b"/Differences [ 1 /fl ] >> >>")
    cs = b"BT /F1 10 Tf (\\245 item \\001ow) Tj ET"
    data = build_classic(
        simple_doc_objects(cs, font_body=font), TRAILER % 6)
    assert extract_pdf_text(data) == "• item ﬂow"


def test_identity_h_cid_no_tounicode():
    """Identity-H Type0 font without /ToUnicode: the 2-byte CIDs are
    private glyph indices with no Unicode contract, so the show must
    contribute NOTHING (pdfminer behavior) rather than Latin-1
    mojibake; a simple font on the same page still decodes."""
    cid_font = (b"<< /Type /Font /Subtype /Type0 /BaseFont /BCDFGH+STIX "
                b"/Encoding /Identity-H /DescendantFonts [6 0 R] >>")
    desc = (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /BCDFGH+STIX "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>")
    cs = (b"BT /F1 10 Tf <00480065006C6C6F> Tj "
          b"/F2 10 Tf (real text) Tj ET")
    objs = simple_doc_objects(cs, extra={5: cid_font, 6: desc})
    objs[3] = objs[3][:-3] + (
        b" /Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> >>")
    objs[7] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Times >>")
    data = build_classic(objs, TRAILER % 8)
    assert extract_pdf_text(data) == "real text"


def test_inline_image_with_embedded_EI_bytes():
    """BI…ID…EI inline image whose binary payload contains the bytes
    ``EI`` followed by text-operator-looking garbage: a naive
    ``find(b"EI")`` cuts the skip short and mis-parses raster bytes as
    a show operator.  Only a whitespace-delimited EI ends the image."""
    payload = b"\x7fEI (GARBAGE) Tj \x81\x82"
    cs = (b"BT (before) Tj ET\nq\n"
          b"BI /W 2 /H 2 /BPC 8 /CS /G ID " + payload + b"\nEI\nQ\n"
          b"BT (after) Tj ET")
    data = build_classic(simple_doc_objects(cs), TRAILER % 5)
    text = extract_pdf_text(data)
    assert text == "before\nafter"
    assert "GARBAGE" not in text


def test_hybrid_reference_xrefstm():
    """Hybrid-reference file (PDF 32000 §7.5.8.4): the classic table
    marks the content object FREE and only the /XRefStm stream maps
    it — xref-stream-aware readers must let the stream entries win
    over their own classic section."""
    eol = b"\n"
    out = bytearray(b"%PDF-1.5" + eol)
    offsets: dict[int, int | None] = {}
    cs = b"BT (hybrid wins) Tj ET"
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>"),
        4: (b"<< /Length %d >>\nstream\n" % len(cs)) + cs + b"\nendstream",
    }
    for num in (1, 2, 3, 4):
        offsets[num] = len(out)
        out += wrap_obj(num, bodies[num], eol)
    # xref STREAM object (obj 6): W [1 2 1], entries for obj 4 + itself
    stm_pos = len(out)
    rows = (bytes([1]) + offsets[4].to_bytes(2, "big") + bytes([0])
            + bytes([1]) + stm_pos.to_bytes(2, "big") + bytes([0]))
    stm = (b"<< /Type /XRef /Size 7 /W [1 2 1] /Index [4 1 6 1] "
           b"/Length %d >>\nstream\n" % len(rows)) + rows + b"\nendstream"
    out += wrap_obj(6, stm, eol)
    # classic section: 1-3 in use, 4 FREE (covered by the XRefStm)
    xref_pos = len(out)
    classic = {1: offsets[1], 2: offsets[2], 3: offsets[3], 4: None}
    out += xref_section(
        classic,
        b"<< /Size 7 /Root 1 0 R /XRefStm %d >>" % stm_pos,
        xref_pos, eol)
    assert extract_pdf_text(bytes(out)) == "hybrid wins"


def test_cr_only_eols():
    """Ancient Mac-producer convention: every EOL in the file — after
    obj headers, inside the xref table rows, after ``stream`` — is a
    bare CR."""
    cs = b"BT (carriage) Tj 0 -12 Td (returns) Tj ET"
    data = build_classic(simple_doc_objects(cs, eol=b"\r"), TRAILER % 5,
                         eol=b"\r", entry_eol=b" \r")
    assert b"\n" not in data
    assert extract_pdf_text(data) == "carriage\nreturns"


def test_indirect_stream_length():
    """/Length as an indirect reference (dvips and many producers emit
    the stream first and backfill the length object)."""
    cs = b"BT (deferred length) Tj ET"
    objs = simple_doc_objects(b"")  # placeholder content, replaced below
    objs[4] = (b"<< /Length 6 0 R >>\nstream\n" + cs + b"\nendstream")
    objs[6] = b"%d" % len(cs)
    data = build_classic(objs, TRAILER % 7)
    assert extract_pdf_text(data) == "deferred length"


def test_incremental_update_frees_object():
    """An incremental update marks the content object free: the free
    entry in the NEWEST section must tombstone it, not let the /Prev
    walk resurrect the original bytes (the deleted-text-leak case)."""
    cs = b"BT (SECRET DRAFT TEXT) Tj ET"
    base = build_classic(simple_doc_objects(cs), TRAILER % 5)
    assert extract_pdf_text(base) == "SECRET DRAFT TEXT"
    upd = append_update(
        base, {}, freed=(4,),
        trailer_body=b"<< /Size 5 /Root 1 0 R /Prev %d >>"
        % _startxref(base))
    assert extract_pdf_text(upd) == ""
    # the freed object must resolve to nothing, not the stale bytes
    assert PdfDocument(upd).get(4) is None


def test_incremental_update_redefines_object():
    """The companion case: an update REDEFINES the content stream;
    first-seen-wins over the /Prev walk must surface the new text."""
    cs_old = b"BT (version one) Tj ET"
    cs_new = b"BT (version two) Tj ET"
    base = build_classic(simple_doc_objects(cs_old), TRAILER % 5)
    new_obj = (b"<< /Length %d >>\nstream\n" % len(cs_new)
               + cs_new + b"\nendstream")
    upd = append_update(
        base, {4: new_obj}, freed=(),
        trailer_body=b"<< /Size 5 /Root 1 0 R /Prev %d >>"
        % _startxref(base))
    assert extract_pdf_text(upd) == "version two"


def test_rc4_encrypted_empty_user_password():
    """RC4-encrypted file with the empty user password (the common
    publisher case): key derivation + /U verification + per-object
    stream decryption must reproduce the text. The writer half is an
    independent spec implementation, so a derivation bug on either
    side breaks the round-trip."""
    for r, length in ((2, 40), (3, 128)):
        data, _, _ = encrypt_pdf_fixture(
            b"BT (rc4 secured text) Tj ET", r=r, length=length)
        assert extract_pdf_text(data) == "rc4 secured text", (r, length)


def test_encrypted_info_strings_decrypt():
    """/Info metadata strings are encrypted per-object too — title
    provenance must come out decrypted."""
    data, key, objkey = encrypt_pdf_fixture(b"BT (body) Tj ET")
    # splice an /Info object (6) with an encrypted Title via an
    # incremental update referencing the same /Encrypt
    title = rc4(objkey(6), b"Secret Title")
    upd = append_update(
        data, {6: b"<< /Title <%s> >>" % title.hex().encode()}, (),
        b"<< /Size 7 /Root 1 0 R /Encrypt 5 0 R /Info 6 0 R "
        b"/ID [<%s> <%s>] /Prev %d >>"
        % (bytes(range(16)).hex().encode(),
           bytes(range(16)).hex().encode(), _startxref(data)))
    doc = PdfDocument(upd)
    assert doc.info().get("Title") == "Secret Title"
    assert extract_pdf_text(upd) == "body"


def test_aesv2_encrypted_decodes():
    """/V 4 crypt-filter file with /CFM /AESV2 (AES-128-CBC, the
    modern common case): the pure-stdlib inverse cipher — validated
    against the FIPS-197 vectors — must reproduce the text through
    the per-object sAlT key derivation."""
    data, _, _ = encrypt_pdf_fixture(
        b"BT (aes secured text) Tj ET", method="aes")
    assert extract_pdf_text(data) == "aes secured text"
    # some writers omit the top-level bit /Length and set only the
    # crypt filter's byte length — AESV2 keys are 128-bit regardless
    no_len = data.replace(b"/V 4 /R 4 /Length 128 ", b"/V 4 /R 4 ", 1)
    assert no_len != data
    assert extract_pdf_text(no_len) == "aes secured text"


def test_password_protected_and_unsupported_quarantine():
    """A REAL user password (U mismatch) and an unsupported version
    (/V 5 AES-256) must raise — the Spark decode path then quarantines
    the file instead of emitting garbage doc_text."""
    import pytest

    data, _, _ = encrypt_pdf_fixture(b"BT (locked) Tj ET")
    bad_u = data.replace(b"/U <", b"/U <ff", 1)  # corrupt U = wrong pwd
    with pytest.raises(ValueError, match="password"):
        PdfDocument(bad_u)
    v6 = data.replace(b"/V 2 /R 3", b"/V 6 /R 7", 1)  # future version
    with pytest.raises(ValueError, match="unsupported"):
        PdfDocument(v6)
    # a V5 shell carrying R2-shaped (32-byte) U is malformed, not
    # silently mis-decoded
    v5 = data.replace(b"/V 2 /R 3", b"/V 5 /R 6", 1)
    with pytest.raises(ValueError, match="malformed"):
        PdfDocument(v5)
    aes_bad = encrypt_pdf_fixture(b"BT (x) Tj ET", method="aes")[0]
    aes_bad = aes_bad.replace(b"/CFM /AESV2", b"/CFM /AESV3", 1)
    with pytest.raises(ValueError, match="unsupported"):
        PdfDocument(aes_bad)


def test_aes256_v5_encrypted_decodes():
    """AES-256 (V5): deprecated R5 (plain SHA-256 check) and PDF 2.0
    R6 (Algorithm 2.B KDF — SHA-256/384/512 switch over an
    AES-128-CBC hash loop) both unwrap the file key from /UE with the
    empty user password and decode the AESV3 content stream."""
    from pdfraw import encrypt_pdf_fixture_v5

    for r in (5, 6):
        data, _ = encrypt_pdf_fixture_v5(
            b"BT (aes256 secured r%d) Tj ET" % r, r=r)
        assert extract_pdf_text(data) == f"aes256 secured r{r}", r


def test_aes256_wrong_password_quarantines():
    from pdfraw import encrypt_pdf_fixture_v5
    import pytest

    data, _ = encrypt_pdf_fixture_v5(b"BT (x) Tj ET", r=6)
    bad = data.replace(b"/U <", b"/U <ff", 1)
    with pytest.raises(ValueError, match="password"):
        PdfDocument(bad)


def test_aes_fips197_vectors_both_paths():
    """FIPS-197 appendix-C vectors pin BOTH cipher implementations:
    the scalar inverse cipher (the readable reference form) and the
    numpy block-parallel path every decrypt actually uses — so the
    fast path can never drift from the spec form unnoticed."""
    import numpy as np

    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        _aes_blocks_decrypt,
        _aes_decrypt_block,
        _aes_expand_key,
    )

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    vectors = [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),          # AES-128 (C.1)
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),          # AES-192 (C.2)
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),          # AES-256 (C.3)
    ]
    for key_hex, ct_hex in vectors:
        key, ct = bytes.fromhex(key_hex), bytes.fromhex(ct_hex)
        assert _aes_decrypt_block(ct, _aes_expand_key(key)) == pt
        blocks = np.frombuffer(ct, dtype=np.uint8).reshape(1, 16)
        assert bytes(_aes_blocks_decrypt(key, blocks).tobytes()) == pt


def test_v4_stmf_identity_streams_not_decrypted():
    """V4 crypt filters select per-class: /StmF /Identity means the
    content streams are NOT encrypted even though /StdCF exists —
    'decrypting' them anyway would turn plaintext into garbage."""
    data, key, objkey = encrypt_pdf_fixture(b"", method="aes")
    # rebuild: plaintext content stream + V4 dict selecting Identity
    # for streams (strings still /StdCF)
    cs = b"BT (plain streams) Tj ET"
    objs = simple_doc_objects(cs)
    enc = re.search(rb"5 0 obj\n(<<.*?>>)\nendobj", data, re.S).group(1)
    enc = enc.replace(b"/StmF /StdCF", b"/StmF /Identity")
    objs[5] = enc
    trailer = (b"<< /Size 7 /Root 1 0 R /Encrypt 5 0 R /ID [<%s> <%s>] >>"
               % (bytes(range(16)).hex().encode(),
                  bytes(range(16)).hex().encode()))
    out = build_classic(objs, trailer)
    assert extract_pdf_text(out) == "plain streams"


def test_objstm_extends_chain():
    """PDF 1.5 §7.5.7: an ObjStm may /Extends another — an xref entry
    can point at the extending stream while the object actually lives
    up the chain. The reader must follow /Extends instead of failing
    on the index miss."""
    eol = b"\n"
    out = bytearray(b"%PDF-1.5" + eol)
    offsets = {}
    cs = b"BT (extends chain) Tj ET"

    def objstm(num, members, extends=None):
        header = b"".join(b"%d %d " % (n, off) for n, off in members[0])
        body = members[1]
        ext = b" /Extends %d 0 R" % extends if extends else b""
        d = (b"<< /Type /ObjStm /N %d /First %d /Length %d%s >>"
             % (len(members[0]), len(header), len(header + body), ext))
        return d + eol + b"stream" + eol + header + body + eol + b"endstream"

    cat_b = b"<< /Type /Catalog /Pages 2 0 R >>\n"
    pages_b = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n"
    a_members = ([(1, 0), (2, len(cat_b))], cat_b + pages_b)
    page_b = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
              b"/Contents 4 0 R >>\n")
    b_members = ([(3, 0)], page_b)

    for num, body in (
        (4, (b"<< /Length %d >>\nstream\n" % len(cs)) + cs + b"\nendstream"),
        (6, objstm(6, a_members)),
        (7, objstm(7, b_members, extends=6)),
    ):
        offsets[num] = len(out)
        out += wrap_obj(num, body, eol)
    # xref stream: objs 1,2 claimed in ObjStm 7 (they are NOT — they
    # live up the /Extends chain in 6); obj 3 genuinely in 7
    xref_pos = len(out)
    rows = b""
    ents = {1: (2, 7, 5), 2: (2, 7, 6), 3: (2, 7, 0),
            4: (1, offsets[4], 0), 6: (1, offsets[6], 0),
            7: (1, offsets[7], 0), 8: (1, xref_pos, 0)}
    for n in range(9):
        t, f2, f3 = ents.get(n, (0, 0, 0))
        rows += bytes([t]) + f2.to_bytes(2, "big") + bytes([f3])
    stm = (b"<< /Type /XRef /Size 9 /W [1 2 1] /Index [0 9] "
           b"/Root 1 0 R /Length %d >>\nstream\n" % len(rows)
           ) + rows + b"\nendstream"
    out += wrap_obj(8, stm, eol)
    out += b"startxref" + eol + b"%d" % xref_pos + eol + b"%%EOF" + eol
    assert extract_pdf_text(bytes(out)) == "extends chain"


def _image_pdf_fixture():
    """Page with two image XObjects — a DCTDecode (real baseline JFIF
    from operators/jpeg.encode_jpeg) and a FlateDecode raw RGB — plus
    a text caption, hand-assembled."""
    import numpy as np
    import zlib

    from aisafetyintervention_literatureextraction_spark.operators.jpeg import (
        encode_jpeg,
    )

    h, w = 24, 16
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[..., 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
    img[..., 1] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
    img[..., 2] = 128
    jfif = encode_jpeg(img, quality=92)
    raw = bytes(img.reshape(-1))
    flate_raw = zlib.compress(raw)

    objs = simple_doc_objects(b"q 32 0 0 48 10 700 cm /Im1 Do Q\n"
                              b"q 32 0 0 48 60 700 cm /Im2 Do Q\n"
                              b"BT (figure caption) Tj ET")
    objs[3] = objs[3][:-3] + (
        b" /Resources << /XObject << /Im1 5 0 R /Im2 6 0 R >> >> >>")
    objs[5] = (b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
               b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
               b"/Filter /DCTDecode /Length %d >>\nstream\n"
               % (w, h, len(jfif))) + jfif + b"\nendstream"
    objs[6] = (b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
               b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
               b"/Filter /FlateDecode /Length %d >>\nstream\n"
               % (w, h, len(flate_raw))) + flate_raw + b"\nendstream"
    return build_classic(objs, TRAILER % 7), jfif, raw


def test_embedded_images_extract():
    """PDF → image columns: the DCTDecode XObject passes through as
    the embedded JFIF bytes unchanged, the Flate image as exact raw
    samples with geometry — and the text path is unaffected by the
    image operators in the content stream."""
    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        iter_page_images,
    )

    data, jfif, raw = _image_pdf_fixture()
    assert extract_pdf_text(data) == "figure caption"
    doc = PdfDocument(data)
    ims = {im["name"]: im for p in doc.pages()
           for im in iter_page_images(doc, p)}
    assert set(ims) == {"Im1", "Im2"}
    jm, rm = ims["Im1"], ims["Im2"]
    assert (jm["fmt"], jm["width"], jm["height"],
            jm["color_space"]) == ("jpeg", 16, 24, "DeviceRGB")
    assert jm["content"] == jfif and len(jfif) == 757
    assert rm["fmt"] == "raw" and rm["content"] == raw


def test_encode_jpeg_bytes_pinned():
    """The baseline encoder's output is part of the PDF fixture corpus
    (``s1_pdf_images`` grades the embedded JPEG payloads by md5), so its
    bytes are pinned: 4:4:4 at q=92, and 4:2:0 at q=90 with a restart
    interval (DRI/RSTn path).  Both values were recorded while a JPEG
    decoder in this package round-tripped the same bytes."""
    import hashlib

    import numpy as np

    from aisafetyintervention_literatureextraction_spark.operators.jpeg import (
        encode_jpeg,
    )

    h, w = 24, 16
    grad = np.zeros((h, w, 3), dtype=np.uint8)
    grad[..., 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
    grad[..., 1] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
    grad[..., 2] = 128
    assert hashlib.md5(encode_jpeg(grad, quality=92)).hexdigest() == (
        "5d13b11504e5e4d8577f9e076831258e")

    rng = np.random.default_rng(9)  # smooth, low-frequency content
    yy, xx = np.mgrid[0:40, 0:33].astype(np.float64)
    chans = []
    for _ in range(3):
        a, b, c = rng.uniform(0.02, 0.2, 3)
        chans.append(128 + 100 * np.sin(a * xx + c) * np.cos(b * yy))
    smooth = np.clip(np.stack(chans, axis=2).round(), 0, 255).astype(np.uint8)
    got = encode_jpeg(smooth, quality=90, subsampling="420", restart_interval=2)
    assert hashlib.md5(got).hexdigest() == "3aaedaa8a77df1cb8d9744aa1b6a9e43"


def test_images_inside_form_xobjects_and_masks():
    """LaTeX/matplotlib figures usually wrap the bitmap in a Form
    XObject (``/Subtype /Form`` with its own /Resources); stencil
    masks carry ``/ImageMask true`` and omit /BitsPerComponent.  The
    walker must descend into the form and report the mask as a 1-bit
    ImageMask — and a self-referencing form must not recurse forever."""
    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        iter_page_images,
    )

    mask = bytes([0b10101010] * 8)  # 8x8 1-bit stencil, one byte/row
    form_cs = b"q 8 0 0 8 0 0 cm /Msk Do Q"
    objs = simple_doc_objects(b"q 50 0 0 50 10 700 cm /Fig Do Q\n"
                              b"BT (wrapped figure) Tj ET")
    objs[3] = objs[3][:-3] + (
        b" /Resources << /XObject << /Fig 5 0 R >> >> >>")
    # the form's resources point at the mask AND back at the form
    # itself (depth guard), the common shape minus the cycle
    objs[5] = (b"<< /Type /XObject /Subtype /Form /BBox [0 0 8 8] "
               b"/Resources << /XObject << /Msk 6 0 R /Self 5 0 R >> >> "
               b"/Length %d >>\nstream\n" % len(form_cs)
               ) + form_cs + b"\nendstream"
    objs[6] = (b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
               b"/ImageMask true /Length %d >>\nstream\n" % len(mask)
               ) + mask + b"\nendstream"
    data = build_classic(objs, TRAILER % 7)

    assert extract_pdf_text(data) == "wrapped figure"
    doc = PdfDocument(data)
    ims = [im for p in doc.pages() for im in iter_page_images(doc, p)]
    assert len(ims) == 1
    (im,) = ims
    assert (im["name"], im["width"], im["height"]) == ("Msk", 8, 8)
    assert im["bits"] == 1 and im["color_space"] == "ImageMask"
    assert im["fmt"] == "raw" and im["content"] == mask


def test_smask_alpha_image_emitted():
    """A figure's alpha channel is a separate DeviceGray image hanging
    off the base image's /SMask — it lives in no /Resources dict, so
    the walker must emit it from the image dict itself (matplotlib
    writes every semi-transparent bitmap this way)."""
    import zlib

    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        iter_page_images,
    )

    rgb = bytes((x * 11 + c) % 256 for x in range(12) for c in range(3))
    alpha = bytes((x * 17) % 256 for x in range(12))
    objs = simple_doc_objects(b"q 4 0 0 3 0 0 cm /ImA Do Q\n"
                              b"BT (alpha figure) Tj ET")
    objs[3] = objs[3][:-3] + (
        b" /Resources << /XObject << /ImA 5 0 R >> >> >>")
    body = zlib.compress(rgb)
    objs[5] = (b"<< /Type /XObject /Subtype /Image /Width 4 /Height 3 "
               b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
               b"/SMask 6 0 R /Filter /FlateDecode /Length %d >>"
               b"\nstream\n" % len(body)) + body + b"\nendstream"
    sbody = zlib.compress(alpha)
    objs[6] = (b"<< /Type /XObject /Subtype /Image /Width 4 /Height 3 "
               b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
               b"/Filter /FlateDecode /Length %d >>\nstream\n"
               % len(sbody)) + sbody + b"\nendstream"
    data = build_classic(objs, TRAILER % 7)

    assert extract_pdf_text(data) == "alpha figure"
    doc = PdfDocument(data)
    ims = {im["name"]: im for p in doc.pages()
           for im in iter_page_images(doc, p)}
    assert set(ims) == {"ImA", "ImA.smask"}
    assert ims["ImA"]["content"] == rgb
    sm = ims["ImA.smask"]
    assert (sm["width"], sm["height"], sm["color_space"],
            sm["bits"]) == (4, 3, "DeviceGray", 8)
    assert sm["content"] == alpha


def test_embedded_images_extract_spark(spark, tmp_path):
    """The distributed wrapper: binaryFile dir → one row per embedded
    image with the typed-metadata schema; encrypted PDFs decrypt the
    image stream bytes too."""
    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        extract_pdf_images,
    )
    from aisafetyintervention_literatureextraction_spark.sources.raw_files import (
        read_raw_files,
    )

    data, _, raw = _image_pdf_fixture()
    (tmp_path / "a.pdf").write_bytes(data)
    (tmp_path / "broken.pdf").write_bytes(b"%PDF garbage")
    out = extract_pdf_images(
        read_raw_files(spark, str(tmp_path), glob="*.pdf"))
    rows = {(r.conv_id, r.name): r for r in out.collect()}
    assert set(rows) == {("a", "Im1"), ("a", "Im2")}
    assert rows[("a", "Im2")].content == raw
    assert rows[("a", "Im1")].fmt == "jpeg"


def test_pipeline_extract_images_table(spark, tmp_path):
    """--extract-images: the PDF pipeline also lands an `images`
    warehouse table, per-file idempotent on re-run."""
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        run_pipeline,
    )

    data, _, raw = _image_pdf_fixture()
    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "figdoc.pdf").write_bytes(data)
    wh = str(tmp_path / "wh")
    stats = run_pipeline(spark, str(d), wh, fmt="pdf", extract_images=True)
    assert stats["n_images"] == 2
    cat = Catalog(spark, wh)
    rows = {r.name: r for r in cat.read("images").collect()}
    assert rows["Im2"].content == raw
    assert rows["Im1"].fmt == "jpeg" and rows["Im1"].conv_id == "figdoc"
    # re-run: per-file skip → no duplicate image rows
    stats2 = run_pipeline(spark, str(d), wh, fmt="pdf", extract_images=True)
    assert stats2["n_images"] == 2
