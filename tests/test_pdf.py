"""PDF ingest: stdlib parser round-trips the stdlib writer exactly,
survives damaged files, and feeds the extraction operators end-to-end
(the reference's actual input shape — extract.py:65 ``glob("*.pdf")``)."""

import re

import pytest
from digest import table_digest

from aisafetyintervention_literatureextraction_spark.operators.pdf import (
    PdfDocument,
    decode_pdf_text,
    extract_pdf_text,
    pdf_page_count,
)
from aisafetyintervention_literatureextraction_spark.operators.extraction import (
    extract_mentions,
)
from aisafetyintervention_literatureextraction_spark.pdfgen import (
    build_doc,
    build_pdf,
    doc_pages,
    ensure_pdf_fixture,
    expected_text,
)
from aisafetyintervention_literatureextraction_spark.sources.raw_files import (
    read_raw_files,
)

N_DOCS = 16


@pytest.mark.parametrize("i", range(N_DOCS))
def test_roundtrip_exact(i):
    """Every fixture variant (Tj / TJ-kern / ' / hex × flate × classic
    xref vs xref-stream+ObjStm) reconstructs its source text exactly."""
    assert extract_pdf_text(build_doc(i)) == expected_text(i)


def test_multipage_page_count():
    # i % 5 == 0 docs are two-page
    assert pdf_page_count(build_doc(0)) == 2
    assert pdf_page_count(build_doc(1)) == 1


def test_xref_stream_and_objstm_used():
    """The PDF 1.5 variant really routes through the xref-stream and
    object-stream walk (not the brute fallback)."""
    data = build_doc(3)  # xref_stream=True (3 % 3 == 0)
    assert b"/Type /XRef" in data and b"/ObjStm" in data
    doc = PdfDocument(data)
    # catalog came from a type-2 (object-stream) xref entry
    root = doc.trailer["Root"]
    assert doc.xref[root.num][0] == "c"
    assert extract_pdf_text(data) == expected_text(3)


def test_brute_scan_fallback():
    data = build_doc(1)
    assert extract_pdf_text(data.replace(b"startxref", b"XXXXXXXXX")) \
        == expected_text(1)
    # truncated trailer
    assert extract_pdf_text(data[: data.rfind(b"trailer")]) \
        == expected_text(1)


def test_damaged_length_scans_endstream():
    data = build_doc(2)
    broken = re.sub(rb"/Length (\d+) >>\nstream",
                    rb"/Length 99 0 R >>\nstream", data, count=1)
    assert extract_pdf_text(broken) == expected_text(2)


def test_garbage_is_quarantined_not_raised():
    assert PdfDocument(b"\x00\x01 not a pdf").pages() == []


def test_escape_coverage():
    """Octal, paren, backslash and Latin-1 escapes survive the writer →
    reader loop in every show-operator mode."""
    tricky = ["a(b)c \\ d\te", "caf\xe9 — na\xefve"]
    for mode in ("tj", "tjarr", "quote", "hex", "cmap", "cmap2"):
        if mode == "tjarr":
            # kern-space reconstruction applies: words rejoin with ' '
            pass
        got = extract_pdf_text(build_pdf([tricky], mode=mode))
        assert got == "\n".join(tricky), mode


def test_info_metadata():
    """Trailer /Info provenance (Title/Author) survives both xref
    flavors and reaches the decode schema's title/author columns."""
    data = build_doc(4)  # classic xref
    info = PdfDocument(data).info()
    assert info["Title"] == "Paper 4: safety interventions"
    assert info["Author"] == "Author 4 (lab'4)"
    data = build_doc(6)  # xref stream: /Info lives in the stream dict
    assert PdfDocument(data).info()["Title"].startswith("Paper 6")


def test_decode_pdf_text_distributed(spark, tmp_path):
    """binaryFile scan → Arrow-batched decode → (conv_id, doc_text)
    matches the sidecar text for every doc; a corrupt PDF yields a
    null-text quarantine row instead of failing the stage."""
    d = ensure_pdf_fixture(str(tmp_path / "pdfs"))
    (tmp_path / "pdfs" / "doc_bad.pdf").write_bytes(b"%PDF-1.4 garbage")
    files = read_raw_files(spark, d, glob="*.pdf")
    rows = {r.conv_id: r for r in decode_pdf_text(files).collect()}
    assert len(rows) == N_DOCS + 1
    for i in range(N_DOCS):
        assert rows[f"doc_{i:03d}"].doc_text == expected_text(i)
        assert rows[f"doc_{i:03d}"].title == f"Paper {i}: safety interventions"
    bad = rows["doc_bad"]
    assert bad.doc_text == "" and bad.n_pages == 0 and bad.title is None


def test_pdf_dir_to_mentions_end_to_end(spark, tmp_path):
    """The reference's full input path: a directory of PDFs becomes
    documents becomes mention rows (3 bracketed mentions per doc:
    ``metrics[i]``, ``[node i]``, ``[concept i%4]``)."""
    d = ensure_pdf_fixture(str(tmp_path / "pdfs"))
    docs = decode_pdf_text(read_raw_files(spark, d, glob="*.pdf"))
    m = extract_mentions(docs.select("conv_id", "doc_text"))
    counts = {r.conv_id: r.n for r in
              m.groupBy("conv_id").count().withColumnRenamed("count", "n")
              .collect()}
    assert counts == {f"doc_{i:03d}": 3 for i in range(N_DOCS)}
    one = m.filter("conv_id = 'doc_007'").orderBy("span_start").collect()
    assert [r.mention for r in one] == ["7", "node 7", "concept 3"]
    # spans index the inner mention text exactly (bracket-exclusive)
    text = expected_text(7)
    for r in one:
        assert text[r.span_start:r.span_end] == r.mention


# table_digest of the PDF-run warehouses built below: the 16-doc
# grammar fixture plus a garbage, an RC4 and a locked file; and the
# two-file image run (one embedded image, one text-only file)
PDF_DIGESTS = {
    "documents": "2ed99f5e302773503baa099576213fe164971b2981df054da9716d7796f98d07",
    "quarantine": "7fc099c74b66711695d642185138161febc1f4e97704d6a8934b323d981e9c3d",
    "kg_nodes": "26cdf084f036d6746d24379af16cf938c07e0d9bb769aea81f553257fa1d1869",
    "kg_edges": "786c2125e302b6341722e5059a171c4dce3acd367d8d530f54c2fec1d05bf937",
}
IMAGE_RUN_DIGESTS = {
    "documents": "6cbc7ee959aeed3e2f401fe00d18f0c8497376b944db81136697b9fdb5f73571",
    "quarantine": "a5a4a34c7fa20556a1d05ef35c6f9a2a9d3149c34fbfe23195c43ec751603432",
    "kg_nodes": "c69a4d586154846bd32d08772350947c35905a2bcc992b7f7188a873815ff2e3",
    "kg_edges": "6de28879dbdecd47e3f5369bdb5ebdcbb1cab4ccf76bff0e2396ec720251de94",
    "images": "b699d083482914db85cfdb4fafe5ae093f13a7ac0202b8788595b1d1752abf64",
}


def test_pdf_dir_full_pipeline(spark, tmp_path):
    """The reference's complete workflow on its own input format: a
    directory of PDFs → stdlib text extraction → stages B-D → KG
    tables — with quarantine for undecodable files and resume
    idempotence on re-run."""
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        run_pipeline,
    )

    from pdfraw import encrypt_pdf_fixture

    d = ensure_pdf_fixture(str(tmp_path / "pdfs"), grammar=True)
    (tmp_path / "pdfs" / "doc_bad.pdf").write_bytes(b"%PDF-1.4 garbage")
    # an RC4 empty-user-password PDF must DECODE (common publisher
    # case), a real-password one must quarantine with its own reason
    open_enc, _, _ = encrypt_pdf_fixture(b"BT (rc4 body text) Tj ET")
    (tmp_path / "pdfs" / "doc_rc4.pdf").write_bytes(open_enc)
    (tmp_path / "pdfs" / "doc_locked.pdf").write_bytes(
        open_enc.replace(b"/U <", b"/U <ff", 1))
    wh = str(tmp_path / "wh")
    stats = run_pipeline(spark, d, wh, fmt="pdf")
    assert stats["n_triples"] == N_DOCS  # one grammar edge per doc
    assert stats["n_kg_edges"] > 0 and stats["n_kg_nodes"] > 0
    cat = Catalog(spark, wh)
    assert {t: table_digest(cat, t) for t in PDF_DIGESTS} == PDF_DIGESTS
    q = {r.conv_id: r.reason for r in cat.read("quarantine").collect()}
    assert q == {"doc_bad": "undecodable_document",
                 "doc_locked": "encrypted_pdf"}
    rc4_doc = {r.conv_id: r.doc_text
               for r in cat.read("documents").collect()}["doc_rc4"]
    assert rc4_doc == "rc4 body text"
    # subj/obj carry the fixture's grammar entities
    subjs = {r.subj for r in cat.read("triples_raw").select("subj").collect()}
    assert subjs == {f"method {i}" for i in range(N_DOCS)}
    # /Info provenance survives to the warehouse: documents carries the
    # writer's Title/Author, and every kg node's source_titles holds
    # the titles of exactly its evidence docs (stage-D denormalization)
    docs = {r.conv_id: (r.title, r.author)
            for r in cat.read("documents").collect()}
    for i in range(N_DOCS):
        assert docs[f"doc_{i:03d}"] == (
            f"Paper {i}: safety interventions", f"Author {i % 5} (lab'{i})")
    nodes = cat.read("kg_nodes").collect()
    assert {c for r in nodes for c in ("source_titles", "source_authors")
            if c not in r.asDict()} == set()
    by_title = {t for r in nodes for t in r.source_titles}
    assert by_title == {f"Paper {i}: safety interventions"
                        for i in range(N_DOCS)}
    for r in nodes:  # titles are exactly the evidence docs' titles
        want = sorted({f"Paper {int(c[4:]):d}: safety interventions"
                       for c in r.conv_ids})[:20]
        assert list(r.source_titles) == want
    # resume: nothing pending, same warehouse counts
    stats2 = run_pipeline(spark, d, wh, fmt="pdf")
    assert stats2["n_triples"] == stats["n_triples"]
    assert stats2["n_kg_edges"] == stats["n_kg_edges"]


def test_pdf_resume_skips_before_decode_and_marks_imageless_files(
        spark, tmp_path):
    """Two scale contracts of the PDF resume path. (1) The skip lands
    on the FILE scan: ``pending_files`` keys on the filename stem, so
    the anti-join sits BELOW the Python decode in the plan — keying on
    the mapInPandas output would re-parse the whole corpus on every
    resume just to drop the rows afterwards. (2) With
    ``extract_images=True``, text and images come from ONE parse, and
    the A_images commit marks every ATTEMPTED file — a zero-image doc
    must not be re-parsed forever just because it contributed no
    image rows."""
    from aisafetyintervention_literatureextraction_spark import checkpoint as ckpt
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        decode_pdf_text,
    )
    from aisafetyintervention_literatureextraction_spark.pdfgen import build_pdf
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        run_pipeline,
    )
    from aisafetyintervention_literatureextraction_spark.sources.raw_files import (
        read_raw_files,
    )

    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "with_img.pdf").write_bytes(build_doc(1))  # embeds one image
    (d / "no_img.pdf").write_bytes(build_pdf([["plain text only"]]))
    wh = str(tmp_path / "wh")
    stats = run_pipeline(spark, str(d), wh, fmt="pdf", extract_images=True)
    assert stats["n_images"] == 1
    cat = Catalog(spark, wh)
    assert {t: table_digest(cat, t) for t in IMAGE_RUN_DIGESTS} == (
        IMAGE_RUN_DIGESTS)
    done = {r.conv_id for r in cat.read(ckpt.STATE)
            .filter("stage = 'A_images'").collect()}
    assert done == {"with_img", "no_img"}  # attempted, not just emitted

    # re-run: both files skip at the file level; the resumed decode
    # plan carries the broadcast anti-join BELOW the MapInPandas
    stats2 = run_pipeline(spark, str(d), wh, fmt="pdf", extract_images=True)
    assert stats2["n_images"] == 1
    files = read_raw_files(spark, str(d), glob="*.pdf")
    plan = decode_pdf_text(
        ckpt.pending_files(cat, "A_reassemble", files)
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "LeftAnti" in plan
    assert plan.index("MapInPandas") < plan.index("LeftAnti")


def test_tounicode_subset_font_decoding():
    """Subset-font reality check (scholarly PDFs): string bytes are
    PRIVATE glyph codes — garbage without the font's /ToUnicode CMap.
    The cmap fixture modes round-trip exactly (1-byte bfchar and
    2-byte bfrange-increment + codespace variants), and stripping the
    /ToUnicode reference provably degrades the text — the mapping is
    load-bearing, not decorative."""
    from aisafetyintervention_literatureextraction_spark.pdfgen import (
        build_pdf,
    )

    pages = [["Mapped: café [x]", "line two"], ["page2 end"]]
    want = "Mapped: café [x]\nline two\npage2 end"
    for mode in ("cmap", "cmap2"):
        data = build_pdf(pages, mode=mode, flate=False)
        assert extract_pdf_text(data) == want, mode
        broken = data.replace(b"/ToUnicode", b"/ToUnicoXX")
        assert extract_pdf_text(broken) != want, mode


def test_ascii85_and_lzw_filters():
    """ASCII85Decode and LZWDecode content streams round-trip (the
    pre-Flate filters still common in older real PDFs); the writer's
    TIFF-variant LZW (EarlyChange=1 width bumps, table reset) is
    pinned against the reader over random and repetitive payloads."""
    import random

    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        _ascii85_decode,
        _lzw_decode,
    )
    from aisafetyintervention_literatureextraction_spark.pdfgen import (
        ascii85_encode,
        build_pdf,
        lzw_encode,
    )

    pages = [["filter test (A) \\ B", "línea dos"]]
    want = "filter test (A) \\ B\nlínea dos"
    for filt in ("a85", "lzw"):
        data = build_pdf(pages, stream_filter=filt)
        assert extract_pdf_text(data) == want, filt
    rng = random.Random(11)
    for blob in (b"", b"Q", b"ab" * 3000, bytes(range(256)) * 20,
                 bytes(rng.randrange(256) for _ in range(30000))):
        assert _ascii85_decode(ascii85_encode(blob)) == blob
        assert _lzw_decode(lzw_encode(blob)) == blob


def test_lzw_standard_convention_interop():
    """Spec-derived interop vector, NOT produced by the in-repo encoder:
    the TIFF/PDF EarlyChange=1 convention (pdfminer, qpdf) bumps the code
    width when the decoder table reaches 511/1023/2047 entries — one
    entry early.  For input bytes(range(256)) the code stream is fully
    predictable: Clear(256)@9, codes 0..253@9 (the 254th data code fills
    the table to 511, so the width bumps BEFORE the next code), then
    254@10, 255@10, EOD(257)@10.  The vector is bit-packed here from
    that analytic sequence, so an encoder/decoder pair that drifts to a
    matching off-by-one (the r4 bug) fails against it."""
    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        _lzw_decode,
    )
    from aisafetyintervention_literatureextraction_spark.pdfgen import (
        lzw_encode,
    )

    data = bytes(range(256))
    codes = [(256, 9)] + [(c, 9) for c in range(254)] + [
        (254, 10), (255, 10), (257, 10)]
    acc = nbits = 0
    packed = bytearray()
    for code, width in codes:
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            packed.append((acc >> nbits) & 0xFF)
    if nbits:
        packed.append((acc << (8 - nbits)) & 0xFF)
    vector = bytes(packed)
    assert _lzw_decode(vector) == data
    assert lzw_encode(data) == vector
