"""Pure-function extractor tests (golden strings + edge cases).

Models the reference's content-assertion style
(/root/reference/tests/unit/test_simple_client.py:364-393: parse the
emitted artifact and assert exact fields).
"""

from __future__ import annotations

import ast
import pathlib

from mistral_ocr_spark.extractor import extract
from mistral_ocr_spark.extractor.decode import decode_html
from mistral_ocr_spark.extractor.pdf import extract_pdf_text

FULL_PAGE = b"""<html><head><title>Site</title><style>.x{color:red}</style>
<script>var x=1;</script></head><body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/a">About</a></li></ul></nav>
<header><a href="/">Logo</a> tagline</header>
<article>
<h1>Doc 42</h1>
<p>the fast key order sort &amp; merge &lt;part&gt; window</p>
<ul><li>first item words</li><li>second item words</li></ul>
<table><tr><td>cell one</td><td>cell two</td></tr></table>
</article>
<footer><a href="/tos">Terms</a> | <a href="/p">Privacy</a></footer>
</body></html>"""


def test_golden_full_page():
    r = extract(FULL_PAGE)
    assert r.error_class is None
    assert r.text == (
        "Doc 42\n\nthe fast key order sort & merge <part> window\n\n"
        "first item words\n\nsecond item words\n\ncell one\n\ncell two"
    )
    assert r.markdown == (
        "# Doc 42\n\nthe fast key order sort & merge <part> window\n\n"
        "- first item words\n\n- second item words\n\ncell one\n\ncell two"
    )
    assert r.spans[0] == (0, 6, "heading")
    assert r.spans[1][2] == "paragraph"
    # span offsets index into text exactly
    for s, e, _k in r.spans:
        assert r.text[s:e] == r.text[s:e].strip()
    s0, e0, _ = r.spans[0]
    assert r.text[s0:e0] == "Doc 42"


def test_boilerplate_stripped():
    r = extract(FULL_PAGE)
    assert "Home" not in r.text
    assert "Terms" not in r.text
    assert "Logo" not in r.text
    assert "Site" not in r.text  # <title> is metadata
    assert "var x=1" not in r.text  # script dropped


def test_density_rule_without_article():
    # Long low-link-density paragraph is content even without <article>.
    words = " ".join(f"word{i}" for i in range(30))
    html = f'<html><body><div><a href="/">nav nav nav</a></div><p>{words}</p></body></html>'
    r = extract(html.encode())
    assert r.text == words
    # A short link-soup block is boilerplate.
    assert "nav nav nav" not in (r.text or "")


def test_malformed_nesting_no_crash():
    r = extract(b"<html><body><article><div><p>alpha beta</div></article><p>gamma")
    assert r.error_class is None
    assert "alpha beta" in r.text


def test_empty_and_null():
    assert extract(b"").error_class == "empty"
    assert extract(b"   ").error_class == "empty"
    assert extract(b"<html><body></body></html>").error_class == "no_content"
    assert extract(None).error_class == "empty"


def test_null_html_fallback_text():
    r = extract(None, "fallback  text\nhere")
    assert r.text == "fallback text here"
    assert r.spans == [(0, 18, "paragraph")]
    assert r.error_class is None


def test_decode_policy():
    assert decode_html("héllo".encode("utf-8")) == ("héllo", "utf-8")
    raw = b'<meta charset="iso-8859-1"><p>caf\xe9</p>'
    txt, enc = decode_html(raw)
    assert "café" in txt and enc == "latin-1"
    # undeclared non-utf8 falls back to cp1252, total function
    txt, enc = decode_html(b"caf\xe9 na\xefve")
    assert txt == "café naïve" and enc == "cp1252:replace"


def test_determinism_repeat():
    for _ in range(3):
        assert extract(FULL_PAGE) == extract(FULL_PAGE)


# sha256 over repr(extract(...)) of the pages below, as EXTRACTOR_VERSION
# 1.8.0 emits them (the version is part of each repr). The block builder,
# Block.text, classify and render are shared by both tokenizer engines and
# by oracle.extract_reference, so the dual-engine test and the oracle gate
# cannot see a regression there; this digest can. A deliberate output
# change bumps EXTRACTOR_VERSION and this digest together.
_EXTRACT_DIGEST = "6b6349f00ba0aabc5272df168fcba4b87664b8bca70757e0b4c73da6d57a7a88"


def test_extract_digest_pinned():
    import hashlib
    import zlib

    import pyarrow as pa

    from mistral_ocr_spark.sources import fixtures

    h = hashlib.sha256()
    # the fixture corpus, edge rows included
    for i in range(4000):
        _url, html, text, _lang = fixtures._make_page(i)
        h.update(repr(extract(html, text)).encode())
    # crawl-size pages (~13 KB), as the benchmark generates them
    ids = pa.record_batch([pa.array(range(300), pa.int64())], ["id"])
    for b in fixtures._gen_batches(iter([ids]), paras_mult=40):
        for html, text in zip(b.column("html").to_pylist(), b.column("text").to_pylist()):
            h.update(repr(extract(html, text)).encode())
    # a FlateDecode bomb: one stream inflating to 1 MiB of zeros
    bomb = (
        b"%PDF-1.5\n4 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
        + zlib.compress(bytes(1 << 20), 9)
        + b"\nendstream\nendobj\ntrailer\n<< /Root 4 0 R >>\n%%EOF"
    )
    h.update(repr(extract(bomb)).encode())
    assert h.hexdigest() == _EXTRACT_DIGEST


def test_extract_batches_equals_row_by_row(monkeypatch):
    """The kernel's columnar spans/images equal the per-row dict build,
    over HTML, PDF, NULL, empty, no-content and raising rows, and over a
    batch with no spans at all."""
    import pyarrow as pa

    from mistral_ocr_spark import EXTRACTOR_VERSION
    from mistral_ocr_spark.operators import extract as op
    from mistral_ocr_spark.sources.fixtures import _make_page

    def flaky(html, fallback=None):
        if html == b"<raise>":
            raise RuntimeError("boom")
        return extract(html, fallback)

    monkeypatch.setattr(op, "extract", flaky)

    def pages(rows):
        return pa.record_batch(
            [
                pa.array([f"https://k.example.com/{i}" for i in range(len(rows))], pa.string()),
                pa.array([None] * len(rows), pa.timestamp("us")),
                pa.array([h for h, _t in rows], pa.binary()),
                pa.array([t for _h, t in rows], pa.string()),
                pa.array(["en"] * len(rows), pa.string()),
            ],
            names=["url", "warc_ts", "html", "text", "lang"],
        )

    def row_by_row(batch):
        rs = []
        for h, t in zip(batch.column("html").to_pylist(), batch.column("text").to_pylist()):
            try:
                rs.append(flaky(h, t))
            except RuntimeError:
                rs.append(op._FAILED)
        return pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                batch.column("warc_ts"),
                batch.column("lang"),
                pa.array([r.text for r in rs], pa.string()),
                pa.array([r.markdown for r in rs], pa.string()),
                pa.array(
                    [[{"start": s, "end": e, "kind": k} for s, e, k in r.spans] for r in rs],
                    pa.list_(op._ARROW_SPAN),
                ),
                pa.array([list(r.images) for r in rs], pa.list_(pa.string())),
                pa.array([r.error_class for r in rs], pa.string()),
                pa.array([r.encoding for r in rs], pa.string()),
                pa.array([EXTRACTOR_VERSION] * len(rs), pa.string()),
                pa.array(
                    [len(h) if h is not None else 0 for h in batch.column("html").to_pylist()],
                    pa.int64(),
                ),
                pa.array([-1] * len(rs), pa.int32()),
            ],
            schema=op.ARROW_EXTRACTED_SCHEMA,
        )

    # fixture rows 0-119 hold HTML with and without images, NULL html with
    # fallback text, no_content pages and PDFs
    mixed = [_make_page(i)[1:3] for i in range(120)] + [
        (b"", None),
        (b" \n ", None),
        (None, None),
        (None, "  "),
        (b"%PDF-1.7\nbinary junk only", None),
        (b"<raise>", None),
        (FULL_PAGE, None),
    ]
    no_spans = [(b"", None), (None, None), (b"<raise>", None)]
    batches = [pages(mixed), pages(no_spans), pages([])]
    got = list(op.extract_batches(iter(batches)))
    assert len(got) == len(batches)
    errors = got[0].column("error_class").to_pylist()
    assert {"empty", "no_content", "unsupported_pdf", "extractor_error", None} <= set(errors)
    for out, batch in zip(got, batches):
        assert out.equals(row_by_row(batch))


def test_pdf_text_objects():
    pdf = (
        b"%PDF-1.4\n1 0 obj\nBT /F1 12 Tf (Hello \\(PDF\\) world) Tj ET\n"
        b"BT [(second) ( part)] TJ ET\nendobj"
    )
    assert extract_pdf_text(pdf) == ["Hello (PDF) world", "second part"]
    r = extract(pdf)
    assert r.text == "Hello (PDF) world\n\nsecond part"
    assert r.encoding == "pdf"


def test_pdf_flate_compressed_stream():
    import zlib

    content = b"BT /F1 12 Tf (compressed hello) Tj ET"
    pdf = (
        b"%PDF-1.5\n4 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
        + zlib.compress(content)
        + b"\nendstream\nendobj\n"
    )
    r = extract(pdf)
    assert r.text == "compressed hello"
    assert r.encoding == "pdf"


def test_pdf_unsupported():
    r = extract(b"%PDF-1.7\nbinary junk only")
    assert r.error_class == "unsupported_pdf"
    assert r.text is None


def test_images_extracted():
    html = (
        b'<html><body><nav><img src="/logo.png"></nav>'
        b'<article><img src="/fig1.png" alt="f"><p>words</p>'
        b"<img src='/fig2.jpg'><img data-src=\"/lazy.png\"></article></body></html>"
    )
    r = extract(html)
    # chrome images excluded; data-src is not src; document order kept
    assert r.images == ("/fig1.png", "/fig2.jpg")


def test_entity_roundtrip():
    r = extract(b"<article><p>a &amp; b &lt; c &gt; d &#x27;q&#x27;</p></article>")
    assert r.text == "a & b < c > d 'q'"


def test_script_style_never_leak_into_text():
    """The script/style-heavy and comment/CDATA fixture rows (round 2):
    code, CSS, commented-out markup, and CDATA junk must never appear in
    extracted text; the real paragraph must survive byte-identically."""
    from mistral_ocr_spark.extractor import extract
    from mistral_ocr_spark.sources.fixtures import _make_page, _words

    seen_script = seen_comment = 0
    for i in range(3000):
        if i % 93 == 1 and i % 109 != 1 and i % 103 != 1 and i % 97 != 1:
            _u, html, _t, _l = _make_page(i)
            r = extract(html)
            assert "var s" not in (r.text or "") and "content:" not in (r.text or "")
            assert _words(i, 0, 14) in (r.text or "")
            seen_script += 1
        if i % 91 == 1 and i % 109 != 1 and i % 103 != 1 and i % 97 != 1 and i % 93 != 1:
            _u, html, _t, _l = _make_page(i)
            r = extract(html)
            assert "commented-out" not in (r.text or "")
            assert "cdata" not in (r.text or "")
            assert _words(i, 1, 16) in (r.text or "")
            seen_comment += 1
    assert seen_script > 20 and seen_comment > 20


def test_pdf_multiline_positioning():
    """Td/TD/T*/' line positioning renders as newline-joined lines."""
    pdf = (
        b"%PDF-1.4\n1 0 obj\nBT /F1 12 Tf 72 720 Td (line one) Tj "
        b"0 -14 Td (line two) Tj T* (line three) Tj (line four) ' ET\nendobj"
    )
    assert extract_pdf_text(pdf) == ["line one\nline two\nline three\nline four"]


def test_pdf_hex_strings_and_kerning():
    """<hex> strings decode; TJ kern gaps <= -180/1000 em become spaces,
    small kerns do not."""
    pdf = (
        b"%PDF-1.4\n1 0 obj\nBT <48656C6C6F> Tj ET\n"
        b"BT [(Ta) -50 (ble) -500 (cell)] TJ ET\nendobj"
    )
    assert extract_pdf_text(pdf) == ["Hello", "Table cell"]


def _pdf_obj(num: int, body: bytes) -> bytes:
    return b"%d 0 obj\n" % num + body + b"\nendobj\n"


def _pdf_stream_obj(num: int, data: bytes, extra: bytes = b"") -> bytes:
    return _pdf_obj(
        num,
        b"<< /Length %d %s >>\nstream\n" % (len(data), extra) + data + b"\nendstream",
    )


def _one_page(*objs: bytes, contents: bytes = b"4 0 R") -> bytes:
    """Catalog 1 → pages 2 → page 3, whose /Contents is ``contents``."""
    return (
        b"%PDF-1.5\n"
        + _pdf_obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _pdf_obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + _pdf_obj(3, b"<< /Type /Page /Parent 2 0 R /Contents " + contents + b" >>")
        + b"".join(objs)
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF"
    )


def test_pdf_page_tree_orders_out_of_order_objects():
    """Objects stored out of byte order (incremental updates / linearized
    files) must read in PAGE-TREE order, not byte order."""
    # page 2's content object comes FIRST in the file
    pdf = (
        b"%PDF-1.5\n"
        + _pdf_stream_obj(6, b"BT (page two) Tj ET")
        + _pdf_obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _pdf_obj(2, b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>")
        + _pdf_obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
        + _pdf_stream_obj(4, b"BT (page one) Tj ET")
        + _pdf_obj(5, b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>")
        + b"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )
    assert extract_pdf_text(pdf) == ["page one", "page two"]
    # byte-order fallback (no /Root) would give the reverse:
    no_root = pdf.replace(b"/Root 1 0 R", b"/Size 7")
    assert extract_pdf_text(no_root) == ["page two", "page one"]


def test_pdf_contents_array_and_nested_pages_tree():
    """A /Contents array is one logical stream split between lexical tokens
    (PDF 32000-1 §7.8.2) — a BT/ET text object may span the split; /Kids
    may nest intermediate /Pages nodes."""
    pdf = (
        b"%PDF-1.5\n"
        + _pdf_obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _pdf_obj(2, b"<< /Type /Pages /Kids [7 0 R 5 0 R] /Count 2 >>")
        + _pdf_obj(7, b"<< /Type /Pages /Parent 2 0 R /Kids [3 0 R] /Count 1 >>")
        + _pdf_obj(3, b"<< /Type /Page /Parent 7 0 R /Contents [4 0 R 6 0 R] >>")
        + _pdf_stream_obj(4, b"BT (split) Tj")
        + _pdf_stream_obj(6, b"( across streams) Tj ET")
        + _pdf_obj(5, b"<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>")
        + _pdf_stream_obj(8, b"BT (second leaf) Tj ET")
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF"
    )
    assert extract_pdf_text(pdf) == ["split across streams", "second leaf"]


def test_pdf_flate_page_content_and_objstm_page_node():
    """PDF 1.5: the page NODE lives inside a compressed object stream
    (/ObjStm) and its content stream is FlateDecode — both must resolve."""
    import zlib

    page_node = b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    objstm_payload = b"3 0 " + page_node
    objstm = zlib.compress(objstm_payload)
    content = zlib.compress(b"BT (compressed page) Tj ET")
    pdf = (
        b"%PDF-1.5\n"
        + _pdf_obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _pdf_obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + _pdf_obj(
            5,
            b"<< /Type /ObjStm /N 1 /First 4 /Length %d /Filter /FlateDecode >>\nstream\n"
            % len(objstm)
            + objstm
            + b"\nendstream",
        )
        + _pdf_obj(
            4,
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
            + content
            + b"\nendstream",
        )
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF"
    )
    assert extract_pdf_text(pdf) == ["compressed page"]


def test_pdf_cyclic_page_tree_is_safe():
    pdf = (
        b"%PDF-1.5\n"
        + _pdf_obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _pdf_obj(2, b"<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 1 >>")  # self-cycle
        + _pdf_obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
        + _pdf_stream_obj(4, b"BT (survives cycles) Tj ET")
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF"
    )
    assert extract_pdf_text(pdf) == ["survives cycles"]


def test_pdf_text_state_operands_are_not_kern_gaps():
    """Tc/Tw/TL/Tz/Ts/Tr operands must not leak into a following TJ as kern
    values (ADVICE r2: '-250 Tw [(a) (b)] TJ' injected a spurious leading
    space), and numbers outside the [...] array are never kern gaps."""
    pdf = (
        b"%PDF-1.4\nBT -250 Tw [(a) (b)] TJ ET\n"
        b"BT 2 Tc 14 TL 100 Tz 0 Ts 1 Tr [(x) -500 (y)] TJ ET\n"
        b"BT -400 [(p)(q)] TJ ET"  # stray number before the array: ignored
    )
    assert extract_pdf_text(pdf) == ["ab", "x y", "pq"]


def test_pdf_escapes_and_octal():
    pdf = b"%PDF-1.4\nBT (A\\054 B\\\\C\\nD) Tj ET"
    assert extract_pdf_text(pdf) == ["A, B\\C\nD"]


def test_pdf_flate_multiline():
    import zlib

    content = b"BT (top) Tj 0 -12 Td [(bot) -300 (tom)] TJ ET"
    pdf = (
        b"%PDF-1.5\n4 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
        + zlib.compress(content)
        + b"\nendstream\nendobj\n"
    )
    assert extract_pdf_text(pdf) == ["top\nbot tom"]


def _tounicode_pdf(cmap: bytes, content: bytes, *, font_in_parent: bool = False) -> bytes:
    """One-page document whose /F1 carries the given ToUnicode CMap; with
    ``font_in_parent`` the /Resources dict sits on the /Pages node and must
    be INHERITED by the page (PDF 32000-1 §7.7.3.4)."""
    res = b"/Resources << /XObject << /Im0 9 0 R >> /Font << /F1 7 0 R >> >>"
    page_extra = b"" if font_in_parent else b" " + res
    pages_extra = b" " + res if font_in_parent else b""
    return (
        b"%PDF-1.5\n"
        + _pdf_obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _pdf_obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1" + pages_extra + b" >>")
        + _pdf_obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R" + page_extra + b" >>")
        + _pdf_stream_obj(4, content)
        + _pdf_obj(7, b"<< /Type /Font /Subtype /Type0 /ToUnicode 8 0 R >>")
        + _pdf_stream_obj(8, cmap)
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF"
    )


_CJK_CMAP = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"2 beginbfchar\n<0001> <4F60>\n<0002> <597D>\nendbfchar\n"
    b"1 beginbfrange\n<0010> <0012> <0041>\nendbfrange\n"
    b"end"
)


def test_pdf_tounicode_two_byte_codes():
    """Identity-H-style 2-byte codes through bfchar + incrementing bfrange:
    the ONLY correct decoding for subset/CID fonts — latin-1 would emit
    control garbage here."""
    content = b"BT /F1 12 Tf <00010002> Tj ( ) Tj <001000110012> Tj ET"
    out = extract_pdf_text(_tounicode_pdf(_CJK_CMAP, content))
    assert out == ["你好 ABC"]


def test_pdf_tounicode_inherited_resources_and_unmapped_fallback():
    out = extract_pdf_text(
        _tounicode_pdf(_CJK_CMAP, b"BT /F1 12 Tf <0001> Tj <4E16> Tj ET", font_in_parent=True)
    )
    # 0x0001 mapped; 0x4E16 unmapped 2-byte code decodes as the code point
    # itself (the Identity convention)
    assert out == ["你世"]


def test_pdf_tounicode_one_byte_codes_and_array_bfrange():
    cmap = (
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<01> <00DC>\nendbfchar\n"  # 0x01 -> Ü
        b"1 beginbfrange\n<61> <63> [<0077> <0078> <00790079>] endbfrange\n"
    )
    # literal string bytes \x01 and 'abc' through the map; 'Z' (0x5A) is
    # unmapped -> latin-1 fallback keeps it readable
    content = b"BT /F1 12 Tf (\x01Zabc) Tj ET"
    assert extract_pdf_text(_tounicode_pdf(cmap, content)) == ["ÜZwxyy"]


def test_pdf_font_switch_resets_decoding():
    """/F2 has no ToUnicode -> switching to it returns to latin-1; a Tf for
    an unknown resource keeps the current font (real files reference fonts
    from inherited resource dicts we may not see)."""
    pdf = (
        b"%PDF-1.5\n"
        + _pdf_obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _pdf_obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + _pdf_obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 7 0 R /F2 9 0 R >> >> >>",
        )
        + _pdf_stream_obj(4, b"BT /F1 12 Tf <0001> Tj /F2 12 Tf (\x01) Tj ET")
        + _pdf_obj(7, b"<< /Type /Font /ToUnicode 8 0 R >>")
        + _pdf_stream_obj(
            8,
            b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"1 beginbfchar\n<0001> <4F60>\nendbfchar\n",
        )
        + _pdf_obj(9, b"<< /Type /Font /Subtype /Type1 >>")  # no ToUnicode
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF"
    )
    assert extract_pdf_text(pdf) == ["你\x01"]


def test_pdf_utf16_bom_string_without_fonts():
    """Text strings with a UTF-16BE BOM decode as UTF-16BE even with no
    font machinery at all (PDF 32000-1 §7.9.2.2)."""
    s = "﻿Grüße".encode("utf-16-be")
    pdf = b"%PDF-1.4\nBT (" + s + b") Tj ET"
    assert extract_pdf_text(pdf) == ["Grüße"]


def test_pdf_encrypted_surfaces_typed_error():
    """/Encrypt in the trailer → strings/streams are RC4/AES-encrypted;
    extraction must fail TYPED (encrypted_pdf), not emit garbage text."""
    pdf = (
        b"%PDF-1.6\n1 0 obj\nBT (ciphertextnoise) Tj ET\nendobj\n"
        b"trailer\n<< /Root 9 0 R /Encrypt 5 0 R >>\n%%EOF"
    )
    r = extract(pdf)
    assert r.error_class == "encrypted_pdf" and r.text is None
    from mistral_ocr_spark.oracle import extract_reference

    assert extract_reference(pdf).error_class == "encrypted_pdf"


# --- PDF stream filters (r4: §7.4 cascade) ---------------------------------

def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Minimal PDF/TIFF LZW encoder (test-side only): emits CLEAR first,
    EOD last, MSB-first variable-width codes with the EarlyChange rule."""
    out_bits: list[tuple[int, int]] = []  # (code, width)
    width, next_code = 9, 258
    out_bits.append((256, width))
    table = {bytes([i]): i for i in range(256)}
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w = w + c
            continue
        out_bits.append((table[w], width))
        if next_code + early < 4096:
            table[w + c] = next_code
            next_code += 1
            if next_code + early - 1 >= (1 << width) and width < 12:
                width += 1
        else:
            # table cap: conforming encoders emit CLEAR and restart
            out_bits.append((256, width))
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        out_bits.append((table[w], width))
    out_bits.append((257, width))
    buf, bits = 0, 0
    enc = bytearray()
    for code, wd in out_bits:
        buf = (buf << wd) | code
        bits += wd
        while bits >= 8:
            enc.append((buf >> (bits - 8)) & 0xFF)
            bits -= 8
    if bits:
        enc.append((buf << (8 - bits)) & 0xFF)
    return bytes(enc)


def _pdf_with_stream(filter_decl: bytes, payload: bytes) -> bytes:
    return (
        b"%PDF-1.4\n4 0 obj\n<< " + filter_decl + b" /Length "
        + str(len(payload)).encode() + b" >>\nstream\n"
        + payload + b"\nendstream\nendobj\n"
    )


def test_pdf_ascii_hex_stream():
    content = b"BT /F1 12 Tf (hex encoded text) Tj ET"
    payload = content.hex().encode("ascii") + b">"
    r = extract(_pdf_with_stream(b"/Filter /ASCIIHexDecode", payload))
    assert r.text == "hex encoded text"


def test_pdf_ascii85_stream():
    import base64

    content = b"BT /F1 12 Tf (ascii85 encoded text) Tj ET"
    payload = base64.a85encode(content) + b"~>"
    r = extract(_pdf_with_stream(b"/Filter /ASCII85Decode", payload))
    assert r.text == "ascii85 encoded text"


def test_pdf_run_length_stream():
    content = b"BT /F1 12 Tf (rrrrrun length) Tj ET"
    # hand-built RLE: literal "BT /F1 12 Tf (", 5x'r', literal rest, EOD
    head, rest = b"BT /F1 12 Tf (", b"un length) Tj ET"
    payload = (
        bytes([len(head) - 1]) + head
        + bytes([257 - 5]) + b"r"
        + bytes([len(rest) - 1]) + rest
        + bytes([128])
    )
    r = extract(_pdf_with_stream(b"/Filter /RunLengthDecode", payload))
    assert r.text == "rrrrrun length"


def test_pdf_lzw_stream_roundtrip():
    content = b"BT /F1 12 Tf (lzw compressed stream with some repetition ababababab) Tj ET"
    r = extract(_pdf_with_stream(b"/Filter /LZWDecode", _lzw_encode(content)))
    assert r.text == "lzw compressed stream with some repetition ababababab"


def test_pdf_lzw_hand_packed_vector():
    """Bit-unpacking checked against a hand-packed 9-bit code stream
    (independent of the test-side encoder): CLEAR, 'A', 'B', EOD."""
    from mistral_ocr_spark.extractor.pdf import _lzw_decode

    codes = [(256, 9), (65, 9), (66, 9), (257, 9)]
    buf = bits = 0
    enc = bytearray()
    for code, wd in codes:
        buf = (buf << wd) | code
        bits += wd
        while bits >= 8:
            enc.append((buf >> (bits - 8)) & 0xFF)
            bits -= 8
    if bits:
        enc.append((buf << (8 - bits)) & 0xFF)
    assert _lzw_decode(bytes(enc)) == b"AB"
    # KwKwK case: CLEAR, 'A', 258 (= "AA" before it is in the table)
    codes = [(256, 9), (65, 9), (258, 9), (257, 9)]
    buf = bits = 0
    enc = bytearray()
    for code, wd in codes:
        buf = (buf << wd) | code
        bits += wd
        while bits >= 8:
            enc.append((buf >> (bits - 8)) & 0xFF)
            bits -= 8
    if bits:
        enc.append((buf << (8 - bits)) & 0xFF)
    assert _lzw_decode(bytes(enc)) == b"AAA"


def test_pdf_filter_cascade_hex_then_flate():
    """[/ASCIIHexDecode /FlateDecode]: filters apply in listed order when
    decoding (§7.3.8.2) — hex transport around a Flate-compressed stream."""
    import zlib

    content = b"BT /F1 12 Tf (cascade decoded) Tj ET"
    payload = zlib.compress(content).hex().encode("ascii") + b">"
    r = extract(
        _pdf_with_stream(b"/Filter [/ASCIIHexDecode /FlateDecode]", payload)
    )
    assert r.text == "cascade decoded"


def test_pdf_unsupported_filter_is_skipped_not_fatal():
    """A DCTDecode (JPEG) stream must be skipped; text elsewhere in the
    document still extracts."""
    jpeg = _pdf_with_stream(b"/Subtype /Image /Filter /DCTDecode", b"\xff\xd8\xff\xe0 junk")
    doc = jpeg + b"5 0 obj\nBT (plain text survives) Tj ET\nendobj\n"
    r = extract(doc)
    assert r.text == "plain text survives"


def test_pdf_filtered_stream_in_page_tree():
    """The page-tree path (not just the byte-order fallback) must decode
    declared filters: a catalog→pages→page doc whose /Contents stream is
    ASCIIHex-encoded."""
    content = b"BT /F1 12 Tf (tree with hex contents) Tj ET"
    payload = content.hex().encode("ascii") + b">"
    doc = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Filter /ASCIIHexDecode /Length "
        + str(len(payload)).encode() + b" >>\nstream\n" + payload
        + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    r = extract(doc)
    assert r.text == "tree with hex contents"


def test_pdf_lzw_width_boundaries_and_table_cap():
    """Regression (r4 review): the decoder's EarlyChange width switch was
    off by one (desync at table entry 511) and neither side handled the
    4096-entry table cap. Round-trip across the 9→10→11→12-bit boundaries
    and multiple table-cap CLEAR restarts, plus random binary stress."""
    import random

    from mistral_ocr_spark.extractor.pdf import _lzw_decode

    for n in (511, 512, 1023, 1024, 4000, 9000):
        d = bytes((i * 7 + (i >> 3)) % 251 for i in range(n * 8))
        assert _lzw_decode(_lzw_encode(d)) == d, f"desync near boundary {n}"
    r = random.Random(11)
    blob = bytes(r.randrange(256) for _ in range(60_000))
    assert _lzw_decode(_lzw_encode(blob)) == blob


def test_pdf_flate_raw_deflate_still_decodes():
    """Headerless (raw) deflate payloads remain supported — only gated
    behind the zlib-header check now (ADVICE r4)."""
    import zlib

    from mistral_ocr_spark.extractor.pdf import _flate

    content = b"BT (raw deflate body) Tj ET"
    raw = zlib.compressobj(wbits=-zlib.MAX_WBITS)
    payload = raw.compress(content) + raw.flush()
    assert _flate(payload) == content


def _corrupt_zlib() -> bytes:
    """A valid zlib header over a corrupt body. It inflates to the garbage
    prefix b"BT (x.\\x7fK5..." with no zlib.error, but never to its end."""
    import zlib

    good = zlib.compress(b"BT (x) Tj ET" * 10)
    return good[:8] + bytes(b ^ 0xFF for b in good[8:20]) + good[20:]


def test_pdf_flate_rejects_garbage_and_corrupt_zlib():
    """A damaged declared-Flate stream must be SKIPPED (None), not decoded
    into garbage for the BT/ET scan (ADVICE r4): raw inflate often
    'succeeds' with partial output on arbitrary bytes. Three cases: random
    non-deflate bytes; a valid zlib header with a corrupt body (must NOT
    fall through to raw); a truncated raw-deflate stream (no BFINAL →
    rejected by the eof check)."""
    import zlib

    from mistral_ocr_spark.extractor.pdf import _flate

    garbage = bytes(range(251, 256)) * 10
    assert _flate(garbage) is None

    assert _flate(_corrupt_zlib()) is None

    raw = zlib.compressobj(wbits=-zlib.MAX_WBITS)
    full = raw.compress(b"BT (truncated) Tj ET" * 50) + raw.flush()
    assert _flate(full[: len(full) // 2]) is None


def _both_passes(*objs: bytes, contents: bytes = b"4 0 R") -> list[tuple]:
    """(text, error_class) of ``objs`` read once as a one-page PDF (the
    page-tree pass) and once with no catalog (the byte-order fallback)."""
    pdfs = (_one_page(*objs, contents=contents), b"%PDF-1.5\n" + b"".join(objs) + b"%%EOF")
    return [(r.text, r.error_class) for r in map(extract, pdfs)]


def test_pdf_run_length_without_eod_reads_the_same_in_both_passes():
    """Both passes cut the payload to its /Length, so the EOL before
    `endstream` is not read as a run-length byte."""
    content = b"BT (run length) Tj ET"
    stream = _pdf_stream_obj(4, bytes([len(content) - 1]) + content, b"/Filter /RunLengthDecode")
    assert _both_passes(stream) == [("run length", None)] * 2


def test_pdf_truncated_flate_yields_no_prefix_in_either_pass():
    """A Flate payload must inflate to its end: the complete first text
    object of a truncated stream is not extracted by either pass."""
    import zlib

    c = zlib.compressobj()
    head = c.compress(b"BT (first object survives) Tj ET\n") + c.flush(zlib.Z_SYNC_FLUSH)
    rest = c.compress(b"BT (cut) Tj ET\n" * 20) + c.flush()
    stream = _pdf_stream_obj(4, head + rest[: len(rest) // 2], b"/Filter /FlateDecode")
    assert _both_passes(stream) == [(None, "unsupported_pdf")] * 2


def test_pdf_corrupt_flate_yields_no_text_in_either_pass():
    """The garbage prefix of a corrupt Flate payload opens a text object
    that the next stream of the same /Contents would close; neither pass
    may decode that prefix."""
    tail = b"(tail) Tj ET".hex().encode() + b">"
    objs = (
        _pdf_stream_obj(4, _corrupt_zlib(), b"/Filter /FlateDecode"),
        _pdf_stream_obj(5, tail, b"/Filter /ASCIIHexDecode"),
    )
    assert _both_passes(*objs, contents=b"[4 0 R 5 0 R]") == [(None, "unsupported_pdf")] * 2


def test_pdf_one_digit_codespace_is_one_byte_codes():
    """`begincodespacerange <0> <F>` pads to one byte (§7.3.4.3), in the
    extractor and in the oracle's reference extraction alike."""
    from mistral_ocr_spark.oracle import extract_reference

    cmap = (
        b"1 begincodespacerange\n<0> <F>\nendcodespacerange\n"
        b"1 beginbfchar\n<41> <0042>\nendbfchar"
    )
    pdf = _tounicode_pdf(cmap, b"BT /F1 12 Tf (A) Tj ET")
    assert extract(pdf).text == "B"
    assert extract_reference(pdf).text == "B"


def _names_by_function(tree: ast.Module):
    """(enclosing top-level function or "<module>", line, name) for every
    name and attribute read in a module."""
    for stmt in tree.body:
        owner = stmt.name if isinstance(stmt, ast.FunctionDef) else "<module>"
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name):
                yield owner, node.lineno, node.id
            elif isinstance(node, ast.Attribute):
                yield owner, node.lineno, node.attr


def test_pdf_streams_decode_in_one_place():
    """Only ``_flate`` builds a zlib.decompressobj, and only
    ``_decode_stream`` reads a stream's /Filter and runs its cascade, so
    both passes decode every stream by the same rules."""
    import mistral_ocr_spark.extractor.pdf as pdf

    owners = {"decompressobj": "_flate", "_declared_filters": "_decode_stream",
              "_apply_filters": "_decode_stream"}
    found = [
        f"pdf.py:{line} {owner}() uses {name}"
        for owner, line, name in _names_by_function(ast.parse(pathlib.Path(pdf.__file__).read_text()))
        if owners.get(name, owner) != owner
    ]
    assert not found, "stream decoding outside its one place:\n" + "\n".join(found)


def _build_xref_stream_pdf(stale_update: bool = False) -> bytes:
    """A PDF 1.5 file with NO classic trailer: the cross-reference is a
    /Type /XRef stream (W [1 2 1], FlateDecode, PNG Predictor 12) and the
    /Root lives in its dict. Page TWO's content object deliberately
    precedes page one's in byte order, so page-tree order != byte order.
    With ``stale_update``, a stale body for the page-1 content object is
    appended AFTER the real one — the scan's last-in-file rule would pick
    it; the xref offsets must not."""
    import zlib

    objects = {}  # num -> body bytes (without the "N 0 obj"/"endobj" frame)

    def content_obj(text: str) -> bytes:
        z = zlib.compress(f"BT /F1 12 Tf ({text}) Tj ET".encode())
        return (
            b"<< /Filter /FlateDecode /Length " + str(len(z)).encode() + b" >>\n"
            b"stream\n" + z + b"\nendstream\n"
        )

    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>\n"
    objects[2] = b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>\n"
    objects[3] = b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
    objects[4] = content_obj("page one text")
    objects[5] = b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\n"
    objects[6] = content_obj("page two text")

    buf = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in (1, 2, 6, 3, 5, 4):  # page-2 content BEFORE page-1 content
        offsets[num] = len(buf)
        buf += str(num).encode() + b" 0 obj\n" + objects[num] + b"endobj\n"
    if stale_update:
        # unreferenced stale body, later in the file than the real object 4
        buf += (
            b"4 0 obj\n" + content_obj("STALE superseded text") + b"endobj\n"
        )

    xref_num = 7
    offsets[xref_num] = len(buf)
    import struct

    rows = []
    for num in range(1, 8):
        off = offsets.get(num, 0)
        rows.append(struct.pack(">B", 1) + struct.pack(">H", off) + b"\x00")
    # PNG Predictor 12 (Up): filter byte 2, each row minus the previous
    cols = 4
    pred = bytearray()
    prev = b"\x00" * cols
    for r in rows:
        pred += b"\x02" + bytes((r[i] - prev[i]) & 0xFF for i in range(cols))
        prev = r
    z = zlib.compress(bytes(pred))
    buf += (
        b"7 0 obj\n<< /Type /XRef /W [1 2 1] /Index [1 7] /Size 8 "
        b"/Root 1 0 R /Filter /FlateDecode "
        b"/DecodeParms << /Predictor 12 /Columns 4 >> /Length "
        + str(len(z)).encode()
        + b" >>\nstream\n"
        + z
        + b"\nendstream\nendobj\n"
    )
    buf += b"startxref\n" + str(offsets[xref_num]).encode() + b"\n%%EOF\n"
    return bytes(buf)


def test_pdf_xref_stream_structured_path_in_page_order():
    """A PDF 1.5 xref-STREAM file (no classic trailer anywhere) decodes via
    the structured path: pages come out in page-TREE order even though the
    content objects are scrambled in byte order, and the /Root is taken
    from the xref stream's dict (VERDICT r4 #9)."""
    raw = _build_xref_stream_pdf()
    assert b"trailer" not in raw
    assert extract_pdf_text(raw) == ["page one text", "page two text"]
    r = extract(raw)
    assert r.text == "page one text\n\npage two text"
    assert r.encoding == "pdf"


def test_pdf_xref_offsets_beat_scan_order_on_stale_bodies():
    """Incremental-update authority: when a stale body for an object sits
    LATER in the file than the current one, the scan's last-in-file rule
    is wrong and the xref's type-1 offset must win."""
    raw = _build_xref_stream_pdf(stale_update=True)
    got = extract_pdf_text(raw)
    assert got == ["page one text", "page two text"], got


def test_pdf_classic_xref_prev_chain_authority():
    """Classic xref tables with a /Prev incremental-update chain: the
    NEWEST section's offset for an updated object wins over both the
    original body and a stale orphan body sitting last in the file."""
    import zlib

    def frame(num: int, body: bytes) -> bytes:
        return str(num).encode() + b" 0 obj\n" + body + b"endobj\n"

    def content(text: str) -> bytes:
        z = zlib.compress(f"BT ({text}) Tj ET".encode())
        return (
            b"<< /Filter /FlateDecode /Length " + str(len(z)).encode()
            + b" >>\nstream\n" + z + b"\nendstream\n"
        )

    buf = bytearray(b"%PDF-1.4\n")
    off = {}
    for num, body in [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>\n"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"),
        (4, content("original v1")),
    ]:
        off[num] = len(buf)
        buf += frame(num, body)
    xref1 = len(buf)
    buf += b"xref\n0 5\n" + b"0000000000 65535 f \n"
    for num in (1, 2, 3, 4):
        buf += f"{off[num]:010d} 00000 n \n".encode()
    buf += b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n" + str(xref1).encode() + b"\n%%EOF\n"

    # incremental update: object 4 superseded by v2
    off4b = len(buf)
    buf += frame(4, content("updated v2"))
    xref2 = len(buf)
    buf += b"xref\n4 1\n" + f"{off4b:010d} 00000 n \n".encode()
    buf += (
        b"trailer\n<< /Size 5 /Root 1 0 R /Prev " + str(xref1).encode()
        + b" >>\nstartxref\n" + str(xref2).encode() + b"\n%%EOF\n"
    )
    # stale orphan AFTER the update — scan order would pick it
    buf += frame(4, content("STALE orphan"))

    got = extract_pdf_text(bytes(buf))
    assert got == ["updated v2"], got


def test_pdf_indirect_multidigit_length_not_truncated():
    """`/Length 71 0 R` (indirect, multi-digit ref) must fall to the
    heuristic, not backtrack into a bogus direct length of 7 that slices
    the payload (r5 review: the (?!...) lookahead alone lets the regex
    engine retry with a shorter digit group)."""
    import zlib

    content = b"BT (indirect length body) Tj ET"
    z = zlib.compress(content)
    pdf = (
        b"%PDF-1.4\n4 0 obj\n<< /Filter /FlateDecode /Length 71 0 R >>\nstream\n"
        + z
        + b"\nendstream\nendobj\n71 0 obj\n"
        + str(len(z)).encode()
        + b"\nendobj\n"
    )
    r = extract(pdf)
    assert r.text == "indirect length body"

    # uncompressed stream with an indirect ref: heuristic EOL-strip path
    from mistral_ocr_spark.extractor.pdf import DecodeBudget, _stream_data

    body = b"<< /Length 42 0 R >>\nstream\nBT (abc) Tj ET\nendstream"
    assert _stream_data(body, DecodeBudget()) == b"BT (abc) Tj ET"


def test_pdf_type2_entries_use_current_objstm_not_stale_scan_body():
    """Type-2 xref entries must resolve through the CURRENT /ObjStm body
    (type-1 overrides applied first), not the scan's last-in-file stale
    copy (r5 review: member entries iterating before the container's own
    type-1 entry expanded a superseded container)."""
    import struct
    import zlib

    def objstm(texts: list[str], first_num: int) -> bytes:
        bodies = [
            f"<< /Type /Page /Parent 2 0 R >>".encode() if t is None
            else t.encode()
            for t in texts
        ]
        header = b""
        off = 0
        for i, b in enumerate(bodies):
            header += f"{first_num + i} {off} ".encode()
            off += len(b)
        payload = header + b"".join(bodies)
        z = zlib.compress(payload)
        return (
            b"<< /Type /ObjStm /N " + str(len(bodies)).encode() + b" /First "
            + str(len(header)).encode() + b" /Filter /FlateDecode /Length "
            + str(len(z)).encode() + b" >>\nstream\n" + z + b"\nendstream\n"
        )

    # members 3 (page) and 4's content is a plain object referencing work
    current = objstm(
        ["<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>"], first_num=3
    )
    stale = objstm(
        ["<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>"], first_num=3
    )
    z_cur = zlib.compress(b"BT (current content) Tj ET")
    z_stale = zlib.compress(b"BT (stale content) Tj ET")

    buf = bytearray(b"%PDF-1.5\n")
    off = {}
    def emit(num, body):
        off[num] = len(buf)
        buf.extend(str(num).encode() + b" 0 obj\n" + body + b"endobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>\n")
    emit(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n")
    emit(7, current)
    emit(5, b"<< /Filter /FlateDecode /Length " + str(len(z_cur)).encode()
         + b" >>\nstream\n" + z_cur + b"\nendstream\n")
    emit(6, b"<< /Filter /FlateDecode /Length " + str(len(z_stale)).encode()
         + b" >>\nstream\n" + z_stale + b"\nendstream\n")
    # stale container copy LATER in byte order — the scan keeps this one
    buf.extend(b"7 0 obj\n" + stale + b"endobj\n")

    xref_off = len(buf)
    rows = []
    for num in (1, 2, 5, 6, 7):
        rows.append((num, struct.pack(">B", 1) + struct.pack(">H", off[num]) + b"\x00"))
    rows.append((3, struct.pack(">B", 2) + struct.pack(">H", 7) + b"\x00"))  # in ObjStm 7, idx 0
    rows.sort()
    data = b"".join(r for _, r in rows)
    # /Index: objects 1,2,3 then 5,6,7 — two subsections
    sub = {n: r for n, r in rows}
    data = sub[1] + sub[2] + sub[3] + sub[5] + sub[6] + sub[7]
    z = zlib.compress(data)
    buf.extend(
        b"8 0 obj\n<< /Type /XRef /W [1 2 1] /Index [1 3 5 3] /Size 9 /Root 1 0 R "
        b"/Filter /FlateDecode /Length " + str(len(z)).encode()
        + b" >>\nstream\n" + z + b"\nendstream\nendobj\n"
    )
    buf.extend(b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n")

    got = extract_pdf_text(bytes(buf))
    assert got == ["current content"], got


def test_pdf_hybrid_xrefstm_takes_precedence_over_classic_section():
    """Hybrid-reference file (§7.5.8.4): the classic trailer carries
    /XRefStm pointing at an xref STREAM from the same update; the stream's
    entries must take precedence over the classic table's — here the
    classic table points object 4 at a stale body and the stream at the
    current one."""
    import struct
    import zlib

    def frame(num: int, body: bytes) -> bytes:
        return str(num).encode() + b" 0 obj\n" + body + b"endobj\n"

    def content(text: str) -> bytes:
        z = zlib.compress(f"BT ({text}) Tj ET".encode())
        return (
            b"<< /Filter /FlateDecode /Length " + str(len(z)).encode()
            + b" >>\nstream\n" + z + b"\nendstream\n"
        )

    buf = bytearray(b"%PDF-1.5\n")
    off = {}
    for num, body in [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>\n"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"),
        (4, content("current hybrid body")),
    ]:
        off[num] = len(buf)
        buf += frame(num, body)
    stale4 = len(buf)
    buf += frame(4, content("stale classic body"))

    # xref STREAM (the /XRefStm target): current offsets for 1-4
    stm_off = len(buf)
    rows = b"".join(
        struct.pack(">B", 1) + struct.pack(">H", off[n]) + b"\x00" for n in (1, 2, 3, 4)
    )
    z = zlib.compress(rows)
    buf += (
        b"5 0 obj\n<< /Type /XRef /W [1 2 1] /Index [1 4] /Size 6 /Root 1 0 R "
        b"/Filter /FlateDecode /Length " + str(len(z)).encode()
        + b" >>\nstream\n" + z + b"\nendstream\nendobj\n"
    )

    # classic section: object 4 at the STALE offset; trailer carries /XRefStm
    xref_off = len(buf)
    buf += b"xref\n1 4\n"
    for n, o in [(1, off[1]), (2, off[2]), (3, off[3]), (4, stale4)]:
        buf += f"{o:010d} 00000 n \n".encode()
    buf += (
        b"trailer\n<< /Size 6 /Root 1 0 R /XRefStm " + str(stm_off).encode()
        + b" >>\nstartxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    )

    got = extract_pdf_text(bytes(buf))
    assert got == ["current hybrid body"], got
