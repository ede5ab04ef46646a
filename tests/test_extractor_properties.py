"""Property-based extractor tests (hypothesis): the extractor is total,
deterministic, and structurally consistent on arbitrary byte soup — the
robustness the graceful-error tests of the reference assert
(/root/reference/tests/integration/test_cli_integration.py:271-286:
errors handled gracefully, no tracebacks)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mistral_ocr_spark.extractor import extract

_tagish = st.sampled_from(
    [
        "<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>", "<li>",
        "<article>", "</article>", "<nav>", "</nav>", "<h1>", "</h1>",
        "<!-- c -->", "<script>", "</script>", "&amp;", "&#65;", "<", ">", "&",
    ]
)
_html_soup = st.lists(_tagish | st.text(max_size=40), max_size=60).map("".join)


@given(_html_soup)
@settings(max_examples=300, deadline=None)
def test_never_raises_and_deterministic(soup):
    raw = soup.encode("utf-8")
    r1 = extract(raw)
    r2 = extract(raw)
    assert r1 == r2  # pure function
    assert (r1.text is None) == (r1.error_class is not None) or r1.text is not None


@given(st.binary(max_size=2000))
@settings(max_examples=300, deadline=None)
def test_total_on_arbitrary_bytes(raw):
    r = extract(raw)
    # spans always index into text correctly
    if r.text is not None:
        for s, e, kind in r.spans:
            assert 0 <= s <= e <= len(r.text)
            assert kind in {"heading", "paragraph", "list_item", "table"}
        # block separator invariant: spans cover text minus "\n\n" gaps
        joined = "\n\n".join(r.text[s:e] for s, e, _ in r.spans)
        assert joined == r.text
    else:
        assert r.error_class in {"empty", "no_content", "unsupported_pdf", "decode_error"}


@given(st.text(max_size=500))
@settings(max_examples=200, deadline=None)
def test_whitespace_policy_idempotent(text):
    raw = f"<article><p>{text.replace('<','').replace('&','')}</p></article>".encode()
    r = extract(raw)
    if r.text is not None:
        # normalized text contains no whitespace runs and no edge whitespace
        assert "  " not in r.text.replace("\n\n", " ")
        assert r.text == r.text.strip()


# --- ToUnicode CMap parser properties (extractor 1.4.0) ---------------------

_codes_1b = st.integers(min_value=0, max_value=0xFF)
_codes_2b = st.integers(min_value=0, max_value=0xFFFF)
_uni = st.integers(min_value=0x20, max_value=0xD700)  # BMP, skip surrogates


@st.composite
def _cmap_spec(draw):
    """(width, mapping, cmap_bytes): random bfchar entries + bfranges with
    both destination forms, plus the Python-dict reference they imply."""
    width = draw(st.sampled_from([1, 2]))
    codes = _codes_1b if width == 1 else _codes_2b
    hexw = width * 2
    mapping: dict[int, str] = {}
    parts = [f"1 begincodespacerange\n<{'0'*hexw}> <{'f'*hexw}>\nendcodespacerange\n".encode()]

    ranges = draw(st.lists(st.tuples(codes, st.integers(1, 20), _uni), max_size=3))
    if ranges:
        body = []
        for lo, span, dst in ranges:
            hi = min(lo + span - 1, (1 << (8 * width)) - 1)
            body.append(f"<{lo:0{hexw}x}> <{hi:0{hexw}x}> <{dst:04x}>")
            for i in range(hi - lo + 1):
                mapping[lo + i] = chr(dst + i)
        parts.append(
            (f"{len(body)} beginbfrange\n" + "\n".join(body) + "\nendbfrange\n").encode()
        )
    chars = draw(st.lists(st.tuples(codes, _uni), max_size=8))
    if chars:
        body = [f"<{c:0{hexw}x}> <{u:04x}>" for c, u in chars]
        parts.append(
            (f"{len(body)} beginbfchar\n" + "\n".join(body) + "\nendbfchar\n").encode()
        )
        for c, u in chars:
            mapping[c] = chr(u)  # bfchar parsed after bfrange -> wins ties
    return width, mapping, b"".join(parts)


@given(_cmap_spec(), st.lists(st.integers(0, 0xFFFF), max_size=30))
@settings(max_examples=120, deadline=None)
def test_tounicode_decode_matches_reference(spec, raw_codes):
    """parse_tounicode + _decode_string must agree with a plain Python dict
    interpretation of the same CMap on arbitrary code sequences, including
    the unmapped-code fallbacks."""
    from mistral_ocr_spark.extractor.pdf import DecodeBudget, _decode_string, parse_tounicode

    width, mapping, cmap = spec
    parsed = parse_tounicode(cmap, DecodeBudget())
    assert parsed[0] == width
    codes = [c & ((1 << (8 * width)) - 1) for c in raw_codes]
    raw = b"".join(c.to_bytes(width, "big") for c in codes)
    got = _decode_string(raw, parsed)
    want = "".join(
        mapping.get(
            c,
            c.to_bytes(1, "big").decode("latin-1") if width == 1 else chr(c),
        )
        for c in codes
    )
    assert got == want


@given(st.binary(max_size=400))
@settings(max_examples=80, deadline=None)
def test_tounicode_parser_total_on_garbage(junk):
    """Arbitrary bytes as a CMap stream must never raise — damaged PDFs are
    routine in crawl data; the parser yields a (width, partial-map) pair."""
    from mistral_ocr_spark.extractor.pdf import DecodeBudget, parse_tounicode

    width, cmap = parse_tounicode(junk, DecodeBudget())
    assert width in (1, 2) or width >= 0
    assert isinstance(cmap, dict)


# --- xref-stream W-array / predictor properties (r5, VERDICT r4 #9) -------

_w1 = st.sampled_from([0, 1])
_w2 = st.sampled_from([1, 2, 3, 4])
_w3 = st.sampled_from([0, 1, 2])


@given(
    w1=_w1,
    w2=_w2,
    w3=_w3,
    start=st.integers(min_value=0, max_value=50),
    fields=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2**31 - 1), st.integers(0, 2**15 - 1)),
        min_size=1,
        max_size=20,
    ),
)
@settings(max_examples=200, deadline=None)
def test_xref_stream_w_widths_roundtrip(w1, w2, w3, start, fields):
    """Encode arbitrary xref entries at arbitrary W widths, decode through
    _xref_stream_entries, and get the same (type, f2, f3) triplets back —
    with the spec defaults applied where a width is 0 (type→1, f3→0)."""
    from mistral_ocr_spark.extractor.pdf import DecodeBudget, _xref_stream_entries

    rows = bytearray()
    want = {}
    for i, (t, f2, f3) in enumerate(fields):
        t = 1 if w1 == 0 else t
        f2 %= 2 ** (8 * w2)
        f3 = 0 if w3 == 0 else f3 % (2 ** (8 * w3))
        rows += (
            (t.to_bytes(w1, "big") if w1 else b"")
            + f2.to_bytes(w2, "big")
            + (f3.to_bytes(w3, "big") if w3 else b"")
        )
        want[start + i] = (t, f2, f3)
    body = (
        b"<< /Type /XRef /W [" + f"{w1} {w2} {w3}".encode() + b"] /Index ["
        + f"{start} {len(fields)}".encode() + b"] /Size "
        + str(start + len(fields)).encode() + b" /Length "
        + str(len(rows)).encode() + b" >>\nstream\n"
        + bytes(rows)
        + b"\nendstream"
    )
    sec = _xref_stream_entries(body, DecodeBudget())
    assert sec is not None
    assert sec["entries"] == want


@given(
    rows=st.integers(1, 12),
    cols=st.integers(1, 16),
    data=st.data(),
    filt=st.sampled_from([0, 1, 2, 3, 4]),
)
@settings(max_examples=200, deadline=None)
def test_png_predictor_roundtrip_all_filters(rows, cols, data, filt):
    """Apply each PNG row filter forward (test-side encoder), reverse with
    _png_unpredict, recover the original bytes exactly."""
    from mistral_ocr_spark.extractor.pdf import _png_unpredict

    plain = [
        bytes(data.draw(st.lists(st.integers(0, 255), min_size=cols, max_size=cols)))
        for _ in range(rows)
    ]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    enc = bytearray()
    prev = bytes(cols)
    for row in plain:
        enc.append(filt)
        for i in range(cols):
            a = row[i - 1] if i >= 1 else 0
            b = prev[i]
            c = prev[i - 1] if i >= 1 else 0
            if filt == 0:
                d = row[i]
            elif filt == 1:
                d = row[i] - a
            elif filt == 2:
                d = row[i] - b
            elif filt == 3:
                d = row[i] - ((a + b) >> 1)
            else:
                d = row[i] - paeth(a, b, c)
            enc.append(d & 0xFF)
        prev = row
    got = _png_unpredict(bytes(enc), cols)
    assert got == b"".join(plain)


@given(
    rows=st.integers(1, 8),
    cols=st.integers(1, 12),
    data=st.data(),
)
@settings(max_examples=100, deadline=None)
def test_tiff_predictor_roundtrip(rows, cols, data):
    from mistral_ocr_spark.extractor.pdf import _tiff_unpredict

    plain = [
        bytes(data.draw(st.lists(st.integers(0, 255), min_size=cols, max_size=cols)))
        for _ in range(rows)
    ]
    enc = bytearray()
    for row in plain:
        prevb = 0
        for i in range(cols):
            enc.append((row[i] - prevb) & 0xFF)
            prevb = row[i]
    got = _tiff_unpredict(bytes(enc), cols)
    assert got == b"".join(plain)


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_xref_chain_total_on_garbage(raw):
    """The chain walker never raises on arbitrary bytes (with or without a
    startxref marker spliced in) and always returns its (root, entries)
    shape — any parse failure degrades to the scan index."""
    from mistral_ocr_spark.extractor.pdf import DecodeBudget, _xref_chain

    for payload in (raw, b"startxref\n7\n" + raw, raw + b"\nstartxref\n2\n%%EOF"):
        root, entries = _xref_chain(payload, DecodeBudget())
        assert root is None or isinstance(root, int)
        assert isinstance(entries, dict)
