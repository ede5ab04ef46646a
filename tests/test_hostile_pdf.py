"""Hostile PDFs: every decode inside one document draws on one budget of
``MAX_DECODED_BYTES``, so a decompression bomb ends as
``error_class="resource_limit"`` while the process's peak memory grows by a
bounded amount, and a document that fits the budget still decodes.

Each bomb runs ``extract()`` in a fresh interpreter, whose ``ru_maxrss``
(the peak RSS) is read before and after the call."""

from __future__ import annotations

import functools
import json
import pathlib
import subprocess
import sys
import zlib

import pytest

from mistral_ocr_spark.extractor import extract
from mistral_ocr_spark.extractor.pdf import MAX_DECODED_BYTES, ResourceLimit, pdf_paragraphs
from test_extractor import _one_page, _pdf_stream_obj, _pdf_with_stream, _tounicode_pdf

ROOT = pathlib.Path(__file__).resolve().parent.parent
MIB = 1 << 20

# extract() on the PDF read from stdin; prints the error class and the
# growth of the peak RSS over the call (ru_maxrss is in KiB on Linux)
_CHILD = """
import json, resource, sys
from mistral_ocr_spark.extractor import extract
raw = sys.stdin.buffer.read()
before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
r = extract(raw)
after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
print(json.dumps({"error_class": r.error_class, "growth": (after - before) * 1024}))
"""


@functools.lru_cache(maxsize=None)
def _deflated(n: int) -> bytes:
    """A zlib stream of ``n`` (a multiple of 1 MiB) zero bytes, compressed
    a MiB at a time."""
    c = zlib.compressobj(9)
    chunk = bytes(MIB)
    return b"".join([c.compress(chunk) for _ in range(n // MIB)] + [c.flush()])


def _lzw_bomb(n: int) -> bytes:
    """An LZWDecode stream (EarlyChange 1) that decodes to at least ``n``
    zero bytes: after code 0 every code is the next free one (the KwKwK
    case), so each entry is one zero longer than the one before."""
    codes = [(0, 9)]
    width, next_code, length, total = 9, 258, 1, 1
    while total < n:
        codes.append((next_code, width))
        length += 1
        total += length
        if next_code + 1 < 4096:  # the decoder's table add and widening
            next_code += 1
            if next_code + 1 >= 1 << width and width < 12:
                width += 1
    codes.append((257, width))  # EOD
    out, buf, bits = bytearray(), 0, 0
    for code, w in codes:
        buf, bits = (buf << w) | code, bits + w
        while bits >= 8:
            bits -= 8
            out.append((buf >> bits) & 0xFF)
        buf &= (1 << bits) - 1
    if bits:
        out.append((buf << (8 - bits)) & 0xFF)
    return bytes(out)


def _xref_stream_bomb() -> bytes:
    """A last startxref that points at an xref stream inflating to 64 MiB."""
    pdf = _one_page(_pdf_stream_obj(4, b"BT (x) Tj ET"))
    return (pdf + _pdf_stream_obj(6, _deflated(64 * MIB), b"/Type /XRef /W [1 2 1] /Size 7 "
                                  b"/Root 1 0 R /Filter /FlateDecode")
            + b"startxref\n%d\n%%%%EOF" % len(pdf))


def _tounicode_bomb(ranges: int = 40) -> bytes:
    """A ToUnicode CMap of 3-byte codes whose ``ranges`` bfranges each
    expand to 65,536 entries."""
    cmap = (b"begincodespacerange <000000> <FFFFFF> endcodespacerange\n"
            + str(ranges).encode() + b" beginbfrange\n"
            + b"".join(b"<%02X0000> <%02XFFFF> <4E00>\n" % (k, k) for k in range(ranges))
            + b"endbfrange\n")
    return _tounicode_pdf(cmap, b"BT /F1 12 Tf <000041> Tj ET")


BOMBS = {
    # the benchmark's bomb, twice the size: byte-order fallback scan
    "flate": lambda: _pdf_with_stream(b"/Filter /FlateDecode", _deflated(64 * MIB)),
    "flate_cascade": lambda: _one_page(_pdf_stream_obj(
        4, zlib.compress(_deflated(64 * MIB), 9), b"/Filter [/FlateDecode /FlateDecode]")),
    "lzw": lambda: _pdf_with_stream(b"/Filter /LZWDecode", _lzw_bomb(64 * MIB)),
    # 128 copies of one byte per 2 input bytes
    "run_length": lambda: _pdf_with_stream(
        b"/Filter /RunLengthDecode", b"\x81\x00" * (32 * MIB // 128) + b"\x80"),
    "objstm": lambda: _one_page(
        _pdf_stream_obj(4, b"BT (x) Tj ET"),
        _pdf_stream_obj(5, _deflated(64 * MIB), b"/Type /ObjStm /N 1 /First 4 /Filter /FlateDecode")),
    "xref_stream": _xref_stream_bomb,
    "tounicode_bfrange": _tounicode_bomb,
}


@pytest.mark.parametrize("name", list(BOMBS))
def test_bomb_ends_as_resource_limit_with_bounded_memory(name):
    proc = subprocess.run([sys.executable, "-c", _CHILD], input=BOMBS[name](), cwd=ROOT,
                          capture_output=True, timeout=300, check=True)
    got = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert got["error_class"] == "resource_limit"
    assert got["growth"] <= 3 * MAX_DECODED_BYTES, got


def _text(n: int) -> bytes:
    """A Flate payload that decodes to exactly ``n`` bytes of content."""
    body = b"BT (fits the decode budget) Tj ET\n"
    return zlib.compress(body + b" " * (n - len(body)), 9)


_FLATE = b"/Filter /FlateDecode"


def test_document_that_fits_the_budget_decodes():
    for pdf in (
        _one_page(_pdf_stream_obj(4, _text(MAX_DECODED_BYTES), _FLATE)),  # page-tree pass
        _pdf_with_stream(_FLATE, _text(MAX_DECODED_BYTES)),  # byte-order fallback
    ):
        r = extract(pdf)
        assert (r.error_class, r.text) == (None, "fits the decode budget")


def test_one_byte_over_the_budget_is_resource_limit():
    pdf = _one_page(_pdf_stream_obj(4, _text(MAX_DECODED_BYTES + 1), _FLATE))
    with pytest.raises(ResourceLimit):
        pdf_paragraphs(pdf)
    r = extract(pdf)
    assert (r.error_class, r.text, r.markdown, r.spans) == ("resource_limit", None, None, [])


def test_budget_is_shared_by_every_decode_of_a_document():
    """Two 5 MiB content streams fit one at a time, not together."""
    half = _text(5 * MIB)
    both = _one_page(_pdf_stream_obj(4, half, _FLATE), _pdf_stream_obj(5, half, _FLATE),
                     contents=b"[4 0 R 5 0 R]")
    assert extract(both).error_class == "resource_limit"
    assert extract(_one_page(_pdf_stream_obj(4, half, _FLATE))).text == "fits the decode budget"
