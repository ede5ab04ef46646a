"""From-scratch PDF text extractor (magic-byte dispatched).

The reference routes PDFs to the remote OCR endpoint by mime sniffing on
extension (/root/reference/src/mistral_ocr/simple_client.py:712-718). In
this engine the dispatch is on content (``%PDF-`` magic bytes). There are
no PDF libraries in the sandbox, so the content-stream text model is
implemented directly (PDF 32000-1 §9.4 text objects):

- ``BT … ET`` text objects, one output paragraph per object;
- show operators ``Tj``, ``' ``, ``" `` and array form ``[…] TJ`` with
  kerning: a TJ number ≤ -180 (thousandths of an em) renders as a space —
  the standard gap-to-space heuristic;
- line positioning ``Td``/``TD``/``T*``/``Tm`` start a new line within the
  object (newline-joined in the output);
- literal strings with all escape forms (named, octal, line continuation)
  and ``<hex>`` strings;
- filtered content streams: FlateDecode, ASCIIHexDecode, ASCII85Decode,
  RunLengthDecode, LZWDecode, and /Filter decode cascades (since 1.5.0);
- document structure (since 1.3.0): catalog → /Pages tree walk so content
  reads in PAGE order even when objects are stored out of byte order
  (incremental updates, linearized files), /Contents arrays re-assembled
  per page, and PDF 1.5 object streams (/ObjStm) expanded; byte-order
  fallback when no catalog resolves;
- one stream decoder for both passes (since 1.8.0): ``_decode_stream``
  cuts a payload to its direct /Length and runs its declared /Filter
  cascade, or tries an undeclared zlib payload as Flate. A Flate payload
  counts only when it inflates to its end, so a truncated or corrupt one
  yields no prefix in either pass.

Font decoding (since 1.4.0): when a page's resources declare fonts with a
``/ToUnicode`` CMap (PDF 32000-1 §9.10.3 — the standard way real-world
generators make text extractable, and the ONLY correct decoding for subset
/ CID / Identity-H fonts), show strings are decoded through the CMap:
``begincodespacerange`` fixes the code width (1- or 2-byte codes),
``bfchar`` and ``bfrange`` entries (both destination forms) map codes to
UTF-16BE targets. ``Tf`` switches the active font; resources are inherited
up the /Pages tree per the spec's inheritable-attributes rule. Outside any
CMap, text strings with a UTF-16BE BOM decode as UTF-16BE (§7.9.2.2);
everything else keeps the pinned latin-1 policy, so pre-1.4.0 outputs are
unchanged for documents without ToUnicode fonts.

Anything without extractable text objects is surfaced as
``error_class='unsupported_pdf'`` (per-row error capture, the analog of the
reference's error_files side channel, simple_client.py:630-664). Image
codecs (DCTDecode/JPX/JBIG2/CCITT) are skipped, not errors. Cross-reference
parsing (r5): classic tables, PDF 1.5+ xref STREAMS (/Type /XRef with
W-array triplets, /Index subsections, PNG Predictor 10-15 and TIFF
Predictor 2 /DecodeParms), hybrid /XRefStm files, and /Prev incremental
chains — the newest update's entries override the byte scan, so
incrementally updated files resolve the CURRENT body of each object and
the current /Root (the scan remains the fallback for broken xrefs). Out
of scope (documented, not silently wrong): nested unescaped parens in
literal strings, /DecodeParms predictors on CONTENT streams (image
territory), CID fonts WITHOUT a ToUnicode CMap (bytes decode latin-1),
sub-byte TIFF predictor components.

Decode budget: every decode inside one call draws on one budget of
``MAX_DECODED_BYTES``. Flate, LZW and RunLength stop as their output
passes it, the other filters and the predictors count their output, and
each expanded ToUnicode entry costs what it holds in memory. A document
that overruns it raises ``ResourceLimit``, surfaced as
``error_class='resource_limit'``.
"""

from __future__ import annotations

import re
import zlib

PDF_MAGIC = b"%PDF-"

# What one document may decode, summed over every stream, filter stage,
# predictor and ToUnicode map of both passes (their buffers are alive
# together). ARCHITECTURE.md "PDF decode budget" has the trade.
MAX_DECODED_BYTES = 8 << 20

# Memory one expanded ToUnicode entry holds (int key, str value, dict
# slot): ~9 MB for a 65,536-entry bfrange.
_CMAP_ENTRY_BYTES = 140


class ResourceLimit(Exception):
    """A document's decodes overran ``MAX_DECODED_BYTES``."""


class DecodeBudget:
    """The bytes one ``pdf_paragraphs`` call may still decode."""

    __slots__ = ("left",)

    def __init__(self) -> None:
        self.left = MAX_DECODED_BYTES

    def charge(self, n: int) -> None:
        self.left -= n
        if self.left < 0:
            raise ResourceLimit

_ENCRYPT_RE = re.compile(rb"/Encrypt\s+\d+\s+\d+\s+R|/Encrypt\s*<<")


def is_encrypted_pdf(raw: bytes) -> bool:
    """True when the trailer declares an /Encrypt dictionary: strings and
    streams are then RC4/AES-encrypted, so text 'extraction' would emit
    deterministic garbage — the caller surfaces ``encrypted_pdf`` instead
    (typed per-row error, like the reference's error_files side channel)."""
    return _ENCRYPT_RE.search(raw) is not None

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)

_BT_ET_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)

# Content-stream tokens we interpret inside a text object, in source order.
# Text-state operators (Tc Tw Tz TL Ts Tr) are tokenized even though their
# values are ignored: their numeric operands must be consumed, or a
# following `[...] TJ` would read them as kern gaps (ADVICE r2 — e.g.
# `-250 Tw [(a)(b)] TJ` injected a spurious leading space). `[` is also
# tokenized so TJ only ever treats numbers lexically inside its array as
# kern values, which defends against ANY unhandled numeric-operand
# operator, not just the enumerated ones.
_TOKEN_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)"  # literal string
    rb"|<[0-9A-Fa-f\s]*>"  # hex string
    rb"|/[^\s/<>\[\]()%]*"  # name (font selector operand for Tf)
    rb"|-?\d+(?:\.\d+)?"  # numeric operand
    rb"|T\*|Td|TD|Tj|TJ|Tm|Tf"  # operators of interest
    rb"|Tc|Tw|Tz|TL|Ts|Tr"  # text-state operators (operand sinks)
    rb"|\["  # TJ array open — kern-number scope marker
    rb"|'|\"",
    re.DOTALL,
)

# TJ kern gap (thousandths of em) at/below which a space is rendered.
_KERN_SPACE = -180.0

_ESCAPES = {
    b"\\n": b"\n",
    b"\\r": b"\r",
    b"\\t": b"\t",
    b"\\b": b"\b",
    b"\\f": b"\f",
    b"\\(": b"(",
    b"\\)": b")",
    b"\\\\": b"\\",
}
_ESC_RE = re.compile(rb"\\\r?\n|\\[nrtbf()\\]|\\[0-7]{1,3}")


def _unescape(s: bytes) -> bytes:
    def sub(m: re.Match[bytes]) -> bytes:
        g = m.group(0)
        if g in _ESCAPES:
            return _ESCAPES[g]
        if g[:1] == b"\\" and g[1:2] in (b"\r", b"\n"):
            return b""  # escaped line continuation
        return bytes([int(g[1:], 8) & 0xFF])  # octal escape

    return _ESC_RE.sub(sub, s)


def _hex_core(body: bytes) -> bytes:
    """Shared <hex>/ASCIIHex digit handling: strip whitespace, odd final
    digit implies a trailing 0 (PDF 32000-1 §7.3.4.3 / §7.4.2)."""
    hx = re.sub(rb"\s", b"", body)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _decode_hex(tok: bytes) -> bytes:
    return _hex_core(tok[1:-1])


# --- stream filters (PDF 32000-1 §7.4) -------------------------------------
# The standard content-stream filters: Flate plus the ASCII transports and
# the legacy compressors crawled PDFs still carry (r3 declared these out of
# scope; r4 ships them). /Filter may be a single name or an array listed in
# DECODE order (§7.3.8.2); abbreviated names are the inline-image aliases.

_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")


def _declared_filters(dict_bytes: bytes) -> list[bytes]:
    m = _FILTER_RE.search(dict_bytes)
    return _NAME_RE.findall(m.group(1)) if m else []


def _zlib_header_plausible(data: bytes) -> bool:
    """RFC 1950 header check: CM=8, CINFO<=7, FCHECK makes CMF*256+FLG a
    multiple of 31."""
    return (
        len(data) >= 2
        and (data[0] & 0x0F) == 8
        and (data[0] >> 4) <= 7
        and ((data[0] << 8) | data[1]) % 31 == 0
    )


def _inflate(d, data: bytes, limit: int) -> bytes:
    """``d.decompress(data)`` stopped one byte past ``limit``, so a bomb
    never inflates further than that: more than ``limit`` bytes of output
    raises ResourceLimit."""
    out = d.decompress(data, limit + 1)
    if len(out) > limit:
        raise ResourceLimit
    return out


def _flate(data: bytes, limit: int = MAX_DECODED_BYTES) -> bytes | None:
    d = zlib.decompressobj(zlib.MAX_WBITS)
    try:
        out = _inflate(d, data, limit)
        # accept only a COMPLETE stream: zlib validates the adler32
        # checksum exactly when eof is reached, so a corrupt body that
        # happens to form decodable huffman codes (observed: garbage
        # prefix output with no exception) is rejected here instead of
        # feeding the BT/ET scan (ADVICE r4); trailing bytes after the
        # stream (EOL before `endstream`) leave eof True and are fine
        if d.eof:
            return out
    except zlib.error:
        pass
    # Raw-deflate fallback ONLY for payloads that cannot be zlib-wrapped
    # (ADVICE r4: raw inflate often "succeeds" with partial/garbage output
    # on corrupt bytes — a damaged declared-Flate stream must be skipped,
    # not fed to the BT/ET scan). A payload with a valid zlib header that
    # failed above is corrupt, not raw. The raw result is accepted only if
    # the deflate stream ran to its BFINAL block (eof) — trailing bytes
    # past it (EOL padding before `endstream`) are tolerated.
    if _zlib_header_plausible(data):
        return None
    d = zlib.decompressobj(-zlib.MAX_WBITS)
    try:
        out = _inflate(d, data, limit)
    except zlib.error:
        return None
    return out if d.eof else None


# The ASCII filters take the stage limit like the others, but their output
# is never longer than their input, so they have none to enforce.


def _ascii_hex_decode(data: bytes, _limit: int) -> bytes | None:
    try:
        return _hex_core(data.split(b">")[0])  # '>' is the filter's EOD
    except (ValueError, UnicodeDecodeError):
        return None


def _ascii85_decode(data: bytes, _limit: int) -> bytes | None:
    import base64

    cleaned = re.sub(rb"\s", b"", data)
    if cleaned.endswith(b"~>"):
        cleaned = cleaned[:-2]
    if cleaned.startswith(b"<~"):
        cleaned = cleaned[2:]
    try:
        return base64.a85decode(b"<~" + cleaned + b"~>", adobe=True)
    except ValueError:
        return None


def _run_length_decode(data: bytes, limit: int = MAX_DECODED_BYTES) -> bytes | None:
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        if n == 128:  # EOD
            return bytes(out)
        if n < 128:
            chunk = data[i + 1 : i + 2 + n]
            if len(chunk) != n + 1:
                return None
            out += chunk
            i += 2 + n
        else:
            if i + 1 >= len(data):
                return None
            out += data[i + 1 : i + 2] * (257 - n)
            i += 2
        if len(out) > limit:
            raise ResourceLimit
    return bytes(out)  # EOD missing but data exhausted cleanly


def _lzw_decode(data: bytes, limit: int = MAX_DECODED_BYTES) -> bytes | None:
    """PDF/TIFF-variant LZW (§7.4.4): 9→12-bit codes MSB-first, clear code
    256, EOD 257, table restart on clear, and the ``EarlyChange`` default of
    widening one code early (``/EarlyChange 0`` is not supported). Malformed
    code sequences return None (→ the stream is skipped, same policy as a
    bad Flate payload)."""
    CLEAR, EOD = 256, 257
    out = bytearray()
    table: dict[int, bytes] = {}
    width, next_code = 9, 258
    prev: bytes | None = None
    bitbuf = bits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bits += 8
        while bits >= width:
            code = (bitbuf >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == CLEAR:
                table.clear()
                width, next_code, prev = 9, 258, None
                continue
            if code == EOD:
                return bytes(out)
            if prev is None:
                if code > 255:
                    return None
                entry = bytes([code])
                out += entry
            else:
                if code < 256:
                    entry = bytes([code])
                elif code in table:
                    entry = table[code]
                elif code == next_code:
                    entry = prev + prev[:1]  # the KwKwK case
                else:
                    return None
                out += entry
                # EarlyChange 1: the DECODER's table lags the encoder's by
                # one entry, so it widens when next_code + 1 reaches the
                # width boundary (511 at 9 bits) — one code EARLIER than
                # the encoder-side formula. Getting this
                # off by one reads 9 bits where the stream has 10 and
                # desyncs exactly at table entry 511 (caught in review by
                # decoding a reference-semantics EarlyChange=1 stream;
                # regression-tested across the 511/1023/4096 boundaries).
                # Near the 12-bit table cap the add (and widen) freeze —
                # conforming encoders emit a CLEAR there; freezing keeps
                # sync either way (table max 4096, §7.4.4.2).
                if next_code + 1 < 4096:
                    table[next_code] = prev + entry[:1]
                    next_code += 1
                    if next_code + 1 >= (1 << width) and width < 12:
                        width += 1
            if len(out) > limit:
                raise ResourceLimit
            prev = entry
    return bytes(out)  # EOD missing but stream exhausted cleanly


_FILTER_FNS: dict[bytes, object] = {
    b"FlateDecode": _flate,
    b"Fl": _flate,
    b"ASCIIHexDecode": _ascii_hex_decode,
    b"AHx": _ascii_hex_decode,
    b"ASCII85Decode": _ascii85_decode,
    b"A85": _ascii85_decode,
    b"RunLengthDecode": _run_length_decode,
    b"RL": _run_length_decode,
    b"LZWDecode": _lzw_decode,
    b"LZW": _lzw_decode,
}


def _apply_filters(data: bytes, names: list[bytes], budget: DecodeBudget) -> bytes | None:
    """Run the declared decode cascade, each stage's output charged to
    ``budget``; None when any stage is unsupported (DCTDecode images,
    JBIG2, crypt filters) or corrupt."""
    for nm in names:
        fn = _FILTER_FNS.get(nm)
        if fn is None:
            return None
        data = fn(data, budget.left)
        if data is None:
            return None
        budget.charge(len(data))
    return data


def _decode_stream(
    dict_bytes: bytes, payload: bytes, budget: DecodeBudget
) -> tuple[bool, bytes | None]:
    """``(encoded, data)`` for one stream, by the rules both passes share:
    the payload is cut to a DIRECT /Length; a declared /Filter cascade
    decodes it (data None when it cannot); with no /Filter, a payload with
    a zlib header that inflates to its end is Flate, any other is plain.
    Every decode is charged to ``budget``. A plain payload without a direct
    /Length loses one trailing EOL: the EOL before ``endstream`` is a
    delimiter, not data (PDF 32000-1 §7.3.8); the binary filters are
    self-terminating and ignore it."""
    # Without a direct /Length, a payload whose last byte is \r sits flush
    # against the \n delimiter and the EOL strip eats it (found by the r5
    # W-array property test). An indirect /Length (N 0 R) does not count:
    # _LENGTH_RE's (?!\d) stops `/Length 71 0 R` backtracking into a
    # direct 7, and its second lookahead rejects the full indirect form.
    lm = _LENGTH_RE.search(dict_bytes)
    exact_len = lm is not None and int(lm.group(1)) <= len(payload)
    if exact_len:
        payload = payload[: int(lm.group(1))]
    names = _declared_filters(dict_bytes)
    if names:
        return True, _apply_filters(payload, names, budget)
    if _zlib_header_plausible(payload):
        data = _apply_filters(payload, [b"FlateDecode"], budget)
        if data is not None:
            return True, data
    if not exact_len:
        if payload.endswith(b"\r\n"):
            return False, payload[:-2]
        if payload.endswith((b"\n", b"\r")):
            return False, payload[:-1]
    return False, payload


def _inflate_streams(raw: bytes, budget: DecodeBudget) -> bytes:
    """Append DECODED content streams so BT/ET extraction sees encoded text
    objects too. Plain streams are already in ``raw`` and are NOT
    re-appended (that would double-extract them); undecodable/unsupported
    payloads (images) are skipped. Deterministic: streams are concatenated
    in document order."""
    decoded: list[bytes] = []
    blank_spans: list[tuple[int, int]] = []
    for m in _STREAM_RE.finditer(raw):
        # nearest enclosing object start bounds the stream's own dict (the
        # byte-order fallback has no object index to consult)
        obj_start = raw.rfind(b"obj", 0, m.start())
        encoded, data = _decode_stream(raw[max(obj_start, 0) : m.start()], m.group(1), budget)
        if encoded:
            if data:
                decoded.append(data)
            # an ENCODED body is noise to the BT/ET scan whether or not we
            # could decode it (RunLength literals, DCT entropy bytes, ...)
            # — excise it so accidental `BT ... ET` byte runs inside
            # encoded payloads cannot surface as garbage text
            blank_spans.append(m.span(1))
    if not blank_spans:
        return raw
    parts: list[bytes] = []
    pos = 0
    for s, e in blank_spans:
        parts.append(raw[pos:s])
        pos = e
    parts.append(raw[pos:])
    return b"\n".join([b"".join(parts), *decoded])


# --- font decoding: ToUnicode CMaps --------------------------------------

# A parsed font: (code width in bytes, code -> unicode string)
FontMap = tuple[int, dict[int, str]]

_CSP_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_RANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(<[0-9A-Fa-f]+>|\[(?:\s*<[0-9A-Fa-f]*>)+\s*\])",
    re.DOTALL,
)


def _u16(hx: bytes) -> str:
    try:
        return bytes.fromhex(hx.decode("ascii")).decode("utf-16-be")
    except (ValueError, UnicodeDecodeError):
        return "�"


def parse_tounicode(data: bytes, budget: DecodeBudget) -> FontMap:
    """Parse a ToUnicode CMap stream: code width from the codespace range,
    bfchar pairs, and bfrange entries in both destination forms (single
    incrementing target — the increment applies to the LAST UTF-16 code
    unit per §9.10.3 — or an explicit target array). Each entry is charged
    to ``budget`` before it is built; codes at or above ``256**width`` are
    skipped, because ``_decode_string`` never looks them up."""
    m = _CSP_RE.search(data)
    # an odd digit count pads with a trailing 0 (§7.3.4.3): <0> is one byte
    width = (len(m.group(1)) + 1) // 2 if m else 1
    top = 256**width - 1
    cmap: dict[int, str] = {}
    for section in _BFRANGE_RE.finditer(data):
        for rm in _RANGE_RE.finditer(section.group(1)):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            dst = rm.group(3)
            if hi - lo > 0xFFFF:  # malformed-range bomb guard
                continue
            if dst[:1] == b"<":
                base = _u16(dst[1:-1])
                n = min(hi, top) - lo + 1
                budget.charge(max(n, 0) * _CMAP_ENTRY_BYTES)
                for i in range(n):
                    cmap[lo + i] = base[:-1] + chr(ord(base[-1]) + i) if base else ""
            else:
                targets = re.findall(rb"<([0-9A-Fa-f]*)>", dst)
                n = min(hi - lo + 1, len(targets), top - lo + 1)
                budget.charge(max(n, 0) * _CMAP_ENTRY_BYTES)
                for i in range(n):
                    cmap[lo + i] = _u16(targets[i])
    for section in _BFCHAR_RE.finditer(data):
        pairs = _HEXPAIR_RE.findall(section.group(1))
        budget.charge(len(pairs) * _CMAP_ENTRY_BYTES)
        for hx, dst in pairs:
            code = int(hx, 16)
            if code <= top:
                cmap[code] = _u16(dst)
    return (width, cmap)


def _decode_string(raw: bytes, font: FontMap | None) -> str:
    """Decode one show-string's bytes: through the active font's ToUnicode
    CMap when there is one (unmapped 1-byte codes keep the latin-1 policy;
    unmapped 2-byte codes decode as the code point itself — the Identity
    convention); else UTF-16BE when BOM-tagged (§7.9.2.2); else latin-1."""
    if font is not None:
        width, cmap = font
        out: list[str] = []
        n_full = len(raw) - (len(raw) % width)
        for i in range(0, n_full, width):
            code = int.from_bytes(raw[i : i + width], "big")
            mapped = cmap.get(code)
            if mapped is None:
                mapped = raw[i : i + width].decode("latin-1") if width == 1 else (
                    chr(code) if code < 0x110000 else "�"
                )
            out.append(mapped)
        if n_full < len(raw):  # trailing partial code: keep the bytes visible
            out.append(raw[n_full:].decode("latin-1"))
        return "".join(out)
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return raw.decode("latin-1")
    return raw.decode("latin-1")


def _render_text_object(body: bytes, fonts: dict[bytes, FontMap]) -> str:
    """Interpret one BT…ET body: show operators append to the current line,
    positioning operators start new lines, TJ kern gaps become spaces.
    ``fonts`` maps resource names (b"F1") to parsed ToUnicode maps; ``Tf``
    switches the active one."""
    lines: list[str] = []
    cur: list[str] = []
    pending: list[tuple[str, object]] = []  # operand stack since last operator
    cur_font: FontMap | None = None

    def newline() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    for m in _TOKEN_RE.finditer(body):
        tok = m.group(0)
        if tok[:1] == b"(":
            pending.append(("str", _decode_string(_unescape(tok[1:-1]), cur_font)))
        elif tok[:1] == b"/":
            pending.append(("name", tok[1:]))
        elif tok[:1] == b"<":
            pending.append(("str", _decode_string(_decode_hex(tok), cur_font)))
        elif tok in (b"Td", b"TD", b"T*", b"Tm"):
            newline()
            pending.clear()
        elif tok == b"Tf":
            names = [v for k, v in pending if k == "name"]
            if fonts and names:
                cur_font = fonts.get(names[-1], cur_font)  # type: ignore[arg-type]
            pending.clear()
        elif tok in (b"Tc", b"Tw", b"Tz", b"TL", b"Ts", b"Tr"):
            pending.clear()  # text-state operands — values ignored
        elif tok == b"[":
            # TJ array opens: anything pending is operands of some earlier
            # operator we don't render — never kern values for this TJ
            pending.clear()
        elif tok == b"Tj":
            if pending and pending[-1][0] == "str":
                cur.append(pending[-1][1])  # type: ignore[arg-type]
            pending.clear()
        elif tok in (b"'", b'"'):
            # move-to-next-line-and-show (operands before the string for ")
            newline()
            strs = [v for k, v in pending if k == "str"]
            if strs:
                cur.append(strs[-1])  # type: ignore[arg-type]
            pending.clear()
        elif tok == b"TJ":
            for kind, v in pending:
                if kind == "str":
                    cur.append(v)  # type: ignore[arg-type]
                elif kind == "num" and float(v) <= _KERN_SPACE:  # type: ignore[arg-type]
                    cur.append(" ")
            pending.clear()
        else:  # numeric operand
            pending.append(("num", float(tok)))
    newline()
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Document structure: object index → catalog → page tree → per-page content
# ---------------------------------------------------------------------------
# Objects are indexed by scanning `N G obj … endobj` markers FIRST:
# in-memory parsing doesn't need random access, and crawled PDFs routinely
# carry broken/truncated xrefs while the object bodies are intact. PDF 1.5
# object streams (/Type /ObjStm: objects packed inside a Flate stream) are
# expanded into the index so page nodes stored compressed still resolve.
# On top of the scan, the startxref chain (classic tables, xref streams,
# hybrid files — r5) overrides with the CURRENT body per object number and
# the current /Root, which the scan alone cannot know once incremental
# updates leave multiple bodies in the file.

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.DOTALL)
_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")


def _stream_data(body: bytes, budget: DecodeBudget) -> bytes | None:
    """The payload of one object body's stream as ``_decode_stream`` reads
    it: decoded, plain, or None when it is encoded and cannot be decoded."""
    m = _STREAM_RE.search(body)
    return _decode_stream(body[: m.start()], m.group(1), budget)[1] if m else None


def _dict_int(body: bytes, key: bytes) -> int | None:
    m = re.search(key + rb"\s+(\d+)", body)
    return int(m.group(1)) if m else None


def _expand_objstm(body: bytes, budget: DecodeBudget) -> list[tuple[int, bytes]] | None:
    """The (objnum, body) list packed in one /ObjStm object, in stream
    order, or None when the header doesn't parse."""
    data = _stream_data(body, budget)
    n, first = _dict_int(body, rb"/N"), _dict_int(body, rb"/First")
    if data is None or not n or first is None:
        return None
    header = data[:first].split()
    if len(header) < 2 * n:
        return None
    pairs = [(int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)]
    out = []
    for i, (onum, off) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < len(pairs) else len(data) - first
        out.append((onum, data[first + off : first + end]))
    return out


def _obj_at_offset(raw: bytes, off: int, num: int) -> bytes | None:
    """The body of object ``num`` parsed AT byte offset ``off`` (type-1
    xref entry) — None when the offset doesn't hold that object header
    (truncated/damaged xref: the scan index stays authoritative)."""
    if not 0 <= off < len(raw):
        return None
    while off < len(raw) and raw[off : off + 1] in b" \t\r\n":
        off += 1
    m = _OBJ_RE.match(raw, off)
    if m is None or int(m.group(1)) != num:
        return None
    return m.group(2)


def _object_index(
    raw: bytes, xref_entries: dict[int, tuple[int, int, int]], budget: DecodeBudget
) -> dict[int, bytes]:
    objs: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(raw):
        objs[int(m.group(1))] = m.group(2)
    # scan-phase ObjStm expansion, kept keyed by container number so the
    # type-2 override pass below reuses it instead of re-decompressing
    # every container (r5 review: extraction is the per-document hot path)
    expanded: dict[int, list[tuple[int, bytes]] | None] = {}
    for num, body in [(n, b) for n, b in objs.items() if b"/ObjStm" in b]:
        lst = _expand_objstm(body, budget)
        expanded[num] = lst
        for onum, obody in lst or []:
            objs.setdefault(onum, obody)
    # xref-derived overrides (r5): the startxref chain is newest-first, so
    # its entries are AUTHORITATIVE over scan order — an incrementally
    # updated file can hold several bodies for one object number and the
    # scan's last-in-file-wins rule picks the wrong one whenever a stale
    # body sits later in the byte stream. Any entry that fails to parse
    # leaves the scan result. ALL type-1 entries apply BEFORE any type-2
    # entry resolves through its /ObjStm: the container's own type-1
    # override must land first, or a member would expand a stale container
    # body (r5 review — ascending-objnum iteration hit exactly that, since
    # containers usually carry high object numbers).
    if xref_entries:
        for num, ent in xref_entries.items():
            if ent[0] == 1:
                body = _obj_at_offset(raw, ent[1], num)
                if body is not None:
                    if num in expanded and objs.get(num) != body:
                        expanded.pop(num)  # superseded container: re-expand
                    objs[num] = body
        for num, ent in xref_entries.items():
            if ent[0] == 2:
                snum = ent[1]
                if snum not in expanded:
                    sbody = objs.get(snum)
                    expanded[snum] = (
                        _expand_objstm(sbody, budget) if sbody is not None else None
                    )
                lst = expanded[snum]
                if lst is not None and 0 <= ent[2] < len(lst) and lst[ent[2]][0] == num:
                    objs[num] = lst[ent[2]][1]
    return objs


# ---------------------------------------------------------------------------
# Cross-reference parsing (r5): classic tables AND PDF 1.5+ xref STREAMS
# (/Type /XRef, §7.5.8) — W-array triplets, /Index subsections, and the
# /DecodeParms PNG/TIFF predictors the streams are almost always stored
# with (Predictor 12 / Up in practice). The object SCAN above remains the
# index backbone (crawled PDFs routinely carry broken xrefs while bodies
# are intact); the xref chain adds what scanning cannot know — which body
# is CURRENT when incremental updates leave several, and the authoritative
# /Root of the newest update.
# ---------------------------------------------------------------------------

_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_XREF_LINE_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")


def _png_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes | None:
    """Reverse the PNG row filters (/Predictor >= 10, §7.4.4.4 via RFC
    2083): each row is one filter-type byte + ``columns*colors*bpc/8``
    filtered bytes. All five filter types (None/Sub/Up/Average/Paeth);
    an unknown type byte fails the whole decode (a desynced stream must
    not be half-trusted). Trailing partial rows are dropped."""
    rowlen = max(1, columns * colors * bpc // 8)
    bpp = max(1, colors * bpc // 8)
    stride = rowlen + 1
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data) - stride + 1, stride):
        ft = data[r]
        row = bytearray(data[r + 1 : r + 1 + rowlen])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        else:
            return None
        out += row
        prev = row
    return bytes(out)


def _tiff_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes | None:
    """Reverse TIFF Predictor 2 (horizontal differencing, 8-bit
    components): rows of ``columns*colors`` bytes with no filter-type
    byte, each byte a delta from the byte one sample-unit left."""
    if bpc != 8:
        return None  # sub-byte TIFF differencing: out of declared scope
    rowlen = max(1, columns * colors)
    bpp = max(1, colors)
    out = bytearray(data[: len(data) - len(data) % rowlen])
    for r in range(0, len(out), rowlen):
        for i in range(bpp, rowlen):
            out[r + i] = (out[r + i] + out[r + i - bpp]) & 0xFF
    return bytes(out)


def _int_array(body: bytes, key: bytes) -> list[int] | None:
    m = re.search(key + rb"\s*\[([^\]]*)\]", body)
    return [int(x) for x in re.findall(rb"-?\d+", m.group(1))] if m else None


def _xref_stream_entries(body: bytes, budget: DecodeBudget) -> dict | None:
    """Decode one /Type /XRef stream object body → its section dict:
    ``{"entries": {objnum: (type, f2, f3)}, "root": int|None,
    "prev": int|None}``. The W array gives the three field widths in
    bytes (w=0 → field absent: type defaults to 1, field-3 to 0); /Index
    gives (start, count) subsection pairs, defaulting to [0, /Size]."""
    if re.search(rb"/Type\s*/XRef\b", body) is None:
        return None
    data = _stream_data(body, budget)
    if data is None:
        return None
    parms = _value_dict(body, rb"/DecodeParms", {}) or _value_dict(body, rb"/DP", {})
    if parms:
        pred = _dict_int(parms, rb"/Predictor") or 1
        cols = _dict_int(parms, rb"/Columns") or 1
        colors = _dict_int(parms, rb"/Colors") or 1
        bpc = _dict_int(parms, rb"/BitsPerComponent") or 8
        if pred >= 10:
            data = _png_unpredict(data, cols, colors, bpc)
        elif pred == 2:
            data = _tiff_unpredict(data, cols, colors, bpc)
        if data is None:
            return None
        budget.charge(len(data))
    w = _int_array(body, rb"/W")
    size = _dict_int(body, rb"/Size")
    if not w or len(w) < 3 or any(x < 0 for x in w) or sum(w) == 0:
        return None
    w1, w2, w3 = w[0], w[1], w[2]
    index = _int_array(body, rb"/Index")
    if index is None or len(index) % 2:
        index = [0, size if size is not None else 0]
    ew = w1 + w2 + w3
    entries: dict[int, tuple[int, int, int]] = {}
    pos = 0
    for s in range(0, len(index), 2):
        start, count = index[s], index[s + 1]
        for num in range(start, start + count):
            chunk = data[pos : pos + ew]
            pos += ew
            if len(chunk) < ew:
                break
            o = 0
            t = int.from_bytes(chunk[:w1], "big") if w1 else 1
            o += w1
            f2 = int.from_bytes(chunk[o : o + w2], "big") if w2 else 0
            o += w2
            f3 = int.from_bytes(chunk[o : o + w3], "big") if w3 else 0
            entries[num] = (t, f2, f3)
    return {
        "entries": entries,
        "root": _ref(body, rb"/Root"),
        "prev": _dict_int(body, rb"/Prev"),
        "xrefstm": None,
    }


def _classic_xref_section(raw: bytes, off: int) -> dict | None:
    """Parse a classic ``xref`` table + ``trailer`` at ``off``; the
    trailer's /XRefStm (hybrid-reference files, §7.5.8.4) is surfaced so
    the chain walker can merge the stream's entries with precedence."""
    m = re.compile(rb"xref\b").match(raw, off)
    if m is None:
        return None
    pos = m.end()
    entries: dict[int, tuple[int, int, int]] = {}
    sub_re = re.compile(rb"\s*(\d+)\s+(\d+)\s*")
    while True:
        sm = sub_re.match(raw, pos)
        if sm is None:
            break
        start, count = int(sm.group(1)), int(sm.group(2))
        pos = sm.end()
        for num in range(start, start + count):
            em = _XREF_LINE_RE.match(raw, pos)
            if em is None:
                return None
            pos = em.end()
            while raw[pos : pos + 1] in b" \r\n":
                pos += 1
            if em.group(3) == b"n":
                entries[num] = (1, int(em.group(1)), int(em.group(2)))
    tm = re.compile(rb"\s*trailer\s*").match(raw, pos)
    if tm is None:
        return {"entries": entries, "root": None, "prev": None, "xrefstm": None}
    tdict = _balanced_dict(raw, raw.find(b"<<", tm.end()))
    if tdict is None:
        return {"entries": entries, "root": None, "prev": None, "xrefstm": None}
    return {
        "entries": entries,
        "root": _ref(tdict, rb"/Root"),
        "prev": _dict_int(tdict, rb"/Prev"),
        "xrefstm": _dict_int(tdict, rb"/XRefStm"),
    }


def _xref_section_at(raw: bytes, off: int, budget: DecodeBudget) -> dict | None:
    if not 0 <= off < len(raw):
        return None
    while off < len(raw) and raw[off : off + 1] in b" \t\r\n":
        off += 1
    if raw.startswith(b"xref", off):
        return _classic_xref_section(raw, off)
    m = _OBJ_RE.match(raw, off)
    if m is None:
        return None
    return _xref_stream_entries(m.group(2), budget)


def _xref_chain(
    raw: bytes, budget: DecodeBudget
) -> tuple[int | None, dict[int, tuple[int, int, int]]]:
    """Follow the LAST ``startxref`` through the /Prev chain (and hybrid
    /XRefStm side links), newest section first. First-wins merging makes
    the newest update's entries authoritative; the first /Root seen is the
    current catalog. Bounded to 16 sections; any parse failure just ends
    the walk (the scan index still stands)."""
    ms = _STARTXREF_RE.findall(raw)
    if not ms:
        return None, {}
    root: int | None = None
    entries: dict[int, tuple[int, int, int]] = {}
    seen: set[int] = set()
    queue = [int(ms[-1])]
    for _ in range(16):
        if not queue:
            break
        off = queue.pop(0)
        if off in seen:
            continue
        seen.add(off)
        sec = _xref_section_at(raw, off, budget)
        if sec is None:
            continue
        if sec["xrefstm"] is not None:
            # hybrid file: the side stream belongs to the SAME update and
            # takes precedence over this classic section — walk it first
            stm = _xref_section_at(raw, sec["xrefstm"], budget)
            if stm is not None:
                if root is None:
                    root = stm["root"]
                for num, ent in stm["entries"].items():
                    entries.setdefault(num, ent)
        if root is None:
            root = sec["root"]
        for num, ent in sec["entries"].items():
            entries.setdefault(num, ent)
        if sec["prev"] is not None:
            queue.append(sec["prev"])
    return root, entries


def _ref(body: bytes, key: bytes) -> int | None:
    m = re.search(key + rb"\s+(\d+)\s+\d+\s+R", body)
    return int(m.group(1)) if m else None


def _ref_array(body: bytes, key: bytes) -> list[int] | None:
    """``/Key [1 0 R 2 0 R]`` or ``/Key 3 0 R`` → object numbers in order."""
    m = re.search(key + rb"\s*\[(.*?)\]", body, re.DOTALL)
    if m:
        return [int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]
    single = _ref(body, key)
    return [single] if single is not None else None


def _balanced_dict(buf: bytes, start: int) -> bytes | None:
    """The full ``<< … >>`` slice starting at ``start`` (nesting-aware —
    a non-greedy regex truncates at the first ``>>`` of a nested dict)."""
    depth = 0
    i = start
    while i < len(buf) - 1:
        pair = buf[i : i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return buf[start:i]
        else:
            i += 1
    return None


def _value_dict(body: bytes, key: bytes, objs: dict[int, bytes]) -> bytes | None:
    """``/Key << … >>`` (inline, balanced) or ``/Key N 0 R`` (resolved)."""
    m = re.search(key + rb"\s*(<<|\d+\s+\d+\s+R)", body)
    if not m:
        return None
    if m.group(1) == b"<<":
        return _balanced_dict(body, m.start(1))
    return objs.get(int(m.group(1).split()[0]))


def _page_fonts(
    page: bytes,
    objs: dict[int, bytes],
    cmaps: dict[int, FontMap | None],
    budget: DecodeBudget,
) -> dict[bytes, FontMap]:
    """Resource-name → parsed ToUnicode map for one page. /Resources is
    inline or a reference, and inherits up the /Parent chain (PDF 32000-1
    §7.7.3.4 inheritable attributes); fonts without a /ToUnicode stream are
    skipped (their strings keep the latin-1 policy). ``cmaps`` holds the
    maps already parsed, by ToUnicode object number, so pages that share a
    font share one map and pay for it once."""
    res = None
    node, depth = page, 0
    while node is not None and depth < 8:
        res = _value_dict(node, rb"/Resources", objs)
        if res is not None:
            break
        parent = _ref(node, rb"/Parent")
        node = objs.get(parent) if parent is not None else None
        depth += 1
    if res is None:
        return {}
    fdict = _value_dict(res, rb"/Font", objs)
    if fdict is None:
        return {}
    fonts: dict[bytes, FontMap] = {}
    for fm in re.finditer(rb"/([^\s/<>\[\]()%]+)\s+(\d+)\s+\d+\s+R", fdict):
        fobj = objs.get(int(fm.group(2)))
        if fobj is None:
            continue
        tu = _ref(fobj, rb"/ToUnicode")
        if tu is None or tu not in objs:
            continue
        if tu not in cmaps:
            data = _stream_data(objs[tu], budget)
            cmaps[tu] = parse_tounicode(data, budget) if data is not None else None
        if cmaps[tu] is not None:
            fonts[fm.group(1)] = cmaps[tu]
    return fonts


def _page_contents_in_order(
    raw: bytes, budget: DecodeBudget
) -> list[tuple[bytes, dict[bytes, FontMap]]] | None:
    """Per-page (content bytes, font table) in PAGE-TREE order, or None when
    the document carries no resolvable catalog/page tree (minimal fixtures,
    damaged files) — the caller then falls back to byte-order scanning."""
    # the startxref chain (classic, stream, or hybrid xref) names the
    # CURRENT catalog and the current body of every object — authoritative
    # over raw-byte scanning for incrementally updated files; the /Root
    # byte scan stays as the fallback for files with broken/absent xrefs
    xref_root, xref_entries = _xref_chain(raw, budget)
    root_num = xref_root
    if root_num is None:
        root_m = _ROOT_RE.search(raw)
        root_num = int(root_m.group(1)) if root_m else None
    if root_num is None:
        return None
    objs = _object_index(raw, xref_entries, budget)
    catalog = objs.get(root_num)
    if catalog is None:
        return None
    pages_ref = _ref(catalog, rb"/Pages")
    if pages_ref is None:
        return None

    page_objs: list[bytes] = []
    seen: set[int] = set()

    def walk(num: int, depth: int = 0) -> None:
        if num in seen or depth > 64:  # cycle/bomb guard
            return
        seen.add(num)
        node = objs.get(num)
        if node is None:
            return
        if re.search(rb"/Type\s*/Page\b(?!s)", node):
            page_objs.append(node)
            return
        for kid in _ref_array(node, rb"/Kids") or []:
            walk(kid, depth + 1)

    walk(pages_ref)
    if not page_objs:
        return None
    out: list[tuple[bytes, dict[bytes, FontMap]]] = []
    cmaps: dict[int, FontMap | None] = {}
    for page in page_objs:
        parts = [
            _stream_data(objs[c], budget) or b""
            for c in _ref_array(page, rb"/Contents") or []
            if c in objs
        ]
        # a /Contents array is ONE logical stream split arbitrarily —
        # concatenation (newline-joined) restores it
        out.append((b"\n".join(parts), _page_fonts(page, objs, cmaps, budget)))
    return out


def _render_pages(pages: list[tuple[bytes, dict[bytes, FontMap]]]) -> list[str]:
    """One paragraph per BT/ET text object that renders to any text, in
    page order."""
    paragraphs = []
    for content, fonts in pages:
        for obj in _BT_ET_RE.finditer(content):
            text = _render_text_object(obj.group(1), fonts)
            if text:
                paragraphs.append(text)
    return paragraphs


def pdf_paragraphs(raw: bytes) -> list[str] | None:
    """Extract text-object content; one output string per BT/ET object
    (lines within an object newline-joined).

    When the document carries a resolvable catalog → page tree (real-world
    PDFs), content streams are assembled PER PAGE and scanned in page-tree
    order — objects stored out of byte order (incremental updates, linearized
    files, object streams) still read in page order. Without one (minimal
    or damaged files), falls back to scanning every stream in byte order.
    Handles plain and filtered content streams (Flate/ASCIIHex/ASCII85/
    RunLength/LZW and cascades of them, §7.4) and PDF 1.5
    object streams. Returns None when no text objects are found
    (→ unsupported_pdf); raises ResourceLimit when the document's decodes
    overrun ``MAX_DECODED_BYTES`` (→ resource_limit).
    """
    budget = DecodeBudget()
    paragraphs = _render_pages(_page_contents_in_order(raw, budget) or [])
    if not paragraphs:
        paragraphs = _render_pages([(_inflate_streams(raw, budget), {})])
    return paragraphs or None


def extract_pdf_text(raw: bytes) -> list[str] | None:
    """``pdf_paragraphs`` for callers that only want text: None when there
    is none, a decode overrun included."""
    try:
        return pdf_paragraphs(raw)
    except ResourceLimit:
        return None
