"""The extraction operator: html bytes → (text, markdown, spans, error).

Replaces the reference's remote call (prompt "Extract all text from this
image using OCR", /root/reference/src/mistral_ocr/simple_client.py:733-737;
per-page {text, markdown} response, data_types.py:165-180) with a pure,
deterministic in-cluster function. Byte-identity contract: the output is a
function of exactly ``(html_bytes, EXTRACTOR_VERSION)`` — no clock, no
randomness, no cross-row state — so any partitioning/parallelism yields
identical bytes per url (north rule).
"""

from __future__ import annotations

from dataclasses import dataclass

from mistral_ocr_spark import EXTRACTOR_VERSION
from mistral_ocr_spark.extractor.classify import classify
from mistral_ocr_spark.extractor.decode import decode_html
from mistral_ocr_spark.extractor.parser import parse_document
from mistral_ocr_spark.extractor.pdf import (
    PDF_MAGIC,
    ResourceLimit,
    is_encrypted_pdf,
    pdf_paragraphs,
)
from mistral_ocr_spark.extractor.render import render


@dataclass(frozen=True)
class ExtractResult:
    text: str | None
    markdown: str | None
    spans: list[tuple[int, int, str]]
    # empty | no_content | unsupported_pdf | encrypted_pdf | resource_limit
    # | None; the Spark kernel adds extractor_error for a row that raised
    error_class: str | None
    encoding: str | None
    images: tuple[str, ...] = ()  # non-chrome <img src> values, doc order
    extractor_version: str = EXTRACTOR_VERSION


def _normalize(s: str) -> str:
    return " ".join(s.split())


def non_html_result(html: bytes | None, fallback_text: str | None = None) -> ExtractResult | None:
    """The result of a page that is not HTML (NULL, blank or a PDF), or
    None for an HTML page, which each tokenizer engine parses itself.

    ``fallback_text``: upstream pre-extracted text (the input table's
    ``text`` column) used only when ``html`` is NULL — the pipeline must
    prefer its own extraction (FIXTURES.md §1).
    """
    if html is None:
        if fallback_text is not None and fallback_text.strip():
            t = _normalize(fallback_text)
            return ExtractResult(t, t, [(0, len(t), "paragraph")], None, None)
        return ExtractResult(None, None, [], "empty", None)
    if not html.strip():
        return ExtractResult(None, None, [], "empty", None)
    if html[:5] != PDF_MAGIC:
        return None
    if is_encrypted_pdf(html):
        return ExtractResult(None, None, [], "encrypted_pdf", None)
    try:
        paras = pdf_paragraphs(html)
    except ResourceLimit:
        return ExtractResult(None, None, [], "resource_limit", None)
    text_parts, spans, pos = [], [], 0
    for p in paras or ():
        t = _normalize(p)
        if not t:
            continue
        if text_parts:
            pos += 2
        spans.append((pos, pos + len(t), "paragraph"))
        pos += len(t)
        text_parts.append(t)
    if not text_parts:
        return ExtractResult(None, None, [], "unsupported_pdf", None)
    text = "\n\n".join(text_parts)
    return ExtractResult(text, text, spans, None, "pdf")


def extract(html: bytes | None, fallback_text: str | None = None) -> ExtractResult:
    """Extract main content from one page (``non_html_result`` has the
    NULL, blank and PDF cases)."""
    result = non_html_result(html, fallback_text)
    if result is not None:
        return result
    decoded, encoding = decode_html(html)
    blocks, images = parse_document(decoded)
    content = [b for b in classify(blocks) if b.is_content]
    if not content:
        return ExtractResult(None, None, [], "no_content", encoding, tuple(images))
    text, markdown, spans = render(content)
    return ExtractResult(text, markdown, spans, None, encoding, tuple(images))
